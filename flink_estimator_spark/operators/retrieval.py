r"""Text retrieval: inverted index build + BM25 ranked search.

The retrieval half of an LLM data pipeline: an inverted index (term ->
document-frequency, collection-frequency, posting list) built as one
grouped aggregate over the token stream, and BM25 scoring of a term query
against the corpus — tf/df/length statistics joined back to the postings
of the query's terms only, never a full-corpus scan per query.

Cross-engine value discipline: BM25 is log/divide-heavy, so per-(doc,term)
scores are floor-quantized to 1e-6 and summed as exact BIGINTs (the
q_doc_nll pattern) — order-independent and immune to last-ulp libm
divergence between engines.

Reference scope note: the reference models workload taxonomy only
(`/root/reference/src/templates/estimation.html:199-246`); retrieval is
part of the LLM-pipeline extension surface.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..plans._helpers import spread, t, word_ngrams
from ..plans.registry import query

_BM25_TERMS = ("spark", "merge", "window")
_K1 = 1.2
_B = 0.75


def _toks(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return spread(d, "doc_id").select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
    )


@query(
    "q_inverted_index",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
            FROM documents),
        per AS (
            SELECT term, doc_id, count(*) AS tf
            FROM toks GROUP BY term, doc_id)
        SELECT term,
               CAST(count(*) AS BIGINT) AS df,
               CAST(sum(tf) AS BIGINT) AS cf,
               array_to_string(list_sort(list(doc_id))[1:10], ',') AS postings_head
        FROM per
        GROUP BY term
        ORDER BY term
    """,
    tags=("llm", "text", "retrieval", "index"),
)
def q_inverted_index(spark, sf_dir):
    """Inverted index over the document corpus: per term, document
    frequency, collection frequency, and the first 10 postings (sorted doc
    ids) — the distributed index-build shape: tokenize -> (term, doc)
    partial counts -> per-term fold.  Token instances shuffle once into
    (term, doc) groups; the posting-list collect is capped at the head (a
    real index shards postings by range instead of collecting them — the
    cap keeps the demonstrated aggregate bounded)."""
    per = (
        _toks(spark, sf_dir)
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    return (
        per.groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.sum("tf").alias("cf"),
            F.array_join(
                F.slice(F.array_sort(F.collect_list("doc_id")), 1, 10), ","
            ).alias("postings_head"),
        )
        .orderBy("term")
    )


# BM25 pipeline as DuckDB CTEs — shared verbatim by the q_bm25_search oracle
# and the hybrid-RRF oracle so the two can never drift
_BM25_CTES = rf"""toks AS (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
            FROM documents),
        tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM toks WHERE term IN ('spark', 'merge', 'window')
            GROUP BY doc_id, term),
        dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
        df AS (
            SELECT term, count(DISTINCT doc_id) AS df
            FROM toks WHERE term IN ('spark', 'merge', 'window')
            GROUP BY term),
        stats AS (
            SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n_docs,
                   CAST((SELECT count(*) FROM toks) AS DOUBLE)
                       / CAST((SELECT count(*) FROM documents) AS DOUBLE) AS avgdl),
        bm_scored AS (
            SELECT tf.doc_id,
                   CAST(floor(
                       ln(1.0 + (stats.n_docs - CAST(df.df AS DOUBLE) + 0.5)
                                / (CAST(df.df AS DOUBLE) + 0.5))
                       * (CAST(tf.tf AS DOUBLE) * {_K1 + 1.0})
                       / (CAST(tf.tf AS DOUBLE)
                          + {_K1} * ({1.0 - _B} + {_B} * CAST(dl.dl AS DOUBLE)
                                     / stats.avgdl))
                       * 1000000) AS BIGINT) AS s_q
            FROM tf JOIN dl USING (doc_id) JOIN df USING (term)
            CROSS JOIN stats),
        bm AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
                   CAST(sum(s_q) AS BIGINT) AS score_q
            FROM bm_scored GROUP BY doc_id)"""


@query(
    "q_bm25_search",
    oracle=f"""
        WITH {_BM25_CTES}
        SELECT doc_id, n_terms, score_q
        FROM bm
        ORDER BY score_q DESC, doc_id
        LIMIT 10
    """,
    tags=("llm", "text", "retrieval", "ranking"),
)
def q_bm25_search(spark, sf_dir):
    """BM25 (k1=1.2, b=0.75, Lucene idf) top-10 documents for the query
    {spark, merge, window}.  Statistics come from three aggregates over one
    tokenize pass (tf filtered to query terms, per-doc length, per-term
    df); df and the (N, avgdl) scalars broadcast onto the tf rows, so the
    scored relation is |query terms x matching docs|, never the corpus.
    Per-(doc,term) scores are floor-quantized to 1e-6 and summed as exact
    BIGINTs — the ranking value-gates cross-engine despite ln/divide
    arithmetic."""
    return (
        _bm25_scored(spark, sf_dir)
        .orderBy(F.desc("score_q"), "doc_id")
        .limit(10)
    )


def _bm25_scored(spark, sf_dir):
    """(doc_id, n_terms, score_q) for every document matching >=1 query
    term — the un-truncated BM25 relation shared by ``q_bm25_search`` and
    the hybrid RRF fusion."""
    # no .cache(): Catalyst already reuses the single tokenize subplan
    # across tf/dl/df (ReusedExchange), and a cache marked inside a
    # registered builder would outlive the query in a long-running session
    # (bench/gate run 149 queries in one JVM — leaked cache = GC pressure
    # for every later query)
    toks = _toks(spark, sf_dir)
    terms = list(_BM25_TERMS)
    tf = (
        toks.filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    df = (
        toks.filter(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    n_docs = t(spark, sf_dir, "documents").agg(
        F.count("*").cast("double").alias("n_docs")
    )
    tot = toks.agg(F.count("*").cast("double").alias("n_toks"))
    stats = n_docs.crossJoin(tot).select(
        "n_docs", (F.col("n_toks") / F.col("n_docs")).alias("avgdl")
    )
    tfd = F.col("tf").cast("double")
    dfd = F.col("df").cast("double")
    dld = F.col("dl").cast("double")
    s_q = F.floor(
        F.log(F.lit(1.0) + (F.col("n_docs") - dfd + 0.5) / (dfd + 0.5))
        * (tfd * F.lit(_K1 + 1.0))
        / (tfd + F.lit(_K1) * (F.lit(1.0 - _B) + F.lit(_B) * dld / F.col("avgdl")))
        * 1_000_000
    ).cast("bigint")
    return (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", s_q.alias("s_q"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_terms"), F.sum("s_q").alias("score_q"))
    )


@query(
    "q_tfidf_cosine_pairs",
    oracle=r"""
        WITH grams AS (
            SELECT doc_id, array_to_string(words[i:i+4], ' ') AS term
            FROM (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\s+') AS words
                FROM documents
            ), LATERAL (SELECT unnest(generate_series(1, greatest(len(words) - 4, 0))) AS i)
        ),
        tf AS (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM grams GROUP BY doc_id, term
        ),
        n_docs AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
        idf AS (
            SELECT term,
                   CAST(floor(ln(CAST(n_docs.n AS DOUBLE) / count(*)) * 1000)
                        AS BIGINT) AS idf_q3,
                   count(*) AS df
            FROM tf CROSS JOIN n_docs
            GROUP BY term, n_docs.n
        ),
        w AS (
            SELECT tf.doc_id, tf.term, tf.tf * idf.idf_q3 AS wq
            FROM tf JOIN idf USING (term)
            CROSS JOIN n_docs
            WHERE idf.df * 10 <= n_docs.n * 3
        ),
        norms AS (
            SELECT doc_id,
                   CAST(sum(CAST(wq AS DECIMAL(38,0))
                            * CAST(wq AS DECIMAL(38,0))) AS DECIMAL(38,0))
                       AS norm2
            FROM w GROUP BY doc_id
        ),
        dots AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(sum(CAST(a.wq AS DECIMAL(38,0))
                            * CAST(b.wq AS DECIMAL(38,0))) AS DECIMAL(38,0))
                       AS dot
            FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               CAST(floor(CAST(dot AS DOUBLE)
                          / (sqrt(CAST(na.norm2 AS DOUBLE))
                             * sqrt(CAST(nb.norm2 AS DOUBLE)))
                          * 1000000) AS BIGINT) AS cosine_q6
        FROM dots
        JOIN norms na ON na.doc_id = id_a
        JOIN norms nb ON nb.doc_id = id_b
        WHERE CAST(dot AS DOUBLE)
              / (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE)))
              >= 0.35
        ORDER BY id_a, id_b
    """,
    tags=("llm", "retrieval", "tfidf", "cosine"),
)
def q_tfidf_cosine_pairs(spark, sf_dir):
    """Sparse vector-space document similarity: TF-IDF weighted cosine over
    the shared-term join — the classic IR pairing, and the text dual of
    the dense embedding cosine family.  TERMS ARE 5-GRAM SHINGLES, not
    words: the fixture's 31-word vocabulary makes word vectors dense and
    the term join quadratic (measured: the word-term oracle at sf0.1
    joins 3.9k-doc posting lists), while shingle document frequencies
    stay low, which is exactly why production near-dup scoring shingles
    first.  A max-df guard (df <= 0.3·n) drops boilerplate terms where a
    search engine drops stopwords — bounding posting lists at ANY corpus
    scale.  The join shape IS the inverted index: partial products meet
    per term, Σ(posting²) cost.  Weights are integer (tf × idf quantized
    1e-3), dot products accumulate in DECIMAL(38,0), only the final
    normalize touches doubles (floor-quantized 1e-6)."""
    d = t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    grams = word_ngrams(words, 5)
    tf = (
        spread(d, "doc_id")
        .select("doc_id", F.explode(grams).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    n_docs = tf.agg(F.countDistinct("doc_id").alias("n"))
    idf = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") * 10 <= F.col("n") * 3)
        .select(
            "term",
            F.floor(
                F.log(F.col("n").cast("double") / F.col("df")) * 1000
            )
            .cast("bigint")
            .alias("idf_q3"),
        )
    )
    w = tf.join(idf, "term").select(
        "doc_id", "term", (F.col("tf") * F.col("idf_q3")).alias("wq")
    )
    d38 = "decimal(38,0)"
    norms = w.groupBy("doc_id").agg(
        F.sum(F.col("wq").cast(d38) * F.col("wq").cast(d38))
        .cast(d38)
        .alias("norm2")
    )
    a = w.select(F.col("doc_id").alias("id_a"), "term", F.col("wq").alias("wa"))
    b = w.select(F.col("doc_id").alias("id_b"), "term", F.col("wq").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(F.col("wa").cast(d38) * F.col("wb").cast(d38))
            .cast(d38)
            .alias("dot")
        )
    )
    cos = F.col("dot").cast("double") / (
        F.sqrt(F.col("norm2_a").cast("double"))
        * F.sqrt(F.col("norm2_b").cast("double"))
    )
    return (
        dots.join(
            norms.select(F.col("doc_id").alias("id_a"), F.col("norm2").alias("norm2_a")),
            "id_a",
        )
        .join(
            norms.select(F.col("doc_id").alias("id_b"), F.col("norm2").alias("norm2_b")),
            "id_b",
        )
        .filter(cos >= 0.35)
        .select(
            "id_a",
            "id_b",
            F.floor(cos * 1_000_000).cast("bigint").alias("cosine_q6"),
        )
        .orderBy("id_a", "id_b")
    )


_RRF_K = 60       # the standard RRF damping constant (Cormack et al. 2009)
_FUSE_TOP = 60    # fuse the top-60 list from each modality


@query(
    "q_hybrid_rrf",
    oracle=f"""
        WITH {_BM25_CTES},
        lex AS (
            SELECT doc_id, CAST(rn AS BIGINT) AS lex_rank FROM (
                SELECT doc_id,
                       row_number() OVER (ORDER BY score_q DESC, doc_id) AS rn
                FROM bm)
            WHERE rn <= {_FUSE_TOP}),
        sem AS (
            SELECT vec_id AS doc_id, CAST(rn AS BIGINT) AS sem_rank FROM (
                SELECT a.vec_id,
                       row_number() OVER (ORDER BY {{cos}} DESC, a.vec_id) AS rn
                FROM embeddings a,
                     (SELECT embedding FROM embeddings WHERE vec_id = 0) b
                WHERE a.vec_id != 0)
            WHERE rn <= {_FUSE_TOP})
        SELECT doc_id, lex_rank, sem_rank,
               CAST(COALESCE(1000000000000 // ({_RRF_K} + lex_rank), 0)
                  + COALESCE(1000000000000 // ({_RRF_K} + sem_rank), 0)
                    AS BIGINT) AS rrf_q
        FROM lex FULL JOIN sem USING (doc_id)
        ORDER BY rrf_q DESC, doc_id
        LIMIT 10
    """.replace("{cos}", (
        "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
        " / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
        "  * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))"
    )),
    tags=("llm", "retrieval", "hybrid", "rrf", "embedding"),
)
def q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval with reciprocal-rank fusion — the RAG/data-curation
    ranking shape: fuse the BM25 lexical top-60 (query terms {spark, merge,
    window}) with the embedding-cosine semantic top-60 (query vector =
    vec 0) as sum over modalities of 1/(60+rank), realized as the exact
    integer 1e12 div (60+rank) so fusion scores are BIGINT on both engines.

    Scale shape: each modality first reduces to its top-K via TakeOrdered
    (distributed partial top-K, no global sort of the corpus); the
    partition-less rank windows then see exactly K=60 rows each (the
    ALLOWED_GLOBAL_WINDOW bound), and the fusion join is 60x60 at most.
    The lexical side scores only term-matching docs via posting joins
    (never corpus x query), the semantic side is one broadcast query vector
    against a linear scan — at production scale the semantic list would
    come from the ANN paths (lsh_ann / ivf_ann), identical downstream."""
    from pyspark.sql import Window as W

    from .similarity import cosine_pre, norm

    lex_top = (
        _bm25_scored(spark, sf_dir)
        .select("doc_id", "score_q")
        .orderBy(F.desc("score_q"), "doc_id")
        .limit(_FUSE_TOP)
    )
    lex = lex_top.withColumn(
        "lex_rank",
        F.row_number()
        .over(W.orderBy(F.desc("score_q"), "doc_id"))
        .cast("long"),
    ).select("doc_id", "lex_rank")

    emb = t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_vec"), norm(F.col("embedding")).alias("q_nrm")
    )
    sem_top = (
        spread(emb, "vec_id")
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            F.col("embedding").alias("c_vec"),
            norm(F.col("embedding")).alias("c_nrm"),
        )
        .crossJoin(F.broadcast(qv))
        .select(
            "vec_id",
            cosine_pre(
                F.col("q_vec"), F.col("c_vec"), F.col("q_nrm"), F.col("c_nrm")
            ).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(_FUSE_TOP)
    )
    sem = sem_top.withColumn(
        "sem_rank",
        F.row_number().over(W.orderBy(F.desc("cos_sim"), "vec_id")).cast("long"),
    ).select(F.col("vec_id").alias("doc_id"), "sem_rank")

    rrf = (
        F.coalesce(
            F.expr(f"1000000000000 div ({_RRF_K} + lex_rank)"), F.lit(0)
        )
        + F.coalesce(
            F.expr(f"1000000000000 div ({_RRF_K} + sem_rank)"), F.lit(0)
        )
    ).cast("bigint")
    return (
        lex.join(sem, "doc_id", "full")
        .select("doc_id", "lex_rank", "sem_rank", rrf.alias("rrf_q"))
        .orderBy(F.desc("rrf_q"), "doc_id")
        .limit(10)
    )


# --- ranking-quality evaluation (nDCG@10) ---------------------------------
# Rank discounts 1/log2(rank+1) precomputed as INTEGER 1e-6 literals shared
# verbatim by the Spark builder and the DuckDB oracle: no engine log/pow
# runs at query time, so the metric is pure BIGINT arithmetic on both sides
# (stronger than the floor-after-libm pattern — there is no libm at all).
import math as _math

_NDCG_K = 10
_NDCG_W_E6 = tuple(
    round(1_000_000 / _math.log2(r + 1)) for r in range(1, _NDCG_K + 1)
)
_NDCG_CASE = "CASE rn " + " ".join(
    f"WHEN {r} THEN {w}" for r, w in enumerate(_NDCG_W_E6, start=1)
) + " END"


@query(
    "q_retrieval_ndcg",
    oracle=f"""
        WITH {_BM25_CTES},
        rel AS (
            SELECT doc_id, CAST(count(DISTINCT term) AS BIGINT) AS rel
            FROM toks WHERE term IN ('spark', 'merge', 'window')
            GROUP BY doc_id),
        ranked AS (
            SELECT doc_id, rn FROM (
                SELECT doc_id,
                       row_number() OVER (ORDER BY score_q DESC, doc_id) AS rn
                FROM bm)
            WHERE rn <= {_NDCG_K}),
        dcg AS (
            SELECT CAST(count(*) AS BIGINT) AS n_ranked,
                   CAST(sum(((1 << rel) - 1) * ({_NDCG_CASE})) AS BIGINT) AS dcg_q
            FROM ranked JOIN rel USING (doc_id)),
        ideal AS (
            SELECT rel, rn FROM (
                SELECT rel,
                       row_number() OVER (ORDER BY rel DESC, doc_id) AS rn
                FROM rel)
            WHERE rn <= {_NDCG_K}),
        idcg AS (
            SELECT CAST(sum(((1 << rel) - 1) * ({_NDCG_CASE})) AS BIGINT) AS idcg_q
            FROM ideal)
        SELECT n_ranked, dcg_q, idcg_q,
               CAST(dcg_q * 10000 // idcg_q AS BIGINT) AS ndcg_bp
        FROM dcg CROSS JOIN idcg
    """,
    tags=("llm", "retrieval", "evaluation", "ndcg"),
)
def q_retrieval_ndcg(spark, sf_dir):
    """nDCG@10 of the BM25 ranking against graded term-coverage relevance
    (rel = distinct query terms present, gain 2^rel - 1) — the ranking-
    quality evaluation the retrieval stack (BM25 / hybrid RRF) gets tuned
    on, completing retrieve -> fuse -> EVALUATE as relational pipeline.

    Exactness: rank discounts are PRE-COMPUTED integer 1e-6 literals (one
    per rank, shared verbatim with the oracle), gains are exact shifted
    ints, so DCG/IDCG are BIGINT sums and ndcg_bp one truncating integral
    division — zero runtime doubles.  Scale shape: relevance is one
    grouped aggregate over term-matching postings only; both rankings
    reduce via TakeOrdered to K=10 rows before their partition-less rank
    windows (the q_hybrid_rrf ALLOWED_GLOBAL_WINDOW bound); the final
    aggregate reads 2xK rows."""
    from pyspark.sql import Window as W

    terms = list(_BM25_TERMS)
    rel = (
        _toks(spark, sf_dir)
        .filter(F.col("term").isin(terms))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").cast("bigint").alias("rel"))
    )
    disc = F.element_at(
        F.array(*[F.lit(w) for w in _NDCG_W_E6]), F.col("rn").cast("int")
    )
    # SQL shiftleft takes a column shift amount; the DataFrame helper
    # insists on a Python int — go through expr
    gain = F.expr("cast(shiftleft(1, cast(rel as int)) as bigint) - 1")

    ranked = (
        _bm25_scored(spark, sf_dir)
        .select("doc_id", "score_q")
        .orderBy(F.desc("score_q"), "doc_id")
        .limit(_NDCG_K)
        .withColumn(
            "rn",
            F.row_number().over(W.orderBy(F.desc("score_q"), "doc_id")),
        )
    )
    dcg = ranked.join(rel, "doc_id").agg(
        F.count("*").cast("bigint").alias("n_ranked"),
        F.sum(gain * disc).cast("bigint").alias("dcg_q"),
    )
    ideal = (
        rel.orderBy(F.desc("rel"), "doc_id")
        .limit(_NDCG_K)
        .withColumn("rn", F.row_number().over(W.orderBy(F.desc("rel"), "doc_id")))
    )
    idcg = ideal.agg(F.sum(gain * disc).cast("bigint").alias("idcg_q"))
    return dcg.crossJoin(F.broadcast(idcg)).select(
        "n_ranked",
        "dcg_q",
        "idcg_q",
        F.expr("dcg_q * 10000 DIV idcg_q").cast("bigint").alias("ndcg_bp"),
    )
