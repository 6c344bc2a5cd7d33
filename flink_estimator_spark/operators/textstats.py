"""Text-analysis operators for LLM training-data pipelines: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

All hot-path logic is built-in ``pyspark.sql.functions`` (JVM-side, codegen) —
no Python UDFs — so these scale to 100 TB document corpora limited only by
scan + one aggregation shuffle.  Every operator doubles as a registered query
with a DuckDB oracle (identical expression semantics in both engines).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..plans._helpers import spread, t, word_ngrams
from ..plans.registry import query

# Tiny stopword inventories for the language heuristic.  The guess is a
# deterministic rule (most stopword hits; ties resolved in list order), so the
# SQL oracle reproduces it exactly — on real corpora swap in real lexicons.
_LANG_STOPWORDS = {
    "en": r"\b(the|a|and|of|to|in|is|it)\b",
    "es": r"\b(el|la|de|que|y|en|un|es)\b",
    "de": r"\b(der|die|das|und|ist|von|ein|zu)\b",
    "fr": r"\b(le|la|les|de|et|un|une|est)\b",
}

TOKEN_RE = r"\s+"
WORD_RE = r"[A-Za-z0-9']+"


def token_count(col: str | Column) -> Column:
    """Whitespace token count (JVM-side regexp)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(F.trim(c), TOKEN_RE)).cast("long")


def word_count(col: str | Column) -> Column:
    """BPE-ish word-token count via regexp extraction."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(WORD_RE)).cast("long")


def stopword_hits(col: str | Column, lang: str = "en") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(F.lower(c), F.lit(_LANG_STOPWORDS[lang])).cast("long")


def quality_columns(col: str = "text") -> dict[str, Column]:
    """Quality-score feature columns: length, token stats, char-class ratios,
    stopword density — the usual cheap pre-filter for LLM data curation."""
    c = F.col(col)
    n_chars = F.length(c).cast("long")
    n_tokens = token_count(c)
    n_words = word_count(c)
    n_spaces = (n_chars - F.length(F.regexp_replace(c, r"\s", ""))).cast("long")
    n_alpha = (n_chars - F.length(F.regexp_replace(c, r"[A-Za-z]", ""))).cast("long")
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "n_words": n_words,
        "space_ratio": n_spaces.cast("double") / n_chars.cast("double"),
        "alpha_ratio": n_alpha.cast("double") / n_chars.cast("double"),
        "avg_token_len": (n_chars - n_spaces).cast("double") / n_tokens.cast("double"),
        "stopword_ratio": stopword_hits(c).cast("double") / n_tokens.cast("double"),
    }


def lang_guess(col: str = "text") -> Column:
    """Deterministic stopword-vote language guess (ties -> lexicon order)."""
    hits = {lang: stopword_hits(col, lang) for lang in _LANG_STOPWORDS}
    best = F.greatest(*hits.values())
    expr = F.lit("unknown")
    for lang in reversed(list(_LANG_STOPWORDS)):  # earlier lexicons win ties
        expr = F.when((hits[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(col: str = "text") -> Column:
    """Content fingerprint: md5 of the lower-cased, whitespace-collapsed text
    (the exact-dedup key)."""
    c = F.col(col)
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


# ---------------------------------------------------------------------------
# Registered queries (DuckDB-oracle'd)
# ---------------------------------------------------------------------------

_SQL_NTOK = r"len(string_split_regex(trim(text), '\s+'))"
_SQL_EN_HITS = r"len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|it)\b'))"


@query(
    "q_text_token_stats",
    oracle=f"""
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(CAST({_SQL_NTOK} AS BIGINT)) AS BIGINT) AS total_tokens,
               CAST(sum(CAST({_SQL_NTOK} AS BIGINT)) AS DOUBLE) / count(*) AS avg_tokens,
               max(n_chars) AS max_chars
        FROM documents
        GROUP BY source
        ORDER BY source
    """,
    tags=("llm", "text", "tokens"),
)
def q_text_token_stats(spark, sf_dir):
    """Per-source token statistics over the documents corpus."""
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(token_count("text")).alias("total_tokens"),
            (F.sum(token_count("text")).cast("double") / F.count("*")).alias("avg_tokens"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("source")
    )


@query(
    "q_text_quality",
    oracle=f"""
        SELECT doc_id,
               CAST({_SQL_NTOK} AS BIGINT) AS n_tokens,
               CAST({_SQL_EN_HITS} AS DOUBLE) / CAST({_SQL_NTOK} AS DOUBLE) AS stopword_ratio,
               CAST(length(text) - length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
                   / length(text) AS space_ratio
        FROM documents
        WHERE doc_id < 200
        ORDER BY doc_id
    """,
    tags=("llm", "text", "quality"),
)
def q_text_quality(spark, sf_dir):
    """Per-document quality features (token count, stopword & space ratios)."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    c = F.col("text")
    n_chars = F.length(c)
    n_spaces = n_chars - F.length(F.regexp_replace(c, r"\s", ""))
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        (stopword_hits("text").cast("double") / token_count("text").cast("double")).alias(
            "stopword_ratio"
        ),
        (n_spaces.cast("double") / n_chars.cast("double")).alias("space_ratio"),
    ).orderBy("doc_id")


@query(
    "q_text_fingerprint",
    oracle=r"""
        SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
               min(doc_id) AS keeper_doc_id,
               count(*) AS n_copies
        FROM documents
        GROUP BY 1
        ORDER BY fp
    """,
    tags=("llm", "text", "fingerprint", "dedup"),
)
def q_text_fingerprint(spark, sf_dir):
    """Content fingerprints with copy counts (exact-dedup survivor table)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy(fingerprint("text").alias("fp"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
        .orderBy("fp")
    )


# DuckDB form of ``lang_guess``: stopword hits per language, then the vote
# (ties to lexicon order en > es > de > fr)
_LANG_HITS_SQL = r"""len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|it)\b')) AS en,
                   len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|en|un|es)\b')) AS es,
                   len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist|von|ein|zu)\b')) AS de,
                   len(regexp_extract_all(lower(text), '\b(le|la|les|de|et|un|une|est)\b')) AS fr"""
_LANG_CASE_SQL = """CASE WHEN en >= greatest(en, es, de, fr) AND greatest(en, es, de, fr) > 0 THEN 'en'
                    WHEN es >= greatest(es, de, fr) AND greatest(es, de, fr) > 0 THEN 'es'
                    WHEN de >= greatest(de, fr) AND greatest(de, fr) > 0 THEN 'de'
                    WHEN fr > 0 THEN 'fr'
                    ELSE 'unknown' END"""


@query(
    "q_text_lang_guess",
    oracle=rf"""
        WITH hits AS (
            SELECT doc_id, lang,
                   {_LANG_HITS_SQL}
            FROM documents
        )
        SELECT {_LANG_CASE_SQL} AS lang_guess,
               count(*) AS n_docs
        FROM hits
        GROUP BY 1
        ORDER BY lang_guess
    """,
    tags=("llm", "text", "langid"),
)
def q_text_lang_guess(spark, sf_dir):
    """Language-ID heuristic distribution (stopword vote, ties to lexicon
    order: en > es > de > fr)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy(lang_guess("text").alias("lang_guess"))
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang_guess")
    )


@query(
    "q_text_repetition",
    oracle="""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
                   AS n_distinct,
               1.0 - CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')) AS rep_ratio
        FROM documents
        ORDER BY rep_ratio DESC, doc_id
        LIMIT 25
    """,
    tags=("llm", "text", "quality"),
)
def q_text_repetition(spark, sf_dir):
    """Within-document repetition score (1 - distinct/total tokens) — the
    standard cheap screen for degenerate/boilerplate documents.  Pure scalar
    array expressions (no explode), so at 100 TB it is a single scan plus a
    top-k sort."""
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    return (
        d.select(
            "doc_id",
            n_tokens.alias("n_tokens"),
            n_distinct.alias("n_distinct"),
            (F.lit(1.0) - n_distinct.cast("double") / n_tokens).alias("rep_ratio"),
        )
        .orderBy(F.desc("rep_ratio"), "doc_id")
        .limit(25)
    )


@query(
    "q_text_tfidf_top",
    oracle="""
        WITH tf AS (
            SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                  FROM documents)
            GROUP BY doc_id, w
        ),
        df AS (
            SELECT w, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY w
        ),
        n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
        SELECT doc_id, w AS top_term,
               CAST(tf AS DOUBLE) * n_docs / df AS score
        FROM (
            SELECT tf.doc_id, tf.w, tf.tf, df.df, n.n_docs,
                   row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY CAST(tf.tf AS DOUBLE) * n.n_docs / df.df DESC,
                                tf.w
                   ) AS rn
            FROM tf JOIN df USING (w) CROSS JOIN n
        )
        WHERE rn = 1
        ORDER BY doc_id
        LIMIT 100
    """,
    tags=("llm", "text", "tfidf"),
)
def q_text_tfidf_top(spark, sf_dir):
    """Most characteristic term per document, scored tf x (N/df) — a
    division-only idf proxy so both engines produce bit-identical doubles
    (log() implementations may differ in the last ulp across runtimes,
    which would flip row_number ties; N/df ranks identically for fixed tf).

    Shape at scale: one explode shuffle keyed (doc_id, w), a re-aggregate to
    doc-frequency on the same data, a broadcast of the (small) df side back
    onto tf, and a per-doc top-1 window — no all-pairs stage anywhere."""
    d = t(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
    tf = words.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("w").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    from pyspark.sql import Window as W

    score = F.col("tf").cast("double") * F.col("n_docs") / F.col("df")
    rn = F.row_number().over(
        W.partitionBy("doc_id").orderBy(score.desc(), F.col("w"))
    )
    return (
        tf.join(F.broadcast(df_), "w")
        .crossJoin(F.broadcast(n))
        .withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("w").alias("top_term"), score.alias("score"))
        .orderBy("doc_id")
        .limit(100)
    )


_SQL_LANG_GUESS = rf"""
            SELECT doc_id, lang, text,
                   {_LANG_CASE_SQL} AS lang_guess
            FROM (
                SELECT doc_id, lang, text,
                       {_LANG_HITS_SQL}
                FROM documents
            )
"""


@query(
    "q_lang_mismatch",
    oracle=f"""
        WITH guessed AS ({_SQL_LANG_GUESS})
        SELECT lang AS declared, lang_guess, count(*) AS n_docs
        FROM guessed
        WHERE lang <> lang_guess
        GROUP BY 1, 2
        ORDER BY declared, lang_guess
    """,
    tags=("llm", "text", "langid", "screen"),
)
def q_lang_mismatch(spark, sf_dir):
    """Declared-vs-detected language disagreement — the metadata-trust
    screen a crawl pipeline runs before routing documents to per-language
    processing (mislabeled docs poison per-language models downstream).
    Counts per (declared, guessed) pair; pure column expressions."""
    d = t(spark, sf_dir, "documents")
    return (
        d.withColumn("lang_guess", lang_guess("text"))
        .filter(F.col("lang") != F.col("lang_guess"))
        .groupBy(F.col("lang").alias("declared"), "lang_guess")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("declared", "lang_guess")
    )


@query(
    "q_quality_funnel",
    oracle=r"""
        WITH flagged AS (
            SELECT doc_id,
                   length(text) >= 100 AS len_ok,
                   len(regexp_extract_all(lower(text), '\b(the|a|and|of|to|in|is|it)\b'))
                       >= 0.08 * len(string_split_regex(trim(text), '\s+')) AS quality_ok,
                   row_number() OVER (
                       PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
                       ORDER BY doc_id) = 1 AS first_copy
            FROM documents
        )
        SELECT stage, n_docs FROM (
            SELECT '0_all' AS stage, count(*) AS n_docs FROM flagged
            UNION ALL
            SELECT '1_min_length', count(*) FROM flagged WHERE len_ok
            UNION ALL
            SELECT '2_stopword_quality', count(*) FROM flagged WHERE len_ok AND quality_ok
            UNION ALL
            SELECT '3_exact_dedup', count(*) FROM flagged
            WHERE len_ok AND quality_ok AND first_copy
        )
        ORDER BY stage
    """,
    tags=("llm", "text", "quality", "funnel"),
)
def q_quality_funnel(spark, sf_dir):
    """Survivor counts through a chained cleaning funnel — min length ->
    stopword-density quality -> exact dedup (first copy wins by doc_id).
    One pass computes all flags; the stage counts are conditional
    aggregates, so the funnel costs one window (dedup rank) plus one
    aggregate regardless of stage count."""
    d = t(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    len_ok = F.length("text") >= 100
    quality_ok = (
        stopword_hits("text").cast("double")
        >= 0.08 * token_count("text").cast("double")
    )
    first_copy = (
        F.row_number().over(W.partitionBy(fingerprint("text")).orderBy("doc_id")) == 1
    )
    flagged = d.select(
        "doc_id",
        len_ok.alias("len_ok"),
        quality_ok.alias("quality_ok"),
        first_copy.alias("first_copy"),
    )
    agg = flagged.agg(
        F.count("*").alias("0_all"),
        F.count_if(F.col("len_ok")).alias("1_min_length"),
        F.count_if(F.col("len_ok") & F.col("quality_ok")).alias("2_stopword_quality"),
        F.count_if(
            F.col("len_ok") & F.col("quality_ok") & F.col("first_copy")
        ).alias("3_exact_dedup"),
    )
    stages = ["0_all", "1_min_length", "2_stopword_quality", "3_exact_dedup"]
    stack = ", ".join(f"'{s}', `{s}`" for s in stages)
    return (
        agg.selectExpr(f"stack({len(stages)}, {stack}) AS (stage, n_docs)")
        .orderBy("stage")
    )


@query(
    "q_vocab_growth",
    oracle=r"""
        SELECT source,
               CAST(count(w) AS BIGINT) AS n_tokens,
               CAST(count(DISTINCT w) AS BIGINT) AS n_types,
               CAST(count(DISTINCT w) AS DOUBLE) / count(w) AS type_token_ratio
        FROM (
            SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS w
            FROM documents
        )
        WHERE w <> ''
        GROUP BY source
        ORDER BY source
    """,
    tags=("llm", "text", "vocab"),
)
def q_vocab_growth(spark, sf_dir):
    """Vocabulary growth per source: token count, distinct types, and the
    type/token ratio (the Heaps'-law observable that tells a pipeline how
    fast new vocabulary appears per source).  Explode + two aggregates; at
    scale the distinct-count shuffle moves (source, word) pairs, which
    partial aggregation collapses to the per-source vocabulary first."""
    d = spread(t(spark, sf_dir, "documents"), "doc_id")
    words = d.select(
        "source",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"),
    ).filter(F.col("w") != "")
    return (
        words.groupBy("source")
        .agg(
            F.count("w").alias("n_tokens"),
            F.countDistinct("w").alias("n_types"),
            (F.countDistinct("w").cast("double") / F.count("w")).alias(
                "type_token_ratio"
            ),
        )
        .orderBy("source")
    )


@query(
    "q_doc_nll",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
            FROM documents
        ),
        lm AS (
            SELECT tok, count(*) AS n FROM toks GROUP BY tok
        ),
        tot AS (SELECT count(*) AS total FROM toks),
        scored AS (
            SELECT toks.doc_id,
                   CAST(floor(-ln(CAST(lm.n AS DOUBLE) / CAST(tot.total AS DOUBLE))
                              * 1000000) AS BIGINT) AS nll_q
            FROM toks JOIN lm USING (tok) CROSS JOIN tot
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tok,
               CAST(sum(nll_q) AS BIGINT) AS nll_sum_q
        FROM scored
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    tags=("llm", "text", "quality", "language-model"),
)
def q_doc_nll(spark, sf_dir):
    """Per-document negative log-likelihood under the corpus's own unigram
    LM — the statistical quality filter (high NLL = out-of-distribution
    text; the unigram form of a perplexity screen).  Two passes over the
    token stream: one builds the LM (vocab-sized aggregate, broadcast
    back), one scores — token instances never shuffle, only (tok, count)
    partials do.  Per-token -ln(p) is floor-quantized to 1e-6 and summed
    as exact BIGINTs so the doc score is order-independent (quantization
    also absorbs any last-ulp libm ln() divergence between engines)."""
    d = t(spark, sf_dir, "documents")
    toks = spread(d, "doc_id").select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    )
    lm = toks.groupBy("tok").agg(F.count("*").alias("n"))
    tot = toks.agg(F.count("*").alias("total"))
    nll_q = F.floor(
        -F.log(F.col("n").cast("double") / F.col("total").cast("double"))
        * 1_000_000
    ).cast("bigint")
    return (
        toks.join(F.broadcast(lm), "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tok"),
            F.sum(nll_q).alias("nll_sum_q"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_token_entropy",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
            FROM documents
        ),
        cnt AS (
            SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
            FROM toks GROUP BY doc_id, tok
        ),
        tot AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok FROM cnt GROUP BY doc_id
        )
        SELECT cnt.doc_id,
               max(tot.n_tok) AS n_tok,
               CAST(count(*) AS BIGINT) AS vocab,
               CAST(sum(CAST(floor(
                   -(CAST(c AS DOUBLE) / tot.n_tok)
                    * ln(CAST(c AS DOUBLE) / tot.n_tok) * 1000000
               ) AS BIGINT)) AS BIGINT) AS entropy_q
        FROM cnt JOIN tot USING (doc_id)
        GROUP BY cnt.doc_id
        ORDER BY cnt.doc_id
    """,
    tags=("llm", "text", "quality", "entropy"),
)
def q_token_entropy(spark, sf_dir):
    """Per-document unigram token entropy — the information-density quality
    signal (near-zero entropy = degenerate repetition, the classic filter
    for templated/boilerplate pages in a pretraining corpus; complements
    q_text_repetition's type/token ratio with a distribution-shaped test).
    One explode + two keyed aggregates, all partial-combined: token
    instances reduce to (doc, tok, count) map-side, so only the distinct
    per-doc vocabulary rides the shuffle.  Each -p*ln(p) term is
    floor-quantized to 1e-6 and summed as exact BIGINTs (same portability
    contract as q_doc_nll: order-independent, absorbs last-ulp libm
    divergence)."""
    d = t(spark, sf_dir, "documents")
    cnt = (
        spread(d, "doc_id")
        .select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("tok"),
        )
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    tot = cnt.groupBy("doc_id").agg(F.sum("c").alias("n_tok"))
    p = F.col("c").cast("double") / F.col("n_tok")
    term_q = F.floor(-p * F.log(p) * 1_000_000).cast("bigint")
    return (
        cnt.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n_tok").alias("n_tok"),
            F.count("*").alias("vocab"),
            F.sum(term_q).alias("entropy_q"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_repeated_ngrams",
    oracle=r"""
        WITH grams AS (
            SELECT doc_id, array_to_string(words[i:i+2], ' ') AS g
            FROM (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\s+') AS words
                FROM documents
            ), LATERAL (SELECT unnest(generate_series(1, greatest(len(words) - 2, 0))) AS i)
        ),
        c AS (
            SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c
            FROM grams GROUP BY doc_id, g
        )
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_grams,
               CAST(count(*) AS BIGINT) AS n_distinct,
               CAST(max(c) AS BIGINT) AS max_rep,
               CAST((sum(c) - count(*)) * 1000000 // sum(c) AS BIGINT)
                   AS dup_frac_q6
        FROM c
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    tags=("llm", "text", "quality", "repetition"),
)
def q_repeated_ngrams(spark, sf_dir):
    """Gopher-style n-gram repetition screen: per document, total / distinct
    3-gram counts, the most-repeated 3-gram's count, and the duplicate-gram
    fraction — the rule-based filter that catches degenerate generation
    loops and boilerplate (complements q_token_entropy's distributional
    test with the worst-single-offender view).  Entirely integer: the
    fraction is (dups * 1e6) DIV total, exact in any engine with no float
    anywhere.  Two keyed aggregates over the exploded gram stream, both
    partial-combined; only (doc, gram, count) rides the shuffle."""
    d = t(spark, sf_dir, "documents")
    words = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    grams = word_ngrams(words, 3)
    c = (
        spread(d, "doc_id")
        .select("doc_id", F.explode(grams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
    )
    return (
        c.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.count("*").alias("n_distinct"),
            F.max("c").alias("max_rep"),
            F.expr("(sum(c) - count(*)) * 1000000 DIV sum(c)").alias(
                "dup_frac_q6"
            ),
        )
        .orderBy("doc_id")
    )


_ZIPF_TOP = 1000   # fit over the top-K terms (TakeOrdered-bounded)


@query(
    "q_zipf_slope",
    oracle=rf"""
        WITH tf AS (
            SELECT term, CAST(count(*) AS BIGINT) AS freq
            FROM (
                SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
                FROM documents)
            GROUP BY term
        ),
        top AS (
            SELECT term, freq, rnk FROM (
                SELECT term, freq,
                       row_number() OVER (ORDER BY freq DESC, term) AS rnk
                FROM tf)
            WHERE rnk <= {_ZIPF_TOP}
        ),
        pts AS (
            SELECT CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1000000) AS BIGINT) AS x,
                   CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000000) AS BIGINT) AS y
            FROM top
        ),
        m AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx
            FROM pts
        )
        SELECT n,
               CAST(floor(
                   (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * 1000000) AS BIGINT) AS slope_e6
        FROM m
    """,
    tags=("llm", "text", "zipf", "corpus-stats"),
)
def q_zipf_slope(spark, sf_dir):
    """Zipf power-law slope of the corpus term-frequency distribution — the
    classic corpus-health diagnostic (natural language sits near -1;
    boilerplate-heavy or templated corpora flatten, machine-generated spam
    steepens): OLS of ln(freq) on ln(rank) over the top-1000 terms.

    Scale shape: term frequencies are one grouped aggregate over the token
    stream; the ranking reduces via TakeOrdered to the fixed top-K BEFORE
    its partition-less rank window (the q_hybrid_rrf bound), so the
    regression reads K rows forever.  Exactness: ln(rank)/ln(freq) are
    floor-quantized to 1e-6 BIGINTs per point, the four OLS moments sum as
    exact BIGINTs (|x|,|y| <= ~2e7 -> x*y <= 5e14, x 1000 points well in
    range), and the slope is one fixed IEEE sequence floor-quantized at
    the end — the q_linreg_by_group protocol on log-log axes."""
    from pyspark.sql import Window as W

    tf = (
        spread(t(spark, sf_dir, "documents"), "doc_id")
        .select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count("*").alias("freq"))
    )
    top = (
        tf.orderBy(F.desc("freq"), "term")
        .limit(_ZIPF_TOP)
        .withColumn(
            "rnk", F.row_number().over(W.orderBy(F.desc("freq"), "term"))
        )
    )
    q6 = lambda c: F.floor(F.log(c.cast("double")) * 1_000_000).cast("bigint")  # noqa: E731
    pts = top.select(q6(F.col("rnk")).alias("x"), q6(F.col("freq")).alias("y"))
    m = pts.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    nd = F.col("n").cast("double")
    slope = (
        nd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        nd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return m.select(
        "n", F.floor(slope * 1_000_000).cast("bigint").alias("slope_e6")
    )


@query(
    "q_bigram_nll",
    oracle=r"""
        WITH seq AS (
            SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i
            FROM (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS l
                FROM documents
            )
        ),
        bg AS (
            SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
            FROM seq WHERE i < len(l)
        ),
        uni AS (
            SELECT l[i] AS w, CAST(count(*) AS BIGINT) AS nu
            FROM seq GROUP BY 1
        ),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM seq),
        ctx AS (
            SELECT w1, CAST(count(*) AS BIGINT) AS nc FROM bg GROUP BY w1
        ),
        blm AS (
            SELECT w1, w2, CAST(count(*) AS BIGINT) AS nb
            FROM bg GROUP BY w1, w2
        ),
        scored AS (
            SELECT bg.doc_id,
                   CAST(floor(-ln(
                       CAST(3 * blm.nb * tot.total + uni.nu * ctx.nc AS DOUBLE)
                       / CAST(4 * ctx.nc * tot.total AS DOUBLE)
                   ) * 1000000) AS BIGINT) AS nll_q
            FROM bg
            JOIN blm ON bg.w1 = blm.w1 AND bg.w2 = blm.w2
            JOIN ctx ON bg.w1 = ctx.w1
            JOIN uni ON bg.w2 = uni.w
            CROSS JOIN tot
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(nll_q) AS BIGINT) AS nll_sum_q,
               CAST(sum(nll_q) // count(*) AS BIGINT) AS nll_mean_q
        FROM scored
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    tags=("llm", "text", "quality", "language-model", "bigram"),
)
def q_bigram_nll(spark, sf_dir):
    """Per-document NLL under an INTERPOLATED BIGRAM corpus LM — the
    context-aware upgrade of q_doc_nll's unigram screen (a doc whose
    words are common but whose word ORDER is scrambled scores high here
    and normal there — the word-salad / template-stuffing detector):
    p(w2 | w1) = 0.75 * n(w1 w2)/n(w1 ctx) + 0.25 * n(w2)/total,
    per-bigram -ln p floor-quantized to 1e-6 and summed as exact BIGINTs.

    Cross-engine exactness: the interpolation is evaluated as ONE exact
    integer ratio — (3*nb*total + nu*nc) / (4*nc*total), both products
    < 2^53 at fixture scale (the 100 TB variant rescales counts before
    the ratio) — so both engines take ln of the bit-identical double.
    Scale shape: the bigram LM is O(distinct bigrams) and joins back by
    plain (w1, w2) equi-join (NOT broadcast — unlike the vocab-bounded
    unigram/context tables, distinct bigrams grow with the corpus);
    token instances never shuffle, only (w1, w2, count) partials do."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    seq = spread(d, "doc_id").select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "pos", "tok"
        ),
    )
    bg = (
        seq.withColumn(
            "w2", F.lead("tok").over(W.partitionBy("doc_id").orderBy("pos"))
        )
        .filter(F.col("w2").isNotNull())
        .select("doc_id", F.col("tok").alias("w1"), "w2")
    )
    uni = seq.groupBy(F.col("tok").alias("w")).agg(F.count("*").alias("nu"))
    tot = seq.agg(F.count("*").alias("total"))
    ctx = bg.groupBy("w1").agg(F.count("*").alias("nc"))
    blm = bg.groupBy("w1", "w2").agg(F.count("*").alias("nb"))
    nll_q = F.floor(
        -F.log(
            (
                F.lit(3) * F.col("nb") * F.col("total")
                + F.col("nu") * F.col("nc")
            ).cast("double")
            / (F.lit(4) * F.col("nc") * F.col("total")).cast("double")
        )
        * 1_000_000
    ).cast("bigint")
    return (
        bg.join(blm, ["w1", "w2"])
        .join(F.broadcast(ctx), "w1")
        .join(F.broadcast(uni), F.col("w2") == F.col("w"))
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(nll_q).alias("nll_sum_q"),
        )
        .withColumn("nll_mean_q", F.expr("nll_sum_q div n_bigrams"))
        .orderBy("doc_id")
    )
