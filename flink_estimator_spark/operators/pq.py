"""Product quantization (PQ) for embedding search — train subspace
codebooks, encode the corpus to compact codes, and answer top-k queries by
asymmetric distance computation (ADC) over a per-query lookup table.

This is the billion-scale ANN memory trick (Jegou et al. 2011, "Product
Quantization for Nearest Neighbor Search", public): a 64-dim float vector
(256 B) compresses to M=8 one-byte codes by splitting into 8 subspaces of 8
dims and snapping each subvector to the nearest of K=16 per-subspace
centroids.  Search never decompresses: a query precomputes its distance to
every (subspace, centroid) cell — an M x K lookup table — and a candidate's
approximate distance is the sum of M table lookups on its codes.

Spark-first realization — every stage is a declarative join/agg, so Catalyst
partial-aggregates map-side and the shuffles carry only codebook-bounded
keys:

* codebook training = two grouped means over (subspace, code, dim) — a
  K*M*dsub-row aggregate (1,024 rows here), broadcastable forever;
* encoding = corpus join broadcast-codebook -> per-(vec, subspace) argmin:
  a 16x fan-out that partial-aggregates before the (vec, sub, code) shuffle;
* ADC = code table join broadcast-LUT -> per-(query, candidate) sum of M
  BIGINT terms + per-query shortlist window;
* rerank = exact distances for the bounded (query x shortlist) pairs only —
  the ADC+R pattern: the compressed scan prunes the corpus, the raw vectors
  are touched for 50 candidates per query, never corpus-wide.

Cross-engine exactness (what makes a *compressed-domain ANN* value-gateable):
codebook means use the q_emb_centroids quantized-BIGINT-sum protocol, every
squared-distance term is floor-quantized to 1e-12 and summed exactly, and
argmin ties break on code id — identical on any engine/partitioning.  The
seed assignment is the portable md5 word (random-partition init), followed by
3 unrolled Lloyd refinements (the q_kmeans_iterate trick, per subspace).

Production posture at 100 TB: train the codebooks on a SAMPLE (the grouped
means are sample-sized), broadcast them, and encode the corpus in one pass
(the numpy-matmul batch path of lsh_ann applies verbatim); the stored code
table is ~M bytes/vector — 8 GB per billion vectors — and ADC reranking runs
as a linear scan over codes with the 640-cell LUT broadcast.  Here both
phases run on the full fixture so the oracle replays them end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..plans._helpers import materialize, spread, t
from ..plans.registry import query
from .dedup import md5_word

_PQ_M = 8          # subspaces
_PQ_DSUB = 8       # dims per subspace (8 x 8 = 64-dim vectors)
_PQ_K = 16         # centroids per subspace -> 4-bit codes
_PQ_ITERS = 3      # Lloyd refinements after the md5 random-partition seed
_PQ_NQ = 5         # query vectors: vec_id < 5
_PQ_SHORTLIST = 50  # ADC candidates kept per query for exact reranking
_PQ_TOPK = 10
_T6 = 1_000_000
_T12 = 1_000_000_000_000


def _components(e: DataFrame) -> DataFrame:
    """(vec_id, sub, pos, v): posexploded components tagged with their
    subspace — the relational form of the split-into-subvectors step."""
    return (
        e.select("vec_id", F.posexplode("embedding").alias("pos", "v"))
        .withColumn("v", F.col("v").cast("double"))
        .withColumn("sub", F.floor(F.col("pos") / _PQ_DSUB).cast("long"))
    )


def _grouped_mean(tagged: DataFrame) -> DataFrame:
    """Per-(sub, code, pos) centroid component via the order-independent
    quantized-BIGINT-sum mean (the q_emb_centroids protocol)."""
    return tagged.groupBy("sub", "code", "pos").agg(
        (
            F.sum(F.floor(F.col("v") * _T6).cast("bigint")).cast("double")
            / F.count("*").cast("double")
            / F.lit(float(_T6))
        ).alias("c")
    )


def _sub_d2(varr, carr):
    """Exact quantized squared L2 between two component arrays — the same
    floor((v-c)^2 * 1e12) BIGINT terms the join+agg form summed.

    Malformed input fails LOUD (ADVICE r9): a NULL array (whose NULL size
    would otherwise read as a length mismatch) raises with its own message,
    a varr/carr length mismatch raises instead of zip_with padding with
    NULL, and a NULL component inside equal-length arrays (which would
    propagate to a NULL d2 and silently win or lose the downstream argmin
    depending on null-sort placement) raises too — corrupt vectors fail the
    job instead of being assigned to an arbitrary cluster."""
    agg = F.aggregate(
        F.zip_with(
            varr, carr, lambda x, y: F.floor((x - y) * (x - y) * F.lit(_T12)).cast("bigint")
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return F.when(
        varr.isNull() | carr.isNull(),
        F.raise_error(F.lit("_sub_d2: NULL input array")).cast("bigint"),
    ).when(
        F.size(varr) == F.size(carr),
        F.coalesce(
            agg,
            F.raise_error(F.lit("_sub_d2: NULL component in input arrays")).cast(
                "bigint"
            ),
        ),
    ).otherwise(
        F.raise_error(F.lit("_sub_d2: component-array length mismatch")).cast(
            "bigint"
        )
    )


def _assign(ex: DataFrame, codebook: DataFrame) -> DataFrame:
    """(vec_id, sub, code): nearest centroid per subspace by exact quantized
    squared L2, ties to the lowest code id.

    Deliberately the join+groupBy+rank form, NOT an inline
    higher-order-function argmin: inside the Lloyd loop the repeated
    mean/assign subtrees resolve through ReusedExchange, which the
    exchange-free HOF form forfeits — measured at sf0.1, the HOF variants
    regress the trained pipeline (train+checkpoint 3.2 s -> 3.8-4.9 s;
    q_emb_pq_adc 3.1 -> 5.0 s), while standalone (single assign over a
    materialized codebook) they tie.  The LOOP-FREE coarse quantizer in
    q_emb_ivfpq_adc does use the inline form (``_sub_d2``)."""
    diff = F.col("v") - F.col("c")
    term = F.floor(diff * diff * F.lit(_T12)).cast("bigint")
    d2 = (
        ex.join(F.broadcast(codebook), ["sub", "pos"])
        .groupBy("vec_id", "sub", "code")
        .agg(F.sum(term).alias("d2"))
    )
    w = W.partitionBy("vec_id", "sub").orderBy("d2", "code")
    return (
        d2.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "sub", "code")
    )


def pq_codebooks_and_codes(
    e: DataFrame, iters: int = _PQ_ITERS
) -> tuple[DataFrame, DataFrame]:
    """Train the PQ codebooks (md5 random-partition init + ``iters`` Lloyd
    refinements) and encode every vector.  Returns (codebook, codes):
    codebook = (sub, code, pos, c), codes = (vec_id, sub, code).  The loop
    itself is plan composition only (no actions, no caches), but the
    TRAINED codebook leaves through one ``materialize``: it has two
    differently-shaped consumers (the corpus encode's subspace join and
    the per-query LUT build), whose exchanges do not unify under
    ReusedExchange, so without a materialization the whole Lloyd pipeline
    executes twice — interleaved A/B at sf0.1 measured 7.04 s uncached vs
    5.62 s checkpointed (min-of-4 each), and the write is only the
    K*M*dsub = 1,024-row model.  The single-job parquet round-trip
    replaced eager_checkpoint's 2 jobs in optimization r10: the train
    lineage now executes once under the WRITE job (q_emb_pq_adc
    3.37 -> 2.83 s, q_emb_ivfpq_adc 5.2 -> 4.6 s same-process A/B; the
    read-back is a 1,024-row scan feeding broadcasts, so checkpoint
    partitioning preservation buys nothing here)."""
    ex = _components(e)
    seed = md5_word(F.concat(F.lit("pq#"), F.col("vec_id").cast("string")), 1, 12) % _PQ_K
    cb = _grouped_mean(ex.withColumn("code", seed))
    for _ in range(iters):
        a = _assign(ex, cb)
        cb = _grouped_mean(
            ex.join(a, ["vec_id", "sub"]).select("sub", "code", "pos", "v")
        )
    cb = materialize(cb)
    return cb, _assign(ex, cb)


# ---------------------------------------------------------------------------
# DuckDB replay of the full train -> encode -> ADC pipeline
# ---------------------------------------------------------------------------

_MEAN_SQL = (
    "CAST(sum(CAST(floor(v * 1000000) AS BIGINT)) AS DOUBLE)"
    " / CAST(count(*) AS DOUBLE) / 1000000.0"
)
_TERM_SQL = "CAST(floor((ex.v - {cb}.c) * (ex.v - {cb}.c) * 1000000000000) AS BIGINT)"

def _pq_ctes(iters: int = _PQ_ITERS) -> str:
    """Generate the train->encode->LUT CTE chain: seed codebook, then
    ``iters`` unrolled (assign, re-mean) Lloyd steps — the q_kmeans_iterate
    unrolling trick applied per subspace."""
    parts = [
        f"""ex AS (
            SELECT vec_id, i - 1 AS pos,
                   CAST(floor((i - 1) / {_PQ_DSUB}) AS BIGINT) AS sub,
                   CAST(embedding[i] AS DOUBLE) AS v
            FROM (
                SELECT vec_id, embedding,
                       unnest(range(1, len(embedding) + 1)) AS i
                FROM embeddings
            )
        )""",
        f"""seed AS (
            SELECT vec_id,
                   CAST(('0x' || substr(md5('pq#' || CAST(vec_id AS VARCHAR)), 1, 12))
                        AS BIGINT) % {_PQ_K} AS code
            FROM embeddings
        )""",
        f"""cb0 AS (
            SELECT ex.sub, seed.code, ex.pos, {_MEAN_SQL} AS c
            FROM ex JOIN seed USING (vec_id)
            GROUP BY ex.sub, seed.code, ex.pos
        )""",
    ]
    prev = "cb0"
    for i in range(1, iters + 1):
        parts += [
            f"""d{i} AS (
            SELECT ex.vec_id, ex.sub, {prev}.code,
                   sum({_TERM_SQL.format(cb=prev)}) AS d2
            FROM ex JOIN {prev} ON ex.sub = {prev}.sub AND ex.pos = {prev}.pos
            GROUP BY ex.vec_id, ex.sub, {prev}.code
        )""",
            f"""a{i} AS (
            SELECT vec_id, sub, code FROM (
                SELECT vec_id, sub, code,
                       row_number() OVER (PARTITION BY vec_id, sub
                                          ORDER BY d2, code) AS rk
                FROM d{i}
            ) WHERE rk = 1
        )""",
            f"""cb{i} AS (
            SELECT ex.sub, a{i}.code, ex.pos, {_MEAN_SQL} AS c
            FROM ex JOIN a{i} ON ex.vec_id = a{i}.vec_id AND ex.sub = a{i}.sub
            GROUP BY ex.sub, a{i}.code, ex.pos
        )""",
        ]
        prev = f"cb{i}"
    parts += [
        f"""de AS (
            SELECT ex.vec_id, ex.sub, {prev}.code,
                   sum({_TERM_SQL.format(cb=prev)}) AS d2
            FROM ex JOIN {prev} ON ex.sub = {prev}.sub AND ex.pos = {prev}.pos
            GROUP BY ex.vec_id, ex.sub, {prev}.code
        )""",
        """codes AS (
            SELECT vec_id, sub, code FROM (
                SELECT vec_id, sub, code,
                       row_number() OVER (PARTITION BY vec_id, sub
                                          ORDER BY d2, code) AS rk
                FROM de
            ) WHERE rk = 1
        )""",
        f"""lut AS (
            SELECT ex.vec_id AS qid, {prev}.sub, {prev}.code,
                   sum({_TERM_SQL.format(cb=prev)}) AS d2
            FROM ex JOIN {prev} ON ex.sub = {prev}.sub AND ex.pos = {prev}.pos
            WHERE ex.vec_id < {_PQ_NQ}
            GROUP BY ex.vec_id, {prev}.sub, {prev}.code
        )""",
    ]
    return ",\n        ".join(parts)


# the ADC+R tail of both PQ oracles over their ``adc(qid, cand_id, adc_d2)``
_ADC_RERANK_SQL = f"""shortlist AS (
            SELECT qid, cand_id, adc_d2 FROM (
                SELECT qid, cand_id, adc_d2,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY adc_d2, cand_id) AS rk
                FROM adc
            ) WHERE rk <= {_PQ_SHORTLIST}
        ),
        rerank AS (
            SELECT s.qid, s.cand_id, s.adc_d2,
                   CAST(sum(CAST(floor((q.v - c.v) * (q.v - c.v)
                                       * 1000000000000) AS BIGINT)) AS BIGINT) AS d2
            FROM shortlist s
            JOIN ex c ON c.vec_id = s.cand_id
            JOIN ex q ON q.vec_id = s.qid AND q.pos = c.pos
            GROUP BY s.qid, s.cand_id, s.adc_d2
        )
        SELECT qid, cand_id, adc_d2, d2, CAST(rk AS BIGINT) AS rk FROM (
            SELECT qid, cand_id, adc_d2, d2,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY d2, cand_id) AS rk
            FROM rerank
        ) WHERE rk <= {_PQ_TOPK}
        ORDER BY qid, rk"""


def _query_lut(ex: DataFrame, cb: DataFrame) -> DataFrame:
    """(qid, sub, code, d2): the ADC lookup table — each query vector's
    quantized squared distance to every codeword of every subspace."""
    diff = F.col("v") - F.col("c")
    term = F.floor(diff * diff * F.lit(_T12)).cast("bigint")
    return (
        ex.filter(F.col("vec_id") < _PQ_NQ)
        .join(F.broadcast(cb), ["sub", "pos"])
        .groupBy(F.col("vec_id").alias("qid"), "sub", "code")
        .agg(F.sum(term).alias("d2"))
    )


def _adc_rerank(ex: DataFrame, adc: DataFrame) -> DataFrame:
    """The top-_PQ_TOPK rows (qid, cand_id, adc_d2, d2, rk) per query:
    ``adc``'s _PQ_SHORTLIST best candidates by ADC distance, exactly
    reranked on the raw components ``ex``."""
    w_adc = W.partitionBy("qid").orderBy("adc_d2", "cand_id")
    shortlist = (
        adc.withColumn("rk", F.row_number().over(w_adc))
        .filter(F.col("rk") <= _PQ_SHORTLIST)
        .select("qid", "cand_id", "adc_d2")
    )
    qex = ex.filter(F.col("vec_id") < _PQ_NQ).select(
        F.col("vec_id").alias("qid"), "pos", F.col("v").alias("qv")
    )
    rdiff = F.col("qv") - F.col("v")
    rterm = F.floor(rdiff * rdiff * F.lit(_T12)).cast("bigint")
    rerank = (
        ex.join(F.broadcast(shortlist), ex["vec_id"] == F.col("cand_id"))
        .join(F.broadcast(qex), ["qid", "pos"])
        .groupBy("qid", "cand_id", "adc_d2")
        .agg(F.sum(rterm).cast("bigint").alias("d2"))
    )
    w_ex = W.partitionBy("qid").orderBy("d2", "cand_id")
    return (
        rerank.withColumn("rk", F.row_number().over(w_ex).cast("bigint"))
        .filter(F.col("rk") <= _PQ_TOPK)
        .select("qid", "cand_id", "adc_d2", "d2", "rk")
        .orderBy("qid", "rk")
    )


@query(
    "q_emb_pq_adc",
    oracle=f"""
        WITH {_pq_ctes()},
        adc AS (
            SELECT lut.qid, codes.vec_id AS cand_id,
                   CAST(sum(lut.d2) AS BIGINT) AS adc_d2
            FROM codes JOIN lut ON codes.sub = lut.sub AND codes.code = lut.code
            WHERE codes.vec_id != lut.qid
            GROUP BY lut.qid, codes.vec_id
        ),
        {_ADC_RERANK_SQL}
    """,
    tags=("llm", "similarity", "ann", "pq", "compression", "trained"),
)
def q_emb_pq_adc(spark, sf_dir):
    """Product-quantization ANN, end to end: train 8x16 subspace codebooks
    (md5-seeded random-partition init + 3 exact Lloyd refinements), encode
    every vector to 8 codes, scan the compressed domain by asymmetric
    distance (broadcast per-query 8x16 lookup tables), keep an ADC
    shortlist of 50 per query, and exact-rerank the shortlist to the final
    top-10 — the standard ADC+R search shape (compressed scan prunes the
    corpus; the exact pass touches only shortlist-many raw vectors).  See
    the module docstring for the scale analysis; the whole pipeline —
    training means, code assignments, ADC sums, reranked ranks — is
    replayed by the DuckDB oracle in exact quantized-BIGINT arithmetic."""
    e = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    cb, codes = pq_codebooks_and_codes(e)

    ex = _components(e)
    lut = _query_lut(ex, cb)
    adc = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", F.col("vec_id").alias("cand_id"))
        .agg(F.sum("d2").cast("bigint").alias("adc_d2"))
    )
    return _adc_rerank(ex, adc)


_IVF_NPROBE = 3  # coarse lists probed per query


_COARSE_CTES = f"""exl AS (
            SELECT vec_id, label, i - 1 AS pos, CAST(embedding[i] AS DOUBLE) AS v
            FROM (
                SELECT vec_id, label, embedding,
                       unnest(range(1, len(embedding) + 1)) AS i
                FROM embeddings
            )
        ),
        ccent AS (
            SELECT label AS clabel, pos,
                   CAST(sum(CAST(floor(v * 1000000) AS BIGINT)) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) / 1000000.0 AS c
            FROM exl GROUP BY label, pos
        ),
        cd AS (
            SELECT exl.vec_id, ccent.clabel,
                   sum(CAST(floor((exl.v - ccent.c) * (exl.v - ccent.c)
                                  * 1000000000000) AS BIGINT)) AS d2
            FROM exl JOIN ccent ON exl.pos = ccent.pos
            GROUP BY exl.vec_id, ccent.clabel
        ),
        crk AS (
            SELECT vec_id, clabel,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d2, clabel) AS rk
            FROM cd
        ),
        cassign AS (SELECT vec_id, clabel AS cluster FROM crk WHERE rk = 1),
        probe AS (
            SELECT vec_id AS qid, clabel AS cluster
            FROM crk WHERE rk <= {_IVF_NPROBE} AND vec_id < {_PQ_NQ}
        ),
        cands AS (
            SELECT p.qid, ca.vec_id AS cand_id
            FROM probe p JOIN cassign ca ON ca.cluster = p.cluster
            WHERE ca.vec_id != p.qid
        )"""


@query(
    "q_emb_ivfpq_adc",
    oracle=f"""
        WITH {_pq_ctes()},
        {_COARSE_CTES},
        adc AS (
            SELECT cn.qid, cn.cand_id,
                   CAST(sum(lut.d2) AS BIGINT) AS adc_d2
            FROM cands cn
            JOIN codes ON codes.vec_id = cn.cand_id
            JOIN lut ON lut.qid = cn.qid
                    AND lut.sub = codes.sub AND lut.code = codes.code
            GROUP BY cn.qid, cn.cand_id
        ),
        {_ADC_RERANK_SQL}
    """,
    tags=("llm", "similarity", "ann", "ivf", "pq", "compression", "trained"),
)
def q_emb_ivfpq_adc(spark, sf_dir):
    """IVF-PQ composed ANN — the billion-scale production architecture
    (FAISS "IVFADC", Jegou et al. 2011 §V): a coarse quantizer routes the
    search to nprobe=3 inverted lists, and only vectors in
    the probed lists are scanned in the COMPRESSED domain (PQ codes +
    per-query LUT), then the ADC shortlist is exact-reranked — the two
    pruning levels compose multiplicatively: IVF cuts candidates to
    nprobe/k of the corpus, PQ cuts bytes-per-candidate to M codes, and
    the exact pass touches 50 raw vectors per query.

    Spark shape: the coarse quantizer is the shared label-seeded
    centroid table (q_kmeans_assign arithmetic — dim x k rows, broadcast),
    inverted lists are just the cluster column on the code table (at
    100 TB: the partition key of the stored codes, so a probe is
    partition pruning, not a filter), and the PQ machinery is
    q_emb_pq_adc's verbatim.  Everything — coarse routing, codebook
    training, code assignment, ADC sums, rerank — replays in the DuckDB
    oracle's quantized-BIGINT arithmetic."""
    # function-local: similarity imports plans, which imports this module
    from .similarity import label_centroids

    e = spread(t(spark, sf_dir, "embeddings"), "vec_id")
    cb, codes = pq_codebooks_and_codes(e)

    # coarse quantizer: label-seeded centroids, ranked assignments.  The
    # centroid table is reshaped to one component ARRAY per cluster and the
    # distance runs inline per (vector, cluster) row — corpus x C rows with
    # no aggregation exchange, where the posexploded join form shuffled
    # corpus x C x dim rows through a groupBy (same _assign rationale)
    cpacked = label_centroids(e).groupBy("clabel").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda x: x["c"]
        ).alias("carr")
    )
    varr = F.transform(F.col("embedding"), lambda v: v.cast("double"))
    cd = (
        e.select("vec_id", varr.alias("varr"))
        .join(F.broadcast(cpacked))
        .select("vec_id", "clabel", _sub_d2(F.col("varr"), F.col("carr")).alias("d2"))
    )
    # top-nprobe clusters per vector IN-ARRAY, not via a rank window: cd
    # inherits e's spread partitioning (hash vec_id), so the per-vector
    # collect aggregates with ZERO exchange and no corpus x C sort; the
    # array_sort of (d2, clabel) structs is the same (d2, clabel) ascending
    # tie-break the window ordered by (nulls-last equivalent: _sub_d2
    # raises on malformed input, see its guard).  One materialization then
    # serves BOTH consumers — the r9 plan recomputed the whole
    # BNLJ+fold+window subtree once for the assignment and once for the
    # probe side (two Window(corpus x C) passes in the captured final
    # plan); the topc write is corpus rows of (vec_id, 3 structs).
    topc = materialize(
        cd.groupBy("vec_id").agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("d2", "clabel"))),
                1,
                _IVF_NPROBE,
            ).alias("cl")
        )
    )
    cassign = topc.select(
        "vec_id", F.element_at("cl", 1)["clabel"].alias("cluster")
    )
    probe = (
        topc.filter(F.col("vec_id") < _PQ_NQ)
        .select(F.col("vec_id").alias("qid"), F.explode("cl").alias("c"))
        .select("qid", F.col("c")["clabel"].alias("cluster"))
    )
    cands = (
        F.broadcast(probe)
        .join(cassign.withColumnRenamed("vec_id", "cand_id"), "cluster")
        .filter(F.col("cand_id") != F.col("qid"))
        .select("qid", "cand_id")
    )

    ex = _components(e)
    lut = _query_lut(ex, cb)
    # broadcast the candidate list into the code-table probe: cands is
    # bounded by Q x nprobe x |probed list| (the whole point of IVF),
    # while shuffling the corpus-sized code table for a sort-merge join
    # on cand_id costs an exchange + sort per side (the captured r9 final
    # plan shows exactly that SMJ)
    adc = (
        F.broadcast(cands)
        .join(codes.withColumnRenamed("vec_id", "cand_id"), "cand_id")
        .join(F.broadcast(lut), ["qid", "sub", "code"])
        .groupBy("qid", "cand_id")
        .agg(F.sum("d2").cast("bigint").alias("adc_d2"))
    )
    return _adc_rerank(ex, adc)
