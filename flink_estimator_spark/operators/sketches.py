"""Count-min sketch: mergeable frequency estimation + heavy hitters.

Completes the mergeable-sketch family (q_hll_rollup: distinct counts,
q_kll_rollup: quantiles) with the frequency dual.  A CMS is a d x w grid of
counters; each key increments one counter per row (bucket = hash_i(key) % w)
and a point query reads the MIN across rows — never an underestimate, and
over-estimates are bounded by collisions (~ e/w * N with probability
1 - e^-d).  Counters are plain sums, so per-shard sketches merge by cell-wise
addition: the 100 TB shape is per-partition/per-day partial grids (d*w cells
each, here 4x512) rolled up without ever re-scanning raw events.

Unlike Spark's built-in ``count_min_sketch`` (an opaque binary with no SQL
point-query), this CMS is built from md5 arithmetic that any engine
reproduces bit-for-bit — the DuckDB oracle constructs the identical grid, so
the estimates themselves (not just bounds) are value-gateable.

Reference scope note: the reference models workload taxonomy only
(`/root/reference/src/templates/estimation.html:199-246`); sketches are part
of the approximate-analytics extension surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans._helpers import materialize, spread, t, word_ngrams
from ..plans.registry import query
from .dedup import md5_word

CMS_DEPTH = 4
CMS_WIDTH = 512
_TOP_N = 15


def cms_bucket(key: Column, row_i: Column, width: int = CMS_WIDTH) -> Column:
    """Engine-portable CMS bucket for depth row ``row_i``: the i-th 32-bit
    word of ONE md5(key) digest, mod w.

    md5 (not xxhash64/hash) so the grid is identical across engines and
    partitionings — the property that makes the sketch itself, not just its
    error bound, assertable cross-engine.  One digest serves all four depth
    rows (32 hex chars = 4 disjoint 8-hex words) — measured 2.07 s -> this
    form at sf0.1, the per-row concat+md5 was the grid build's hot term.
    Disjoint digest words are independent for CMS purposes (collision in
    one word says nothing about another), which is all the min-over-rows
    bound needs.
    """
    word = F.conv(
        F.substring(F.md5(key.cast("string")), row_i * 8 + 1, 8), 16, 10
    ).cast("long")
    return word % F.lit(width)


def cms_cells(
    df: DataFrame, key: str, shard: str | None = None, width: int = CMS_WIDTH
) -> DataFrame:
    """Build CMS counter cells: one (row_i, bucket) count per key occurrence.

    With ``shard`` set, returns per-shard partial grids (the mergeable
    state); cell-wise SUM over shards reproduces the global grid exactly.
    """
    rows = F.explode(F.array(*[F.lit(i) for i in range(CMS_DEPTH)])).alias("row_i")
    exp = df.select(F.col(key), *( [F.col(shard)] if shard else [] ), rows)
    exp = exp.withColumn("bucket", cms_bucket(F.col(key), F.col("row_i"), width))
    grp = ([shard] if shard else []) + ["row_i", "bucket"]
    return exp.groupBy(*grp).agg(F.count("*").alias("c"))


def _oracle() -> str:
    d, w, k = CMS_DEPTH, CMS_WIDTH, _TOP_N
    rows = ",".join(str(i) for i in range(d))
    return f"""
        WITH cells AS (
            SELECT d.i AS row_i,
                   CAST(('0x' || substr(md5(CAST(e.user_id AS VARCHAR)),
                                        d.i * 8 + 1, 8))
                        AS BIGINT) % {w} AS bucket,
                   count(*) AS c
            FROM events e, (SELECT unnest([{rows}]) AS i) d
            GROUP BY row_i, bucket),
        keys AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS n_exact
            FROM events GROUP BY user_id),
        top AS (
            SELECT user_id, n_exact FROM keys
            ORDER BY n_exact DESC, user_id LIMIT {k}),
        probes AS (
            SELECT t.user_id, t.n_exact, d.i AS row_i,
                   CAST(('0x' || substr(md5(CAST(t.user_id AS VARCHAR)),
                                        d.i * 8 + 1, 8))
                        AS BIGINT) % {w} AS bucket
            FROM top t, (SELECT unnest([{rows}]) AS i) d),
        est AS (
            SELECT p.user_id, p.n_exact, CAST(min(c.c) AS BIGINT) AS est
            FROM probes p JOIN cells c
              ON c.row_i = p.row_i AND c.bucket = p.bucket
            GROUP BY p.user_id, p.n_exact),
        total AS (SELECT count(*) AS n_total FROM events)
        SELECT user_id, n_exact, est,
               est >= n_exact AS never_under,
               (est - n_exact) <= CAST(ceil(4.0 * n_total / {w}) AS BIGINT)
                   AS bound_ok
        FROM est, total
        ORDER BY n_exact DESC, user_id
    """


@query(
    "q_cms_heavy_hitters",
    oracle=_oracle(),
    tags=("complex", "approx", "sketch", "mergeable", "frequency"),
)
def q_cms_heavy_hitters(spark, sf_dir):
    """Heavy hitters via a merged count-min sketch: the grid is built as
    per-event-type PARTIAL grids first, then cell-wise summed into the
    global sketch (the merge the oracle's direct construction must equal —
    associativity is the thing being verified).  The exact top-15 users are
    then point-queried against the sketch; every row certifies the two CMS
    guarantees: est >= exact always, and overshoot within the collision
    bound 4N/w (deterministic here — both engines build the identical md5
    grid, so est itself hash-matches, not just the booleans).  Scale shape:
    the raw-data pass is one map-side-combinable groupBy of d*w cells per
    shard; everything downstream (2048-cell grid, 15 probes) is broadcast-
    sized."""
    ev = t(spark, sf_dir, "events")
    # mergeable partials per shard -> cell-wise summed global grid
    partial = cms_cells(ev, "user_id", shard="event_type")
    cells = partial.groupBy("row_i", "bucket").agg(F.sum("c").alias("c"))

    keys = ev.groupBy("user_id").agg(F.count("*").alias("n_exact"))
    top = keys.orderBy(F.desc("n_exact"), F.asc("user_id")).limit(_TOP_N)
    probes = top.select(
        "user_id",
        "n_exact",
        F.explode(F.array(*[F.lit(i) for i in range(CMS_DEPTH)])).alias("row_i"),
    ).withColumn("bucket", cms_bucket(F.col("user_id"), F.col("row_i")))
    est = (
        probes.join(F.broadcast(cells), ["row_i", "bucket"])
        .groupBy("user_id", "n_exact")
        .agg(F.min("c").alias("est"))
    )
    total = ev.agg(F.count("*").alias("n_total"))
    margin = F.ceil(F.lit(4.0) * F.col("n_total") / F.lit(CMS_WIDTH)).cast("bigint")
    return (
        est.crossJoin(F.broadcast(total))
        .select(
            "user_id",
            "n_exact",
            "est",
            (F.col("est") >= F.col("n_exact")).alias("never_under"),
            ((F.col("est") - F.col("n_exact")) <= margin).alias("bound_ok"),
        )
        .orderBy(F.desc("n_exact"), F.asc("user_id"))
    )


# ---------------------------------------------------------------------------
# Theta / KMV sketch set operations — the fourth mergeable-sketch family.
#
# HLL unions distinct counts (q_hll_rollup), KLL merges quantiles
# (q_kll_rollup), CMS merges frequencies (q_cms_heavy_hitters) — but NONE of
# them can intersect: "how many distinct shingles do sources A and B share"
# has no HLL answer (inclusion-exclusion on HLL estimates explodes the
# relative error when the intersection is small).  The K-minimum-values /
# theta sketch (Beyer et al. 2007; Dasgupta et al. 2016, the DataSketches
# theta family) is the mergeable summary built for set ALGEBRA: keep the k
# smallest distinct hash values of a set; the k-th smallest value θ is a
# uniform-sampling threshold, so |S| ≈ (k-1)·H/θ (H = hash-space size), and
# any value below θ retained in BOTH sketches is a uniform sample of the
# intersection: |A∩B| ≈ |{v ∈ kmv_A ∩ kmv_B : v < min(θ_A,θ_B)}|·H/min(θ_A,θ_B).
# Union composes by taking the k smallest of the combined sketches.
# ---------------------------------------------------------------------------

K_KMV = 256
_KMV_SHARDS = 64
_H_SPACE = 1 << 52  # md5_word(col, 1, 13): 52-bit hashes, BIGINT-safe products


def _theta_oracle(k: int = K_KMV, h: int = _H_SPACE) -> str:
    """DuckDB replay of the full KMV pipeline: md5-52 shingle hashes, per-
    source k smallest, θ thresholds, pairwise union/intersection estimates —
    the portable-hash rule (SCALE.md §7g) makes the ESTIMATES value-gateable,
    not just their error bounds."""
    return f"""
        WITH sh AS (
            SELECT DISTINCT source,
                   CAST(('0x' || substr(md5(shingle_str), 1, 13)) AS BIGINT) AS h
            FROM (
                SELECT source, array_to_string(words[i:i+4], ' ') AS shingle_str
                FROM (
                    SELECT source,
                           string_split_regex(trim(lower(text)), '\\s+') AS words
                    FROM documents
                ), LATERAL (SELECT unnest(generate_series(1,
                                greatest(len(words) - 4, 0))) AS i)
            )
        ),
        counts AS (
            SELECT source, CAST(count(*) AS BIGINT) AS n_exact
            FROM sh GROUP BY source
        ),
        km AS (
            SELECT source, h, rn FROM (
                SELECT source, h,
                       row_number() OVER (PARTITION BY source ORDER BY h) AS rn
                FROM sh
            ) WHERE rn <= {k}
        ),
        th AS (
            SELECT source, count(*) AS nk,
                   CASE WHEN count(*) = {k}
                        THEN max(CASE WHEN rn = {k} THEN h END)
                        ELSE {h} END AS theta
            FROM km GROUP BY source
        ),
        est AS (
            SELECT source, theta,
                   CASE WHEN nk < {k} THEN CAST(nk AS BIGINT)
                        ELSE CAST(({k - 1} * {h}) // theta AS BIGINT)
                   END AS est_n
            FROM th
        ),
        pairs AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   a.est_n AS est_a, b.est_n AS est_b,
                   least(a.theta, b.theta) AS theta_min
            FROM est a JOIN est b ON a.source < b.source
        ),
        retained AS (
            SELECT p.source_a, p.source_b, CAST(count(*) AS BIGINT) AS n_ret
            FROM pairs p
            JOIN km ka ON ka.source = p.source_a
            JOIN km kb ON kb.source = p.source_b AND kb.h = ka.h
            WHERE ka.h < p.theta_min
            GROUP BY p.source_a, p.source_b
        ),
        uk AS (
            SELECT source_a, source_b, h,
                   row_number() OVER (PARTITION BY source_a, source_b
                                      ORDER BY h) AS rn
            FROM (
                SELECT DISTINCT p.source_a, p.source_b, kk.h
                FROM pairs p
                JOIN km kk ON kk.source IN (p.source_a, p.source_b)
            )
        ),
        uth AS (
            SELECT source_a, source_b, count(*) AS nu,
                   CASE WHEN count(*) = {k}
                        THEN max(CASE WHEN rn = {k} THEN h END)
                        ELSE {h} END AS theta_u
            FROM uk WHERE rn <= {k}
            GROUP BY source_a, source_b
        ),
        ex AS (
            SELECT a.source AS source_a, b.source AS source_b,
                   CAST(count(*) AS BIGINT) AS exact_inter
            FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT p.source_a, p.source_b,
               ca.n_exact AS n_exact_a,
               cb.n_exact AS n_exact_b,
               p.est_a, p.est_b,
               CAST(ca.n_exact + cb.n_exact - COALESCE(e.exact_inter, 0)
                    AS BIGINT) AS exact_union,
               CASE WHEN u.nu < {k} THEN CAST(u.nu AS BIGINT)
                    ELSE CAST(({k - 1} * {h}) // u.theta_u AS BIGINT)
               END AS est_union,
               COALESCE(e.exact_inter, 0) AS exact_inter,
               CAST((COALESCE(r.n_ret, 0) * {h}) // p.theta_min AS BIGINT)
                   AS est_inter,
               CAST(CAST(COALESCE(e.exact_inter, 0) AS HUGEINT) * 1000000
                    // (ca.n_exact + cb.n_exact - COALESCE(e.exact_inter, 0))
                    AS BIGINT) AS jacc_exact_ppm,
               CAST(CAST((COALESCE(r.n_ret, 0) * {h}) // p.theta_min
                         AS HUGEINT) * 1000000
                    // (CASE WHEN u.nu < {k} THEN CAST(u.nu AS BIGINT)
                             ELSE CAST(({k - 1} * {h}) // u.theta_u AS BIGINT)
                        END)
                    AS BIGINT) AS jacc_est_ppm
        FROM pairs p
        JOIN counts ca ON ca.source = p.source_a
        JOIN counts cb ON cb.source = p.source_b
        JOIN uth u ON u.source_a = p.source_a AND u.source_b = p.source_b
        LEFT JOIN retained r
               ON r.source_a = p.source_a AND r.source_b = p.source_b
        LEFT JOIN ex e
               ON e.source_a = p.source_a AND e.source_b = p.source_b
        ORDER BY p.source_a, p.source_b
    """


def kmv_sketches(sh: DataFrame, key: str = "source", k: int = K_KMV) -> DataFrame:
    """Per-key KMV sketch rows (key, h, rn) from a distinct (key, h) relation.

    Two-level tournament: per (key, shard = h % {_KMV_SHARDS}) k-smallest via
    a SHARDED rank window (partition-bounded sort state), then the final
    k-smallest per key over the ≤ shards·k survivors — the distributed top-k
    shape; the full per-key sort never sees more than shards·k rows.  At
    true 100 TB cardinalities raise the shard count with the data (shards ≈
    N/k keeps level-1 partitions k-sized); the production alternative is a
    bounded-state theta UDAF (DataSketches), which this relational
    realization trades for engine portability."""
    from pyspark.sql import Window

    w1 = Window.partitionBy(key, F.pmod(F.col("h"), F.lit(_KMV_SHARDS))).orderBy("h")
    lvl1 = (
        sh.withColumn("_rn1", F.row_number().over(w1))
        .filter(F.col("_rn1") <= k)
        .drop("_rn1")
    )
    w2 = Window.partitionBy(key).orderBy("h")
    return lvl1.withColumn("rn", F.row_number().over(w2)).filter(F.col("rn") <= k)


def _ppm(num: str, den: str) -> Column:
    """``num * 1e6 DIV den`` as BIGINT, the product through DECIMAL(38,0):
    an exact intersection is corpus-sized (~1e13 shingles at 100 TB) and an
    estimated one reaches ~k*h/theta_min (~1.8e13 at theta_min ~ 247, the
    stored falsifying example), so the *1e6 product overflows BIGINT; the
    quotient itself is bounded (est_union >= est_inter*(k-1)/k => ppm <=
    ~1.14e6).  The DuckDB oracles route the same products through HUGEINT."""
    return F.expr(f"CAST((CAST({num} AS DECIMAL(38,0)) * 1000000) DIV {den} AS BIGINT)")


def kmv_theta(hs: str, k: int, hsp: int) -> Column:
    """Theta of the sorted KMV array column ``hs``: its k-th value once
    saturated, else the whole hash space ``hsp``."""
    return F.when(F.size(hs) == k, F.element_at(hs, k)).otherwise(F.lit(hsp))


def kmv_est(hs: str, k: int, hsp: int) -> Column:
    """Saturation-aware distinct estimate of the sorted KMV array column
    ``hs``: its size while below k, else (k-1)·hsp DIV its k-th value."""
    return F.when(F.size(hs) < k, F.size(hs).cast("bigint")).otherwise(
        F.expr(f"CAST(({k - 1} * {hsp}) DIV element_at({hs}, {k}) AS BIGINT)")
    )


def kmv_union(arrays: Column, k: int) -> Column:
    """The union sketch of an array of sorted KMV arrays: the k smallest
    distinct values of their concatenation."""
    return F.slice(F.array_sort(F.array_distinct(F.flatten(arrays))), 1, k)


def theta_pairs(sk: DataFrame, keys: tuple[str, ...], k: int, hsp: int) -> DataFrame:
    """Theta pair algebra over sketch objects.  ``sk`` holds one
    (keys…, source, hs) row per sketch, ``hs`` the sorted k smallest
    distinct hash values.  Returns, for every source pair with equal keys
    (source_a < source_b): keys…, source_a, source_b, nk_a, nk_b, est_a,
    est_b, est_union, est_inter, jacc_est_ppm.

    Everything runs as array expressions in one broadcast self-join of the
    sketch table: the retained intersection is the array intersect below
    the pair's theta_min, the union sketch the k smallest of the merged
    arrays (see ``theta_setops`` for why this form)."""
    est = sk.select(
        *keys,
        "source",
        "hs",
        F.size("hs").cast("bigint").alias("nk"),
        kmv_theta("hs", k, hsp).alias("theta"),
        kmv_est("hs", k, hsp).alias("est_n"),
    )

    def side(s: str, key_names: list[str]) -> DataFrame:
        return est.select(
            *[F.col(c).alias(n) for c, n in zip(keys, key_names)],
            F.col("source").alias(f"source_{s}"),
            F.col("hs").alias(f"_hs_{s}"),
            F.col("nk").alias(f"nk_{s}"),
            F.col("theta").alias(f"_th_{s}"),
            F.col("est_n").alias(f"est_{s}"),
        )

    b_keys = [f"_{c}_b" for c in keys]
    cond = F.col("source_a") < F.col("source_b")
    for c, b in zip(keys, b_keys):
        cond = cond & (F.col(c) == F.col(b))
    return (
        side("a", list(keys))
        .join(F.broadcast(side("b", b_keys)), cond)
        .withColumn("theta_min", F.least("_th_a", "_th_b"))
        # retained = |A_sk ∩ B_sk| below the pair theta — array intersect
        # of the two (distinct-valued) sketch arrays
        .withColumn(
            "n_ret",
            F.size(
                F.filter(
                    F.array_intersect(F.col("_hs_a"), F.col("_hs_b")),
                    lambda x: x < F.col("theta_min"),
                )
            ).cast("bigint"),
        )
        .withColumn("_mu", kmv_union(F.array("_hs_a", "_hs_b"), k))
        .withColumn("est_union", kmv_est("_mu", k, hsp))
        .withColumn("est_inter", F.expr(f"CAST((n_ret * {hsp}) DIV theta_min AS BIGINT)"))
        .withColumn("jacc_est_ppm", _ppm("est_inter", "est_union"))
        .select(
            *keys,
            "source_a",
            "source_b",
            "nk_a",
            "nk_b",
            "est_a",
            "est_b",
            "est_union",
            "est_inter",
            "jacc_est_ppm",
        )
    )


@query(
    "q_theta_setops",
    oracle=_theta_oracle(),
    tags=("complex", "approx", "sketch", "mergeable", "set-ops", "llm", "dedup"),
)
def q_theta_setops(spark, sf_dir):
    """Theta/KMV sketch SET OPERATIONS between source shingle sets — the
    mergeable-sketch family completed: distinct counts union (HLL),
    quantiles merge (KLL), frequencies add (CMS), and now intersection /
    union / Jaccard ALGEBRA (theta), the one HLL fundamentally cannot do.
    For every source pair: sketch-estimated |A|, |B|, |A∪B|, |A∩B| and
    Jaccard ppm next to their exact counterparts, every estimate derived
    from md5-52 arithmetic both engines replay bit-for-bit (portable-hash
    rule) — the estimates themselves value-gate, accuracy is pytest-bounded
    separately (tests/test_theta_sketch.py).

    Scale: the corpus-sized work is one shingle explode + distinct and one
    df-bounded exact-intersection self-join (each shingle meets ≤ |sources|
    rows); everything after operates on 20 sketches of ≤ k=256 values —
    pair algebra is |sources|²-bounded metadata, the whole point of
    sketching.  Sharded rank windows keep every sort partition-bounded
    (see kmv_sketches); at cluster scale per-partition sketches would merge
    by the same k-smallest-of-union rule the pair stage already exercises.

    Reference scope note: the reference models workload taxonomy only
    (`/root/reference/src/templates/estimation.html:199-246`); set-algebra
    sketches are the approximate-analytics extension surface."""
    docs = spread(t(spark, sf_dir, "documents"), "doc_id")
    words = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    grams = word_ngrams(words, 5)
    sh = (
        docs.select("source", F.explode(grams).alias("_s"))
        .select("source", md5_word(F.col("_s"), 1, 13).alias("h"))
        .distinct()
    )
    # three consumers with different shapes (per-source agg, rank ladder,
    # h-keyed self-join) — one materialization per the §7h rule; the
    # single-job parquet round-trip beat eager_checkpoint's 2 jobs here
    # (3.1 -> 2.6 s same-process A/B at sf0.1, optimization r10 — every
    # consumer re-shuffles sh anyway, so checkpoint partitioning
    # preservation buys nothing)
    sh = materialize(sh)
    return theta_setops(sh)


def theta_setops(sh: DataFrame, k: int = K_KMV, hsp: int = _H_SPACE) -> DataFrame:
    """Pairwise theta-sketch set-operation estimates from a distinct
    (source, h) relation: per source pair, sketch-estimated and exact
    |A|, |B|, |A∪B|, |A∩B| and Jaccard ppm.  Separated from the query so
    tests drive it with synthetic sets and small k (unsaturated path,
    accuracy bounds, union-merge associativity).

    Sketch-algebra shape (optimization r10): each source's k-smallest
    values leave the tournament as ONE sorted array row, and all pair
    algebra — retained intersection under theta_min, union k-th smallest,
    the estimators — runs as array expressions inside a single broadcast
    self-join of the |sources|-row sketch table (``theta_pairs``, which the
    windowed streaming gates run per window).  That is the natural
    physical form of sketching (pair ops on sketch *objects*, not
    re-shuffled sketch rows) and removes the h-keyed sketch self-join,
    the union distinct, and the union rank window the r9 plan paid —
    5 exchanges and 2 sort stages over sketch rows (same values: the
    estimates are the same md5-52 integer arithmetic term for term).
    Corpus-sized work is untouched: the exact per-source counts and the
    exact h-keyed intersection self-join still gate the estimates."""
    counts = sh.groupBy("source").agg(F.count("*").cast("bigint").alias("n_exact"))
    # two-level tournament, array egress: level 1 = sharded rank window
    # (partition-bounded sort state, see kmv_sketches); level 2 = the
    # final k-smallest over the <= shards*k survivors, folded into the
    # per-source collect (sorted array slice == the rank-window filter)
    from pyspark.sql import Window

    w1 = Window.partitionBy(
        "source", F.pmod(F.col("h"), F.lit(_KMV_SHARDS))
    ).orderBy("h")
    lvl1 = (
        sh.withColumn("_rn1", F.row_number().over(w1))
        .filter(F.col("_rn1") <= k)
        .drop("_rn1")
    )
    sk = lvl1.groupBy("source").agg(
        F.slice(F.sort_array(F.collect_list("h")), 1, k).alias("hs")
    )
    pairs = theta_pairs(sk, (), k, hsp)

    sha = sh.select(F.col("source").alias("source_a"), "h")
    shb = sh.select(F.col("source").alias("source_b"), "h")
    ex = (
        sha.join(shb, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("bigint").alias("exact_inter"))
    )

    ca = counts.select(F.col("source").alias("source_a"), F.col("n_exact").alias("n_exact_a"))
    cb = counts.select(F.col("source").alias("source_b"), F.col("n_exact").alias("n_exact_b"))
    out = (
        pairs.join(F.broadcast(ca), "source_a")
        .join(F.broadcast(cb), "source_b")
        .join(F.broadcast(ex), ["source_a", "source_b"], "left")
        .withColumn("exact_inter", F.coalesce(F.col("exact_inter"), F.lit(0).cast("bigint")))
        .withColumn(
            "exact_union",
            (F.col("n_exact_a") + F.col("n_exact_b") - F.col("exact_inter")).cast("bigint"),
        )
        .withColumn("jacc_exact_ppm", _ppm("exact_inter", "exact_union"))
    )
    return out.select(
        "source_a",
        "source_b",
        "n_exact_a",
        "n_exact_b",
        "est_a",
        "est_b",
        "exact_union",
        "est_union",
        "exact_inter",
        "est_inter",
        "jacc_exact_ppm",
        "jacc_est_ppm",
    ).orderBy("source_a", "source_b")
