"""Deduplication operators for LLM training-data pipelines.

Four families, each a composition of built-in DataFrame ops (no row-at-a-time
Python anywhere):

* **exact** — hash-groupBy on a normalized content fingerprint;
* **n-gram Jaccard** — word-shingle explode -> distinct -> self-join on
  shingle -> pair-wise Jaccard (exact, DuckDB-oracle'd);
* **MinHash + LSH** — per-doc signature of K minimum ``xxhash64`` values,
  banded into B buckets; candidate pairs only ever meet inside a bucket, so
  the shuffle is bounded by bucket width, not corpus size (the 100 TB path);
* **SimHash** — 48-bit sign-aggregated token-hash fingerprint with banded
  Hamming candidate generation.

Scale notes: every stage is explode -> groupBy/join on well-distributed hash
keys; skew only appears for pathological shingles (e.g. boilerplate), which
the ``max_shingle_freq`` guard drops — the standard trick in web-scale dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans._helpers import (
    JACCARD_CLUSTER_CTES,
    JACCARD_CTES,
    SHINGLE_INTER_SQL,
    SHINGLE_SIZE_CTES,
    SHINGLES_CTE,
    eager_checkpoint,
    local_df,
    materialize,
    minhash_ctes,
    spread,
    t,
    word_ngrams,
)
from ..plans.registry import query
from .textstats import fingerprint

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Survivors of exact dedup: lowest id per normalized-content fingerprint."""
    return (
        df.groupBy(fingerprint(text_col).alias("fp"))
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# Shingles
# ---------------------------------------------------------------------------


def md5_word(col: Column, start_hex: int, n_hex: int) -> Column:
    """``n_hex`` hex chars of md5(col) starting at 1-based ``start_hex``, as
    a BIGINT — the engine-portable hash primitive (cf. sketches.cms_bucket):
    DuckDB replays it as ``CAST(('0x' || substr(md5(x), s, n)) AS BIGINT)``
    bit-for-bit, which xxhash64 (absent from DuckDB) cannot.  Keep n_hex <=
    15 (60 bits) so the value never touches the sign bit."""
    return F.conv(F.substring(F.md5(col), start_hex, n_hex), 16, 10).cast("long")


def shingle_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    max_shingle_freq: int | None = None,
    partition_by_shingle: bool = False,
    portable: bool = False,
) -> DataFrame:
    """Distinct word n-gram shingles per document, as 64-bit hashes:
    (id, shingle: long).

    Built entirely from array functions: split -> sliding transform ->
    explode.  Shingles are hashed to ``xxhash64`` *before* the distinct, so
    every downstream shuffle (the distinct itself, the self-join, the
    MinHash aggregate) moves 8 bytes per shingle instead of ~n words — the
    standard web-scale-dedup representation; the 2^-64 collision rate is far
    below the FP rate the hashed stages already accept.
    ``max_shingle_freq`` drops boilerplate shingles that would otherwise
    make the self-join quadratic on a hot key.

    ``portable=True`` swaps xxhash64 for the 60-bit md5 prefix (same 8-byte
    shuffle width) so a DuckDB oracle can rebuild the identical shingle set
    — the gate variant; xxhash64 stays the production default (one JVM hash
    vs an md5 digest per shingle occurrence).
    """
    # single-split scans would shingle in one task; spread first (see _helpers)
    df = spread(df, id_col)
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    grams = word_ngrams(words, n)
    sh_hash = (
        md5_word(F.col("_shingle_str"), 1, 15)
        if portable
        else F.xxhash64("_shingle_str")
    )
    out = df.select(F.col(id_col), F.explode(grams).alias("_shingle_str")).select(
        F.col(id_col), sh_hash.alias("shingle")
    )
    if partition_by_shingle:
        # Partition the exploded shingles by `shingle` BEFORE the distinct:
        # hashpartitioning(shingle) satisfies the distinct's clustering on
        # (id, shingle) (subset rule), and — the point — it is exactly the
        # distribution the downstream self-join on `shingle` needs, so the
        # join adds NO further exchange.  One shuffle of the exploded set
        # instead of three (distinct + both join sides).  Only worth it for
        # join consumers: an aggregate-by-id consumer (MinHash) would lose
        # the map-side partial dedup and re-shuffle on the id anyway.
        n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        out = out.repartition(n_part, F.col("shingle"))
    out = out.distinct()
    if max_shingle_freq is not None:
        freq = out.groupBy("shingle").agg(F.count("*").alias("df_"))
        out = (
            out.join(freq, "shingle")
            .filter(F.col("df_") <= max_shingle_freq)
            .drop("df_")
        )
    return out


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs (id_a < id_b, sim >= thr).

    intersection via shingle self-join; |A| and |B| via per-doc counts;
    jaccard = inter / (|A| + |B| - inter) — all integer arithmetic until the
    final division, so it hash-matches any engine.

    Shingles arrive pre-hashed from ``shingle_df`` (8-byte join keys — an
    order of magnitude less shuffle than the strings at corpus scale).
    """
    # deliberately UNPINNED: the three consumers (sizes + both join sides)
    # share the repartition-by-shingle Exchange, which Catalyst deduplicates
    # via ReusedExchange within the single action — measured fastest at
    # sf0.1 (no-pin 1.56 s vs r3's leaky .cache() 1.68 s vs reliable
    # checkpoint 2.25 s, min-of-3) with zero persistent-RDD footprint
    sh = shingle_df(df, id_col, text_col, n, partition_by_shingle=True)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb")), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "inter", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    sh: DataFrame, id_col: str = "doc_id", num_hashes: int = 16,
    portable: bool = False,
) -> DataFrame:
    """K-function MinHash signature per doc: h_i = min(xxhash64(shingle, i)).

    One hash-aggregate produces all K mins — a single shuffle on the doc id.

    ``portable=True`` derives h_i from md5 instead (the CMS pattern,
    sketches.cms_bucket): one digest md5(shingle || '#' || i//4) serves four
    hash functions via its disjoint 32-bit words, so 16 functions cost 4
    digests per shingle and DuckDB replays the signature bit-for-bit —
    which makes the LSH candidate set itself value-gateable, not rows-only.
    """
    if portable:
        # project each digest ONCE (aggregate expressions are not CSE'd, so
        # 16 min() exprs would otherwise recompute their md5 4x each)
        s = F.col("shingle").cast("string")
        n_digests = (num_hashes + 3) // 4
        pre = sh.select(
            id_col,
            *[
                F.md5(F.concat(s, F.lit(f"#{d}"))).alias(f"_d{d}")
                for d in range(n_digests)
            ],
        )
        aggs = [
            F.min(
                F.conv(
                    F.substring(F.col(f"_d{i // 4}"), (i % 4) * 8 + 1, 8), 16, 10
                ).cast("long")
            ).alias(f"h{i}")
            for i in range(num_hashes)
        ]
        return pre.groupBy(id_col).agg(*aggs)
    else:
        aggs = [
            F.min(F.xxhash64("shingle", F.lit(i))).alias(f"h{i}")
            for i in range(num_hashes)
        ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    portable: bool = False,
) -> DataFrame:
    """MinHash-LSH near-dup candidates: docs agreeing on all rows of >= 1 band.

    Pipeline: shingle -> K-min signature -> band keys -> explode -> groupBy
    band bucket -> in-bucket pairs.  Candidate generation never compares
    cross-bucket docs, so cost is sum(bucket^2), not corpus^2.  Output adds
    the estimated Jaccard (fraction of agreeing minhashes).

    ``portable=True`` builds shingles, signatures, AND band keys from md5
    arithmetic (see ``minhash_signatures``); the band key hashes the
    '#'-joined row values, which the oracle reconstructs with identical
    string concatenation — the whole candidate set matches DuckDB exactly.
    """
    rows = num_hashes // bands
    sig = minhash_signatures(
        shingle_df(df, id_col, text_col, n, portable=portable),
        id_col, num_hashes, portable=portable,
    )

    def band_key(b: int):
        cols = [F.col(f"h{b * rows + r}") for r in range(rows)]
        if portable:
            return md5_word(
                F.concat_ws("#", *[c.cast("string") for c in cols]), 1, 15
            )
        return F.xxhash64(*cols)

    band_keys = F.array(
        *[
            F.struct(F.lit(b).alias("band"), band_key(b).alias("key"))
            for b in range(bands)
        ]
    )
    exploded = sig.withColumn("bk", F.explode(band_keys)).select(
        F.col(id_col), F.col("bk.band").alias("band"), F.col("bk.key").alias("key"), *[
            F.col(f"h{i}") for i in range(num_hashes)
        ]
    )
    left = exploded.select(
        F.col("band"), F.col("key"), F.col(id_col).alias("id_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(num_hashes)],
    )
    right = exploded.select(
        F.col("band"), F.col("key"), F.col(id_col).alias("id_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(num_hashes)],
    )
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(num_hashes)
    )
    return (
        left.join(right, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", (agree / F.lit(float(num_hashes))).alias("est_jaccard"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 48  # keep below the sign bit so the fingerprint packs into a long


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            portable: bool = False) -> DataFrame:
    """SimHash fingerprint: per-bit sign of summed token-hash bits.

    explode tokens -> one aggregate with 48 conditional sums -> pack bits.
    ``portable=True`` sources the 48 token-hash bits from the md5 prefix
    instead of xxhash64 so DuckDB rebuilds the identical fingerprint.
    """
    toks = spread(df, id_col).select(
        F.col(id_col), F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("tok")
    )
    h = md5_word(F.col("tok"), 1, 12) if portable else F.xxhash64("tok")
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = toks.groupBy(id_col).agg(*bit_sums)
    packed = sum(
        F.when(F.col(f"s{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        for i in range(SIMHASH_BITS)
    )
    return agg.select(F.col(id_col), packed.alias("simhash"))


def simhash_candidates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bands: int = 4,
    sig: DataFrame | None = None, portable: bool = False,
) -> DataFrame:
    """Near-dup candidates: equal band of the simhash (Hamming-LSH) then exact
    Hamming distance via bit_count(xor).  Pass a precomputed ``sig`` to share
    the fingerprint table with other consumers (e.g. the recall certificate)."""
    width = SIMHASH_BITS // bands
    if sig is None:
        sig = simhash(df, id_col, text_col, portable=portable)
    banded = sig.withColumn(
        "bk",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ),
    ).select(F.col(id_col), "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    left = banded.select("band", "key", F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"))
    right = banded.select("band", "key", F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        left.join(right, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@query(
    "q_dedup_exact_docs",
    oracle=r"""
        SELECT count(*) AS n_unique,
               CAST(sum(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups,
               CAST(sum(n_copies) AS BIGINT) AS n_docs
        FROM (
            SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
                   count(*) AS n_copies
            FROM documents GROUP BY 1
        )
    """,
    tags=("llm", "dedup", "exact"),
)
def q_dedup_exact_docs(spark, sf_dir):
    """Exact-dedup summary: unique contents, duplicate groups, total docs."""
    d = exact_dedup(t(spark, sf_dir, "documents"))
    return d.agg(
        F.count("*").alias("n_unique"),
        F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0)).alias("n_dup_groups"),
        F.sum("n_copies").alias("n_docs"),
    )


@query(
    "q_dedup_jaccard_pairs",
    oracle=JACCARD_CTES + """
        SELECT id_a, id_b, inter,
               CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5
        ORDER BY id_a, id_b
    """,
    tags=("llm", "dedup", "jaccard"),
)
def q_dedup_jaccard_pairs(spark, sf_dir):
    """Exact 5-gram Jaccard near-duplicate pairs (threshold 0.5)."""
    return jaccard_pairs(t(spark, sf_dir, "documents"), threshold=0.5).orderBy(
        "id_a", "id_b"
    )


def _minhash_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    """DuckDB replay of the full portable MinHash-LSH pipeline: md5-60
    shingles, md5-word signatures, md5 band keys, in-bucket pairs, agreement
    fraction — the exact computation ``lsh_candidate_pairs(portable=True)``
    runs, so the candidate set value-gates (VERDICT r3 item 2)."""
    agree = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END" for i in range(num_hashes)
    )
    return f"""
        WITH {minhash_ctes(num_hashes, bands)},
        pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               CAST({agree} AS DOUBLE) / {num_hashes}.0 AS est_jaccard
        FROM pairs
        JOIN sig sa ON sa.doc_id = id_a
        JOIN sig sb ON sb.doc_id = id_b
        ORDER BY id_a, id_b
    """


@query(
    "q_dedup_minhash_lsh",
    oracle=_minhash_oracle(),
    tags=("llm", "dedup", "minhash", "lsh"),
)
def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH candidate pairs with estimated Jaccard (16 hashes, 4
    bands) — the portable md5-derived variant, so the DuckDB oracle rebuilds
    shingles, signatures, band buckets, and the agreement fraction
    bit-for-bit and the candidate SET is value-verified (was rows-only when
    the signature used engine-specific xxhash64).  The xxhash64 form stays
    the production default in ``lsh_candidate_pairs``; both share every
    plan shape (explode -> groupBy -> banded self-join)."""
    return lsh_candidate_pairs(
        t(spark, sf_dir, "documents"), portable=True
    ).orderBy("id_a", "id_b")


def _simhash_oracle(max_hamming: int = 6, bands: int = 4) -> str:
    """DuckDB replay of the portable SimHash pipeline: 48-bit md5 token
    hashes, signed bit sums, packed fingerprint, banded Hamming-LSH
    candidates, exact bit_count(xor) distance."""
    width = SIMHASH_BITS // bands
    bit_sums = ",\n            ".join(
        f"sum(CASE WHEN (th >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(SIMHASH_BITS)
    )
    pack = " + ".join(
        f"CASE WHEN s{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(SIMHASH_BITS)
    )
    band_rows = "\n                UNION ALL\n".join(
        f"                SELECT doc_id, simhash, {b} AS band,"
        f" (simhash >> {b * width}) & {(1 << width) - 1} AS key FROM sig"
        for b in range(bands)
    )
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
            FROM documents
        ),
        th AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) AS th
            FROM toks
        ),
        bits AS (
            SELECT doc_id,
            {bit_sums}
            FROM th GROUP BY doc_id
        ),
        sig AS (
            SELECT doc_id, {pack} AS simhash FROM bits
        ),
        banded AS (
{band_rows}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, hamming
        FROM cand WHERE hamming <= {max_hamming}
        ORDER BY id_a, id_b
    """


@query(
    "q_dedup_simhash",
    oracle=_simhash_oracle(),
    tags=("llm", "dedup", "simhash"),
)
def q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup candidates with exact Hamming distance <= 6 — the
    portable md5-bit variant (token-hash bits from the md5 prefix instead of
    xxhash64), so the DuckDB oracle packs the identical 48-bit fingerprints
    and the banded candidate set value-gates end-to-end."""
    return (
        simhash_candidates(t(spark, sf_dir, "documents"), portable=True)
        .filter(F.col("hamming") <= 6)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Near-duplicate clusters (connected components)
# ---------------------------------------------------------------------------


_CC_LOCAL_CAP = 100_000  # edge count up to which union-find runs on the driver
_CC_ROUNDS = 16  # pointer-doubling round budget: diameters up to 2^16


def connected_components(edges: DataFrame) -> DataFrame:
    """Connected components of an undirected pair graph.  Input: (id_a,
    id_b) pairs.  Output: (doc_id, cluster) with cluster == the minimum id
    of the component, typed like ``id_a``.

    One bounded collect of at most ``_CC_LOCAL_CAP + 1`` edges routes (the
    ``bpe_train`` auto-mode pattern).  An edge set that fits is resolved by
    union-find on the driver: that collect is the only action, and the
    labels plan as a ``LocalTableScan``.  Near-dup clusters and blocked
    entity-resolution edges are small by construction, and at that size
    the fixed per-job cost of any distributed loop dominates (SCALE.md §3).
    A larger edge set goes to ``_cc_pointer_doubling``, whose round count
    grows with log(diameter), not diameter; that engine's edge cache
    recomputes the edges the routing collect only partly read."""
    rows = edges.limit(_CC_LOCAL_CAP + 1).collect()
    if len(rows) > _CC_LOCAL_CAP:
        return _cc_pointer_doubling(edges)
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        # the smaller root wins, so every root is its component's minimum
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    id_type = edges.schema["id_a"].dataType
    schema = T.StructType(
        [T.StructField("doc_id", id_type), T.StructField("cluster", id_type)]
    )
    labels = [(v, find(v)) for v in sorted(parent)]
    return local_df(edges.sparkSession, labels, schema)


def _cc_pointer_doubling(edges: DataFrame) -> DataFrame:
    """The distributed engine behind ``connected_components`` for edge
    sets over the cap: min-label propagation PLUS pointer doubling (label
    := label of label) per round, converging in O(log diameter) rounds
    where plain min-label propagation needs O(diameter) — the difference
    between 5 rounds and 60+ iterations on chain-shaped graphs
    (edit-distance neighborhoods, road-network-like data).

    Each round eager-checkpoints the label table: the two joins per round
    compound the logical plan, and Catalyst analysis cost on an iterated
    cached-join lineage grows super-linearly (measured: round 3 of the
    uncheckpointed form took 52 s on a 43-node fixture block purely in
    planning) — the checkpoint truncates lineage every round, so round
    cost stays flat and total work is rounds x (2 joins + a label-table
    write).  Labels only decrease and stay within the component's vertex
    ids, so the fixpoint is the component minimum.  A graph that has not
    converged after ``_CC_ROUNDS`` rounds raises instead of returning
    partial labels."""
    edges = edges.cache()
    sym = edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")).union(
        edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    ).cache()
    try:
        labels = (
            sym.groupBy(F.col("src").alias("id"))
            .agg(F.least(F.first("src"), F.min("dst")).alias("cluster"))
        )
        labels = eager_checkpoint(labels)
        for _ in range(_CC_ROUNDS):
            nbr = (
                sym.join(labels, sym.dst == labels.id)
                .groupBy("src")
                .agg(F.min("cluster").alias("nbr_min"))
            )
            l1 = labels.join(nbr, labels.id == nbr.src, "left").select(
                "id",
                F.least(
                    F.col("cluster"),
                    F.coalesce(F.col("nbr_min"), F.col("cluster")),
                ).alias("cluster"),
            )
            ptr = l1.select(
                F.col("id").alias("jid"), F.col("cluster").alias("jc")
            )
            prev = labels.select(
                F.col("id").alias("pid"), F.col("cluster").alias("pc")
            )
            stepped = (
                l1.join(ptr, l1.cluster == ptr.jid, "left")
                .select(
                    "id",
                    F.least(
                        F.col("cluster"),
                        F.coalesce(F.col("jc"), F.col("cluster")),
                    ).alias("cluster"),
                )
                .join(prev, F.col("id") == F.col("pid"))
                .select(
                    "id", "cluster", (F.col("cluster") < F.col("pc")).alias("changed")
                )
            )
            stepped = eager_checkpoint(stepped)
            changed = stepped.filter("changed").count()
            labels = stepped.drop("changed")
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"connected components did not converge in {_CC_ROUNDS} "
                f"pointer-doubling rounds ({changed} labels still changing) "
                f"— graph diameter exceeds 2^{_CC_ROUNDS}; raise _CC_ROUNDS "
                "rather than accept partial labels"
            )
        return labels.select(F.col("id").alias("doc_id"), "cluster")
    finally:
        sym.unpersist()
        edges.unpersist()


@query(
    "q_dedup_clusters",
    oracle=JACCARD_CLUSTER_CTES + """
        SELECT src AS doc_id, min(dst) AS cluster
        FROM reach GROUP BY src
        ORDER BY doc_id
    """,
    tags=("llm", "dedup", "clusters", "iterative"),
)
def q_dedup_clusters(spark, sf_dir):
    """Near-duplicate clusters: connected components over the exact 5-gram
    Jaccard pair graph (threshold 0.5) — the step that turns pairwise
    near-dup hits into dedup groups with a canonical survivor (min id).
    Oracle: DuckDB recursive-CTE transitive closure."""
    pairs = jaccard_pairs(t(spark, sf_dir, "documents"), threshold=0.5)
    return connected_components(pairs.select("id_a", "id_b")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Span-level exact substring dedup (shared n-gram spans across documents)
# ---------------------------------------------------------------------------

@query(
    "q_shared_spans",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
            FROM documents
        ),
        grams AS (
            SELECT DISTINCT doc_id, array_to_string(tk[CAST(i+1 AS BIGINT):CAST(i+3 AS BIGINT)], ' ') AS span
            FROM toks, LATERAL unnest(generate_series(0, len(tk) - 3)) AS s(i)
        )
        SELECT span, count(*) AS n_docs
        FROM grams
        GROUP BY span
        HAVING count(*) >= 2
        ORDER BY n_docs DESC, span
        LIMIT 100
    """,
    tags=("llm", "dedup", "spans"),
)
def q_shared_spans(spark, sf_dir):
    """Span-level exact substring duplication: token 3-gram spans appearing
    in >= 2 distinct documents, top-100 by document frequency (the
    repeated-span detection behind exact-substring training-data dedup).

    Scale shape: spans stay distributed end-to-end — per-doc DISTINCT
    before the corpus groupBy caps each document's contribution at its
    span vocabulary, and the final aggregate shuffles (span, count) pairs
    only.  At 100 TB the span string itself would be replaced by its
    xxhash64 (the text is only needed for reporting)."""
    d = t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    # guard the short-doc case: Spark's sequence(0, n) with n < 0 produces a
    # DESCENDING sequence, where DuckDB's generate_series is empty
    idx = F.when(
        F.size(toks) >= 3, F.sequence(F.lit(0), F.size(toks) - 3)
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 3)))
    return (
        spread(d, "doc_id")
        .select("doc_id", F.explode(grams).alias("span"))
        .distinct()
        .groupBy("span")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), "span")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Sketch-recall certificates: value-oracle the *contract* of the non-SQL-
# portable candidate generators (same pattern as the ANN recall queries)
# ---------------------------------------------------------------------------

@query(
    "q_minhash_recall",
    oracle=JACCARD_CTES + """
        SELECT 'minhash_vs_exact' AS method,
               CAST(count(*) AS BIGINT) AS n_high_pairs,
               TRUE AS recall_ok
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.5
    """,
    tags=("llm", "dedup", "minhash", "recall"),
)
def q_minhash_recall(spark, sf_dir):
    """Recall certificate for MinHash-LSH: every exact-Jaccard >= 0.5 pair
    must be produced as an LSH candidate at rate >= 0.9 (measured 1.0 at
    sf0.001/0.01/0.1 — near-dup pairs in the fixture are band-certain).
    The oracle computes n_high_pairs exactly in SQL and states the contract
    TRUE; a recall drop flips the Spark boolean and reddens the gate row."""
    d = t(spark, sf_dir, "documents")
    # fused into ONE action (r3 verdict item 3 re-tune): the r2-era "49 s
    # fused vs 14 s staged" pathology was cached shingle sub-plans racing
    # within one job — jaccard_pairs now leaves its shingle subtrees
    # UNPINNED; within this single fused action the identical subtrees
    # deduplicate via ReusedExchange, so nothing races and the extra staging
    # materializations stopped paying (fresh-measure at sf0.1, min-of-3
    # under the per-query clearCache regime: fused 2.75 s vs staged 4.03 s)
    exact = jaccard_pairs(d, threshold=0.5).select("id_a", "id_b")
    cand = lsh_candidate_pairs(d).select("id_a", "id_b", F.lit(1).alias("hit"))
    return (
        exact.join(cand, ["id_a", "id_b"], "left")
        .agg(
            F.count("*").alias("n_high_pairs"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"),
        )
        .select(
            F.lit("minhash_vs_exact").alias("method"),
            F.col("n_high_pairs").cast("long").alias("n_high_pairs"),
            (
                F.col("n_hits").cast("double")
                / F.greatest(F.col("n_high_pairs"), F.lit(1)).cast("double")
                >= 0.9
            ).alias("recall_ok"),
        )
    )


def _interleaved_close_pairs(sig: DataFrame, bands: int = 4) -> DataFrame:
    """Hamming<=bands-1 pairs found via an INDEPENDENT banding layout.

    Band ``b`` takes bits {b, b+bands, b+2*bands, ...} (bit-interleaved)
    instead of the production scheme's contiguous ranges.  Pigeonhole holds
    for ANY partition of the 48 bits into 4 bands, so every Hamming<=3 pair
    shares an untouched band under BOTH layouts — this is a complete truth
    side computed at banded-join cost (sum of bucket^2), never corpus^2."""
    width = SIMHASH_BITS // bands
    keys = []
    for b in range(bands):
        key = None
        for j in range(width):
            bit = F.shiftright(F.col("simhash"), b + bands * j).bitwiseAND(
                F.lit(1)
            )
            term = F.shiftleft(bit.cast("long"), j)
            key = term if key is None else key + term
        keys.append(F.struct(F.lit(b).alias("band"), key.alias("key")))
    banded = sig.withColumn("bk", F.explode(F.array(*keys))).select(
        "doc_id", "simhash",
        F.col("bk.band").alias("band"), F.col("bk.key").alias("key"),
    )
    left = banded.select(
        "band", "key",
        F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"),
    )
    right = banded.select(
        "band", "key",
        F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"),
    )
    return (
        left.join(right, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hd"),
        )
        .filter(F.col("hd") <= bands - 1)
        .select("id_a", "id_b")
        .distinct()
    )


@query(
    "q_simhash_recall",
    oracle="""
        SELECT 'simhash_pigeonhole' AS method,
               CAST(count(*) AS BIGINT) AS n_docs,
               TRUE AS pigeonhole_ok
        FROM documents
    """,
    tags=("llm", "dedup", "simhash", "recall"),
)
def q_simhash_recall(spark, sf_dir):
    """Pigeonhole certificate for SimHash banding: with 4 bands over 48
    bits, ANY pair at Hamming distance <= 3 shares an untouched band and so
    MUST surface as a candidate — recall 1.0 by construction, not sampling.

    The truth side is computed with a bit-INTERLEAVED banding layout (an
    independent implementation of the same theorem), so both sides are
    banded equi-joins and the certificate runs at sum(bucket^2) cost at any
    corpus scale — the r2 all-pairs corpus^2 truth scan is gone.  A bug in
    the production contiguous banding (wrong shift/mask/width) would make
    the two candidate sets disagree and fail the left-anti check."""
    d = t(spark, sf_dir, "documents")
    # ONE simhash pass feeds both banding layouts through a single-job
    # materialize: the 48-sum fingerprint aggregate sits above the spread
    # exchange with no exchange of its own (partitioning preserved), so
    # ReusedExchange could never dedup it and the unpinned form evaluated
    # it once per join side — 4x per run (optimization r10; the r9 pin
    # only measured the 2-job eager_checkpoint, which lost: 3.33 unpinned
    # vs 3.88 checkpointed; the 1-job materialize wins the same A/B
    # 2.6 -> 2.5 s warm on a quiet box, identical rows).  The read-back is
    # doc-count rows, already multi-file, so no re-spread is needed.
    sig = materialize(simhash(d))
    close = _interleaved_close_pairs(sig)
    cand = simhash_candidates(d, sig=sig).select(
        "id_a", "id_b", F.lit(1).alias("hit")
    )
    missed = close.join(cand, ["id_a", "id_b"], "left_anti")
    # fold the doc count into the result plan (one action, not two)
    return (
        missed.agg(F.count("*").alias("n_missed"))
        .crossJoin(d.agg(F.count("*").cast("long").alias("n_docs")))
        .select(
            F.lit("simhash_pigeonhole").alias("method"),
            "n_docs",
            (F.col("n_missed") == 0).alias("pigeonhole_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Prefix-filtered exact Jaccard join (PPJoin-family)
# ---------------------------------------------------------------------------


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """Exact n-gram Jaccard pairs at threshold num/den via PREFIX FILTERING —
    the candidate generator that replaces ``jaccard_pairs``' full shingle
    self-join at corpus scale (PPJoin / AllPairs family; public literature:
    Xiao et al., "Efficient Similarity Joins for Near Duplicate Detection").

    Pigeonhole guarantee: order every document's shingle set by one GLOBAL
    total order (ascending document frequency, ties on the hash — rarest
    first) and keep only the first ``|x| - ceil(t*|x|) + 1`` shingles as the
    doc's *prefix*.  Two sets with Jaccard >= t MUST share a prefix shingle,
    so joining on prefix shingles alone finds every qualifying pair; the
    exact intersection then removes false candidates.  Because prefixes are
    built from the RAREST shingles, hot boilerplate shingles (the quadratic
    blowup in the naive self-join, guarded there by ``max_shingle_freq``)
    almost never enter a prefix — candidate cost tracks sum(rare-shingle
    df^2), a tiny fraction of sum(df^2).

    Integer threshold arithmetic throughout (den*inter >= num*(union)); the
    reported jaccard is one division of exact ints.  The prefix rank uses
    a window partitioned by doc — each doc's shingle list is bounded by doc
    length, so the sort is per-document, never global.
    """
    from pyspark.sql import Window as W

    c, d = threshold_num, threshold_den
    # unpinned: shared-subtree reuse via ReusedExchange (see jaccard_pairs)
    sh = shingle_df(df, id_col, text_col, n)
    freq = sh.groupBy("shingle").agg(F.count("*").alias("df_"))
    wdoc = W.partitionBy(id_col)
    ranked = sh.join(freq, "shingle").select(
        F.col(id_col),
        "shingle",
        F.row_number().over(wdoc.orderBy("df_", "shingle")).alias("pos"),
        F.count("*").over(wdoc).alias("n_sh"),
    )
    # prefix_len = n - ceil(c*n/d) + 1, in pure integer arithmetic
    prefix_len = (
        F.col("n_sh") - F.floor((c * F.col("n_sh") + d - 1) / d) + 1
    )
    pref = ranked.filter(F.col("pos") <= prefix_len).select(id_col, "shingle")
    cand = (
        pref.select(F.col(id_col).alias("id_a"), "shingle")
        .join(pref.select(F.col(id_col).alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sets = sh.groupBy(id_col).agg(F.collect_set("shingle").alias("ss"))
    verified = (
        cand.join(
            sets.select(F.col(id_col).alias("id_a"), F.col("ss").alias("sa")),
            "id_a",
        )
        .join(
            sets.select(F.col(id_col).alias("id_b"), F.col("ss").alias("sb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sa", "sb")).cast("bigint").alias("inter"),
            F.size("sa").cast("bigint").alias("na"),
            F.size("sb").cast("bigint").alias("nb"),
        )
    )
    union = F.col("na") + F.col("nb") - F.col("inter")
    return (
        verified.filter(F.lit(d) * F.col("inter") >= F.lit(c) * union)
        .select(
            "id_a",
            "id_b",
            "inter",
            (F.col("inter").cast("double") / union.cast("double")).alias("jaccard"),
        )
    )


@query(
    "q_jaccard_prefix_pairs",
    oracle=JACCARD_CTES + """
        SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
               CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE 2 * inter >= (sa.n_sh + sb.n_sh - inter)
        ORDER BY id_a, id_b
    """,
    tags=("llm", "dedup", "jaccard", "prefix-filter"),
)
def q_jaccard_prefix_pairs(spark, sf_dir):
    """Prefix-filtered exact Jaccard pairs at t=1/2 — value-identical to the
    brute-force oracle (the filter is lossless by pigeonhole), but the plan
    joins only on each doc's rarest shingles instead of all of them.
    ``tests/test_prefix_jaccard.py`` additionally proves equality against
    the in-repo exhaustive form at a second threshold."""
    return prefix_jaccard_pairs(
        t(spark, sf_dir, "documents"), threshold_num=1, threshold_den=2
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs existing corpus
# ---------------------------------------------------------------------------


@query(
    "q_incremental_dedup",
    oracle=r"""
        WITH fp AS (
            SELECT doc_id, source,
                   md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
            FROM documents
        ),
        corpus AS (SELECT * FROM fp WHERE doc_id % 10 <> 0),
        batch  AS (SELECT * FROM fp WHERE doc_id % 10 = 0)
        SELECT b.doc_id, b.source,
               min(c.doc_id) AS dup_of,
               CAST(count(c.doc_id) AS BIGINT) AS n_corpus_copies
        FROM batch b LEFT JOIN corpus c ON b.fp = c.fp
        GROUP BY b.doc_id, b.source
        ORDER BY b.doc_id
    """,
    tags=("llm", "dedup", "incremental"),
)
def q_incremental_dedup(spark, sf_dir):
    """Incremental exact-dedup screen: an arriving batch (doc_id % 10 = 0
    stands in for today's crawl) checked against the standing corpus —
    every batch doc annotated with the earliest corpus doc sharing its
    content fingerprint (NULL = genuinely new).  This is the shape
    production dedup actually runs day to day: NOT corpus x corpus, but
    |batch| x corpus via one equi-join on the 16-byte fingerprint — linear
    in the batch, and at 100 TB the corpus side is a bucketed/sorted
    fingerprint index so the join is co-located with zero corpus shuffle
    (see sources/bucketing.py).  The same screen at near-dup granularity
    swaps the fingerprint for MinHash band keys (q_dedup_minhash_lsh) —
    identical join shape."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", fingerprint("text").alias("fp")
    )
    corpus = d.filter(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("c_id"), "fp"
    )
    batch = d.filter(F.col("doc_id") % 10 == 0)
    return (
        batch.join(corpus, "fp", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.min("c_id").alias("dup_of"),
            F.count("c_id").alias("n_corpus_copies"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_containment_pairs",
    oracle=f"""
        WITH {SHINGLE_SIZE_CTES},
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle
                                AND a.doc_id <> b.doc_id
            GROUP BY 1, 2
        )
        SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
               CAST(sa.n_sh AS BIGINT) AS n_a,
               CAST(inter AS DOUBLE) / sa.n_sh AS containment
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        WHERE 10 * inter >= 8 * sa.n_sh
        ORDER BY id_a, id_b
    """,
    tags=("llm", "dedup", "containment"),
)
def q_containment_pairs(spark, sf_dir):
    """Shingle CONTAINMENT pairs: |A ∩ B| / |A| >= 0.8 — the asymmetric
    near-duplicate relation Jaccard misses.  A short document quoted
    wholesale inside a long one has tiny Jaccard (the union is huge) but
    containment ~1; this is the sub-document duplication screen (syndicated
    articles, quoted posts, boilerplate wrappers) that a pretraining dedup
    stack runs NEXT TO the symmetric Jaccard pass.  Directed pairs — (a,b)
    and (b,a) score independently under each side's own size.  Same
    single-shuffle shingle machinery as jaccard_pairs (8-byte hashed
    shingles, threshold as integer cross-multiplication); the scale path
    for the candidate step is the same prefix filter (prefix length
    |x| - ceil(t|x|) + 1 holds for containment too, ordering by frequency
    on the CONTAINED side)."""
    # unpinned: shared-subtree reuse via ReusedExchange (see jaccard_pairs)
    sh = shingle_df(t(spark, sf_dir, "documents"), partition_by_shingle=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_a"))
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(
            sizes.withColumnRenamed("doc_id", "id_a"), "id_a"
        )
        .filter(10 * F.col("inter") >= 8 * F.col("n_a"))
        .select(
            "id_a",
            "id_b",
            "inter",
            "n_a",
            (F.col("inter").cast("double") / F.col("n_a")).alias("containment"),
        )
        .orderBy("id_a", "id_b")
    )


@query(
    "q_dup_ngram_fraction",
    oracle=f"""
        WITH {SHINGLES_CTE},
        docfreq AS (
            SELECT shingle, CAST(count(*) AS BIGINT) AS df_ FROM sh GROUP BY 1
        )
        SELECT sh.doc_id,
               CAST(count(*) AS BIGINT) AS n_sh,
               CAST(sum(CASE WHEN df_ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_sh,
               CAST(sum(CASE WHEN df_ >= 2 THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS dup_bp,
               CAST(CASE WHEN sum(CASE WHEN df_ >= 2 THEN 1 ELSE 0 END) * 10000
                              >= 3000 * count(*)
                         THEN 1 ELSE 0 END AS BIGINT) AS flag_dup
        FROM sh JOIN docfreq USING (shingle)
        GROUP BY sh.doc_id
        ORDER BY doc_id
    """,
    tags=("llm", "dedup", "quality", "gopher", "duplicated-ngrams"),
)
def q_dup_ngram_fraction(spark, sf_dir):
    """Cross-document duplicated n-gram screen (the MassiveText/Gopher
    "duplicate text fraction" quality rule): for every document, the
    fraction of its distinct 5-gram shingles that also occur in at least
    one OTHER document, flagging docs above 30% — the per-document dual of
    the pairwise near-dup queries (those ask "which pairs overlap"; this
    asks "how much of EACH doc is boilerplate shared with the corpus").

    Scale shape: one shingle pass (8-byte hashed shingles — see
    ``shingle_df``), one count-by-shingle aggregate (partial map-side), one
    join back on the shingle hash, one count-by-doc aggregate.  No pairs
    are ever formed — this screen is linear in total shingles where the
    pairwise queries are quadratic in hot-shingle buckets, which is why a
    100 TB curation funnel runs it FIRST.  The duplicated fraction is exact
    integer basis points (dup*10000 DIV n); no doubles anywhere."""
    d = t(spark, sf_dir, "documents")
    sh = shingle_df(d, "doc_id", "text", 5)
    docfreq = sh.groupBy("shingle").agg(F.count("*").alias("df_"))
    dup = F.sum((F.col("df_") >= 2).cast("bigint"))
    n = F.count("*")
    return (
        sh.join(docfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            n.alias("n_sh"),
            dup.alias("dup_sh"),
            F.expr(
                "sum(CASE WHEN df_ >= 2 THEN 1 ELSE 0 END) * 10000 DIV count(*)"
            ).alias("dup_bp"),
            F.when(dup * 10000 >= 3000 * n, 1)
            .otherwise(0)
            .cast("bigint")
            .alias("flag_dup"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer et al., "Winnowing: Local Algorithms for
# Document Fingerprinting", SIGMOD 2003) — the local-fingerprint selection
# behind MOSS-style partial-copy detection
# ---------------------------------------------------------------------------

_WINNOW_W = 4      # window of consecutive k-gram hashes per selection
_WINNOW_K = 5      # word k-grams (the repo's standard shingle width)
_WINNOW_MAX_FP_DF = 100   # boilerplate guard for the pair join (max df per fp)
_WINNOW_MIN_SHARED = 3    # pair-emission floor: shared fingerprints

# the selection pipeline as shared CTE text (grams -> window minima ->
# distinct selected per doc), used verbatim by both winnowing oracles
_WINNOW_SEL_CTES = rf"""grams AS (
            SELECT doc_id, i AS pos,
                   CAST(('0x' || substr(md5(array_to_string(words[i:i+4], ' ')), 1, 12))
                        AS BIGINT) AS h
            FROM (
                SELECT doc_id,
                       string_split_regex(trim(lower(text)), '\s+') AS words
                FROM documents
            ), LATERAL (SELECT unnest(generate_series(1, greatest(len(words) - 4, 0))) AS i)
        ),
        win AS (
            SELECT doc_id, pos,
                   min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS sel,
                   count(*) OVER (PARTITION BY doc_id) AS n_grams
            FROM grams
        ),
        sel AS (
            SELECT DISTINCT doc_id, n_grams, sel
            FROM win
            WHERE pos <= n_grams - {_WINNOW_W} + 1
        )"""


def winnow_selected(d: DataFrame) -> DataFrame:
    """Distinct winnowing fingerprints per document: (doc_id, n_grams,
    sel) — the selection shared by the per-doc listing and the
    partial-copy pair join.  See ``q_winnow_fingerprints`` for the
    algorithm and scale notes."""
    from pyspark.sql import Window as W

    words = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    grams = word_ngrams(words, _WINNOW_K)
    ex = (
        spread(d, "doc_id")
        .select("doc_id", F.posexplode(grams).alias("pos0", "gram"))
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            md5_word(F.col("gram"), 1, 12).alias("h"),
        )
    )
    wdoc = W.partitionBy("doc_id")
    wsel = wdoc.orderBy("pos").rowsBetween(0, _WINNOW_W - 1)
    win = ex.select(
        "doc_id",
        "pos",
        F.min("h").over(wsel).alias("sel"),
        F.count("*").over(wdoc).alias("n_grams"),
    )
    return (
        win.filter(F.col("pos") <= F.col("n_grams") - _WINNOW_W + 1)
        .select("doc_id", "n_grams", "sel")
        .distinct()
    )


@query(
    "q_winnow_fingerprints",
    oracle=rf"""
        WITH {_WINNOW_SEL_CTES}
        SELECT doc_id,
               CAST(max(n_grams) AS BIGINT) AS n_grams,
               CAST(count(*) AS BIGINT) AS n_fp,
               CAST(count(*) * 10000 // (max(n_grams) - {_WINNOW_W} + 1) AS BIGINT)
                   AS density_bp,
               CAST(min(sel) AS BIGINT) AS fp_min,
               CAST(max(sel) AS BIGINT) AS fp_max
        FROM sel
        GROUP BY doc_id
        ORDER BY doc_id
    """,
    tags=("llm", "dedup", "fingerprint", "winnowing"),
)
def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer 2003, the MOSS selection
    rule): hash every word 5-gram, slide a w=4 window over each document's
    hash sequence, select each window's MINIMUM hash, and keep the distinct
    selected set per document — the guarantee is LOCAL: any shared run of
    at least w + k - 1 = 8 words between two documents shares at least one
    selected fingerprint, so partial copies surface where whole-document
    fingerprints (q_text_fingerprint) and set-similarity shingles
    (jaccard/minhash) both need much larger overlap.  The fingerprint SET
    is tie-rule-free by construction — selection keeps the minimum HASH
    value, and equal hashes within a window are the same gram, so whichever
    position wins contributes the same set element (the cross-engine
    determinism that the original rightmost-tie rule would break).

    Scale shape: the gram explode is map-local; the selection window is
    partitioned BY DOCUMENT and ordered by position — per-doc state bounded
    by doc length, never a global sort (the prefix-rank class); the
    per-doc aggregate rides the same partitioning.  Emitted density_bp =
    selected/windows in basis points tracks the expected 2/(w+1) selection
    rate.  Documents shorter than k + w - 1 words have no full window and
    drop out on both engines."""
    sel = winnow_selected(t(spark, sf_dir, "documents"))
    return (
        sel.groupBy("doc_id")
        .agg(
            F.max("n_grams").cast("bigint").alias("n_grams"),
            F.count("*").cast("bigint").alias("n_fp"),
            F.expr(
                f"count(*) * 10000 DIV (max(n_grams) - {_WINNOW_W} + 1)"
            )
            .cast("bigint")
            .alias("density_bp"),
            F.min("sel").cast("bigint").alias("fp_min"),
            F.max("sel").cast("bigint").alias("fp_max"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_winnow_shared_pairs",
    oracle=rf"""
        WITH {_WINNOW_SEL_CTES},
        fdf AS (
            SELECT sel, count(*) AS d FROM sel GROUP BY 1
        ),
        keep AS (
            SELECT s.doc_id, s.sel
            FROM sel s JOIN fdf USING (sel)
            WHERE fdf.d <= {_WINNOW_MAX_FP_DF}
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM keep a JOIN keep b ON a.sel = b.sel AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= {_WINNOW_MIN_SHARED}
        ORDER BY id_a, id_b
    """,
    tags=("llm", "dedup", "fingerprint", "winnowing", "pairs"),
)
def q_winnow_shared_pairs(spark, sf_dir):
    """Partial-copy candidate pairs: documents sharing >= 3 winnowing
    fingerprints — the MOSS detector itself, the operator the per-doc
    selection exists to feed.  Because the guarantee is local, a planted
    8-word run shares a fingerprint even between documents whose overall
    Jaccard is negligible — the plagiarism/quotation/boilerplate-reuse
    regime that set-similarity dedup is blind to.

    Scale shape is the duplicated-ngram screen's, not the pair join's:
    fingerprints meet by VALUE (equi-join on sel), so cost is
    sum(df^2) over fingerprint document frequencies — winnowing keeps
    ~2/(w+1) of grams, and the df <= {_WINNOW_MAX_FP_DF} boilerplate
    guard caps any hot fingerprint's contribution exactly as
    max_shingle_freq does for the naive shingle join (at the fixture's
    max df of 3 the guard drops nothing; at 100 TB it is what keeps a
    viral quotation from exploding the join).  The >= 3 emission floor is
    the candidate-confidence knob: one shared fingerprint proves an
    8-word run, three prove repeated or extended reuse."""
    sel = winnow_selected(t(spark, sf_dir, "documents")).select("doc_id", "sel")
    fdf = sel.groupBy("sel").agg(F.count("*").alias("d"))
    keep = sel.join(
        fdf.filter(F.col("d") <= _WINNOW_MAX_FP_DF), "sel"
    ).select("doc_id", "sel")
    a = keep.select(F.col("doc_id").alias("id_a"), "sel")
    b = keep.select(F.col("doc_id").alias("id_b"), "sel")
    return (
        a.join(b, "sel")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= _WINNOW_MIN_SHARED)
        .orderBy("id_a", "id_b")
    )


_RUN_K = 5          # shingle width for the run detector
_RUN_MAX_DF = 50    # boilerplate guard on positional shingle frequency
# DuckDB side of the diagonal-island queries (Spark: ``_diagonal_islands``).
# ``seq``: (doc_id, token list l, 1-based position i) per token; ``m``: the
# positional _RUN_K-gram md5 matches between documents, (id_a, id_b, pa,
# diag = pa - pb), shingles above _RUN_MAX_DF occurrences dropped.
_RUN_SEQ_CTE = r"""seq AS (
            SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i
            FROM (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS l
                FROM documents
            )
        )"""
_RUN_MATCH_CTES = f"""sh AS (
            SELECT doc_id, i AS pos,
                   CAST(('0x' || substr(md5(
                       array_to_string(l[i : i + {_RUN_K - 1}], ' ')
                   ), 1, 15)) AS BIGINT) AS s
            FROM seq WHERE i + {_RUN_K - 1} <= len(l)
        ),
        fdf AS (SELECT s, count(*) AS d FROM sh GROUP BY 1),
        keep AS (
            SELECT sh.doc_id, sh.pos, sh.s
            FROM sh JOIN fdf USING (s) WHERE fdf.d <= {_RUN_MAX_DF}
        ),
        m AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.pos AS pa, a.pos - b.pos AS diag
            FROM keep a JOIN keep b
              ON a.s = b.s AND a.doc_id < b.doc_id
        )"""


@query(
    "q_longest_shared_run",
    oracle=rf"""
        WITH {_RUN_SEQ_CTE},
        {_RUN_MATCH_CTES},
        runs AS (
            SELECT id_a, id_b,
                   CAST(count(*) AS BIGINT) AS run_len
            FROM (
                SELECT id_a, id_b, diag, pa,
                       pa - row_number() OVER (
                           PARTITION BY id_a, id_b, diag ORDER BY pa
                       ) AS isl
                FROM m
            )
            GROUP BY id_a, id_b, diag, isl
        )
        SELECT id_a, id_b,
               CAST(max(run_len) + {_RUN_K - 1} AS BIGINT) AS run_tokens,
               CAST(sum(run_len) AS BIGINT) AS n_matches
        FROM runs
        GROUP BY id_a, id_b
        ORDER BY run_tokens DESC, id_a, id_b
        LIMIT 20
    """,
    tags=("llm", "dedup", "substring", "run"),
)
def q_longest_shared_run(spark, sf_dir):
    """Longest exactly-shared token run per document pair — the pairwise
    reduction of exact-substring training-data dedup (Lee et al. 2022's
    "Deduplicating Training Data Makes Language Models Better"): where
    q_shared_spans asks WHICH spans repeat and the Jaccard/containment
    families ask HOW MUCH overlaps, this asks HOW LONG the longest
    verbatim copy between two specific documents is — the signal that
    separates a quoted sentence from a wholesale mirror.

    The relational trick is the DIAGONAL-ISLAND reduction: positional
    {_RUN_K}-gram shingles meet by value (equi-join, never all-pairs), a
    match at positions (pa, pb) lies on diagonal pa - pb, and a verbatim
    run of L+{_RUN_K - 1} tokens is exactly L consecutive matches on one
    diagonal — found with the gaps-and-islands key (pa - row_number) per
    (pair, diagonal), no sequential scan over either document.  Suffix
    arrays solve this single-node; the diagonal join is the shape that
    distributes.

    Scale: cost is sum(df^2) over positional shingle frequencies with the
    df <= {_RUN_MAX_DF} boilerplate guard (a viral quotation caps out
    instead of exploding the join); shingles travel as 60-bit md5 words
    (portable-hash rule — xxhash64 in production, see ``shingle_df``).
    Top-20 by run length via TakeOrdered, no full sort."""
    return (
        longest_shared_runs(t(spark, sf_dir, "documents"))
        .orderBy(F.desc("run_tokens"), "id_a", "id_b")
        .limit(20)
    )


def _diagonal_islands(docs: DataFrame, k: int, max_df: int) -> DataFrame:
    """(id_a, id_b, pa, diag, isl): every position ``pa`` of document
    ``id_a`` whose ``k``-gram (a 60-bit md5 word) recurs in a later document
    ``id_b`` on diagonal ``diag = pa - pb``, for the shingles that occur at
    most ``max_df`` times.  Consecutive matches on one diagonal share the
    island key ``isl`` (gaps and islands), so one island is one verbatim
    shared run of ``count + k - 1`` tokens."""
    from pyspark.sql import Window as W

    words = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    grams = word_ngrams(words, k)
    sh = (
        spread(docs, "doc_id")
        .select("doc_id", F.posexplode(grams).alias("pos0", "g"))
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            md5_word(F.col("g"), 1, 15).alias("s"),
        )
    )
    fdf = sh.groupBy("s").agg(F.count("*").alias("d_"))
    keep = sh.join(fdf.filter(F.col("d_") <= max_df), "s").select(
        "doc_id", "pos", "s"
    )
    a = keep.select(F.col("doc_id").alias("id_a"), F.col("pos").alias("pa"), "s")
    b = keep.select(F.col("doc_id").alias("id_b"), F.col("pos").alias("pb"), "s")
    m = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pa", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    isl = F.col("pa") - F.row_number().over(
        W.partitionBy("id_a", "id_b", "diag").orderBy("pa")
    )
    return m.withColumn("isl", isl)


def longest_shared_runs(
    docs: DataFrame, k: int = _RUN_K, max_df: int = _RUN_MAX_DF
) -> DataFrame:
    """(id_a, id_b, run_tokens, n_matches) for every document pair sharing
    at least one ``k``-gram — the diagonal-island reduction behind
    ``q_longest_shared_run`` (see its docstring for the algorithm and the
    scale argument).  ``run_tokens`` is the longest verbatim token run,
    ``n_matches`` the total matched shingle positions after the
    ``max_df`` boilerplate guard."""
    runs = (
        _diagonal_islands(docs, k, max_df)
        .groupBy("id_a", "id_b", "diag", "isl")
        .agg(F.count("*").alias("run_len"))
    )
    return runs.groupBy("id_a", "id_b").agg(
        (F.max("run_len") + F.lit(k - 1)).cast("bigint").alias("run_tokens"),
        F.sum("run_len").cast("bigint").alias("n_matches"),
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup REMEDIATION: cut duplicated runs from the later doc
# ---------------------------------------------------------------------------


def _run_removals(docs: DataFrame, k: int, max_df: int) -> DataFrame:
    """(doc_id, pos) token positions to CUT: for every verbatim shared run
    found by the diagonal-island detector (see ``longest_shared_runs``),
    the covered positions in the LATER document of the pair (greater
    doc_id) — so the earliest occurrence of every duplicated run survives
    and all later copies are marked.  A run of L islands on diagonal
    ``diag`` starting at ``min(pa)`` covers positions
    ``min(pa) - diag .. min(pa) - diag + L + k - 2`` of the later doc."""
    spans = (
        _diagonal_islands(docs, k, max_df)
        .groupBy("id_a", "id_b", "diag", "isl")
        .agg(F.min("pa").alias("min_pa"), F.count("*").alias("cnt"))
        .select(
            F.col("id_b").alias("doc_id"),
            (F.col("min_pa") - F.col("diag")).alias("start_b"),
            (F.col("min_pa") - F.col("diag") + F.col("cnt") + F.lit(k - 2)).alias(
                "end_b"
            ),
        )
    )
    return (
        spans.select(
            "doc_id",
            F.explode(F.sequence("start_b", "end_b")).alias("pos"),
        )
        .distinct()
    )


def rewrite_duplicated_runs(
    docs: DataFrame, k: int = _RUN_K, max_df: int = _RUN_MAX_DF
) -> DataFrame:
    """The CLEANED corpus — exact-substring dedup's remediation step
    (Lee et al. 2022: cut duplicated spans from all but one occurrence).
    Every verbatim token run of >= ``k`` tokens shared by two documents
    (under the ``max_df`` boilerplate guard) is cut from the later doc by
    span surgery on the token sequence; the earliest doc keeps its text
    verbatim.  Output: (doc_id, text) over the whitespace-normalized
    lowercased token stream — one row per input doc, empty string when
    everything was duplicated.

    Scale: the detector is the bounded diagonal-island join
    (sum(df^2) with the df cap); the surgery itself is one
    explode -> distinct -> left_anti -> groupBy over token positions —
    all linear in corpus tokens, shuffled on doc_id."""
    removals = _run_removals(docs, k, max_df)
    words = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    toks = (
        spread(docs, "doc_id")
        .select("doc_id", F.posexplode(words).alias("pos0", "tok"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    )
    kept = toks.join(removals, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("text")
    )
    return (
        docs.select("doc_id")
        .join(rebuilt, "doc_id", "left")
        .select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
    )


@query(
    "q_dedup_rewrite",
    oracle=rf"""
        WITH {_RUN_SEQ_CTE},
        toks AS (SELECT doc_id, i AS pos, l[i] AS tok FROM seq),
        {_RUN_MATCH_CTES},
        isl AS (
            SELECT id_a, id_b, diag, pa,
                   pa - row_number() OVER (
                       PARTITION BY id_a, id_b, diag ORDER BY pa
                   ) AS grp
            FROM m
        ),
        spans AS (
            SELECT id_b AS doc_id,
                   min(pa) - diag AS start_b,
                   min(pa) - diag + count(*) + {_RUN_K - 2} AS end_b
            FROM isl GROUP BY id_a, id_b, diag, grp
        ),
        removals AS (
            SELECT DISTINCT doc_id, pos FROM (
                SELECT doc_id,
                       unnest(generate_series(start_b, end_b)) AS pos
                FROM spans
            )
        ),
        kept AS (
            SELECT t.doc_id, t.pos, t.tok
            FROM toks t
            LEFT JOIN removals r ON t.doc_id = r.doc_id AND t.pos = r.pos
            WHERE r.pos IS NULL
        ),
        orig AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
            FROM toks GROUP BY 1
        ),
        keptagg AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                   string_agg(tok, ' ' ORDER BY pos) AS kept_text
            FROM kept GROUP BY 1
        )
        SELECT o.doc_id,
               o.n_tokens,
               CAST(o.n_tokens - COALESCE(ka.n_kept, 0) AS BIGINT) AS n_removed,
               CAST(COALESCE(ka.n_kept, 0) AS BIGINT) AS n_kept,
               CAST(('0x' || substr(md5(COALESCE(ka.kept_text, '')), 1, 15))
                    AS BIGINT) AS kept_sig
        FROM orig o LEFT JOIN keptagg ka USING (doc_id)
        ORDER BY doc_id
    """,
    tags=("llm", "dedup", "substring", "rewrite", "remediation"),
)
def q_dedup_rewrite(spark, sf_dir):
    """Exact-substring dedup REMEDIATION census — the rewrite that
    completes detect -> remediate for the substring family the way
    keep-lists complete document-level dedup: every verbatim run of
    >= {_RUN_K} tokens shared by two documents (df <= {_RUN_MAX_DF}
    boilerplate guard) is cut from the LATER doc by token-span surgery,
    and the census reports, per document, the original token count, how
    many tokens were cut, how many survive, and a 60-bit md5 signature of
    the rewritten token stream (the certificate hook:
    tests/test_dedup_rewrite.py re-runs the detector on the rewritten
    corpus and requires zero residue).

    Scale: detector cost is the bounded diagonal-island join of
    ``q_longest_shared_run``; the surgery adds linear explode/anti-join/
    re-aggregate passes shuffled on doc_id — no new quadratic stage."""
    docs = t(spark, sf_dir, "documents")
    removals = _run_removals(docs, _RUN_K, _RUN_MAX_DF)
    words = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    toks = (
        spread(docs, "doc_id")
        .select("doc_id", F.posexplode(words).alias("pos0", "tok"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    )
    orig = toks.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n_tokens"))
    kept = toks.join(removals, ["doc_id", "pos"], "left_anti")
    keptagg = kept.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_kept_"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("kept_text"),
    )
    return (
        orig.join(keptagg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept_", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
            F.coalesce("n_kept_", F.lit(0)).cast("bigint").alias("n_kept"),
            md5_word(F.coalesce("kept_text", F.lit("")), 1, 15).alias("kept_sig"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_source_overlap_matrix",
    oracle=rf"""
        WITH {_WINNOW_SEL_CTES},
        src AS (SELECT doc_id, source FROM documents),
        fdf AS (SELECT sel, count(*) AS d FROM sel GROUP BY 1),
        keep AS (
            SELECT s.doc_id, s.sel, src.source
            FROM sel s
            JOIN fdf USING (sel)
            JOIN src ON src.doc_id = s.doc_id
            WHERE fdf.d <= {_WINNOW_MAX_FP_DF}
        ),
        pairs AS (
            SELECT least(a.source, b.source) AS src_a,
                   greatest(a.source, b.source) AS src_b,
                   a.doc_id AS id_a, b.doc_id AS id_b
            FROM keep a JOIN keep b
              ON a.sel = b.sel AND a.doc_id < b.doc_id
        )
        SELECT src_a, src_b,
               CAST(count(*) AS BIGINT) AS n_fp_matches,
               CAST(count(DISTINCT (id_a, id_b)) AS BIGINT) AS n_doc_pairs
        FROM pairs
        GROUP BY 1, 2
        ORDER BY src_a, src_b
    """,
    tags=("llm", "dedup", "winnowing", "provenance", "matrix"),
)
def q_source_overlap_matrix(spark, sf_dir):
    """Cross-source duplication-flow matrix — corpus forensics: for every
    source pair, how many winnowing fingerprints their documents share
    and how many document pairs that implicates.  This is the
    PROVENANCE view the pairwise detectors don't give: syndication
    networks, mirror sites, and scrape-of-a-scrape chains show up as hot
    off-diagonal cells, and a source copying itself (templated pages)
    lights its own diagonal — the evidence a pipeline uses to DROP or
    down-weight a whole source rather than dedup doc-by-doc.

    Same join shape and df <= {_WINNOW_MAX_FP_DF} boilerplate guard as
    q_winnow_shared_pairs (sum(df^2) over fingerprint frequencies), then
    a |sources|^2-bounded aggregate — the matrix itself is ~200 cells
    forever.  Counting BOTH grains matters: n_fp_matches weighs the
    overlap volume, n_doc_pairs how widely it spreads."""
    docs = t(spark, sf_dir, "documents")
    sel = winnow_selected(docs).select("doc_id", "sel")
    fdf = sel.groupBy("sel").agg(F.count("*").alias("d"))
    src = docs.select("doc_id", "source")
    keep = (
        sel.join(fdf.filter(F.col("d") <= _WINNOW_MAX_FP_DF), "sel")
        .join(F.broadcast(src), "doc_id")
        .select("doc_id", "sel", "source")
    )
    a = keep.select(
        F.col("doc_id").alias("id_a"), "sel", F.col("source").alias("sa")
    )
    b = keep.select(
        F.col("doc_id").alias("id_b"), "sel", F.col("source").alias("sb")
    )
    pairs = (
        a.join(b, "sel")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
            "id_a",
            "id_b",
        )
    )
    return (
        pairs.groupBy("src_a", "src_b")
        .agg(
            F.count("*").alias("n_fp_matches"),
            F.countDistinct("id_a", "id_b").alias("n_doc_pairs"),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# Dedup threshold operating curve — the tuning artifact behind every
# near-dup threshold decision: one pass over the exact pairwise Jaccard
# relation, counting at EVERY candidate threshold how many pairs fire and
# how many documents a keep-earliest policy would drop.  Teams read this
# curve (pairs/removals vs threshold) before fixing the 0.7-or-0.8 knob;
# computing it per-threshold would re-run the join once per
# threshold (len(_CURVE_THRESHOLDS) times).
# ---------------------------------------------------------------------------

_CURVE_THRESHOLDS = (1, 5, 10, 20, 30, 40, 50, 60, 70, 80, 90)  # percent


@query(
    "q_dedup_threshold_curve",
    oracle=rf"""
        WITH {SHINGLE_SIZE_CTES},
        pairs AS (
            SELECT id_a, id_b, inter,
                   sa.n_sh + sb.n_sh - inter AS uni
            FROM (
                {SHINGLE_INTER_SQL}
            )
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
        ),
        fired AS (
            SELECT t.pct, p.id_a, p.id_b
            FROM pairs p
            JOIN (SELECT unnest([{", ".join(str(p) for p in _CURVE_THRESHOLDS)}])
                      AS pct) t
              ON p.inter * 100 >= t.pct * p.uni
        )
        SELECT CAST(pct AS BIGINT) AS threshold_pct,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(count(DISTINCT id_b) AS BIGINT) AS n_docs_removed
        FROM fired
        GROUP BY pct
        ORDER BY threshold_pct
    """,
    tags=("llm", "dedup", "jaccard", "tuning", "operating-curve"),
)
def q_dedup_threshold_curve(spark, sf_dir):
    """Near-dup threshold OPERATING CURVE: for each candidate Jaccard
    threshold (1%..90%), the number of exact 5-gram pairs that fire and
    the documents a keep-earliest policy would remove (later doc of each
    fired pair) — computed from ONE pairwise pass, with the threshold
    test as a cross-multiplied integer inequality (inter·100 ≥ pct·union,
    the q_jaccard_prefix_pairs discipline — no float compare ever decides
    membership).

    Scale: the pair relation is the same df-bounded shingle self-join the
    single-threshold queries use (one shuffle, ReusedExchange across its
    consumers); the curve fan-out multiplies PAIRS (already tiny) by the
    len(_CURVE_THRESHOLDS) = 11 literal thresholds, never the corpus."""
    # same pair build as jaccard_pairs, but carrying the EXACT integer
    # union (never re-derived through the float jaccard, which could be
    # off by one after a divide-then-cast round trip)
    sh = shingle_df(t(spark, sf_dir, "documents"), partition_by_shingle=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (
        sh.select(F.col("doc_id").alias("id_a"), "shingle")
        .join(sh.select(F.col("doc_id").alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    pairs = (
        inter.join(
            sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("nb")),
            "id_b",
        )
        .select(
            "id_a", "id_b", "inter",
            (F.col("na") + F.col("nb") - F.col("inter")).alias("uni"),
        )
    )
    thr = F.explode(
        F.array(*[F.lit(p) for p in _CURVE_THRESHOLDS])
    ).alias("pct")
    fired = (
        pairs.select("id_a", "id_b", "inter", "uni", thr)
        .filter(F.col("inter") * 100 >= F.col("pct") * F.col("uni"))
    )
    return (
        fired.groupBy(F.col("pct").cast("bigint").alias("threshold_pct"))
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.countDistinct("id_b").cast("bigint").alias("n_docs_removed"),
        )
        .orderBy("threshold_pct")
    )
