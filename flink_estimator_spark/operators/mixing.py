"""Training-data assembly operators: deterministic stratified mixing,
sequence packing, and n-gram language-model statistics.

These are the stages between "deduped corpus" and "training batches":

* **mixing** — enforce per-source quotas with a *deterministic* sample
  (rank docs inside each source by a hash of their id and keep the first
  k): reproducible across engines and runs, unlike ``sampleBy``'s
  RNG-dependent draw, and exactly the mixture-weights step of corpus
  curation.  One window per source partition — a single shuffle on
  ``source``.
* **packing** — assign docs to fixed-token-budget packs by running token
  count in a canonical order.  The greedy sequential form used here
  (``pack = floor((cumsum - tokens) / budget)``) admits boundary overflow
  (a doc may straddle two packs' budgets) in exchange for being a pure
  window expression — the shape real packers vectorize; a strict
  no-overflow packer is per-partition sequential (applyInPandas).
* **n-gram LM** — bigram conditional probabilities by two aggregates and a
  window; count-based, so exact in any engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..plans._helpers import largest_remainder, spread, t
from ..plans.registry import query


def _nonempty_token_count(col: str):
    """Whitespace token count with empty-string tokens dropped (matches the
    oracle's ``list_filter(split(...), x -> x <> '')`` for blank docs)."""
    return F.size(
        F.filter(F.split(F.trim(F.col(col)), r"\s+"), lambda x: x != "")
    ).cast("long")


def stratified_mix(
    df: DataFrame,
    quotas: dict[str, int],
    strat_col: str = "source",
    id_col: str = "doc_id",
    default_quota: int = 0,
) -> DataFrame:
    """Deterministic per-stratum quota sampling: rank by xxhash64(id) within
    each stratum, keep the first ``quota`` rows.  Hash-ranking is an
    unbiased shuffle of each stratum that every engine reproduces.

    ``quotas`` is a literal map baked into the plan; strata absent from it
    fall back to ``default_quota`` — no driver-side enumeration of the
    stratum values is ever needed."""
    qmap = F.create_map(*[F.lit(x) for kv in quotas.items() for x in kv])
    w = W.partitionBy(strat_col).orderBy(F.xxhash64(F.col(id_col)), id_col)
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .withColumn("_quota", qmap[F.col(strat_col)])
        .filter(F.col("_rk") <= F.coalesce(F.col("_quota"), F.lit(default_quota)))
        .drop("_rk", "_quota")
    )


def pack_sequences(
    df: DataFrame,
    budget_tokens: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_shards: int | None = None,
) -> DataFrame:
    """Greedy sequential sequence packing: docs in ``id`` order fill packs
    of ``budget_tokens`` whitespace tokens; ``pack_id`` is the number of
    full budgets consumed before the doc starts.

    Scale shape (SCALE.md §9): the global running sum is a two-level
    cumsum, never a single-task global window —

    1. range-partition by ``id`` into ``num_shards`` ordered shards;
    2. per-shard token totals (tiny: one row per shard);
    3. each shard's prefix offset = sum of totals of *earlier* shards,
       via a triangular broadcast self-join (shards² pairs, no
       partition-less window anywhere in the plan);
    4. partition-local cumsum (window partitioned by shard id) + offset.

    Exactly the classic distributed prefix-sum; every stage is parallel
    over shards, so the plan survives a 100x corpus."""
    toks = _nonempty_token_count(text_col)
    base = df.select(F.col(id_col), toks.alias("n_tokens"))
    shards = num_shards or base.sparkSession.sparkContext.defaultParallelism
    ranged = base.repartitionByRange(shards, id_col).withColumn(
        "_shard", F.spark_partition_id()
    )
    # RangePartitioner assigns ordered key ranges to ascending partition ids,
    # so _shard order == id order across shards.
    totals = ranged.groupBy("_shard").agg(F.sum("n_tokens").alias("_tot"))
    offsets = (
        totals.alias("a")
        .join(F.broadcast(totals.alias("b")), F.col("b._shard") < F.col("a._shard"), "left")
        .groupBy(F.col("a._shard").alias("_shard"))
        .agg(F.coalesce(F.sum("b._tot"), F.lit(0)).alias("_offset"))
    )
    local = W.partitionBy("_shard").orderBy(id_col).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        ranged.join(F.broadcast(offsets), "_shard")
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.floor(
                (F.col("_offset") + F.sum("n_tokens").over(local) - F.col("n_tokens"))
                / budget_tokens
            )
            .cast("long")
            .alias("pack_id"),
        )
    )


@query(
    "q_data_mixing",
    oracle="""
        SELECT source, count(*) AS n_docs
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY source ORDER BY hash(doc_id), doc_id) AS rk
            FROM documents
        )
        WHERE rk <= CASE source WHEN 'src0' THEN 10 WHEN 'src1' THEN 5
                                WHEN 'src2' THEN 15 ELSE 2 END
        GROUP BY source
        ORDER BY source
    """,
    tags=("llm", "mixing", "sampling"),
)
def q_data_mixing(spark, sf_dir):
    """Deterministic stratified mixing under per-source quotas.

    The per-stratum *counts* are the oracle contract (DuckDB's hash() and
    Spark's xxhash64 rank docs differently, but both keep exactly
    min(quota, |stratum|) rows, so counts match; the specific survivors
    are engine-local).  Quotas are a literal map with a default — no
    driver-side enumeration of the sources."""
    docs = t(spark, sf_dir, "documents")
    mixed = stratified_mix(
        docs, {"src0": 10, "src1": 5, "src2": 15}, default_quota=2
    )
    return (
        mixed.groupBy("source")
        .agg(F.count("*").alias("n_docs"))
        .select("source", "n_docs")
        .orderBy("source")
    )


@query(
    "q_sequence_packing",
    oracle=r"""
        SELECT pack_id, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
        FROM (
            SELECT doc_id,
                   n_tokens,
                   CAST(floor((sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens)
                              / 2048) AS BIGINT) AS pack_id
            FROM (
                SELECT doc_id,
                       len(list_filter(string_split_regex(trim(text), '\s+'),
                                       x -> x <> '')) AS n_tokens
                FROM documents
            )
        )
        GROUP BY pack_id
        ORDER BY pack_id
    """,
    tags=("llm", "packing"),
)
def q_sequence_packing(spark, sf_dir):
    """Sequence packing summary: docs fill 2048-token packs in id order;
    per-pack doc counts and token totals."""
    packed = pack_sequences(t(spark, sf_dir, "documents"), budget_tokens=2048)
    return (
        packed.groupBy("pack_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("pack_tokens"))
        .orderBy("pack_id")
    )


@query(
    "q_ngram_lm",
    oracle=r"""
        WITH toks AS (
            SELECT doc_id, i, words[i] AS tok, words[i+1] AS nxt
            FROM (
                SELECT doc_id,
                       list_filter(string_split_regex(trim(lower(text)), '\s+'),
                                   x -> x <> '') AS words
                FROM documents
            ), LATERAL (SELECT unnest(generate_series(1, len(words) - 1)) AS i)
        ),
        big AS (
            SELECT tok, nxt, count(*) AS c FROM toks GROUP BY 1, 2
        ),
        uni AS (
            SELECT tok, sum(c) AS total FROM big GROUP BY 1
        )
        SELECT b.tok, b.nxt, b.c,
               CAST(b.c AS DOUBLE) / u.total AS cond_p
        FROM big b JOIN uni u ON b.tok = u.tok
        WHERE u.total >= 50
        ORDER BY b.tok, b.c DESC, b.nxt
        LIMIT 100
    """,
    tags=("llm", "ngram", "language-model"),
)
def q_ngram_lm(spark, sf_dir):
    """Bigram language-model statistics: conditional next-token
    probabilities for frequent contexts (two count aggregates + a join —
    the count-based core of n-gram LM training, exact in any engine)."""
    docs = spread(t(spark, sf_dir, "documents"), "doc_id")
    words = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda x: x != ""
    )
    pairs = docs.select(
        F.explode(
            F.when(
                F.size(words) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(words) - 1),
                    lambda i: F.struct(
                        F.element_at(words, i).alias("tok"),
                        F.element_at(words, i + 1).alias("nxt"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<tok:string,nxt:string>>"))
        ).alias("p")
    ).select("p.tok", "p.nxt")
    big = pairs.groupBy("tok", "nxt").agg(F.count("*").alias("c"))
    uni = big.groupBy("tok").agg(F.sum("c").alias("total"))
    return (
        big.join(uni, "tok")
        .filter(F.col("total") >= 50)
        .select(
            "tok", "nxt", "c", (F.col("c").cast("double") / F.col("total")).alias("cond_p")
        )
        .orderBy("tok", F.desc("c"), "nxt")
        .limit(100)
    )


@query(
    "q_length_buckets",
    oracle=r"""
        WITH n AS (
            SELECT doc_id,
                   CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                        x -> x <> '')) AS BIGINT) AS n_tok
            FROM documents
        )
        SELECT CAST(floor(n_tok / 64) AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(n_tok) AS BIGINT) AS min_tok,
               CAST(max(n_tok) AS BIGINT) AS max_tok,
               CAST(sum(n_tok) AS BIGINT) AS sum_tok,
               CAST(count(*) * max(n_tok) - sum(n_tok) AS BIGINT) AS pad_waste,
               CAST(CAST(count(*) * max(n_tok) - sum(n_tok) AS BIGINT) AS DOUBLE)
                   / (count(*) * max(n_tok)) AS waste_ratio
        FROM n
        GROUP BY 1
        ORDER BY bucket
    """,
    tags=("llm", "pipeline", "batching"),
)
def q_length_buckets(spark, sf_dir):
    """Length-bucketed batching profile — the padding-efficiency planner for
    training dataloaders.  Docs are bucketed by token count (width 64, the
    usual power-of-two pad granularity); per bucket we report the padding
    waste of batching same-bucket docs together (each padded to the bucket's
    observed max).  This is the aggregate a curriculum/batching stage
    consults to pick bucket boundaries; at 100 TB it is one map-side token
    count plus a tiny groupBy on the bucket id — token text never shuffles,
    only (bucket, count/min/max/sum) partials do.  All-waste columns are
    exact BIGINT arithmetic; the ratio is a single division of two exact
    integers, so the DOUBLE is bit-identical in any engine."""
    d = t(spark, sf_dir, "documents")
    n = d.select(
        _nonempty_token_count("text").alias("n_tok")
    )
    waste = (F.count("*") * F.max("n_tok") - F.sum("n_tok")).cast("bigint")
    return (
        n.groupBy(F.floor(F.col("n_tok") / 64).cast("bigint").alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_tok").alias("min_tok"),
            F.max("n_tok").alias("max_tok"),
            F.sum("n_tok").alias("sum_tok"),
            waste.alias("pad_waste"),
            (
                waste.cast("double") / (F.count("*") * F.max("n_tok"))
            ).alias("waste_ratio"),
        )
        .orderBy("bucket")
    )


@query(
    "q_lang_balance",
    oracle=r"""
        WITH n AS (
            SELECT lang,
                   CAST(sum(len(list_filter(
                       string_split_regex(trim(text), '\s+'), x -> x <> '')))
                       AS BIGINT) AS n_tok
            FROM documents GROUP BY lang),
        tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total FROM n),
        w AS (
            SELECT lang, n_tok,
                   CAST(floor(pow(CAST(n_tok AS DOUBLE) / total, 0.7)
                              * 1000000000000) AS BIGINT) AS w_q
            FROM n CROSS JOIN tot),
        s AS (SELECT CAST(sum(w_q) AS BIGINT) AS sw FROM w)
        SELECT lang, n_tok,
               CAST(w_q AS DOUBLE) / sw AS target_frac
        FROM w CROSS JOIN s
        ORDER BY lang
    """,
    tags=("llm", "pipeline", "mixing", "multilingual"),
)
def q_lang_balance(spark, sf_dir):
    """Temperature-smoothed multilingual sampling weights (alpha = 0.7, the
    standard up-weight-the-tail exponent for multilingual pretraining
    mixes): per-language token mass p_l is raised to alpha and renormalized
    into the target sampling fraction.  Each p^alpha is floor-quantized to
    1e-12 BEFORE the normalizing sum, so the denominator is an exact BIGINT
    and the final fraction is one int/int division — without this, the sum
    of ~|langs| doubles would depend on aggregation order and pow()'s
    last-ulp could differ by engine.  Plan: one map-side token count, one
    |langs|-row aggregate, two broadcast scalars — nothing rides a shuffle
    except (lang, count) partials."""
    d = t(spark, sf_dir, "documents")
    n = d.groupBy("lang").agg(
        F.sum(_nonempty_token_count("text")).alias("n_tok")
    )
    tot = n.agg(F.sum("n_tok").alias("total"))
    w = n.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_tok",
        F.floor(
            F.pow(F.col("n_tok").cast("double") / F.col("total"), 0.7)
            * 1_000_000_000_000
        )
        .cast("bigint")
        .alias("w_q"),
    )
    s = w.agg(F.sum("w_q").alias("sw"))
    return (
        w.crossJoin(F.broadcast(s))
        .select(
            "lang",
            "n_tok",
            (F.col("w_q").cast("double") / F.col("sw")).alias("target_frac"),
        )
        .orderBy("lang")
    )


_TEMP_BUDGET = 10_000_000  # token budget apportioned across sources


@query(
    "q_temperature_mix",
    oracle=rf"""
        WITH cnt AS (
            SELECT source,
                   CAST(sum(len(string_split_regex(trim(text), '\s+')))
                        AS BIGINT) AS n_tokens
            FROM documents GROUP BY source),
        wgt AS (
            SELECT source, n_tokens,
                   CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000)
                        AS BIGINT) AS w
            FROM cnt),
        tot AS (
            SELECT CAST(sum(w) AS BIGINT) AS tw,
                   CAST(sum(n_tokens) AS BIGINT) AS tn
            FROM wgt),
        quota AS (
            SELECT source, n_tokens, w,
                   ({_TEMP_BUDGET} * w) // tw AS base,
                   ({_TEMP_BUDGET} * w) % tw AS rem,
                   tn
            FROM wgt CROSS JOIN tot),
        ranked AS (
            SELECT source, n_tokens, w, base, tn,
                   row_number() OVER (ORDER BY rem DESC, source) AS rr,
                   {_TEMP_BUDGET} - sum(base) OVER () AS leftover
            FROM quota)
        SELECT source, n_tokens,
               CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
                    AS BIGINT) AS alloc_tokens,
               CAST(n_tokens * 10000 // tn AS BIGINT) AS natural_bp,
               CAST((base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END)
                    * 10000 // {_TEMP_BUDGET} AS BIGINT) AS sampled_bp
        FROM ranked
        ORDER BY source
    """,
    tags=("llm", "mixing", "temperature", "allocation", "exact-integer"),
)
def q_temperature_mix(spark, sf_dir):
    """Temperature-based source mixing weights (the mC4 / XLM-R corpus
    recipe): sampling probability proportional to (token share)^(1/T)
    with T = 2, flattening the mixture so low-resource sources are
    upsampled relative to their natural share — then the whole token
    budget apportioned EXACTLY across sources by the largest-remainder
    protocol (q_budget_allocation's invariant: Σ(alloc) == budget, no
    rounding drift).  Output shows natural vs sampled basis points — the
    flattening a pipeline audits before committing a mixture.

    T = 2 is deliberately the sqrt temperature: IEEE-754 requires sqrt
    to be correctly rounded (unlike pow/exp/ln), so floor-quantized
    1e-6 weights from bit-identical BIGINT→DOUBLE casts agree on any
    engine — the silhouette protocol applied to mixture weights.  Scale:
    one token-count aggregate (map-side combined), then all arithmetic
    on |sources| rows (the q_budget_allocation constant-size window)."""
    d = t(spark, sf_dir, "documents")
    cnt = (
        spread(d, "doc_id")
        .groupBy("source")
        .agg(
            F.sum(F.size(F.split(F.trim(F.col("text")), r"\s+")))
            .cast("bigint")
            .alias("n_tokens")
        )
    )
    wgt = cnt.withColumn(
        "w",
        F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1_000_000).cast(
            "bigint"
        ),
    )
    tot = wgt.agg(
        F.sum("w").alias("tw"), F.sum("n_tokens").alias("tn")
    )
    quota = wgt.crossJoin(F.broadcast(tot))
    return (
        largest_remainder(quota, "source", "w", "tw", _TEMP_BUDGET)
        .select(
            "source",
            "n_tokens",
            F.col("alloc").alias("alloc_tokens"),
            F.expr("n_tokens * 10000 DIV tn").alias("natural_bp"),
        )
        .withColumn(
            "sampled_bp",
            F.expr(f"alloc_tokens * 10000 DIV {_TEMP_BUDGET}"),
        )
        .orderBy("source")
    )
