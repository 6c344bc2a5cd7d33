"""Streaming deduplication.

``dropDuplicatesWithinWatermark`` keeps one row per key while the key is
inside the watermark horizon — bounded state, the streaming dual of the batch
``q_dedup_by_key`` query.  (Plain ``dropDuplicates`` on a stream would keep
unbounded state; never do that at 100 TB/day.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans._helpers import word_ngrams


def dedup_within_watermark(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def lsh_banded_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    n: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Per-ROW portable MinHash signature + LSH band keys for a DOCUMENT
    STREAM: one output row per (doc, band) with the full signature attached —
    ``(id, ts, band, key, sig: array<long>)``.

    The batch pipeline (operators/dedup.py ``minhash_signatures``) builds the
    signature as an explode -> groupBy-min AGGREGATION; on a stream that
    would be a stateful aggregation needing its own watermark and emission
    delay before the join can even see a signature.  Here the whole signature
    is computed INSIDE the row with higher-order functions (transform /
    array_min over the in-row shingle array) — stateless, zero shuffle, zero
    streaming state — so banding adds nothing to the stream's state bill and
    the downstream near-dup self-join is the ONLY stateful operator.  min()
    over the in-row gram multiset equals min() over the batch path's
    DISTINCT shingle set, so signatures and band keys are bit-identical to
    ``lsh_candidate_pairs(portable=True)`` and DuckDB replays them exactly
    (md5-60 shingles, md5-word h_i, md5 band keys — see dedup.md5_word).

    Docs with fewer than ``n`` words have no shingles and are dropped, same
    as the batch aggregate (no rows -> no group).  At 100 TB the per-row
    cost is bands+num_hashes/4 md5 digests per shingle occurrence — compute,
    not memory, and embarrassingly parallel."""
    rows_per_band = num_hashes // bands
    n_digests = (num_hashes + 3) // 4
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    grams = word_ngrams(words, n)
    # 60-bit md5 prefix per shingle — the portable shingle representation
    shingles = F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("long"),
    )
    # drop shingle-less docs BEFORE the signature projection, testing the
    # cheap precondition (>= n words <=> >= 1 shingle).  A post-projection
    # filter on _sh would get SUBSTITUTED below the projection by Catalyst
    # (the CLAUDE.md trap: the whole split->gram->md5 pipeline re-evaluated
    # inside the Filter AND again as a parquet DataFilter — observed 2-3x
    # the banding cost before this reorder)
    base = docs.filter(F.size(words) >= n).select(
        F.col(id_col), F.col(ts_col), shingles.alias("_sh")
    )
    # one digest array per group of 4 hash functions: md5(shingle || '#d').
    # NB: the lambdas MUST stay single-parameter — pyspark passes (element,
    # index) to any two-parameter transform lambda, so the usual default-arg
    # capture trick would silently bind the array index column instead.
    def _digest(d: int):
        return lambda x: F.md5(F.concat(x.cast("string"), F.lit(f"#{d}")))

    for d in range(n_digests):
        base = base.withColumn(f"_dig{d}", F.transform("_sh", _digest(d)))

    def _word(i: int):
        return lambda s: F.conv(
            F.substring(s, (i % 4) * 8 + 1, 8), 16, 10
        ).cast("long")

    def h(i: int):
        return F.array_min(F.transform(F.col(f"_dig{i // 4}"), _word(i)))

    sig = base.select(
        id_col, ts_col, *[h(i).alias(f"h{i}") for i in range(num_hashes)]
    )

    def band_key(b: int):
        from ..operators.dedup import md5_word

        return md5_word(
            F.concat_ws(
                "#",
                *[
                    F.col(f"h{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            ),
            1,
            15,
        )

    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), band_key(b).alias("key"))
            for b in range(bands)
        ]
    )
    return (
        sig.withColumn("bk", F.explode(band_structs))
        .select(
            F.col(id_col),
            F.col(ts_col),
            F.col("bk.band").alias("band"),
            F.col("bk.key").alias("key"),
            F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"),
        )
    )


def neardup_pair_stream(
    make_docs,
    horizon: str = "15000 seconds",
    watermark: str = "60 minutes",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Streaming near-duplicate candidate pairs: a stream-stream SELF-join of
    the banded signature stream against itself on (band, key), bounded by an
    event-time horizon — every arriving document is matched against the
    RECENT band buckets only, which is exactly what continuous-crawl dedup
    does (match incoming docs against the last N hours of arrivals, not the
    whole corpus).

    ``make_docs`` is a zero-arg factory producing an independent banded
    source per side (each readStream tracks its own offsets).  Join state is
    the symmetric hash-join store keyed by (band, key): each side buffers
    band rows only until the watermark clears ``horizon``, so state is
    horizon-bounded regardless of corpus size, and band keys are md5-uniform
    so the keyed exchange cannot skew.  Emits one row per agreeing (band,
    pair): ``(band, id_a, id_b, agree)`` with agree = #matching signature
    positions, computed via zip_with/aggregate on the carried signatures —
    no second join back to a signature table."""
    a = make_docs().select(
        F.col(id_col).alias("id_a"),
        F.col(ts_col).alias("ts_a"),
        F.col("band").alias("band_a"),
        F.col("key").alias("key_a"),
        F.col("sig").alias("sig_a"),
    ).withWatermark("ts_a", watermark)
    b = make_docs().select(
        F.col(id_col).alias("id_b"),
        F.col(ts_col).alias("ts_b"),
        F.col("band").alias("band_b"),
        F.col("key").alias("key_b"),
        F.col("sig").alias("sig_b"),
    ).withWatermark("ts_b", watermark)
    agree = F.aggregate(
        F.zip_with(
            F.col("sig_a"),
            F.col("sig_b"),
            lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        a.join(
            b,
            F.expr(
                "band_a = band_b AND key_a = key_b AND ts_b > ts_a"
                f" AND ts_b <= ts_a + INTERVAL {horizon}"
            ),
        )
        .select(
            F.col("band_a").alias("band"),
            "id_a",
            "id_b",
            agree.cast("long").alias("agree"),
        )
    )


def screen_against_ledger(
    events: DataFrame,
    ledger: DataFrame,
    key: str = "event_id",
    m_bits: int = 1 << 16,
    k: int = 3,
) -> DataFrame:
    """Streaming ingest screen: pass through only events whose ``key`` is NOT
    in a static already-processed ledger — the streaming dual of
    ``q_incremental_dedup``'s batch-vs-corpus join, with the Bloom runtime
    filter (operators/bloom.py) in front.

    Why the bloom here: a stream-static LEFT ANTI join re-probes the ledger
    every micro-batch; once the ledger outgrows the broadcast threshold that
    probe becomes a per-batch shuffle of the whole batch.  The packed filter
    stays O(m bits) forever, is embedded as a LITERAL array column (8 KiB in
    the plan — the streaming analogue of broadcasting it), and splits each
    micro-batch column-side: bloom-negative rows are *provably* new (no
    false negatives) and skip the join entirely; only bloom-positive rows —
    true dups plus the small FP fraction — reach the exact anti join that
    rescues the FPs.  Exactness is unchanged; only join traffic shrinks.

    The rescue join carries NO broadcast hint: the bloom front-filter exists
    precisely because the ledger eventually outgrows the broadcast
    threshold, so the join must be allowed to degrade to a shuffle — which
    then moves only the bloom-positive fraction of each micro-batch, not the
    whole batch.  At small ledger sizes AQE still picks a broadcast on its
    own.

    Works identically on a batch DataFrame, so the batch run is the
    streaming test's oracle (tests/test_streaming.py).
    """
    from ..operators.bloom import bloom_build

    word_map = bloom_build(ledger, key, m_bits, k).collect()[0]["bloom"]
    words = F.array(
        *[F.lit(int(word_map.get(i, 0))) for i in range(m_bits // 64)]
    )
    hit = None
    for i in range(k):
        # seed literal must be INT to hash identically to the build side
        p = F.pmod(F.xxhash64(F.lit(i), F.col(key)), F.lit(m_bits))
        word = F.element_at(words, (p / 64).cast("int") + 1)
        mask = F.expr(
            f"shiftleft(1L, CAST(pmod(xxhash64({i}, {key}), {m_bits}) % 64 AS INT))"
        )
        c = word.bitwiseAND(mask) != 0
        hit = c if hit is None else hit & c

    definitely_new = events.filter(~hit)
    candidates = events.filter(hit)
    rescued = candidates.join(ledger.select(key), key, "left_anti")
    return definitely_new.unionByName(rescued)


def screen_docs_against_corpus(
    docs: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Streaming incremental-dedup screen — the streaming dual of batch
    ``q_incremental_dedup`` (operators/dedup.py): every arriving document is
    annotated with the earliest standing-corpus doc sharing its content
    fingerprint (``dup_of`` NULL = genuinely new) and the corpus copy count.

    The corpus side is PRE-AGGREGATED to one row per fingerprint
    (min doc id + count) before the join, which is what makes the streaming
    shape work: the stream-static join is then a plain append-mode
    enrichment — no streaming aggregation, no watermark state — and it is
    the better batch plan too (the corpus collapses once instead of
    re-grouping per arriving batch).  At 100 TB the corpus-fingerprint
    table is the bucketed/sorted index of sources/bucketing.py, so each
    micro-batch joins co-located with zero corpus shuffle.  Works
    identically on a batch DataFrame — the batch run is the streaming
    test's oracle."""
    from ..operators.textstats import fingerprint

    corpus_fp = (
        corpus.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.min(id_col).alias("dup_of"),
            F.count("*").alias("n_corpus_copies"),
        )
    )
    return (
        docs.withColumn("fp", fingerprint(text_col))
        .join(corpus_fp, "fp", "left")
        .select(
            id_col,
            "source",
            "dup_of",
            F.coalesce("n_corpus_copies", F.lit(0)).alias("n_corpus_copies"),
        )
    )
