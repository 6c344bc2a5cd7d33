"""Operator-level invariants the DuckDB oracle cannot express.

The gate replica checks value equality against SQL; these tests check the
*semantic contracts* of the pipeline operators — properties that must hold
at any scale factor and that would survive a rewrite of the oracle SQL:
packing covers every doc exactly once, a training order is a permutation,
redaction is idempotent and leak-free, the keep-list keeps exactly one doc
per cluster, compaction preserves multisets.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from flink_estimator_spark.sources.tables import read_table
from tests.conftest import SF_SMALL


def _docs(spark):
    return read_table(spark, os.path.join(SF_SMALL, "documents.parquet"))


def test_sequence_packing_partitions_the_corpus(spark):
    """Every doc lands in exactly one pack; pack ids are dense from 0; every
    pack except possibly the last stays within budget + one-doc overflow."""
    from flink_estimator_spark.operators.mixing import pack_sequences

    docs = _docs(spark)
    budget = 2048
    packed = pack_sequences(docs, budget_tokens=budget).cache()
    try:
        n_docs = docs.count()
        assert packed.count() == n_docs
        assert packed.select("doc_id").distinct().count() == n_docs

        stats = (
            packed.groupBy("pack_id")
            .agg(F.sum("n_tokens").alias("pack_tokens"))
            .orderBy("pack_id")
            .collect()
        )
        ids = [r["pack_id"] for r in stats]
        assert ids == list(range(len(ids))), "pack ids must be dense from 0"
        max_doc = packed.agg(F.max("n_tokens")).collect()[0][0]
        for r in stats:
            # greedy sequential packing admits at most one straddling doc
            assert r["pack_tokens"] <= budget + max_doc
    finally:
        packed.unpersist()


def test_training_order_is_a_permutation_and_seed_sensitive(spark):
    """The full (unlimited) training order visits every doc exactly once,
    and per-shard positions are dense 1..n_shard."""
    from flink_estimator_spark.operators.cleaning import N_SHARDS

    docs = _docs(spark)
    h = F.md5(F.concat(F.lit("epoch1:"), F.col("doc_id").cast("string")))
    shard = F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % N_SHARDS
    from pyspark.sql import Window as W

    w = W.partitionBy("shard").orderBy("h", "doc_id")
    full = (
        docs.select("doc_id", h.alias("h"), shard.alias("shard"))
        .withColumn("pos", F.row_number().over(w).cast("long"))
    ).cache()
    try:
        n = docs.count()
        assert full.count() == n
        assert full.select("doc_id").distinct().count() == n
        per_shard = full.groupBy("shard").agg(
            F.count("*").alias("n"), F.max("pos").alias("max_pos")
        )
        for r in per_shard.collect():
            assert r["n"] == r["max_pos"], "positions must be dense per shard"
        # a different epoch seed produces a different order somewhere
        h2 = F.md5(F.concat(F.lit("epoch2:"), F.col("doc_id").cast("string")))
        changed = (
            docs.select("doc_id", h.alias("h1"), h2.alias("h2"))
            .filter(F.col("h1") != F.col("h2"))
            .count()
        )
        assert changed > 0
    finally:
        full.unpersist()


def test_pii_redaction_is_idempotent_and_leak_free(spark):
    from flink_estimator_spark.operators.cleaning import pii_counts, redact_pii

    docs = _docs(spark)
    synth = docs.select(
        F.concat(
            F.col("text"),
            F.lit(" mail a.b-c@test-site.org ip 192.168.1.254 tel +44-123-456-7890"),
        ).alias("text")
    )
    once = synth.select(redact_pii(F.col("text")).alias("r1"))
    twice = once.select(
        "r1", redact_pii(F.col("r1")).alias("r2")
    ).filter(F.col("r1") != F.col("r2"))
    assert twice.count() == 0, "redaction must be a fixpoint"
    leaks = once.select(
        sum(pii_counts(F.col("r1")).values()).alias("n")
    ).agg(F.sum("n")).collect()[0][0]
    assert leaks == 0


def test_keep_list_keeps_exactly_one_doc_per_cluster(spark):
    from flink_estimator_spark.operators.dedup import (
        connected_components,
        jaccard_pairs,
    )

    docs = _docs(spark)
    labels = connected_components(
        jaccard_pairs(docs, threshold=0.5).select("id_a", "id_b")
    ).cache()
    try:
        clusters = labels.groupBy("cluster").agg(
            F.count("*").alias("sz"),
            F.sum(
                F.when(F.col("doc_id") == F.col("cluster"), 1).otherwise(0)
            ).alias("n_survivors"),
            F.min("doc_id").alias("min_id"),
        )
        bad = clusters.filter(
            (F.col("n_survivors") != 1) | (F.col("min_id") != F.col("cluster"))
        )
        assert clusters.count() > 0, "fixture must produce near-dup clusters"
        assert bad.count() == 0, "each cluster keeps exactly its min doc id"
    finally:
        labels.unpersist()


def test_rollup_merge_equals_full_recompute_any_split(spark):
    """merge(partial(A), partial(B)) == partial(A ∪ B) for several split
    points — the monoid contract incremental refresh rests on."""
    from flink_estimator_spark.operators.incremental import (
        merge_rollups,
        partial_rollup,
    )

    ev = read_table(spark, os.path.join(SF_SMALL, "events.parquet"))
    full = {
        tuple(r) for r in partial_rollup(ev).collect()
    }
    for frac in (0.1, 0.5, 0.9):
        cut = ev.approxQuantile("event_id", [frac], 0.0)[0]
        a = ev.filter(F.col("event_id") <= cut)
        b = ev.filter(F.col("event_id") > cut)
        merged = {
            tuple(r)
            for r in merge_rollups(partial_rollup(a), partial_rollup(b)).collect()
        }
        assert merged == full, f"split at q{frac} lost or double-counted state"


def test_match_sequence_single_step_is_keys_with_the_event(spark):
    """match_sequence at k=1 degenerates to "keys having any such event"."""
    from flink_estimator_spark.operators.sequence import match_sequence

    ev = read_table(spark, os.path.join(SF_SMALL, "events.parquet"))
    et = F.col("event_type")
    one = match_sequence(ev, steps=[et == "signup"])
    assert one.count() == (
        ev.filter(et == "signup").select("user_id").distinct().count()
    )


def test_ngram_decontamination_drops_docs_shorter_than_a_gram(spark, tmp_path):
    """Docs with fewer than 5 tokens (and the empty doc) have no 5-grams:
    the builder drops them as its oracle does instead of failing on
    ``slice(tokens, 0, 5)``."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_estimator_spark.plans import QUERIES

    texts = {
        0: "a b c",
        1: "a b c d",
        2: "",
        3: "The quick brown fox jumps over",
        20: "quick brown fox jumps over the lazy dog",
    }
    path = str(tmp_path / "documents.parquet")
    pq.write_table(
        pa.table({"doc_id": list(texts), "text": list(texts.values())}), path
    )
    spec = QUERIES["q_ngram_decontamination"]
    got = [tuple(r) for r in spec.builder(spark, str(tmp_path)).collect()]
    assert got == [(3, 2, 1, 0.5)]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    assert con.execute(spec.oracle).fetchall() == got


def test_kmeans_inertia_is_nonincreasing(spark):
    """Lloyd's guarantee under quantization: the per-iteration inertia
    trace must be non-increasing within a relative budget for the 1e-12
    term quantization, and assignments must cover every vector exactly
    once."""
    from flink_estimator_spark.operators.similarity import kmeans_iterate

    emb = read_table(spark, os.path.join(SF_SMALL, "embeddings.parquet"))
    vectors = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))
    ex = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))
    seed = (
        ex.groupBy(F.col("label").alias("clabel"), "pos")
        .agg(
            (
                F.sum(F.floor(F.col("v") * 1_000_000).cast("bigint"))
                .cast("double")
                / F.count("*").cast("double")
                / F.lit(1_000_000.0)
            ).alias("c")
        )
    )
    assign, inertias = kmeans_iterate(vectors, seed, iters=4)
    assert len(inertias) == 4
    for a, b in zip(inertias, inertias[1:]):
        assert b <= a * (1 + 1e-9), inertias
    # strict improvement somewhere: the seed is not already a fixpoint
    assert inertias[-1] < inertias[0], inertias
    n_vecs = emb.count()
    assert assign.count() == n_vecs
    assert assign.select("vec_id").distinct().count() == n_vecs


def test_cms_never_underestimates_any_key(spark):
    """The count-min guarantee holds for EVERY key, not just the gated
    top-15: est(key) >= exact(key) across the whole key space (collisions
    only ever add), and at least one key genuinely collides at this grid
    size (est > exact) so the bound is exercised, not vacuous."""
    from flink_estimator_spark.operators.sketches import cms_bucket, cms_cells, CMS_DEPTH

    ev = read_table(spark, os.path.join(SF_SMALL, "events.parquet"))
    # width 16 (vs the query's 512) forces collisions even at sf0.001, so
    # the over-estimate branch is exercised, not vacuous
    width = 16
    cells = cms_cells(ev, "user_id", width=width)
    keys = ev.groupBy("user_id").agg(F.count("*").alias("n_exact"))
    probes = keys.select(
        "user_id",
        "n_exact",
        F.explode(F.array(*[F.lit(i) for i in range(CMS_DEPTH)])).alias("row_i"),
    ).withColumn("bucket", cms_bucket(F.col("user_id"), F.col("row_i"), width))
    est = (
        probes.join(F.broadcast(cells), ["row_i", "bucket"])
        .groupBy("user_id", "n_exact")
        .agg(F.min("c").alias("est"))
    )
    bad = est.filter(F.col("est") < F.col("n_exact")).count()
    assert bad == 0
    over = est.filter(F.col("est") > F.col("n_exact")).count()
    assert over > 0, "no collision at all — grid too wide to test the bound"


def test_quantization_reconstruction_error_bounded(spark):
    """uint8 scalar quantization: codes stay in [0, 255] and dequantizing
    (mn + (code + 0.5) * step) lands within one step of the original on
    every dimension of every vector — the contract that makes quantized
    distances a faithful proxy."""
    from flink_estimator_spark.operators.similarity import (
        quantization_bounds,
        quantize_int8,
    )

    emb = read_table(spark, os.path.join(SF_SMALL, "embeddings.parquet"))
    bounds = quantization_bounds(emb)
    coded = emb.crossJoin(F.broadcast(bounds)).select(
        F.col("embedding").cast("array<double>").alias("v"),
        quantize_int8(F.col("embedding"), F.col("mn_arr"), F.col("mx_arr")).alias("code"),
        "mn_arr",
        "mx_arr",
    )
    exploded = coded.select(
        F.posexplode("v").alias("pos", "x"),
        F.col("code"),
        F.col("mn_arr"),
        F.col("mx_arr"),
    ).select(
        "x",
        F.element_at("code", F.col("pos") + 1).alias("c"),
        F.element_at("mn_arr", F.col("pos") + 1).alias("mn"),
        F.element_at("mx_arr", F.col("pos") + 1).alias("mx"),
    )
    out_of_range = exploded.filter((F.col("c") < 0) | (F.col("c") > 255)).count()
    assert out_of_range == 0
    step = (F.col("mx") - F.col("mn")) / F.lit(256.0)
    recon = F.col("mn") + (F.col("c").cast("double") + 0.5) * step
    bad = exploded.filter(
        (F.col("mx") > F.col("mn")) & (F.abs(recon - F.col("x")) > step)
    ).count()
    assert bad == 0
