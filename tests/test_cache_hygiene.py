"""Session cache hygiene: operators must not leak pinned RDDs.

The r3 verdict's session-hygiene finding: operator-internal ``.cache()`` /
``.localCheckpoint()`` pins accumulated across a long-lived session and
taxed every later query's GC (~1.4x uniform drift, traced in round 3) —
the fix then lived in bench.py's ``clearCache()`` instead of the library.
Round 4 moved materialization to ``plans._helpers.eager_checkpoint``
(cache -> reliable checkpoint -> unpersist: computed once, lineage
truncated, zero persistent footprint), so after ANY registered builder
runs to completion, ``getPersistentRDDs()`` must be empty and bench.py's
``clearCache()`` is belt-and-braces, not load-bearing.
"""

from __future__ import annotations

import pytest

from flink_estimator_spark.plans.registry import QUERIES

from tests.conftest import SF_SMALL

# The builders that historically pinned: every operator family that
# materializes an internal stage (shingle tables, CC/k-means/BPE loops,
# fingerprint tables, graph edge tables, certificate sides).  The over-cap
# connected-components engine has its own test below.
HEAVY = [
    "q_dedup_jaccard_pairs",
    "q_dedup_clusters",
    "q_minhash_recall",
    "q_simhash_recall",
    "q_jaccard_prefix_pairs",
    "q_containment_pairs",
    "q_incremental_dedup",
    "q_multimodal_phash",
    "q_triangle_count",
    "q_kmeans_iterate",
    "q_bpe_merges",
]


@pytest.mark.parametrize("name", HEAVY)
def test_no_persistent_rdds_after_builder(spark, name):
    df = QUERIES[name].builder(spark, SF_SMALL)
    df.count()  # run to completion, like the driver gate does
    leaked = dict(spark.sparkContext._jsc.getPersistentRDDs())
    assert not leaked, f"{name} left {len(leaked)} pinned RDD(s): {leaked}"


def test_no_persistent_rdds_after_over_cap_cc(spark):
    """``q_dedup_clusters`` resolves its fixture graph on the driver, so
    the builders above no longer run the over-cap connected-components
    engine, whose loop caches the edges and their symmetrized copy."""
    from flink_estimator_spark.operators.dedup import _cc_pointer_doubling

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)] + [(20, 21)], "id_a bigint, id_b bigint"
    )
    assert _cc_pointer_doubling(edges).count() == 12
    leaked = dict(spark.sparkContext._jsc.getPersistentRDDs())
    assert not leaked, f"over-cap CC left {len(leaked)} pinned RDD(s): {leaked}"


def test_checkpoint_prune_keys_on_newest_mtime_in_subtree(tmp_path, monkeypatch):
    """A session writing below an old top-level dir keeps it alive: only
    entries whose whole subtree is stale are pruned."""
    import os
    import time

    from flink_estimator_spark import session

    old = time.time() - 4 * 3600
    live = tmp_path / "live_app" / "rdd-1"
    live.mkdir(parents=True)
    (live / "part-0").write_text("fresh")
    stale = tmp_path / "stale_app" / "rdd-1"
    stale.mkdir(parents=True)
    (stale / "part-0").write_text("old")
    for p in (stale / "part-0", stale, stale.parent, live, live.parent):
        os.utime(p, (old, old))

    monkeypatch.setattr(session, "checkpoint_root", lambda: str(tmp_path))
    session.prune_checkpoints()

    assert (live / "part-0").exists()
    assert not stale.parent.exists()
