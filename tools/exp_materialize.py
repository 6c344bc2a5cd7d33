"""Experiment: single-job parquet-round-trip materialization vs the 2-job
cache+checkpoint+unpersist in eager_checkpoint (r9 VERDICT item 1).

Runs selected iterative queries A/B in ONE process (box-noise-proof),
counting Spark jobs per run via job groups and verifying identical results.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/exp_materialize.py \
        q_kcore_peel q_bfs_levels q_pagerank_parts q_emb_pq_adc --runs 3
"""

from __future__ import annotations

import argparse
import itertools
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

def run_query(spark, spec, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    n = spec.builder(spark, SF_DIR).count()
    sec = time.perf_counter() - t0
    sc.setJobGroup(None, None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    spark.catalog.clearCache()
    return sec, jobs, n


def collect_rows(spark, spec):
    df = spec.builder(spark, SF_DIR)
    return sorted(map(str, df.collect()))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()

    import flink_estimator_spark.operators.bpe as bpe_mod
    import flink_estimator_spark.operators.dedup as dedup_mod
    import flink_estimator_spark.operators.fuzzy as fuzzy_mod
    import flink_estimator_spark.operators.graph as graph_mod
    import flink_estimator_spark.operators.pq as pq_mod
    import flink_estimator_spark.operators.similarity as sim_mod
    import flink_estimator_spark.operators.sketches as sk_mod
    import flink_estimator_spark.plans._helpers as helpers_mod
    from flink_estimator_spark.plans import QUERIES
    from flink_estimator_spark.session import get_spark
    from flink_estimator_spark.sources import load_tables

    mods = [bpe_mod, dedup_mod, fuzzy_mod, graph_mod, pq_mod, sim_mod, sk_mod]
    orig = helpers_mod.eager_checkpoint
    mat = helpers_mod.materialize

    def set_impl(fn):
        for m in mods:
            m.eager_checkpoint = fn

    spark = get_spark(app_name="exp_materialize")
    for df in load_tables(spark, SF_DIR).values():
        df.take(1)

    gid = itertools.count()
    for name in args.queries:
        spec = QUERIES.get(name)
        if spec is None:
            print(f"SKIP {name}")
            continue
        # warm both variants once
        set_impl(orig)
        run_query(spark, spec, f"warm{next(gid)}")
        set_impl(mat)
        run_query(spark, spec, f"warm{next(gid)}")
        # verify identical results
        set_impl(orig)
        rows_a = collect_rows(spark, spec)
        set_impl(mat)
        rows_b = collect_rows(spark, spec)
        same = rows_a == rows_b
        # interleaved timed runs
        for r in range(args.runs):
            set_impl(orig)
            sa, ja, _ = run_query(spark, spec, f"g{next(gid)}")
            set_impl(mat)
            sb, jb, _ = run_query(spark, spec, f"g{next(gid)}")
            print(
                f"{name} run{r}: ckpt {sa:.3f}s/{ja}j  mat {sb:.3f}s/{jb}j"
                f"  rows_equal={same}",
                flush=True,
            )
    set_impl(orig)
    return 0


if __name__ == "__main__":
    sys.exit(main())
