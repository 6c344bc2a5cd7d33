"""SparkSession factory tuned for this engine.

Local test posture is ``local[N]`` (single JVM); the config choices below are
the ones that also matter on a real multi-executor cluster at large scale:
AQE for runtime re-planning (skew joins, partition coalescing), Arrow for the
Pandas-UDF slow path, UTC session timezone so results are comparable with the
DuckDB oracle, and shuffle partitions sized to the parallelism at hand rather
than the 200-partition default.  Python workers fork from
``worker_daemon``, which spares each Python task a re-read of
``pyspark.zip`` at its start; the package must therefore be importable
where the workers start, as its UDFs already require.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import SparkSession

# the directory holding this package: the repo root in a checkout
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "flink_estimator_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 1)
    # In local mode the driver JVM is the only process; spark.driver.memory set
    # through the builder is ignored once the JVM is up, so pass it to the
    # launcher instead (only effective for the first session in the process).
    if "PYSPARK_SUBMIT_ARGS" not in os.environ:
        # 24g, chosen from whole-bench totals on the 128 GiB box (sf0.1,
        # ~100 queries, one JVM): 16g G1 136s / 24g G1 115s / 48g G1 156s /
        # 48g ParallelGC 185s.  Too small goes GC-bound from accumulated
        # broadcast/shuffle bookkeeping; too large stretches G1 evacuation
        # pauses, taxing allocation-heavy interpreted stages (SCALE.md §7b).
        # On a real cluster the same trade sizes executor heaps to the
        # working set rather than the machine.
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
        os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {mem} pyspark-shell"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # the events fixture stores timestamp[ns]; Spark 4 otherwise refuses
        # TIMESTAMP(NANOS) parquet columns — read as long, convert in sources
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # keep stdout machine-parseable: the console progress bar writes
        # carriage-return frames that can interleave with bench.py's single
        # JSON output line when a harness merges streams
        .config("spark.ui.showConsoleProgress", "false")
        # Python workers fork from a daemon whose zip importers skip the
        # per-task re-read of pyspark.zip (worker_daemon.py, SCALE.md §6);
        # Spark puts this PYTHONPATH after its own pyspark.zip and before
        # the launching environment's, so the daemon imports from any
        # working directory
        .config("spark.python.daemon.module", "flink_estimator_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _REPO_ROOT)
    )
    builder = builder.config(
        # checkpoint files from eager_checkpoint (plans/_helpers.py) are
        # reference-tracked and deleted when their RDD is GC'd, so a
        # long-lived session doesn't accumulate them
        "spark.cleaner.referenceTracking.cleanCheckpoints", "true"
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty():
        # reliable (not local) checkpoints: zero persistent-RDD footprint
        # and executor-loss-safe on a real cluster
        prune_checkpoints()
        spark.sparkContext.setCheckpointDir(checkpoint_root())
    return spark


# checkpoint leftovers untouched this long are pruned at session start
_PRUNE_AGE_S = 3 * 3600


def checkpoint_root() -> str:
    """Root of every checkpoint and materialization this engine writes:
    the repo's gitignored ``spark-warehouse/_checkpoints`` (on a cluster
    this would be an HDFS/S3 path)."""
    return os.path.join(_REPO_ROOT, "spark-warehouse", "_checkpoints")


def ensure_checkpoint_dir(sc) -> str:
    """The session's checkpoint dir, first set to an applicationId-keyed
    subdirectory of ``checkpoint_root()`` if the session has none.

    The driver gate builds queries with ITS OWN SparkSession (not
    ``get_spark``), which has no checkpoint dir — and almost certainly
    lacks spark.cleaner.referenceTracking.cleanCheckpoints, so files
    written by iterative operators would accumulate for the session
    lifetime.  Keying the fallback by applicationId makes each foreign
    session's leftovers one isolated subdirectory that
    ``prune_checkpoints`` removes once stale (ADVICE r4)."""
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        sc.setCheckpointDir(os.path.join(checkpoint_root(), sc.applicationId))
    return sc._jsc.sc().getCheckpointDir().get()


def prune_checkpoints() -> None:
    """Delete stale checkpoint leftovers so the disk footprint is bounded:
    foreign-session subtrees (``<appId>`` dirs), ``materialize()``
    parquet dirs, stream-runtime checkpoints, and the UUID dirs RDD
    checkpointing creates when a process exits before the
    referenceTracking cleaner runs.

    Age-guarded rather than name-matched, so a starting session never
    deletes files a CONCURRENT session (bench + pytest on one box) is
    still writing: an entry goes only when the NEWEST mtime anywhere in
    its subtree is older than ``_PRUNE_AGE_S``.  A live session keeps writing
    below a top-level dir whose own mtime stays old, so that mtime alone
    is not enough; it is a lower bound on the subtree's newest, though,
    so only entries already past the cutoff by it get walked — session
    start never walks a live tree whose top level is fresh."""
    root = checkpoint_root()
    if not os.path.isdir(root):
        return
    cutoff = time.time() - _PRUNE_AGE_S
    for sub in os.listdir(root):
        p = os.path.join(root, sub)
        try:
            if os.lstat(p).st_mtime >= cutoff:
                continue
            newest = max(
                (os.lstat(os.path.join(d, n)).st_mtime
                 for d, dirs, files in os.walk(p) for n in dirs + files),
                default=0.0,
            )
            if newest < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass
