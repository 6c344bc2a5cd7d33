"""The parquet schema memo behind ``sources.tables.read_table`` and the
stream sources: a read of unchanged files under unchanged schema confs
launches no inference job, and any change to the files or to those confs
is inferred again.  Jobs are counted per job group from the status
tracker after the listener bus has drained."""

from __future__ import annotations

import itertools
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from flink_estimator_spark.sources.tables import read_table
from flink_estimator_spark.streaming.sources import events_stream
from tests.conftest import SF_SMALL

_GROUP = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched)."""
    sc = spark.sparkContext
    group = f"test-tables-{next(_GROUP)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _fresh_copy(tmp_path, table):
    """A private copy of a fixture table, so no earlier read has warmed the
    memo for its file."""
    path = str(tmp_path / f"{table}.parquet")
    shutil.copyfile(os.path.join(SF_SMALL, f"{table}.parquet"), path)
    return path


def test_second_read_launches_no_job(spark, tmp_path):
    path = _fresh_copy(tmp_path, "orders")
    link = str(tmp_path / "link.parquet")
    os.symlink(path, link)
    first, first_jobs = _jobs(spark, lambda: read_table(spark, path))
    second, second_jobs = _jobs(spark, lambda: read_table(spark, path))
    # the key is the file's identity, not the path that names it
    _, link_jobs = _jobs(spark, lambda: read_table(spark, link))
    assert first_jobs >= 1  # the inference ran once
    assert second_jobs == link_jobs == 0
    uncached = spark.read.parquet(path)
    assert second.schema == first.schema == uncached.schema
    assert sorted(second.collect()) == sorted(uncached.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert read_table(spark, path).schema == T.StructType(
        [T.StructField("a", T.LongType())]
    )
    pq.write_table(pa.table({"b": pa.array(["x"], pa.string())}), path)
    df = read_table(spark, path)
    assert df.schema == T.StructType([T.StructField("b", T.StringType())])
    assert df.collect()[0]["b"] == "x"


def test_schema_conf_change_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), path)
    conf = "spark.sql.parquet.binaryAsString"
    prev = spark.conf.get(conf, None)
    try:
        for as_string in ("false", "true", "false"):
            spark.conf.set(conf, as_string)
            want = T.StringType() if as_string == "true" else T.BinaryType()
            assert read_table(spark, path).schema["b"].dataType == want, as_string
    finally:
        if prev is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, prev)


def test_events_stream_infers_a_symlinked_fixture_once(spark, tmp_path):
    fixture = _fresh_copy(tmp_path, "events")
    dirs = []
    for run in range(2):
        d = tmp_path / f"stream-{run}"
        d.mkdir()
        os.symlink(fixture, str(d / "part-0.parquet"))
        dirs.append(str(d))
    streams, jobs = _jobs(
        spark, lambda: [events_stream(spark, d) for d in dirs]
    )
    assert jobs == 1
    for s in streams:
        assert s.isStreaming
        assert s.schema["ts"].dataType == T.TimestampType()


@pytest.mark.parametrize(
    "name", ["q3_shipping_priority", "q5_region_revenue", "q_pandas_udf_score"]
)
def test_builder_rebuild_launches_no_job(spark, name):
    from flink_estimator_spark.plans.registry import get_queries

    build = get_queries()[name]
    build(spark, SF_SMALL)
    _, jobs = _jobs(spark, lambda: build(spark, SF_SMALL))
    assert jobs == 0
