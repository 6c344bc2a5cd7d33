"""``plans._helpers.local_df``: driver-held rows as an Arrow-built
``LocalTableScan`` with exactly the declared schema, equal to what the
list-built ``createDataFrame`` path returns, and no ``PythonRDD``."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

import flink_estimator_spark.plans  # noqa: F401  (finish registry init first)
from flink_estimator_spark.operators.bpe import SYMS_SCHEMA
from flink_estimator_spark.plans._helpers import local_df

# the schema of every site that builds a DataFrame from driver rows, with
# rows of the shape it builds
SITES = {
    "bpe vocabulary": (SYMS_SCHEMA, [("the", 3, ["th", "e</w>"]), ("a", 1, ["a", "</w>"])]),
    "bpe merges": (
        "rank int, sym_a string, sym_b string, weighted_count bigint",
        [(1, "e", "</w>", 40), (2, "t", "h", 31)],
    ),
    "kcenter picks": (
        "step bigint, center_id bigint, radius_q bigint",
        [(0, 7, 912), (1, 3, 400)],
    ),
    "kcore census": (
        "round bigint, n_alive bigint, n_edges bigint, "
        "deg_checksum bigint, is_fixpoint boolean",
        [(0, 10, 12, 99, False), (1, 10, 12, 99, True)],
    ),
    "entity clusters": ("doc_id string, cluster string", [("d1", "d1"), ("d2", "d1")]),
    "benford expected": ("d bigint, expected_q6 bigint", [(1, 301029), (2, 176091)]),
    "whatif grid": ("growth INT, latency DOUBLE", [(10**4, 0.5), (10**8, 5.0)]),
    "range bands": (
        T.StructType(
            [
                T.StructField("band", T.StringType()),
                T.StructField("lo", T.DoubleType()),
                T.StructField("hi", T.DoubleType()),
            ]
        ),
        [("micro", 0.0, 5.0), ("large", 50.0, 1e18)],
    ),
    "stream emissions": (
        "user_id bigint, win_start_us bigint, n bigint",
        [(5, 0, 2)],
    ),
}


def _struct(schema):
    return T.StructType.fromDDL(schema) if isinstance(schema, str) else schema


@pytest.mark.parametrize("site", sorted(SITES))
def test_local_df_keeps_schema_and_rows(spark, site):
    schema, rows = SITES[site]
    want = _struct(schema)
    for data in (rows, []):
        assert local_df(spark, data, schema).schema == want, (site, data)
    old = spark.createDataFrame(rows, schema)
    got = local_df(spark, rows, schema)
    assert got.collect() == old.collect()
    key = want.fieldNames()[0]
    assert (
        got.orderBy(key).collect() == old.orderBy(key).collect()
        == sorted(old.collect(), key=lambda r: r[0])
    )


def test_local_df_reads_no_python(spark):
    """The point of the helper: no action over the rows starts a Python
    worker (the list path pickles them into a ``PythonRDD``)."""
    schema, rows = SITES["bpe merges"]
    old = spark.createDataFrame(rows, schema)
    new = local_df(spark, rows, schema)
    assert "PythonRDD" in old._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in new._jdf.queryExecution().toRdd().toDebugString()
    assert "LocalTableScan" in new._jdf.queryExecution().executedPlan().toString()

