from __future__ import annotations

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from flink_estimator_spark.session import get_spark

    spark = get_spark(app_name="tests")
    yield spark


@pytest.fixture(scope="module")
def static_plan_spark(spark):
    """Static plans only: PLANS.md is generated with AQE off, and with AQE
    on a plan is not final before it runs.  The session conf is restored
    afterwards."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield spark
    spark.conf.set("spark.sql.adaptive.enabled", prev)


def arrow_eval_nodes(df) -> int:
    """Runs ``df`` and counts the ArrowEvalPython nodes of the plan it ran
    with (the AQE final plan): one per Python stage of scalar pandas UDFs."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return len(re.findall(r"\bArrowEvalPython\b", plan.toString()))
