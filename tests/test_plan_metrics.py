"""Plan-metric regression tripwire (r3 verdict item 8).

PLANS.md records each registered query's physical-plan shape (scans,
pushdown, shuffle Exchanges, broadcasts, codegen spans, Python stages).
These tests recompute the live metrics and diff them against the committed
table, so an edit that silently adds a shuffle, drops a broadcast, or
introduces a Python boundary fails CI instead of surfacing rounds later as
a bench mystery.  Legitimate plan changes regenerate the artifact:
``python tools/gen_plans_md.py``.
"""

from __future__ import annotations

import os

import pytest

from flink_estimator_spark.plans.planmeta import METRIC_COLS, metrics, parse_plans_md
from flink_estimator_spark.plans.registry import QUERIES

from tests.conftest import SF_SMALL

PLANS_MD = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "PLANS.md")
COMMITTED = parse_plans_md(PLANS_MD)


def test_plans_md_covers_exactly_the_registry():
    assert set(COMMITTED) == set(QUERIES), (
        "PLANS.md out of sync with the registry — regenerate with "
        "`python tools/gen_plans_md.py`: "
        f"missing={sorted(set(QUERIES) - set(COMMITTED))[:5]} "
        f"stale={sorted(set(COMMITTED) - set(QUERIES))[:5]}"
    )


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_plan_metrics_match_committed(static_plan_spark, name):
    committed = COMMITTED.get(name)
    if committed is None:
        pytest.skip("covered by test_plans_md_covers_exactly_the_registry")
    live = metrics(QUERIES[name].builder(static_plan_spark, SF_SMALL))
    diffs = {
        k: (committed[k], live[k]) for k in METRIC_COLS if committed[k] != live[k]
    }
    assert not diffs, (
        f"{name}: plan shape drifted from PLANS.md (committed, live) = {diffs} "
        "— if intentional, regenerate with `python tools/gen_plans_md.py`"
    )
