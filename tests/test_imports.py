"""Import-order hygiene: every public namespace must be importable as the
FIRST touch of the package in a fresh interpreter.  Pins the round-5 fix
for the functions-first circular import (similarity -> plans ->
streaming_runtime -> streaming.curation -> similarity), which only
reproduces when nothing else has initialized the package."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

FIRST_TOUCHES = [
    "flink_estimator_spark.functions",
    "flink_estimator_spark.operators.similarity",
    "flink_estimator_spark.operators.sequence",
    # these import oracle fragments from plans._helpers: each must still
    # import first without closing a cycle
    "flink_estimator_spark.operators.timeseries",
    "flink_estimator_spark.operators.dedup",
    "flink_estimator_spark.operators.cleaning",
    "flink_estimator_spark.operators.fuzzy",
    "flink_estimator_spark.sources",
    "flink_estimator_spark.streaming",
    "flink_estimator_spark.plans",
    "flink_estimator_spark.estimator",
    "flink_estimator_spark.worker_daemon",
]


@pytest.mark.parametrize("module", FIRST_TOUCHES)
def test_first_touch_import(module):
    proc = subprocess.run(
        [sys.executable, "-c", f"import {module}"],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]


def test_worker_daemon_imports_nothing_of_the_engine():
    """Every forked Python worker inherits what the daemon has loaded:
    no other module of the package, and no pandas or pyarrow (whose
    threads a fork would inherit)."""
    code = (
        "import sys, flink_estimator_spark.worker_daemon\n"
        "print(sorted(m for m in sys.modules if m.startswith("
        "('flink_estimator_spark.', 'pandas', 'pyarrow'))))"
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip() == "['flink_estimator_spark.worker_daemon']"
