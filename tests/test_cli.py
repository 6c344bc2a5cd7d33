"""CLI surface: the no-JVM subcommands in fresh interpreters.  The ``run``
subcommand's builder path is the same registry the oracle-parity suite
drives; here we pin the argument wiring and the Plane-A one-shot."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cli(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "flink_estimator_spark", *args],
        capture_output=True,
        text=True,
        cwd=REPO_ROOT,
        timeout=180,
    )


def test_list_filters_by_tag():
    proc = _cli("list", "--tag", "ks-test")
    assert proc.returncode == 0, proc.stderr[-500:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    # membership, not exact count: future queries may reuse the tag
    # (ADVICE r5) — the wiring under test is tag filtering, not registry size
    ks = [ln for ln in lines if ln.startswith("q_ks_statistic")]
    assert len(ks) == 1, lines
    assert "[oracle]" in ks[0]


def test_oracle_prints_sql_and_flags_rows_only():
    proc = _cli("oracle", "q1_pricing_summary")
    assert proc.returncode == 0 and "SELECT" in proc.stdout.upper()
    proc = _cli("oracle", "q_bpe_merges")
    assert proc.returncode == 1 and "rows-only" in proc.stderr
    proc = _cli("oracle", "q_no_such_query")
    assert proc.returncode == 2


def test_estimate_matches_golden():
    proc = _cli(
        "estimate",
        json.dumps(
            {"project_name": "d", "worker_node_type": "VM",
             "worker_node_t_size": "S"}
        ),
    )
    assert proc.returncode == 0, proc.stderr[-500:]
    out = json.loads(proc.stdout)
    assert out["resource_estimates"] == {
        "total_memory_mb": 6144,
        "total_cpus": 4,
        "total_worker_node_needed": 1,
        "processing_load_score": 1.0,
    }
