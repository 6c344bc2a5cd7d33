"""Persistence round-trip: estimate -> envelope -> write -> list/load/delete."""

from __future__ import annotations

import os
from datetime import datetime

import pytest

from flink_estimator_spark.estimator import Scenario, estimate_df, estimate_scenario, scenario_schema
from flink_estimator_spark.estimator.persistence import (
    coerce_form_params,
    delete_saved,
    envelope_df,
    list_saved,
    load_saved_df,
    save_estimation,
    save_estimations_df,
)
from tests.conftest import arrow_eval_nodes
from tests.scenarios import GOLDEN, INVALID

SECTIONS = ("input_summary", "resource_estimates", "cluster_recommendations",
            "scaling_recommendations", "capacity_analysis")


def _inputs_df(spark, cases):
    rows = []
    for kw in cases:
        s = Scenario(**kw)
        rows.append(tuple(getattr(s, f.name) for f in scenario_schema.fields))
    return spark.createDataFrame(rows, scenario_schema)


def test_envelope_roundtrip(spark, tmp_path):
    d = str(tmp_path / "saved")
    inputs = _inputs_df(spark, GOLDEN[:3])
    results = estimate_df(inputs)
    env = envelope_df(inputs, results, saved_at="2026-08-13T00:00:00")
    schema = env.schema
    save_estimations_df(env, d)

    loaded = load_saved_df(spark, d, schema=schema)
    assert loaded.count() == 3
    row = {r["metadata"]["project_name"]: r.asDict(recursive=True) for r in loaded.collect()}
    exp = estimate_scenario(Scenario(**GOLDEN[0]))
    got = row["default_vm_s"]["estimation_results"]["resource_estimates"]
    assert got["total_memory_mb"] == exp["resource_estimates"]["total_memory_mb"]
    assert got["total_cpus"] == exp["resource_estimates"]["total_cpus"]
    # deterministic ids: re-building the envelope yields identical ids
    ids1 = sorted(r["metadata"]["estimation_id"] for r in env.collect())
    ids2 = sorted(
        r["metadata"]["estimation_id"]
        for r in envelope_df(inputs, results, saved_at="2026-08-13T00:00:00").collect()
    )
    assert ids1 == ids2
    # the estimation id is the head of the result's scenario_id
    assert ids1 == sorted(r["scenario_id"][:8] for r in results.collect())


def test_envelope_no_cross_product_on_shared_project_name(spark):
    """Two scenarios sharing a project name must each pair with their own
    result — never a cross-product of mismatched input/result envelopes."""
    a = dict(GOLDEN[0])
    b = dict(GOLDEN[0])
    b["messages_per_second"] = a.get("messages_per_second", 5000) * 7
    inputs = _inputs_df(spark, [a, b])
    results = estimate_df(inputs)
    env = envelope_df(inputs, results, saved_at="2026-08-13T00:00:00")
    rows = [r.asDict(recursive=True) for r in env.collect()]
    assert len(rows) == 2
    for r in rows:
        # each envelope's echoed input must match its own result's echo
        assert (
            r["input_parameters"]["messages_per_second"]
            == r["estimation_results"]["input_summary"]["messages_per_second"]
        )


def _envelopes(spark, cases):
    inputs = _inputs_df(spark, cases)
    env = envelope_df(inputs, estimate_df(inputs), saved_at="2026-08-13T00:00:00")
    return [r.asDict(recursive=True) for r in env.collect()]


def test_envelope_pairs_scenarios_differing_only_in_unechoed_fields(spark):
    """Two valid scenarios with one name that differ only in a field the
    result does not echo (nb_worker_nodes) each get their own result."""
    cases = [dict(GOLDEN[0], nb_worker_nodes=n) for n in (1, 10)]
    rows = _envelopes(spark, cases)
    assert len(rows) == 2
    assert sorted(r["input_parameters"]["nb_worker_nodes"] for r in rows) == [1, 10]
    for r in rows:
        exp = estimate_scenario(Scenario(**r["input_parameters"]))
        for section in SECTIONS:
            assert r["estimation_results"][section] == exp[section], section


def test_envelope_never_saves_invalid_input_with_valid_twin(spark):
    """An invalid scenario (VM without a t-size) next to a valid bare-metal
    twin is not saved, not even paired with the twin's result."""
    valid = dict(project_name="twin", worker_node_type="bare_metal")
    invalid = dict(project_name="twin", worker_node_type="VM")
    assert estimate_scenario(Scenario(**invalid)).get("error")
    rows = _envelopes(spark, [valid, invalid])
    assert [r["input_parameters"]["worker_node_type"] for r in rows] == ["bare_metal"]


def test_envelope_runs_kernel_once(spark):
    """The join and the ``error IS NULL`` filter must not copy the kernel
    call into a second Python stage."""
    inputs = _inputs_df(spark, GOLDEN)
    env = envelope_df(inputs, estimate_df(inputs), saved_at="2026-08-13T00:00:00")
    assert arrow_eval_nodes(env) == 1


def _submitted_rows(cases):
    """Scenario rows with every nullable field NULL in turn."""
    rows = []
    for kw in cases:
        s = Scenario(**kw)
        rows.append(tuple(getattr(s, f.name) for f in scenario_schema.fields))
    base = rows[0]
    for i in range(1, len(base)):
        rows.append(tuple(None if j == i else v for j, v in enumerate(base)))
    rows.append((base[0],) + (None,) * (len(base) - 1))
    return rows


@pytest.mark.parametrize("with_t_size", [True, False], ids=["t_size", "no_t_size"])
def test_estimate_df_emits_the_submitted_row(spark, with_t_size):
    """``input_parameters`` is the submitted row before any defaulting,
    NULLs included; a missing ``worker_node_t_size`` column reads as NULL."""
    rows = _submitted_rows(GOLDEN + INVALID)
    cols = [f.name for f in scenario_schema.fields]
    df = spark.createDataFrame(rows, scenario_schema)
    if not with_t_size:
        df = df.drop("worker_node_t_size")
    got = sorted((tuple(r["input_parameters"]) for r in estimate_df(df).collect()), key=repr)
    # worker_node_t_size is the schema's last field
    want = sorted((r if with_t_size else r[:-1] + (None,) for r in rows), key=repr)
    assert got == want
    assert estimate_df(df).schema["input_parameters"].dataType.names == cols


def test_envelope_plan_reads_results_only(spark, tmp_path):
    """Building envelopes neither joins nor broadcasts, and the scenarios
    are scanned once, by the estimate."""
    path = str(tmp_path / "scenarios.parquet")
    _inputs_df(spark, GOLDEN + INVALID).write.parquet(path)
    inputs = spark.read.parquet(path)
    env = envelope_df(inputs, estimate_df(inputs), saved_at="2026-08-13T00:00:00")
    env.collect()
    plan = env._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    text = plan.toString()
    assert "Join" not in text and "BroadcastExchange" not in text, text
    assert text.count("FileScan parquet") == 1, text


def test_single_save_list_delete(tmp_path):
    d = str(tmp_path / "saved_single")
    r = estimate_scenario(Scenario(project_name="My Proj #1"))
    fname = save_estimation(
        {"project_name": "My Proj #1"}, r, d, now=datetime(2026, 8, 13, 1, 2, 3)
    )
    assert fname.startswith("My_Proj_1_20260813_010203_")
    listing = list_saved(d)
    assert len(listing) == 1 and listing[0]["filename"] == fname
    assert listing[0]["project_name"] == "My Proj #1"

    with pytest.raises(ValueError):
        delete_saved(d, "../evil.json")
    with pytest.raises(ValueError):
        delete_saved(d, "sub/dir.json")
    assert delete_saved(d, fname) is True
    assert delete_saved(d, fname) is False
    assert list_saved(d) == []


def test_coerce_form_params():
    out = coerce_form_params(
        {"worker_node_memory_gb": "16", "worker_node_t_size": " s ",
         "messages_per_second": "5000", "expected_latency_seconds": "2.5"}
    )
    assert out["worker_node_memory_mb"] == 16384.0
    assert "worker_node_memory_gb" not in out
    assert out["worker_node_t_size"] == "S"
    assert out["messages_per_second"] == 5000
    assert out["expected_latency_seconds"] == 2.5
    assert coerce_form_params({"worker_node_t_size": "  "})["worker_node_t_size"] is None
