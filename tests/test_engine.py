"""Spark engine vs pure-Python oracle: the vectorized `estimate_df` must
produce exactly the structs `estimate_scenario` produces, row by row."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from flink_estimator_spark.estimator import Scenario, estimate_df, estimate_scenario, scenario_schema
from tests.conftest import arrow_eval_nodes
from tests.scenarios import GOLDEN, INVALID, random_scenarios


def _mk_df(spark, cases):
    rows = []
    for kw in cases:
        s = Scenario(**kw)
        rows.append(tuple(getattr(s, f.name) for f in scenario_schema.fields))
    return spark.createDataFrame(rows, scenario_schema)


def _cmp(name, got, exp, path=""):
    assert type(got) is type(exp) or (
        isinstance(got, (int, float)) and isinstance(exp, (int, float))
    ), f"{name}{path}: type {type(got)} vs {type(exp)}"
    if isinstance(exp, float):
        assert got == exp or (math.isnan(got) and math.isnan(exp)), f"{name}{path}: {got} != {exp}"
    else:
        assert got == exp, f"{name}{path}: {got} != {exp}"


def test_engine_matches_oracle(spark):
    cases = GOLDEN + INVALID + random_scenarios(80)
    df = _mk_df(spark, cases)
    results = {r["project_name"]: r.asDict(recursive=True) for r in estimate_df(df).collect()}
    assert len(results) == len({kw["project_name"].strip() for kw in cases})
    for kw in cases:
        name = kw["project_name"].strip()
        exp = estimate_scenario(Scenario(**kw))
        got = results[name]
        if exp.get("error") or not name:
            assert got["error"], f"{name}: expected error, got {got}"
            continue
        assert got["error"] is None, f"{name}: unexpected error {got['error']}"
        for section in (
            "input_summary",
            "resource_estimates",
            "cluster_recommendations",
            "scaling_recommendations",
            "capacity_analysis",
        ):
            e, g = exp[section], got[section]
            flat_e, flat_g = {}, {}

            def _flatten(d, out, p=""):
                for k, v in d.items():
                    if isinstance(v, dict):
                        _flatten(v, out, f"{p}{k}.")
                    else:
                        out[p + k] = v

            _flatten(e, flat_e)
            _flatten(g, flat_g)
            assert set(flat_e) == set(flat_g), f"{name}.{section}: field sets differ"
            for k in flat_e:
                _cmp(name, flat_g[k], flat_e[k], f".{section}.{k}")


def test_engine_rejects_invalid_vm_raw_capacity(spark):
    """Validation must see the RAW capacity values, not the T-shirt-normalized
    ones: a VM scenario with out-of-range worker_node_memory_mb is rejected by
    the reference (validate-then-normalize order) and must be rejected by the
    vectorized engine too, even though the t-size lookup would overwrite the
    bad value."""
    cases = [
        dict(project_name="vm_bad_mem", worker_node_type="VM",
             worker_node_t_size="S", worker_node_memory_mb=600000.0),
        dict(project_name="vm_bad_cpu", worker_node_type="VM",
             worker_node_t_size="M", worker_node_cpu_max=1),
        dict(project_name="vm_ok", worker_node_type="VM",
             worker_node_t_size="S"),
    ]
    got = {
        r["project_name"]: r["error"]
        for r in estimate_df(_mk_df(spark, cases)).collect()
    }
    for kw in cases:
        exp = estimate_scenario(Scenario(**kw))
        if exp.get("error"):
            assert got[kw["project_name"]] == exp["error"], kw["project_name"]
        else:
            assert got[kw["project_name"]] is None, got[kw["project_name"]]


def test_engine_validation_channel(spark):
    from flink_estimator_spark.estimator import normalize, validate

    df = validate(normalize(_mk_df(spark, INVALID + GOLDEN[:2])))
    bad = {r["project_name"] for r in df.filter(F.size("validation_errors") > 0).collect()}
    # tiny_worker passes validation (fails later at placement); the rest fail
    assert bad == {"", "no_rate", "neg_stmts", "vm_no_size"}


def test_kernel_runs_once_under_a_result_filter(spark):
    """A filter on a kernel output must stay above the kernel call, not be
    pushed below it as a second Python stage that reruns the kernel."""
    df = _mk_df(spark, GOLDEN + INVALID)
    assert arrow_eval_nodes(estimate_df(df).filter(F.col("error").isNull())) == 1


def test_filter_after_estimate_equals_filter_before(spark):
    """Filtering on an input column after ``estimate_df`` (which no longer
    prunes kernel work) returns the rows filtering the input first does."""
    df = _mk_df(spark, GOLDEN + INVALID + random_scenarios(40))
    after = estimate_df(df).filter(F.col("project_name").startswith("rnd1"))
    before = estimate_df(df.filter(F.trim("project_name").startswith("rnd1")))
    got = sorted(after.collect(), key=lambda r: r["project_name"])
    assert len(got) == 11
    assert got == sorted(before.collect(), key=lambda r: r["project_name"])
