"""Vectorized Spark engine for the estimation calculus (Plane A).

The reference estimates one record per HTTP call; this engine estimates N
scenarios in one DataFrame pass:

    scenarios --normalize(Catalyst)--> sizing core (Arrow Pandas UDF)
              --assembly + scaling recommendations (Catalyst)--> results

Design split (SURVEY.md §4):
* Everything closed-form — defaulting, T-shirt normalization, derived
  throughput/statement columns, scaling recommendations, result-struct
  assembly and rounding — is Catalyst column expressions
  (whole-stage codegen'd, no Python in the hot path).
* The genuinely iterative steps — the state/throughput sizing passes, the
  TM memory/count fixpoint, and greedy bin-packing with node growth
  (reference estimation.py:205-281,428-457,556-597) — run the pure-Python
  kernel from ``calculus.py`` inside one Arrow-batched Pandas UDF, called
  once per scenario.  The kernel's placement is closed form (at most two
  steps per TaskManager slot level of a node), so a scenario that needs
  thousands of nodes costs about as much as one that needs a single node.
  Python arithmetic inside the kernel also gives bit-exact
  ``math.ceil``/``round`` semantics where Spark's SQL functions differ
  (banker's rounding etc.).

At scale: the UDF is embarrassingly parallel per row (no shuffle), so a
scenario table partitions freely across executors; all pre/post stages are
narrow column transformations.

Plan shape: ``estimate_df`` is two projections — defaulting, normalization,
the submitted row (``input_parameters``) and the kernel call in one
``select``, result assembly and ``scenario_id`` in a second — so building it
costs two analyzer passes, not one per column.  Because each result row
carries the row it was estimated from, saving results
(``persistence.envelope_df``) reads nothing but the results.

Barrier rule: the kernel call is marked nondeterministic, so Catalyst never
copies it: filtering result columns (``error``, a result struct) is free,
the filter stays above the kernel instead of copying it into a second Python
stage.  The flip side is that a filter applied after ``estimate_df`` no
longer prunes kernel work, even on an input column — filter the scenarios
*before* ``estimate_df``.  One consumer still runs the kernel twice per
scenario: a global sort (``orderBy``) of the result, whose range
partitioner samples its input in a separate job that evaluates the kernel.
Sort the scenarios *before* ``estimate_df`` instead; its projections keep
the input's rows and order (SCALE.md §6).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .calculus import (
    VM_TSHIRT_MB_CPU,
    Scenario,
    normalize_scenario,
    sizing_core,
    validate_scenario,
)

# ---------------------------------------------------------------------------
# Schemas
# ---------------------------------------------------------------------------

scenario_schema = T.StructType(
    [
        T.StructField("project_name", T.StringType(), False),
        T.StructField("messages_per_second", T.LongType(), True),
        T.StructField("avg_record_size_bytes", T.LongType(), True),
        T.StructField("number_flink_applications", T.IntegerType(), True),
        T.StructField("num_distinct_keys", T.LongType(), True),
        T.StructField("data_skew_risk", T.StringType(), True),
        T.StructField("bandwidth_capacity_gbps", T.IntegerType(), True),
        T.StructField("expected_latency_seconds", T.DoubleType(), True),
        T.StructField("simple_statements", T.IntegerType(), True),
        T.StructField("medium_statements", T.IntegerType(), True),
        T.StructField("complex_statements", T.IntegerType(), True),
        T.StructField("worker_node_memory_mb", T.DoubleType(), True),
        T.StructField("worker_node_cpu_max", T.IntegerType(), True),
        T.StructField("nb_worker_nodes", T.IntegerType(), True),
        T.StructField("worker_node_type", T.StringType(), True),
        T.StructField("worker_node_t_size", T.StringType(), True),
    ]
)

_SCENARIO_DEFAULTS: dict[str, object] = {
    "messages_per_second": 5000,
    "avg_record_size_bytes": 512,
    "number_flink_applications": 1,
    "num_distinct_keys": 100_000,
    "data_skew_risk": "low",
    "bandwidth_capacity_gbps": 10,
    "expected_latency_seconds": 5.0,
    "simple_statements": 2,
    "medium_statements": 1,
    "complex_statements": 1,
    "worker_node_memory_mb": 16384.0,
    "worker_node_cpu_max": 8,
    "nb_worker_nodes": 1,
    "worker_node_type": "bare_metal",
}

_core_schema = T.StructType(
    [
        T.StructField("jm_cpu", T.IntegerType()),
        T.StructField("jm_memory", T.IntegerType()),
        T.StructField("raw_state_process_mb", T.DoubleType()),
        T.StructField("nb_tm_state", T.LongType()),
        T.StructField("nb_tm_cpu", T.LongType()),
        T.StructField("total_cpu_throughput", T.LongType()),
        T.StructField("nodes_from_cpu", T.LongType()),
        T.StructField("tm_process_memory_mb", T.LongType()),
        T.StructField("nb_task_managers", T.LongType()),
        T.StructField("total_cpu_needs", T.LongType()),
        T.StructField("total_memory_mb", T.LongType()),
        T.StructField("node_allocations", T.ArrayType(T.LongType())),
        T.StructField("nb_worker_nodes_final", T.LongType()),
        T.StructField("total_nodes", T.LongType()),
        T.StructField("error", T.StringType()),
    ]
)


# ---------------------------------------------------------------------------
# Catalyst stages
#
# The closed-form stages are Spark SQL expression strings, not Column-API
# chains: in classic PySpark every Column operation is a py4j round trip
# that also records its Python call site (~1 ms each on a 4-vCPU VM), while
# ``F.expr`` parses a whole expression in one call (~0.2 ms).  Both give
# the same Catalyst trees.  Double literals carry the ``D`` suffix: a bare
# ``0.5`` is a DECIMAL in Spark SQL.
# ---------------------------------------------------------------------------


def _sql_literal(value: object) -> str:
    """``value`` as a Spark SQL literal of the type ``F.lit(value)`` has."""
    if isinstance(value, str):
        return f"'{value}'"
    if isinstance(value, float):
        return f"{value!r}D"
    return str(value)


def _named_struct(fields: dict[str, str]) -> str:
    return "named_struct(" + ", ".join(f"'{k}', {v}" for k, v in fields.items()) + ")"


def _default_sql(columns: list[str]) -> dict[str, str]:
    """Pydantic-style defaulting (reference models.py:67-84) as one SQL
    expression per scenario field over the raw ``columns`` — no T-shirt
    overwrite, so capacity values stay the *raw* ones the reference
    validates against."""
    sql = {name: f"coalesce({name}, {_sql_literal(default)})"
           for name, default in _SCENARIO_DEFAULTS.items()}
    sql["worker_node_t_size"] = (
        "worker_node_t_size" if "worker_node_t_size" in columns else "CAST(NULL AS STRING)")
    sql["project_name"] = "trim(project_name)"
    return sql


def _normalized_sql(d: dict[str, str]) -> dict[str, str]:
    """T-shirt normalization + derived columns over the defaulted
    expressions ``d`` (reference models.py:67-84, estimation.py:601-606)."""
    t_size, mem, cpu = d["worker_node_t_size"], d["worker_node_memory_mb"], d["worker_node_cpu_max"]
    is_vm = f"{d['worker_node_type']} = 'VM' AND {t_size} IS NOT NULL"

    def tshirt(idx: int, otherwise: str) -> str:
        sizes = " ".join(f"WHEN '{size}' THEN {tup[idx]}" for size, tup in VM_TSHIRT_MB_CPU.items())
        return f"CASE {t_size} {sizes} ELSE {otherwise} END"

    return {
        **d,
        "worker_node_memory_mb":
            f"CASE WHEN {is_vm} THEN CAST({tshirt(0, mem)} AS DOUBLE) ELSE {mem} END",
        "worker_node_cpu_max":
            f"CASE WHEN {is_vm} THEN CAST({tshirt(1, cpu)} AS INT) ELSE {cpu} END",
        "total_statements":
            f"CAST(({d['simple_statements']} + {d['medium_statements']} + "
            f"{d['complex_statements']}) * {d['number_flink_applications']} AS BIGINT)",
        "total_throughput_mb_per_sec":
            f"{d['messages_per_second']} * {d['avg_record_size_bytes']} / 1048576.0D",
    }


def _with_sql(df: DataFrame, sql: dict[str, str]) -> DataFrame:
    return df.withColumns({name: F.expr(e) for name, e in sql.items()})


def normalize(df: DataFrame) -> DataFrame:
    """Defaulting + T-shirt normalization + derived columns, all Catalyst
    (reference models.py:67-84, estimation.py:601-606)."""
    return _with_sql(df, _normalized_sql(_default_sql(df.columns)))


def submitted_sql(columns: list[str]) -> str:
    """The submitted scenario row as a struct of the ``scenario_schema``
    fields, before any defaulting (a missing column reads as NULL):
    ``estimate_df``'s ``input_parameters``."""
    return _named_struct({
        f.name: f.name if f.name in columns else f"CAST(NULL AS {f.dataType.simpleString()})"
        for f in scenario_schema.fields
    })


def validation_errors_col() -> Column:
    """Per-row validation-error array (Catalyst mirror of the kernel's
    ``validate_scenario``; empty array == valid row)."""
    checks: list[tuple[Column, str]] = [
        (F.col("project_name").isNull() | (F.trim(F.col("project_name")) == ""),
         "project_name: must be non-blank"),
        (F.length("project_name") > 100, "project_name: longer than 100 characters"),
        (F.col("messages_per_second") <= 0, "messages_per_second: must be > 0"),
        (F.col("avg_record_size_bytes") <= 0, "avg_record_size_bytes: must be > 0"),
        (F.col("number_flink_applications") < 1, "number_flink_applications: must be >= 1"),
        (F.col("num_distinct_keys") < 1, "num_distinct_keys: must be >= 1"),
        (~F.col("data_skew_risk").isin("low", "medium", "high"),
         "data_skew_risk: must be one of low|medium|high"),
        (F.col("bandwidth_capacity_gbps") <= 0, "bandwidth_capacity_gbps: must be > 0"),
        (F.col("expected_latency_seconds") <= 0, "expected_latency_seconds: must be > 0"),
        (F.col("simple_statements") < 0, "simple_statements: must be >= 0"),
        (F.col("medium_statements") < 0, "medium_statements: must be >= 0"),
        (F.col("complex_statements") < 0, "complex_statements: must be >= 0"),
        ((F.col("worker_node_memory_mb") <= 0) | (F.col("worker_node_memory_mb") > 512 * 1024),
         "worker_node_memory_mb: must be in (0, 524288]"),
        ((F.col("worker_node_cpu_max") < 2) | (F.col("worker_node_cpu_max") > 256),
         "worker_node_cpu_max: must be in [2, 256]"),
        (F.col("nb_worker_nodes") < 1, "nb_worker_nodes: must be >= 1"),
        (~F.col("worker_node_type").isin("bare_metal", "VM"),
         "worker_node_type: must be bare_metal|VM"),
        ((F.col("worker_node_type") == "VM") & F.col("worker_node_t_size").isNull(),
         "worker_node_t_size: required when worker_node_type is VM"),
        (F.col("worker_node_t_size").isNotNull() & ~F.col("worker_node_t_size").isin("S", "M", "L"),
         "worker_node_t_size: must be S|M|L"),
    ]
    arr = F.array(*[F.when(cond, F.lit(msg)) for cond, msg in checks])
    return F.array_compact(arr)


def validate(df: DataFrame) -> DataFrame:
    """Attach a ``validation_errors`` array column (error-side channel:
    ``df.filter(F.size('validation_errors') > 0)``)."""
    return df.withColumn("validation_errors", validation_errors_col())


# ---------------------------------------------------------------------------
# The iterative core as an Arrow-batched Pandas UDF
# ---------------------------------------------------------------------------

_KERNEL_FIELDS = [f.name for f in scenario_schema.fields]


def _run_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """Run the pure-Python sizing kernel over one Arrow batch of scenarios."""
    out: list[dict] = []
    for row in pdf.itertuples(index=False):
        kw = dict(zip(pdf.columns, row))
        t_size = kw.get("worker_node_t_size")
        if t_size is not None and not isinstance(t_size, str) and pd.isna(t_size):
            kw["worker_node_t_size"] = None
        s = Scenario(
            project_name=str(kw["project_name"]),
            messages_per_second=int(kw["messages_per_second"]),
            avg_record_size_bytes=int(kw["avg_record_size_bytes"]),
            number_flink_applications=int(kw["number_flink_applications"]),
            num_distinct_keys=int(kw["num_distinct_keys"]),
            data_skew_risk=str(kw["data_skew_risk"]),
            bandwidth_capacity_gbps=int(kw["bandwidth_capacity_gbps"]),
            expected_latency_seconds=float(kw["expected_latency_seconds"]),
            simple_statements=int(kw["simple_statements"]),
            medium_statements=int(kw["medium_statements"]),
            complex_statements=int(kw["complex_statements"]),
            worker_node_memory_mb=float(kw["worker_node_memory_mb"]),
            worker_node_cpu_max=int(kw["worker_node_cpu_max"]),
            nb_worker_nodes=int(kw["nb_worker_nodes"]),
            worker_node_type=str(kw["worker_node_type"]),
            worker_node_t_size=kw["worker_node_t_size"],
        )
        errs = validate_scenario(s)
        if errs:
            rec = {f.name: None for f in _core_schema.fields}
            rec["error"] = "; ".join(errs)
        else:
            # validation sees RAW capacity values (reference order:
            # validate first, then T-shirt normalization — estimation.py
            # rejects out-of-range worker_node_memory_mb even when a VM
            # t-size would overwrite it); normalize only after it passes
            core = sizing_core(normalize_scenario(s))
            rec = {
                "jm_cpu": core.jm_cpu,
                "jm_memory": core.jm_memory,
                "raw_state_process_mb": float(core.raw_state_process_mb),
                "nb_tm_state": core.nb_tm_state,
                "nb_tm_cpu": core.nb_tm_cpu,
                "total_cpu_throughput": core.total_cpu_throughput,
                "nodes_from_cpu": core.nodes_from_cpu,
                "tm_process_memory_mb": core.tm_process_memory_mb,
                "nb_task_managers": core.nb_task_managers,
                "total_cpu_needs": core.total_cpu_needs,
                "total_memory_mb": core.total_memory_mb,
                "node_allocations": core.node_allocations,
                "nb_worker_nodes_final": core.nb_worker_nodes_final,
                "total_nodes": core.total_nodes,
                "error": core.error,
            }
            if core.error is not None:
                rec = {f.name: None for f in _core_schema.fields}
                rec["error"] = core.error
        out.append(rec)
    return pd.DataFrame(out, columns=[f.name for f in _core_schema.fields])


@F.pandas_udf(_core_schema)
def _sizing_core_udf(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        yield _run_kernel(pdf)


# The kernel is deterministic; the flag makes its call an optimizer
# barrier.  Catalyst then neither pushes a filter on the kernel's outputs
# (``error``, a result struct) below the projection that calls it nor
# collapses that projection into its consumers — either would copy the call
# into a second ArrowEvalPython and run the kernel twice per scenario.
_sizing_core_udf = _sizing_core_udf.asNondeterministic()


# ---------------------------------------------------------------------------
# Scaling recommendations + assembly (Catalyst)
# ---------------------------------------------------------------------------


def _scaling_sql(tm_cpus: str) -> dict[str, str]:
    """Skew/latency parallelism bands + checkpoint interval as SQL
    expressions (estimation.py:500-553; ``processing_load`` folded at 1)."""
    keys, lat = "num_distinct_keys", "expected_latency_seconds"
    high, medium = "data_skew_risk = 'high'", "data_skew_risk = 'medium'"
    half = f"CAST(FLOOR({tm_cpus} / 2) AS BIGINT)"
    min_par = (f"CASE WHEN {high} THEN greatest(1L, CAST(FLOOR({tm_cpus} / 3) AS BIGINT)) "
               f"ELSE greatest(1L, {half}) END")
    rec_par = (
        f"CASE WHEN {high} THEN greatest({half}, least(CAST(FLOOR({keys} / 1000) AS BIGINT), {tm_cpus})) "
        f"WHEN {medium} THEN least({tm_cpus}, greatest({half}, CAST(FLOOR({keys} / 2000) AS BIGINT))) "
        f"ELSE {tm_cpus} END"
    )
    max_par = f"CASE WHEN {high} THEN {tm_cpus} ELSE CAST({tm_cpus} * 2 AS BIGINT) END"
    base_ckpt = f"CASE WHEN {high} THEN 16000 WHEN {medium} THEN 11000 ELSE 9000 END"
    ckpt = (
        f"CASE WHEN {lat} <= 0.5D THEN least({base_ckpt}, 5000) "
        f"WHEN {lat} <= 1.0D THEN least({base_ckpt}, 10000) "
        f"WHEN {lat} <= 5.0D THEN least({base_ckpt}, 20000) "
        f"ELSE {base_ckpt} END"
    )
    boost = f"greatest(1L, CAST(FLOOR(2.0D / {lat}) AS BIGINT))"
    return {
        "min_parallelism": min_par,
        "recommended_parallelism":
            f"CASE WHEN {lat} <= 1.0D THEN least({max_par}, ({rec_par}) * {boost}) ELSE {rec_par} END",
        "max_parallelism": max_par,
        "checkpointing_interval_ms": f"CAST({ckpt} AS BIGINT)",
    }


def estimate_df(df: DataFrame) -> DataFrame:
    """Estimate every scenario row; returns the nested ``EstimationResult``
    struct columns, an ``error`` string column (null == success), the
    ``scenario_id`` of the submitted row (sha2 of its JSON; its first 8 hex
    digits are the saved envelope's estimation id) and the submitted row
    itself as ``input_parameters`` (``submitted_sql``), so a result carries
    everything its saved envelope holds.

    Input: any DataFrame with the ``scenario_schema`` columns (missing
    nullable values are defaulted, as the reference's Pydantic layer does).
    Filter scenarios *before* calling this: a filter applied to the result
    stops above the kernel (see the module docstring).
    """
    d = _default_sql(df.columns)
    # the kernel sees the RAW (defaulted, pre-T-shirt) capacity values: it
    # validates exactly like the reference, then normalizes internally
    kernel = _sizing_core_udf(F.expr(_named_struct({n: d[n] for n in _KERNEL_FIELDS})))
    staged = df.select(
        *[F.expr(f"{e} AS {n}") for n, e in _normalized_sql(d).items()],
        F.expr(f"{submitted_sql(df.columns)} AS input_parameters"),
        kernel.alias("core"),
    )

    n_tm = "core.nb_task_managers"
    tm_total_mem = f"CAST(CEIL({n_tm} * core.tm_process_memory_mb) AS BIGINT)"
    tm_cpus = "CAST(CEIL(core.total_cpu_needs - core.jm_cpu) AS BIGINT)"
    sections = {
        "input_summary": {
            "messages_per_second": "messages_per_second",
            "avg_record_size_bytes": "avg_record_size_bytes",
            "total_throughput_mb_per_sec": "bround(total_throughput_mb_per_sec, 2)",
            "num_distinct_keys": "num_distinct_keys",
            "data_skew_risk": "data_skew_risk",
            "bandwidth_capacity_mbps": "CAST(round(bandwidth_capacity_gbps * 1000) AS BIGINT)",
            "expected_latency_seconds": "expected_latency_seconds",
            "simple_statements": "simple_statements",
            "medium_statements": "medium_statements",
            "complex_statements": "complex_statements",
            "total_statements": "total_statements",
            "worker_node_memory_capacity_mb": "worker_node_memory_mb",
            "worker_node_cpu_capacity": "worker_node_cpu_max",
            "nb_worker_nodes": "core.nb_worker_nodes_final",
            "worker_node_t_size": "worker_node_t_size",
        },
        "resource_estimates": {
            "total_memory_mb": "core.total_memory_mb",
            "total_cpus": "core.total_cpu_needs",
            "total_worker_node_needed": "core.total_nodes",
            "processing_load_score": "1.0D",
        },
        "cluster_recommendations": {
            "jobmanager": _named_struct({
                "count": "1",
                "memory_mb": "core.jm_memory",
                "total_cpus": "CAST(core.jm_cpu AS DOUBLE)",
            }),
            "taskmanagers": _named_struct({
                "count": n_tm,
                "total_memory_mb": tm_total_mem,
                "total_cpus": tm_cpus,
                "memory_mb_each":
                    f"CASE WHEN {n_tm} > 0 THEN bround({tm_total_mem} / {n_tm}, 0) ELSE 0.0D END",
            }),
        },
        "scaling_recommendations": _scaling_sql(tm_cpus),
        "capacity_analysis": {
            "total_flink_statements": "CAST(total_statements * number_flink_applications AS BIGINT)",
            "total_flink_applications": "number_flink_applications",
        },
    }
    return staged.selectExpr(
        "project_name",
        *[f"CASE WHEN core.error IS NULL THEN {_named_struct(fields)} END AS {name}"
          for name, fields in sections.items()],
        "core.error AS error",
        "sha2(to_json(input_parameters), 256) AS scenario_id",
        "input_parameters",
    )
