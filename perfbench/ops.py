"""Workloads and the ops they run.

An op is one closed-loop call from the benchmark's single client: the
builder call (``QuerySpec.builder``, or the estimator functions for Plane A)
plus a ``write.format("noop")`` of the DataFrame it returns, so the full
result is computed and nothing is collected.  Correctness is checked
outside the timed window, on a collected run of each op.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil

from spans import BUILDER, NoTracer, files

PLANE_A = "plane_a"
# workload -> the registered query families whose samples it runs.  A run
# pays ~25 s of JVM start, fixture warm-up and checks, so one workload runs
# a small sample of all three Plane B families rather than one per family.
WORKLOADS = {
    "plane_b": ("batch_sql", "llm_ops", "stream_gates"),
    PLANE_A: (),
}

# Plane A batch sizes (scenarios per op).  The persist op runs the kernel
# twice and writes and reads every envelope as JSON; on 4 cores it takes ~5 s
# even at 500 envelopes, most of it with tasks waiting on Python workers, so
# its batch is kept small to hold a pass of both ops under ~10 s.
ESTIMATE_BATCH = 4000
PERSIST_BATCH = 500
CHECK_SAMPLE = 40  # scenarios compared against the scalar estimate_scenario
# Scenarios whose keyed state (keys x record size x applications) exceeds
# 100 GiB size thousands of nodes, and the scalar kernel's greedy packing
# then takes seconds for that one row: in random_scenarios 1% of rows hold
# 92% of kernel time, so whichever seed drew them would set the op's time.
# They are left out of the draw.
STATE_CAP_BYTES = 100 * 2**30


def draw_scenarios(n: int, seed: int) -> list[dict]:
    from tests.scenarios import random_scenarios

    pool = random_scenarios(2 * n, seed=seed)
    kept = [kw for kw in pool if kw["num_distinct_keys"] * kw["avg_record_size_bytes"]
            * kw["number_flink_applications"] <= STATE_CAP_BYTES]
    return kept[:n]


SAVED_AT = "2026-01-01 00:00:00"
SECTIONS = ("input_summary", "resource_estimates", "cluster_recommendations",
            "scaling_recommendations", "capacity_analysis")

# span layers whose jobs are the op's action (its time-to-full-result after
# the builder returned)
ACTION_LAYERS = ("exec.action", "estimator.persist_write", "estimator.persist_read")


def family_of(tags) -> str:
    """The family a registered query belongs to.  A query tagged both
    ``streaming`` and ``llm`` is a streaming gate."""
    if "streaming" in tags:
        return "stream_gates"
    if "llm" in tags:
        return "llm_ops"
    return "batch_sql"


def family(name: str) -> list[str]:
    from flink_estimator_spark.plans import QUERIES

    return sorted(n for n, s in QUERIES.items() if family_of(s.tags) == name)


def digest(rows, cols) -> dict:
    """Row count plus an order-insensitive hash of the rows.  Columns are
    taken in name order; floats by ``repr`` so any last-digit drift shows."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])

    def key(row):
        out = []
        for i in idx:
            v = row[i]
            if isinstance(v, float):
                out.append(("f", repr(v)))
            elif v is None:
                out.append(("n", ""))
            else:
                out.append(("x", str(v)))
        return tuple(out)

    canon = sorted(key(r) for r in rows)
    return {"rows": len(rows),
            "hash": hashlib.sha256(repr(canon).encode()).hexdigest()[:16]}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class QueryOps:
    """Plane B: each op is one registered query."""

    def __init__(self, spark, sf_dir: str, names: list[str], expected: dict):
        from flink_estimator_spark.plans import QUERIES

        self.spark = spark
        self.sf_dir = sf_dir
        self.specs = {n: QUERIES[n] for n in names}
        self.expected = expected

    def run(self, tracer, i: int, name: str) -> None:
        with tracer.span("op", i, name):
            with tracer.span(BUILDER, i, name):
                df = self.specs[name].builder(self.spark, self.sf_dir)
            with tracer.span("exec.action", i, name):
                noop(df)

    def check(self, name: str) -> str | None:
        """Collect the op's result and compare its digest; None if it matches."""
        df = self.specs[name].builder(self.spark, self.sf_dir)
        got = digest([tuple(r) for r in df.collect()], df.columns)
        want = self.expected[name]
        if got != want:
            return f"{name}: digest {got} != expected {want}"
        return None


def _flatten(d: dict, out: dict, prefix: str = "") -> dict:
    for k, v in d.items():
        if isinstance(v, dict):
            _flatten(v, out, f"{prefix}{k}.")
        else:
            out[prefix + k] = v
    return out


def _same_estimate(name: str, got: dict, exp: dict) -> str | None:
    """Field-by-field equality of one engine row against the scalar
    kernel's dict, ints and floats compared by value."""
    if exp.get("error"):
        return None if got.get("error") else f"{name}: expected an error"
    if got.get("error"):
        return f"{name}: unexpected error {got['error']}"
    for section in SECTIONS:
        e = _flatten(exp[section], {})
        g = _flatten(got[section], {})
        if set(e) != set(g):
            return f"{name}.{section}: field sets differ"
        for k, v in e.items():
            if g[k] != v:
                return f"{name}.{section}.{k}: {g[k]!r} != {v!r}"
    return None


class PlaneAOps:
    """Plane A: seeded scenario rows through the estimator.

    * ``estimate`` -- ``estimate_df`` of ESTIMATE_BATCH scenarios to a noop sink.
    * ``persist``  -- ``envelope_df`` + ``save_estimations_df`` (JSON write)
      then ``load_saved_df`` read back to a noop sink, PERSIST_BATCH scenarios.
    """

    names = ["estimate", "persist"]
    batch = {"estimate": ESTIMATE_BATCH, "persist": PERSIST_BATCH}

    def __init__(self, spark, seed: int, partitions: int, work_dir: str):
        from flink_estimator_spark.estimator import Scenario, scenario_schema

        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.cases = draw_scenarios(ESTIMATE_BATCH, seed)
        rows = []
        for kw in self.cases:
            s = Scenario(**kw)
            rows.append(tuple(getattr(s, f.name) for f in scenario_schema.fields))
        self.inputs = {
            "estimate": spark.createDataFrame(rows, scenario_schema).repartition(partitions),
            "persist": spark.createDataFrame(rows[:PERSIST_BATCH], scenario_schema)
            .repartition(partitions),
        }
        self.persist_bytes: list[int] = []
        # work items per op, for the throughput report: scenarios estimated,
        # and envelopes (valid scenarios) written and read back
        self.items = {"estimate": ESTIMATE_BATCH, "persist": PERSIST_BATCH}

    def run(self, tracer, i: int, name: str) -> None:
        from flink_estimator_spark.estimator import estimate_df

        with tracer.span("op", i, name):
            if name == "estimate":
                with tracer.span(BUILDER, i, name):
                    df = estimate_df(self.inputs[name])
                with tracer.span("exec.action", i, name):
                    noop(df)
                return
            out_dir = os.path.join(self.work_dir, f"persist-{i}")
            try:
                self._persist(tracer, i, out_dir)
                self.persist_bytes.append(sum(files(out_dir).values()))
            finally:
                shutil.rmtree(out_dir, ignore_errors=True)

    def _persist(self, tracer, i: int, out_dir: str):
        """Write the envelopes, read them back to a noop sink; returns the
        envelope schema the files were written with."""
        from flink_estimator_spark.estimator import estimate_df
        from flink_estimator_spark.estimator.persistence import (
            envelope_df, load_saved_df, save_estimations_df)

        inputs = self.inputs["persist"]
        with tracer.span(BUILDER, i, "persist"):
            env = envelope_df(inputs, estimate_df(inputs), SAVED_AT)
        with tracer.span("estimator.persist_write", i, "persist"):
            save_estimations_df(env, out_dir)
        with tracer.span("estimator.persist_read", i, "persist"):
            noop(load_saved_df(self.spark, out_dir, schema=env.schema))
        return env.schema

    def check(self, name: str) -> str | None:
        """Run the op once in full, then compare its row count and a seeded
        sample of its rows against the scalar ``estimate_scenario``."""
        from pyspark.sql import functions as F

        from flink_estimator_spark.estimator import Scenario, estimate_df, estimate_scenario
        from flink_estimator_spark.estimator.persistence import load_saved_df

        n = self.batch[name]
        cases = self.cases[:n]
        sample = random.Random(self.seed).sample(range(n), min(CHECK_SAMPLE, n))
        expected = {cases[j]["project_name"].strip(): estimate_scenario(Scenario(**cases[j]))
                    for j in sample}
        inputs = self.inputs[name]
        if name == "estimate":
            self.run(NoTracer(), -1, name)
            rows = estimate_df(inputs).count()
            if rows != n:
                return f"estimate: {rows} result rows for {n} scenarios"
            picked = inputs.filter(F.col("project_name").isin(list(expected)))
            got = {r["project_name"]: r.asDict(recursive=True)
                   for r in estimate_df(picked).collect()}
        else:
            out_dir = os.path.join(self.work_dir, "persist-check")
            try:
                schema = self._persist(NoTracer(), -1, out_dir)
                loaded = load_saved_df(self.spark, out_dir, schema=schema)
                rows = loaded.count()
                picked = loaded.filter(F.col("metadata.project_name").isin(list(expected)))
                got = {r["metadata"]["project_name"]: r["estimation_results"].asDict(recursive=True)
                       for r in picked.collect()}
            finally:
                shutil.rmtree(out_dir, ignore_errors=True)
            valid = sum(1 for kw in cases if not estimate_scenario(Scenario(**kw)).get("error"))
            if rows != valid:
                return f"persist: {rows} envelopes read back for {valid} valid scenarios"
            self.items["persist"] = valid
            # only valid scenarios are saved: an expected error must be absent
            for name_, exp in expected.items():
                if exp.get("error") and name_ in got:
                    return f"persist: {name_} saved although it fails validation"
            expected = {k: v for k, v in expected.items() if not v.get("error")}
        for name_, exp in expected.items():
            if name_ not in got:
                return f"{name}: no result row for {name_}"
            err = _same_estimate(name_, got[name_], exp)
            if err:
                return f"{name}: {err}"
        return None
