"""Persistence of estimation runs (reference: estimation.py:611-656 save,
main.py:388-520 list/load/delete).

Two write paths:

* ``save_estimations_df`` — the engine path: a whole results DataFrame is
  written as JSON-lines envelopes in one distributed write (no collect).
  ``envelope_df`` shapes each valid ``estimate_df`` row into an envelope
  in one projection: the row carries its own submitted scenario
  (``input_parameters``) and its ``scenario_id`` (sha2 of that row), so
  no input is scanned again and nothing is joined.  The estimation id is
  the id's first 8 hex digits, so re-running the same scenarios produces
  identical ids — the deterministic analogue of the reference's uuid4
  prefix.
* ``save_estimation`` — single-record convenience mirroring the reference's
  filename contract ``{sanitized_project}_{ts}_{id}.json`` (A19's sanitizer:
  keep alnum/space/dash/underscore, strip, spaces -> underscores).

Read-back keeps the reference's round-trip property: what was written is
re-read against the declared envelope schema (write-schema == read-schema).
"""

from __future__ import annotations

import json
import os
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

VERSION = "1.0"
_FORBIDDEN = ("..", "/", "\\")


def _sanitize_project(name: str) -> str:
    safe = "".join(c for c in name if c.isalnum() or c in (" ", "-", "_")).rstrip()
    return safe.replace(" ", "_")


def envelope_df(inputs: DataFrame, results: DataFrame, saved_at: str) -> DataFrame:
    """SavedEstimation envelopes, one row per distinct valid scenario.
    ``saved_at`` is supplied by the caller — never wall clock inside the
    plan — so writes are reproducible.

    ``results`` is ``estimate_df`` of the scenarios to save.  Each result
    row already carries the row it was estimated from (``input_parameters``),
    so scenarios that share a name, or differ only in fields the result does
    not echo, never swap results, and an invalid input is never saved with a
    valid twin's result.  ``inputs`` is not read: it stays in the signature
    for existing callers."""
    return (
        results.filter("error IS NULL")
        .withColumn("saved_at", F.lit(saved_at))
        .selectExpr(
            "named_struct('estimation_id', substring(scenario_id, 1, 8), 'timestamp', saved_at,"
            " 'project_name', input_parameters.project_name, 'saved_at', saved_at) AS metadata",
            "input_parameters",
            "named_struct('input_summary', input_summary, 'resource_estimates', resource_estimates,"
            " 'cluster_recommendations', cluster_recommendations,"
            " 'scaling_recommendations', scaling_recommendations,"
            " 'capacity_analysis', capacity_analysis) AS estimation_results",
            f"'{VERSION}' AS version",
        )
        # byte-identical duplicate scenarios share one envelope
        .dropDuplicates()
    )


def save_estimations_df(envelopes: DataFrame, directory: str) -> None:
    """Distributed JSON-lines write of envelope rows."""
    envelopes.write.mode("append").json(directory)


def save_estimation(input_row: dict, result: dict, directory: str,
                    now: datetime | None = None) -> str:
    """Single-envelope file with the reference's filename contract."""
    os.makedirs(directory, exist_ok=True)
    now = now or datetime.now()
    blob = json.dumps(input_row, sort_keys=True, default=str)
    import hashlib

    estimation_id = hashlib.sha256(blob.encode()).hexdigest()[:8]
    meta = {
        "estimation_id": estimation_id,
        "timestamp": now.isoformat(),
        "project_name": input_row.get("project_name", ""),
        "saved_at": now.strftime("%Y-%m-%d %H:%M:%S"),
    }
    envelope = {
        "metadata": meta,
        "input_parameters": input_row,
        "estimation_results": result,
        "version": VERSION,
    }
    fname = f"{_sanitize_project(meta['project_name'])}_{now.strftime('%Y%m%d_%H%M%S')}_{estimation_id}.json"
    with open(os.path.join(directory, fname), "w", encoding="utf-8") as f:
        json.dump(envelope, f, indent=2, default=str)
    return fname


def list_saved(directory: str) -> list[dict]:
    """Directory-of-JSON-files as a table, newest first (A20 semantics)."""
    out = []
    if not os.path.isdir(directory):
        return out
    for entry in os.scandir(directory):
        if not entry.name.endswith(".json"):
            continue
        item = {
            "filename": entry.name,
            "size_bytes": entry.stat().st_size,
            "modified_time": entry.stat().st_mtime,
            "project_name": None,
            "saved_at": None,
        }
        try:
            with open(entry.path, encoding="utf-8") as f:
                meta = json.load(f).get("metadata", {})
            item["project_name"] = meta.get("project_name")
            item["saved_at"] = meta.get("saved_at")
        except (OSError, json.JSONDecodeError):
            pass
        out.append(item)
    return sorted(out, key=lambda d: d["modified_time"], reverse=True)


def load_saved_df(spark: SparkSession, directory: str, schema=None) -> DataFrame:
    """Schema-validated read of saved envelopes (write-schema==read-schema:
    pass the schema captured at write time, or let Spark infer and validate
    the version column)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.json(directory)
    return df.filter(F.col("version") == VERSION)


def delete_saved(directory: str, filename: str) -> bool:
    """Path-traversal-guarded delete (A22: reject '..', '/', '\\\\')."""
    if any(tok in filename for tok in _FORBIDDEN) or not filename.endswith(".json"):
        raise ValueError(f"invalid filename: {filename!r}")
    path = os.path.join(directory, filename)
    if not os.path.isfile(path):
        return False
    os.remove(path)
    return True


def coerce_form_params(params: dict) -> dict:
    """Form/query-param coercion (A23): typed casts, GB->MB, t-size
    normalization (blank -> None, lower-case s/m/l -> upper)."""
    out = dict(params)
    if "worker_node_memory_gb" in out and out.get("worker_node_memory_gb") is not None:
        out["worker_node_memory_mb"] = float(out.pop("worker_node_memory_gb")) * 1024
    ts = out.get("worker_node_t_size")
    if ts is not None:
        ts = str(ts).strip().upper()
        out["worker_node_t_size"] = ts if ts in ("S", "M", "L") else None
    int_fields = (
        "messages_per_second", "avg_record_size_bytes", "number_flink_applications",
        "num_distinct_keys", "bandwidth_capacity_gbps", "simple_statements",
        "medium_statements", "complex_statements", "worker_node_cpu_max",
        "nb_worker_nodes",
    )
    for k in int_fields:
        if k in out and out[k] is not None and not isinstance(out[k], int):
            out[k] = int(str(out[k]).strip())
    for k in ("expected_latency_seconds", "worker_node_memory_mb"):
        if k in out and out[k] is not None and not isinstance(out[k], float):
            out[k] = float(str(out[k]).strip())
    return out
