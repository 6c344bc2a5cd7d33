"""Central query registry — the declared operator inventory.

Every Plane-B operator/query registers here with (a) a Spark DataFrame
builder and (b) where SQL-expressible, an equivalent ANSI-SQL oracle that
DuckDB runs on the same parquet tables.  ``__spark_entry__.py`` exposes the
registry to the driver's correctness gate.

Determinism rules for every registered query (FIXTURES.md §C):
* stable ORDER BY on a unique key suffix;
* no wall-clock / uuid / rand;
* every computed column aliased identically in the Spark plan and the oracle;
* double-typed aggregates computed over DECIMAL then cast back to DOUBLE so
  both engines produce bit-identical sums regardless of accumulation order;
* no raw timestamp outputs (cast to epoch BIGINT or ISO string) to sidestep
  timezone/precision representation differences.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # DuckDB SQL, or None for rows-only checks
    description: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, oracle: Optional[str] = None, description: str = "",
          tags: tuple[str, ...] = ()):  # decorator
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = QuerySpec(name=name, builder=fn, oracle=oracle,
                                  description=description or (fn.__doc__ or "").strip(),
                                  tags=tags)
        return fn

    return deco


# The driver's correctness gate processes `queries()` in dict order and caps
# at ~50 rows per round, so ordering decides who gets a hard correctness
# signal.  Each round leaves its rows in a repo-root CORRECTNESS_r{N}.json.
_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


@functools.cache
def _evidence_round() -> dict[str, int]:
    """The latest driver round with a green row, per registered query.

    An oracle'd row is green when rows, schema and hash all match with no
    error; a rows-only row (``err == "no_oracle"``) is green once it
    recorded ``spark_rows``.  A failing row in a later round keeps the
    earlier evidence.  Read on first use, after every ``@query`` has
    registered.
    """
    evidence: dict[str, int] = {}
    for path in glob.glob(os.path.join(_REPO_ROOT, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                records = json.load(f)
        except (OSError, ValueError) as e:
            raise RuntimeError(f"unreadable driver record {path}: {e}") from e
        for name, rec in records.items():
            if rec.get("err") == "no_oracle":
                green = rec.get("spark_rows") is not None
            else:
                green = (
                    rec.get("rows_match") is True
                    and rec.get("schema_match") is True
                    and rec.get("hash_match") is True
                    and not rec.get("err")
                )
            if green and name in QUERIES and rnd > evidence.get(name, 0):
                evidence[name] = rnd
    return evidence


def _gate_order() -> list[str]:
    """Never-gated queries first, then the rest oldest-evidence-first.

    The front sorts oracle'd before rows-only (a rows-only entry can only
    ever record a row count), so every capped slot verifies a
    value-checkable query first.  The tail sorts ascending on each query's
    evidence round, so the spare slots re-check the stalest evidence and
    bound every query's evidence age.
    """
    evidence = _evidence_round()
    ungated = sorted(
        (n for n in QUERIES if n not in evidence),
        key=lambda n: (QUERIES[n].oracle is None, n),
    )
    return ungated + sorted(evidence, key=lambda n: (evidence[n], n))


def get_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: QUERIES[name].builder for name in _gate_order()}


def get_oracle_sql() -> dict[str, str]:
    return {
        name: QUERIES[name].oracle
        for name in _gate_order()
        if QUERIES[name].oracle
    }
