"""Parquet table sources for the Plane-B operator surface.

The driver generates a TPC-H-ish star schema plus an event stream and the
LLM-pipeline tables (documents, embeddings) at several scale factors
(TESTDATA.md).  All reads go through ``spark.read.parquet`` so Catalyst gets
predicate pushdown, column pruning and partition pruning for free.

Schema memo.  A parquet read without a schema makes Spark infer one, and
that inference is a Spark job (``mergeSchemasInParallel``) on every call,
even for an unchanged single file.  ``_parquet_schema`` keeps the inferred
``StructType`` and reruns the inference only when its key changes.  The key
has two parts:

* every file under the path (the file itself, or a recursive listing that
  follows symlinks): relative name, ``realpath``, ``st_dev``, ``st_ino``,
  ``st_size``, ``st_mtime_ns`` and ``st_ctime_ns``.  A file rewritten in
  place, replaced, added or removed changes it; a fresh symlink to the same
  file does not;
* the session's values of the confs that steer the parquet-to-Catalyst
  schema conversion: ``spark.sql.legacy.parquet.nanosAsLong``, every
  ``spark.sql.parquet.*`` and ``spark.sql.caseSensitive``.

A path the local filesystem cannot stat (an ``s3a://`` URI, say) is inferred
on every call, so a stale schema cannot be served.  The memo holds only
entries whose files are still there unchanged: a miss drops the others.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables that are always small relative to the facts; join sides we
# actively broadcast where Catalyst's size estimate might not (at 100 TB the
# facts are lineitem/orders/events — these stay broadcastable).
DIMENSIONS = ("region", "nation", "supplier", "part")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every table of one scale factor as a dict of DataFrames."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = read_table(spark, path)
    return out


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read one parquet table, normalizing the timestamp column's encoding.

    The read passes the schema from ``_parquet_schema`` (see the module
    docstring), so a table whose files and schema confs are unchanged since
    an earlier read launches no inference job; only a changed or unstattable
    path is inferred again.

    The fixture generator has shipped ``ts`` as parquet TIMESTAMP(NANOS) in
    one round and TIMESTAMP(MICROS, isAdjustedToUTC=false) in another, so
    this reader accepts all three encodings and lands every one on Spark's
    session-zoned microsecond TimestampType (session tz is pinned UTC, so
    wall-clock values match DuckDB's naive TIMESTAMP reads bit-for-bit):

    * TIMESTAMP(NANOS) — Spark 4 refuses it unless read as a nanos long
      (see session.py's ``nanosAsLong``); converted here by integer div.
    * TIMESTAMP_NTZ — parquet micros with isAdjustedToUTC=false; cast to
      TimestampType reinterprets the wall clock in UTC, lossless, and keeps
      ``unix_micros`` / ``window()`` / ``session_window`` applicable.
    * TimestampType — already native, untouched.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = _parquet_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    for field in schema.fields:
        if field.name != "ts":
            continue
        if isinstance(field.dataType, T.LongType):
            # integer division — float division would lose precision at 1e18 ns
            df = df.withColumn(
                field.name, F.timestamp_micros(F.expr(f"{field.name} div 1000"))
            )
        elif isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


# Session confs that steer how a parquet footer becomes a Catalyst schema.
_SCHEMA_CONFS = ("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.caseSensitive")
_SCHEMA_CONF_PREFIX = "spark.sql.parquet."

# (file key, conf key) -> inferred schema
_schemas: dict[tuple, T.StructType] = {}


def _parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The schema ``spark.read.parquet(path)`` infers, from the memo when
    its key (module docstring) is unchanged.  The inference runs only on a
    miss or for a path the local filesystem cannot stat; an entry is stored
    only if the files did not change while Spark read them."""
    files = _file_key(path)
    if files is None:
        return spark.read.parquet(path).schema
    key = (files, _conf_key(spark))
    schema = _schemas.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        if _file_key(path) == files:
            for stale in [k for k in _schemas if not _unchanged(k[0])]:
                del _schemas[stale]
            _schemas[key] = schema
    return schema


def _identity(st: os.stat_result) -> tuple:
    return st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns


def _file_key(path: str) -> tuple | None:
    """(relative name, realpath, identity) of every file under ``path``,
    sorted; None when the local filesystem cannot stat the path or it holds
    no file."""

    def fail(err: OSError):
        raise err

    try:
        if os.path.isdir(path):
            files = sorted(
                (os.path.relpath(os.path.join(d, f), path), os.path.join(d, f))
                for d, _, names in os.walk(path, onerror=fail, followlinks=True)
                for f in names
            )
        else:
            files = [("", path)]
        key = tuple(
            (rel, os.path.realpath(full), _identity(os.stat(full)))
            for rel, full in files
        )
    except OSError:
        return None
    return key or None


def _unchanged(files: tuple) -> bool:
    """Whether every file of a memo key is still there, unchanged."""
    try:
        return all(_identity(os.stat(real)) == ident for _, real, ident in files)
    except OSError:
        return False


def _conf_key(spark: SparkSession) -> tuple:
    """The session's schema confs as sorted (key, value) pairs.  The names
    cross py4j as one string and only the matching values are fetched:
    ``spark.conf.getAll`` pays a round trip per entry (~30 ms for 32 set
    confs, more than the rest of a read)."""
    names = spark._jsparkSession.conf().getAll().keys().mkString("\n")
    return tuple(sorted(
        (k, spark.conf.get(k)) for k in names.split("\n")
        if k in _SCHEMA_CONFS or k.startswith(_SCHEMA_CONF_PREFIX)
    ))


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load and register each table as a temp view (for the SQL surface)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
