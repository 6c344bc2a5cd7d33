"""Streaming sources.

Production posture is Kafka; for local verification the same event schema is
served from parquet files via ``readStream`` (micro-batched identically).
Everything downstream is source-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.tables import _parquet_schema


def events_stream(spark: SparkSession, directory: str) -> DataFrame:
    """File-based event stream with the fixture's schema.

    ``readStream`` needs an explicit schema that matches the files' physical
    encoding, and the fixture generator has shipped ``ts`` as TIMESTAMP(NANOS)
    (→ long under ``nanosAsLong``) in one round and TIMESTAMP(MICROS, ntz) in
    another — so take the batch reader's inferred schema and normalize the
    same way ``sources.tables.read_table`` does.  Everything downstream sees
    session-zoned TimestampType.

    The inference reads only parquet footers, but it is a Spark job.  It
    comes from ``read_table``'s schema memo, which keys on the files'
    identity through symlinks, so a fresh stream directory that symlinks an
    already-inferred fixture launches no job."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    physical = _parquet_schema(spark, directory)
    raw = (
        spark.readStream.schema(physical)
        .option("maxFilesPerTrigger", 1)
        .parquet(directory)
    )
    ts_type = physical["ts"].dataType
    if isinstance(ts_type, T.LongType):  # nanos-as-long
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def documents_stream(spark: SparkSession, directory: str) -> DataFrame:
    """File-based document stream (the arriving-crawl shape): same schema as
    the ``documents`` fixture table, micro-batched one file per trigger so a
    multi-file directory exercises real incremental arrival.  The schema
    comes from the same memo as ``events_stream``'s."""
    physical = _parquet_schema(spark, directory)
    return (
        spark.readStream.schema(physical)
        .option("maxFilesPerTrigger", 1)
        .parquet(directory)
    )

