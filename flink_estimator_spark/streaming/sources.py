"""Streaming sources.

Production posture is Kafka; for local verification the same event schema is
served from parquet files via ``readStream`` (micro-batched identically) or
the synthetic ``rate`` source.  Everything downstream is source-agnostic.
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


def rate_stream(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Synthetic rate source shaped like the events table (for soak tests)."""
    r = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    return r.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 1000).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("signup"), F.lit("purchase"), F.lit("error")),
            (F.col("value") % 5 + 1).cast("int"),
        ).alias("event_type"),
        (F.col("value") % 100).cast("double").alias("value"),
        F.to_json(F.struct((F.col("value") % 100).alias("k"))).alias("props"),
    )
