"""Structured-Streaming surface.

The reference is request/response + batch (no streaming operators —
SURVEY §2.9); the rebuilt engine exposes the standard streaming recast
of its windowed aggregations so the same logical query runs over a
stream: readStream → watermark → tumbling-window agg → sink. Used by
tests with a parquet source + memory sink (processAllAvailable drives
the batch to completion synchronously).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def streaming_hourly_event_counts(
    spark: SparkSession, events_dir: str, schema
) -> DataFrame:
    """Streaming twin of q19_hourly_event_counts: tumbling 1-hour window
    counts per event_type with a 1-hour watermark for late data."""
    events = spark.readStream.schema(schema).parquet(events_dir)
    # watermarks require TIMESTAMP (LTZ); the parquet column is NTZ —
    # session TZ is pinned UTC so the cast is a no-op on the wall clock
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def run_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "append"
) -> None:
    """Drive the streaming query over all currently-available input and
    stop. ``append`` emits watermark-finalized rows only; ``complete``
    re-emits the full aggregation state each trigger — on a bounded
    input that makes a windowed agg equal its batch twin exactly (the
    driver-gate parity mode, st02)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()


def streaming_exact_dedup(
    spark: SparkSession, docs_dir: str, schema, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup (dd01's streaming twin): emit each distinct
    content hash once within the watermark horizon via
    dropDuplicatesWithinWatermark — the state-store-backed analogue of
    the batch hash-groupBy; state for a hash is dropped once the
    watermark passes it, bounding memory on an unbounded stream."""
    docs = spark.readStream.schema(schema).parquet(docs_dir)
    docs = docs.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        docs.withColumn("text_md5", F.md5(F.coalesce(F.col("text"), F.lit(""))))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["text_md5"])
        .select("doc_id", "text_md5", "ts")
    )

