"""Structured Streaming over the events table.

The reference is strictly batch request/response (SURVEY.md §2.2: no streaming
of any kind); this module is north-star scope. The streaming plans intentionally
mirror the batch queries in :mod:`parqueryd_spark.queries.events` — same window
specs, same aggregates — so batch/stream parity is a testable property
(tests/test_streaming.py runs the stream with an availableNow trigger and
compares against the batch result).

Scale posture: file-source streaming with ``maxFilesPerTrigger`` backpressure;
watermarks bound state (late events beyond the watermark are dropped — state
size is O(open windows x keys), not O(stream length)); session windows use the
native ``session_window`` operator whose state merges adjacent sessions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parqueryd_spark.sources.parquet import read_resolved

# The events table's logical schema (TESTDATA.md) — the start-up fallback when
# the stream directory has no files to probe yet (start-stream-then-land-files).
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
    schema: T.StructType | None = None,
) -> DataFrame:
    """readStream over a directory of events parquet files. A single-file path
    is accepted too (streamed from its parent dir with a glob filter — the file
    source itself requires a directory).

    The file source needs an explicit schema, and the ``ts`` physical type has
    varied across testdata generations (TIMESTAMP(NANOS) => long under
    ``nanosAsLong``, TIMESTAMP(MICROS) => timestamp_ntz, or plain timestamp), so
    probe the footer with a one-off batch read and normalize ``ts`` to plain
    TIMESTAMP the same way :func:`parqueryd_spark.sources.parquet.load_table`
    does — batch/stream parity starts with an identical ``ts``. A directory
    that is EMPTY at start-up (the start-stream-then-land-files pattern) can't
    be probed; it falls back to ``EVENTS_SCHEMA``, or pass ``schema``
    explicitly for non-events layouts.
    """
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if schema is None:
        try:
            schema = read_resolved(spark, [path]).schema
        except Exception:  # no files yet: 'unable to infer schema' at probe
            schema = EVENTS_SCHEMA
    ts_type = schema["ts"].dataType
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    df = reader.parquet(path)
    if isinstance(ts_type, T.LongType):
        # nanos-as-long: exact integer div to micros (a double would lose
        # precision at 1e18)
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        # UTC session zone preserves wall-clock values through the cast
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def stream_tumbling_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1h window x event_type with watermark-bounded state — the
    streaming twin of queries.events.events_tumbling_window."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("event_id").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def stream_sliding_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Sliding (1h, 30m) window counts — twin of events_sliding_window."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("event_id").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
    )


def stream_session_windows(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Native session windows (30-min inactivity gap) per user; state merges
    adjacent sessions as events arrive."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("event_id").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def stream_stream_join(
    purchases: DataFrame,
    clicks: DataFrame,
    window_seconds: int = 3600,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: each purchase joined to clicks by the same
    user within the preceding ``window_seconds``. Both sides carry watermarks
    plus the time-range join condition, which lets Spark expire join state —
    the requirement for unbounded-stream joins."""
    p = purchases.withWatermark("ts", watermark).select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    cond = (
        (p.user_id == c.c_user_id)
        & (c.click_ts <= p.purchase_ts)
        & (c.click_ts >= p.purchase_ts - F.expr(f"INTERVAL {window_seconds} SECONDS"))
    )
    return p.join(c, cond, "inner").select(
        "purchase_id", "user_id", "purchase_ts", "click_ts", "click_value"
    )


def run_stream_to_memory(
    stream_df: DataFrame, query_name: str, output_mode: str = "append"
) -> DataFrame:
    """Drain a streaming DataFrame into an in-memory sink with an availableNow
    trigger (process-everything-then-stop) and return the sink as a DataFrame.
    Test/driver harness path; production sinks would be parquet/Delta/Kafka."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(query_name)


def run_stream_publish_snapshots(
    stream_df: DataFrame, dataset_dir: str, checkpoint_dir: str
) -> None:
    """Drain a streaming aggregate into atomically-published parquet
    snapshots: each micro-batch's COMPLETE state becomes a new dataset
    generation via :func:`parqueryd_spark.sources.sinks.atomic_publish`, so a
    downstream batch reader always sees one consistent snapshot — never a
    half-written update, never a mix of two trigger intervals. The streaming
    analog of the reference's all-files-or-nothing moveparquet barrier
    (worker.py:729-779). foreachBatch runs on the driver, where the sinks
    module is importable regardless of executor cwd."""

    def _publish(batch_df: DataFrame, batch_id: int) -> None:
        from parqueryd_spark.sources.sinks import atomic_publish

        atomic_publish(batch_df, dataset_dir)

    q = (
        stream_df.writeStream.outputMode("complete")
        .foreachBatch(_publish)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
