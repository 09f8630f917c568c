"""Event-time streaming aggregations over the events stream.

The reference is batch-only (SURVEY.md §1.1: no streaming constructs);
these operators exist because the engine's 100 TB deployment shape includes
continuous ingestion — the idiomatic Structured Streaming forms:

- ``windowed_event_counts``: 1-hour tumbling event-time windows + a
  2-hour watermark for late data; partial aggregation happens per micro-batch,
  state keyed by (window, event_type) — scales with distinct keys, not rows.
- ``sessionize_events``: session windows per user with a 30-minute
  inactivity gap (built-in ``session_window`` — state-backed,
  watermark-bounded).

Both take any DataFrame (batch or streaming) — in tests they run over a
file-stream of the events parquet with ``availableNow`` triggers, and the
same code runs ``spark.readStream`` in production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def ensure_event_time(df: DataFrame) -> DataFrame:
    """Watermarks require TIMESTAMP (with local tz); parquet written without
    ``isAdjustedToUTC`` reads back as TIMESTAMP_NTZ under Spark's NTZ
    inference and ``withWatermark`` rejects it. Reinterpret the wall-clock
    in the session zone — a type-level fix only; window boundaries and
    collected wall-clock values are unchanged."""
    if isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def windowed_event_counts(events: DataFrame) -> DataFrame:
    """Per (1-hour tumbling window, event_type): count + value sum. On a
    streaming source the watermark bounds state and admits late rows up to
    the delay; on a batch source the same plan is a plain grouped agg."""
    src = events
    if events.isStreaming:
        src = ensure_event_time(events).withWatermark("ts", "2 hours")
    return (src.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 # decimal accumulation, ROUNDed to scale 2 before the
                 # double cast: order-independent AND ulp-identical across
                 # engines (high-scale decimal→double casts are not)
                 F.round(F.sum(F.col("value").cast("decimal(28,6)")), 2)
                  .cast("double").alias("sum_value"))
            .select(F.col("win.start").alias("window_start"),
                    "event_type", "n_events", "sum_value"))


def sessionize_events(events: DataFrame) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap."""
    src = events
    if events.isStreaming:
        src = ensure_event_time(events).withWatermark("ts", "2 hours")
    return (src.groupBy(F.session_window("ts", "30 minutes").alias("sess"),
                        "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"))
            .select("user_id", F.col("sess.start").alias("session_start"),
                    "n_events", "first_ts", "last_ts"))
