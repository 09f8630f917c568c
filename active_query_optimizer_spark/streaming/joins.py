"""Stream-stream joins over the events stream.

The reference is batch-only; this is the continuous-ingestion twin of the
batch as-of / range joins (``operators/relational.py``): correlating two
live event streams within a bounded event-time lag — the canonical
Structured Streaming inner join with watermarks on BOTH sides plus a
time-interval condition, which is exactly what lets Spark bound the join
state (each side's buffer is evicted once the other side's watermark
passes the interval edge; an unconstrained stream-stream join would hold
both streams forever).

Same dual-mode contract as ``streaming/windowed.py``: pass batch frames
and the identical plan runs as a plain range join (tests use this for
batch-equivalence), pass streaming frames and state management kicks in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def correlate_event_streams(clicks: DataFrame,
                            purchases: DataFrame) -> DataFrame:
    """Attribute each purchase to the same user's click within
    ``[purchase.ts - 30 minutes, purchase.ts]`` — the classic conversion
    attribution shape. Equi-key on user_id (the shuffle key: state and
    matching are co-partitioned by user) + event-time interval bound
    (the state eviction contract).

    Emits one row per (click, purchase) pair in the window; downstream
    dedup (e.g. first click wins) is a separate aggregation choice."""
    from .windowed import ensure_event_time

    c, p = clicks, purchases
    if c.isStreaming:
        c = ensure_event_time(c).withWatermark("ts", "1 hour")
    if p.isStreaming:
        p = ensure_event_time(p).withWatermark("ts", "1 hour")
    c = c.select(F.col("user_id").alias("c_user"),
                 F.col("event_id").alias("click_id"),
                 F.col("ts").alias("click_ts"))
    p = p.select(F.col("user_id").alias("p_user"),
                 F.col("event_id").alias("purchase_id"),
                 F.col("ts").alias("purchase_ts"),
                 F.col("value").alias("purchase_value"))
    cond = ((F.col("c_user") == F.col("p_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts")
               >= F.col("purchase_ts") - F.expr("INTERVAL 30 minutes")))
    return (c.join(p, cond)
            .select(F.col("c_user").alias("user_id"), "click_id",
                    "purchase_id", "click_ts", "purchase_ts",
                    "purchase_value"))

