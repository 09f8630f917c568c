"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference has no streaming; this is the engine's scale-path primitive
for stateful semantics Spark's built-in aggregations can't express (the
brief's ``applyInPandasWithState`` custom-operator slot). The example
operator maintains **per-user running totals with first/last-seen
tracking** — state is one tiny tuple per user, updated from Arrow batches;
the same callable also runs in batch mode (groupBy.applyInPandas) where it
must agree with a plain aggregation, which is what the tests pin.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (DoubleType, LongType, StructField, StructType,
                               TimestampType)

OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_events", LongType()),
    StructField("sum_value", DoubleType()),
    StructField("first_ts", TimestampType()),
    StructField("last_ts", TimestampType()),
])
STATE_SCHEMA = StructType([
    StructField("n_events", LongType()),
    StructField("sum_value", DoubleType()),
    StructField("first_ts", LongType()),   # epoch micros (state is columnar)
    StructField("last_ts", LongType()),
])


def _update_user_totals(key: Tuple[Any, ...],
                        batches: Iterable[pd.DataFrame],
                        state: GroupState) -> Iterator[pd.DataFrame]:
    """Fold this micro-batch's rows for one user into running state and
    emit the updated totals row."""
    n, total, first_us, last_us = (
        state.get if state.exists else (0, 0.0, None, None))
    for pdf in batches:
        if pdf.empty:
            continue
        n += len(pdf)
        total += float(pdf["value"].sum())
        ts_us = (pdf["ts"].astype("int64") // 1000).astype("int64")
        lo, hi = int(ts_us.min()), int(ts_us.max())
        first_us = lo if first_us is None else min(first_us, lo)
        last_us = hi if last_us is None else max(last_us, hi)
    state.update((n, total, first_us, last_us))
    yield pd.DataFrame({
        "user_id": [key[0]],
        "n_events": [n],
        "sum_value": [total],
        "first_ts": [pd.Timestamp(first_us * 1000)],
        "last_ts": [pd.Timestamp(last_us * 1000)],
    })


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum, first_ts, last_ts) over an event
    stream. State: one 4-field tuple per user — bounded by distinct users,
    not events; no watermark needed because totals never expire (attach
    ``GroupStateTimeout`` policies for TTL'd variants)."""
    return (events
            .select("user_id", "ts", "value")
            .groupBy("user_id")
            .applyInPandasWithState(
                _update_user_totals, OUTPUT_SCHEMA, STATE_SCHEMA,
                "update", GroupStateTimeout.NoTimeout))
