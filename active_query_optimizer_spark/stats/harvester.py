"""Schema + value-distribution harvester.

Rebuilds the reference's statistics layer (``pg.py:10-517``) as Spark jobs:

- ``get_table_names`` / ``get_column_names`` (``pg.py:72-85``) → parquet
  schema discovery via ``catalog.table_columns``.
- ``find_timestamp_columns`` / destructive epoch ALTER (``pg.py:38-66``) →
  non-destructive ``epoch_seconds_view`` (``F.unix_timestamp``).
- ``get_range_dict`` (``pg.py:87-162``): numeric → (min, max); string →
  distinct count, then the full distinct list if ≤1000 values else the
  top-1000 by frequency. The reference issues one PostgreSQL query per
  column; here a table's numeric mins/maxes and distinct counts come back
  in ONE aggregate pass over the table, and only string columns that need a
  value list trigger a follow-up (grouped, map-side-combined) job.

Scale notes (100 TB): the single-pass ``agg`` is a partial+final
HashAggregate — no shuffle of raw rows, only of per-partition aggregate
buffers. Per-string-column top-k is ``groupBy(col).count()`` — shuffles one
(value, count) pair per distinct value per partition thanks to map-side
combine, then a driver-side ``limit``. ``approx_count_distinct`` (HLL,
JVM-side) gates which strings get a full distinct list so a high-cardinality
column never materializes its values.

The harvested artifact mirrors the reference's ``infos/<db>/`` JSON layout
(``pg.py:477-511``): ``range_dict`` keyed by ``table.column``.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import TABLES, load_table, load_tables

NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)
STRING_TYPES = (T.StringType,)
MAX_VALUE_LIST = 1000  # reference keeps ≤1000 distinct / top-1000 frequent


def find_timestamp_columns(df: DataFrame) -> list[str]:
    """Timestamp-typed columns (reference ``pg.py:38-52`` reads
    ``information_schema``; here the parquet schema is authoritative)."""
    return [f.name for f in df.schema.fields
            if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType))]


def epoch_seconds_view(df: DataFrame) -> DataFrame:
    """Non-destructive analog of the reference's ``ALTER TABLE ... USING
    EXTRACT(EPOCH ...)`` (``pg.py:54-66,175-181``): every timestamp column
    becomes bigint epoch seconds in a derived DataFrame; the base table is
    untouched."""
    out = df
    for c in find_timestamp_columns(df):
        out = out.withColumn(c, F.unix_timestamp(F.col(c)))
    return out


def numeric_ranges(df: DataFrame) -> dict[str, dict[str, float]]:
    """``{col: {"min": .., "max": ..}}`` for every numeric column, in ONE
    aggregate pass (vs. the reference's one ``SELECT MIN(c), MAX(c)`` round
    trip per column, ``pg.py:112-120``)."""
    cols = [f.name for f in df.schema.fields
            if isinstance(f.dataType, NUMERIC_TYPES)]
    if not cols:
        return {}
    exprs = []
    for c in cols:
        exprs.append(F.min(c).alias(f"min__{c}"))
        exprs.append(F.max(c).alias(f"max__{c}"))
    row = df.agg(*exprs).collect()[0].asDict()
    out: dict[str, dict[str, float]] = {}
    for c in cols:
        mn, mx = row[f"min__{c}"], row[f"max__{c}"]
        if mn is not None:
            out[c] = {"min": _jsonable(mn), "max": _jsonable(mx)}
    return out


def string_value_stats(df: DataFrame, columns: list[str] | None = None,
                       max_values: int = MAX_VALUE_LIST) -> dict[str, dict[str, Any]]:
    """Per string column: distinct-count estimate plus either the full
    distinct value list (≤ ``max_values``) or the top ``max_values`` by
    frequency (reference ``pg.py:121-156``)."""
    if columns is None:
        columns = [f.name for f in df.schema.fields
                   if isinstance(f.dataType, STRING_TYPES)]
    if not columns:
        return {}
    # One HLL pass decides, per column, list-all vs top-k.
    ndv_row = df.agg(*[F.approx_count_distinct(c).alias(c) for c in columns]
                     ).collect()[0].asDict()
    out: dict[str, dict[str, Any]] = {}
    for c in columns:
        ndv = ndv_row[c]
        col = F.col(c)
        if ndv <= max_values * 1.1:  # HLL slack; exact check is the limit+1 read
            vals = [r[0] for r in
                    df.select(col).where(col.isNotNull()).distinct()
                      .orderBy(col).limit(max_values + 1).collect()]
            if len(vals) <= max_values:
                out[c] = {"kind": "distinct", "ndv": len(vals), "values": vals}
                continue
        top = (df.where(col.isNotNull()).groupBy(col).count()
                 .orderBy(F.desc("count"), col).limit(max_values).collect())
        out[c] = {"kind": "topk", "ndv": int(ndv),
                  "values": [r[0] for r in top]}
    return out


def approx_column_cardinalities(df: DataFrame,
                                columns: list[str] | None = None,
                                rsd: float = 0.05) -> dict[str, int]:
    """HLL-only cardinality harvest: ``{col: ndv_estimate}`` for every
    requested column in ONE aggregate pass, with NO second pass ever.

    This is the wide-table / 100 TB lane of the harvester: the
    ``string_value_stats`` path follows its HLL gate with an exact
    ``distinct().limit()`` or ``groupBy().count()`` read per listed
    column — the right trade when value lists are needed, but a real
    per-column table scan cost when all the planner wants is NDV. Here
    the per-partition HLL±± sketches (``approx_count_distinct``, relative
    standard deviation ``rsd``) merge in a partial+final aggregate: raw
    rows never shuffle, the result is one row of longs, and the estimate
    is deterministic for fixed data (hash-based sketch, no RNG).
    Reference anchor: the exact ``COUNT(DISTINCT c)`` gate at
    ``pg.py:124-128`` — same decision input, collapsed to sketch cost."""
    if columns is None:
        columns = [f.name for f in df.schema.fields
                   if isinstance(f.dataType, NUMERIC_TYPES + STRING_TYPES)]
    if not columns:
        return {}
    row = df.agg(*[F.approx_count_distinct(c, rsd).alias(c)
                   for c in columns]).collect()[0].asDict()
    return {c: int(row[c]) for c in columns}


def harvest_table_stats(df: DataFrame,
                        filter_columns: set[str] | None = None) -> dict[str, Any]:
    """range_dict entries for one table. ``filter_columns`` restricts the
    harvest to columns actually used in workload filters (the reference's
    ``get_filter_columns_range``, ``pg.py:366-470``)."""
    def keep(name: str) -> bool:
        return filter_columns is None or name in filter_columns

    ts_cols = set(find_timestamp_columns(df))
    epoch = epoch_seconds_view(df)  # timestamps harvested as epoch ints
    num = {c: v for c, v in numeric_ranges(epoch).items() if keep(c)}
    str_cols = [f.name for f in df.schema.fields
                if isinstance(f.dataType, STRING_TYPES) and keep(f.name)]
    strs = string_value_stats(df, str_cols)
    out: dict[str, Any] = {}
    for c, v in num.items():
        # timestamp columns carry epoch-seconds bounds but keep their own
        # type tag so the SQL generator emits timestamp-comparable literals
        # (the base table column is NOT epoch-converted — unlike the
        # reference's destructive ALTER, pg.py:54-66)
        out[c] = {"type": "timestamp" if c in ts_cols else "numeric", **v}
    for c, v in strs.items():
        out[c] = {"type": "string", **v}
    return out


def harvest_range_dict(spark: SparkSession, sf_dir: str,
                       tables: tuple[str, ...] = TABLES,
                       filter_columns: dict[str, set[str]] | None = None,
                       ) -> dict[str, dict[str, Any]]:
    """``{table: {column: stats}}`` over a scale-factor directory — the
    direct analog of the reference's ``infos/<db>/range_dict``."""
    out: dict[str, dict[str, Any]] = {}
    for name, df in load_tables(spark, sf_dir, tables).items():
        fc = None if filter_columns is None else filter_columns.get(name, set())
        out[name] = harvest_table_stats(df, fc)
    return out


def write_infos(artifact: Any, path: str) -> None:
    """Persist a metadata artifact as JSON (reference ``pg.py:477-511``
    caches each artifact under ``infos/<db>/``). Idempotent overwrite."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        json.dump(artifact, f, default=_jsonable)


def read_infos(path: str) -> Any:
    with open(path) as f:
        return json.load(f)


def _jsonable(v: Any) -> Any:
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return v

