"""Result checks for the engine workload: a query's Spark result against
its registered DuckDB oracle, compared as the project's tests compare them
(same column names, same row count, same dtype family per column, same
values after sorting columns by name and rows by value), or against its
recorded row count when it has no oracle."""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

from active_query_optimizer_spark.catalog import TABLES
from queries import RECORDED_ROWS

_KIND_FAMILY = {"i": "int", "u": "int", "f": "float", "b": "bool",
                "M": "datetime", "m": "timedelta"}


class Oracle:
    """One DuckDB connection with the benchmark's tables as views."""

    def __init__(self, data_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        self.con.execute(
            f"SET temp_directory = '{os.environ.get('TMPDIR', '.tmp')}'")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def run(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).fetchdf()

    def check(self, name: str, got: pd.DataFrame,
              oracles: dict[str, str]) -> str | None:
        """``None`` when query ``name``'s result matches its oracle, or its
        recorded row count when it has none; else a one-line reason."""
        if name in oracles:
            return mismatch(got, self.run(oracles[name]))
        want = RECORDED_ROWS[name]
        return None if len(got) == want else f"rows {len(got)} vs {want}"

    def close(self) -> None:
        self.con.close()


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        t = v.tolist()
        return tuple(_norm(x) for x in t) if isinstance(t, list) else _norm(t)
    if v is pd.NaT or v is None:
        return None
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    return v


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    out = df.apply(lambda col: col.map(_norm))
    return out.sort_values(by=list(out.columns),
                           key=lambda s: s.map(repr)).reset_index(drop=True)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """``None`` when ``got`` equals ``want``; else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    if len(got):
        for col in got.columns:
            fa = _KIND_FAMILY.get(got[col].dtype.kind)
            fb = _KIND_FAMILY.get(want[col].dtype.kind)
            if fa and fb and fa != fb:
                return f"dtype of {col}: {got[col].dtype} vs {want[col].dtype}"
    a, b = _canon(got), _canon(want)
    for col in a.columns:
        if list(a[col]) != list(b[col]):
            return f"values of {col}"
    return None
