"""Local replica of the driver's DuckDB-oracle comparison: row count,
schema (column names), and an order-insensitive value comparison after
sorting columns by name. Strict equality — if this passes, the driver's
value-hash should match.

Dtype discipline: the driver's value-hash is *typed* — a DuckDB HUGEINT
(SUM over ints) comes back through pandas as float64 while Spark emits
int64, and the hashes diverge even though Python ``==`` says the values
match (this was the round-1 ``props_extract_sum`` red row). So ``compare``
also asserts per-column dtype *kind* equality (int family vs float vs
bool vs datetime vs object) before comparing values."""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from active_query_optimizer_spark.catalog import TABLES

#: numpy dtype.kind → comparison family ('i' and 'u' collapse: the hash
#: operates on Python ints either way; width is invisible post-tolist).
_KIND_FAMILY = {"i": "int", "u": "int", "f": "float", "b": "bool",
                "M": "datetime", "m": "timedelta", "O": "object"}


def dtype_family(dtype) -> str:
    return _KIND_FAMILY.get(getattr(dtype, "kind", "O"), "object")


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con.execute(sql).fetchdf()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize cell values to hashable canonical forms
    def norm(v):
        if isinstance(v, float) and math.isnan(v):
            return None
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
            t = v.tolist()
            return tuple(norm(x) for x in t) if isinstance(t, list) else norm(t)
        if v is pd.NaT or v is None:
            return None
        if isinstance(v, pd.Timestamp):
            return v.to_pydatetime()
        return v

    out = df.apply(lambda col: col.map(norm))
    return out.sort_values(by=list(out.columns), key=lambda s: s.map(repr)).reset_index(drop=True)


def mismatch(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str | None:
    """Why ``spark_pdf`` differs from the oracle's frame — column names,
    row count, per-column dtype family, then canonical values — or
    ``None`` when they match."""
    sp, du = spark_pdf, oracle_pdf
    if sorted(sp.columns) != sorted(du.columns):
        return f"column mismatch {sorted(sp.columns)} vs {sorted(du.columns)}"
    if len(sp) != len(du):
        return f"row count {len(sp)} vs {len(du)}"
    for col in sorted(sp.columns):
        fa, fb = dtype_family(sp[col].dtype), dtype_family(du[col].dtype)
        # an all-NULL column may surface as object on one side — only flag
        # genuine int-vs-float / numeric-vs-object skew on non-empty data
        if len(sp) and fa != "object" and fb != "object" and fa != fb:
            return (f"dtype-kind mismatch in column {col}: "
                    f"spark {sp[col].dtype} ({fa}) vs duckdb "
                    f"{du[col].dtype} ({fb})")
    a, b = _canon(sp), _canon(du)
    for col in a.columns:
        av, bv = list(a[col]), list(b[col])
        if av != bv:
            return (f"value mismatch in column {col}:\n"
                    f" spark : {av[:5]}...\n duckdb: {bv[:5]}...")
    return None


def compare(spark_df, oracle_df: pd.DataFrame, name: str = "?") -> None:
    why = mismatch(spark_df.toPandas(), oracle_df)
    assert why is None, f"{name}: {why}"
