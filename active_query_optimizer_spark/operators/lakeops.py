"""Lakehouse table-quality and data-layout operators:

- ``dq_constraint_report`` — a Deequ-style declarative constraint suite
  (completeness, domain, range, uniqueness, referential integrity,
  freshness) verified in the minimum number of passes and reported as a
  per-constraint pass/fail table;
- ``zorder_layout_profile`` — Z-order (Morton) interleaved clustering
  keys for multi-dimensional data skipping, with a per-bucket min/max
  profile proving both dimensions' ranges stay narrow inside every
  Z-range bucket (the property file-level min/max statistics prune on).

Both are exact-oracled: the constraint math is plain conditional
aggregation, and the Morton spread is written as engine-portable
mask-and-shift arithmetic (``&`` + multiply — no hex literals, no
shift operators) that DuckDB and Spark evaluate bit-identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register
from .relational import _utc


# ---------------------------------------------------------------------------
# data-quality constraint suite
# ---------------------------------------------------------------------------

#: price sanity range (cents are irrelevant here — raw doubles compare fine)
DQ_PRICE_MAX = 500_000.0
#: freshness bar: the suite EXPECTS no orders at/after this instant, and the
#: synthetic data violates it — a deliberately failing check so the report
#: exercises both statuses
DQ_FRESHNESS_TS = "1999-01-01 00:00:00"

_ROW_CHECKS_SQL = f"""
      SELECT
        CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT) AS null_orderdate,
        CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                      THEN 1 ELSE 0 END) AS BIGINT) AS status_domain,
        CAST(SUM(CASE WHEN o_totalprice <= 0 OR o_totalprice > {DQ_PRICE_MAX}
                      THEN 1 ELSE 0 END) AS BIGINT) AS totalprice_range,
        CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '{DQ_FRESHNESS_TS}'
                      THEN 1 ELSE 0 END) AS BIGINT) AS orderdate_before_1999
      FROM orders
"""


@register(
    "dq_constraint_report",
    oracle=f"""
    WITH row_checks AS (
      {_ROW_CHECKS_SQL}
    ), raw AS (
      SELECT 'null_orderdate' AS check_name, null_orderdate AS violations
      FROM row_checks
      UNION ALL
      SELECT 'status_domain', status_domain FROM row_checks
      UNION ALL
      SELECT 'totalprice_range', totalprice_range FROM row_checks
      UNION ALL
      SELECT 'orderdate_before_1999', orderdate_before_1999 FROM row_checks
      UNION ALL
      SELECT 'unique_orderkey',
             CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT)
      FROM (SELECT COUNT(*) AS cnt FROM orders
            GROUP BY o_orderkey HAVING COUNT(*) > 1)
      UNION ALL
      SELECT 'fk_custkey_customer', CAST(COUNT(*) AS BIGINT)
      FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM customer c
                        WHERE c.c_custkey = o.o_custkey)
    )
    SELECT check_name, violations,
           CASE WHEN violations = 0 THEN 'pass' ELSE 'fail' END AS status
    FROM raw
    """,
)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint verification over ``orders``
    (the Deequ / dbt-test shape): six constraints, each reported as
    ``(check_name, violations, pass|fail)``.

    Pass structure — the scale story is doing N checks in the minimum
    number of data passes, not N passes:

    - **one conditional-aggregate scan** covers every row-local check
      (completeness, domain membership, value range, freshness) —
      adding a seventh row-local check costs one more column, not one
      more pass;
    - **one aggregate** on the key covers uniqueness (``HAVING cnt>1``,
      partial-agg map combine);
    - **one anti-join** covers referential integrity (customer grows
      with SF, so the build-side strategy is left to size stats/AQE —
      broadcast at bench SFs, shuffled at 100 TB; no forced hint).

    The freshness check (no orders at/after 1999-01-01) is deliberately
    chosen to FAIL on this data so the report exercises both statuses; a
    report with six greens would not prove the fail path works.
    """
    _utc(spark)
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    row_checks = o.agg(
        (F.count(F.lit(1)) - F.count("o_orderdate"))
        .cast("bigint").alias("null_orderdate"),
        F.sum(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
              .otherwise(0)).cast("bigint").alias("status_domain"),
        F.sum(F.when((F.col("o_totalprice") <= 0)
                     | (F.col("o_totalprice") > DQ_PRICE_MAX), 1)
              .otherwise(0)).cast("bigint").alias("totalprice_range"),
        F.sum(F.when(F.col("o_orderdate")
                     >= F.lit(DQ_FRESHNESS_TS).cast("timestamp"), 1)
              .otherwise(0)).cast("bigint").alias("orderdate_before_1999"))
    long = row_checks.selectExpr(
        "stack(4, 'null_orderdate', null_orderdate,"
        " 'status_domain', status_domain,"
        " 'totalprice_range', totalprice_range,"
        " 'orderdate_before_1999', orderdate_before_1999)"
        " AS (check_name, violations)")
    dup = (o.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("cnt"))
           .filter(F.col("cnt") > 1)
           .agg(F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0))
                .cast("bigint").alias("violations"))
           .select(F.lit("unique_orderkey").alias("check_name"),
                   "violations"))
    fk = (o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti")
          .agg(F.count(F.lit(1)).cast("bigint").alias("violations"))
          .select(F.lit("fk_custkey_customer").alias("check_name"),
                  "violations"))
    report = long.unionByName(dup).unionByName(fk)
    return report.withColumn(
        "status", F.when(F.col("violations") == 0, "pass").otherwise("fail"))


# ---------------------------------------------------------------------------
# Z-order layout
# ---------------------------------------------------------------------------

#: Z-range bucket width: top 14 bits of the 32-bit Morton code (z div 2^18)
#: — within a bucket only the low 9 bits of EACH dimension vary, so every
#: bucket spans ≤ 512 in both custkey and epoch-day (the pruning property)
ZORDER_BUCKET_DIV = 262_144


def morton_spread_sql(v: str) -> str:
    """16→32-bit Morton bit spread as engine-portable arithmetic.

    Classic mask cascade, but every step masks BEFORE shifting (shift =
    multiply), so the summands are bit-disjoint and ``+`` replaces ``|``
    — only ``&``, ``*``, ``+`` appear, which Spark SQL and DuckDB parse
    and evaluate identically (hex literals and ``<<`` differ between
    dialects; decimal mask constants don't)."""
    a = f"(({v} & 255) + ({v} & 65280) * 256)"
    b = f"(({a} & 983055) + ({a} & 15728880) * 16)"
    c = f"(({b} & 50529027) + ({b} & 202116108) * 4)"
    return f"(({c} & 286331153) + ({c} & 572662306) * 2)"


def zorder_key_sql(x: str, y: str) -> str:
    """32-bit Morton interleave of two 16-bit dimensions (x even bits,
    y odd bits)."""
    return f"({morton_spread_sql(x)} + 2 * {morton_spread_sql(y)})"


# the two clustering dimensions, 16-bit clamped: customer key and epoch day
_X_SPARK = "(o_custkey & 65535)"
_Y_SPARK = "((unix_timestamp(o_orderdate) div 86400) & 65535)"
_X_DUCK = "(o_custkey & 65535)"
_Y_DUCK = "((CAST(epoch(o_orderdate) AS BIGINT) // 86400) & 65535)"


@register(
    "zorder_layout_profile",
    oracle=f"""
    WITH keyed AS (
      SELECT o_custkey AS ck,
             {_Y_DUCK} AS eday,
             {zorder_key_sql(_X_DUCK, _Y_DUCK)} AS z
      FROM orders
    )
    SELECT CAST(z // {ZORDER_BUCKET_DIV} AS BIGINT) AS zbucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(ck) AS BIGINT) AS min_ck,
           CAST(MAX(ck) AS BIGINT) AS max_ck,
           CAST(MIN(eday) AS BIGINT) AS min_day,
           CAST(MAX(eday) AS BIGINT) AS max_day
    FROM keyed GROUP BY zbucket
    """,
)
def zorder_layout_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering keys over ``orders`` on
    ``(o_custkey, epoch_day(o_orderdate))``, profiled per Z-range bucket:
    row count plus min/max of BOTH dimensions.

    Z-ordering is the standard lakehouse layout for multi-dimensional
    data skipping: sorting by the interleaved key keeps every contiguous
    key range narrow in *all* interleaved dimensions at once, so
    file-level min/max statistics prune scans filtered on either
    dimension (a single-column sort only prunes its own column). The
    profile is the proof: each bucket's ``(max-min)`` span in both
    dimensions is a bounded fraction of the global span
    (``tests/test_lakeops.py`` pins it).

    The production write path is
    ``df.withColumn("z", F.expr(zorder_key_sql(x, y)))
    .repartitionByRange(n, "z").sortWithinPartitions("z")
    .write.parquet(...)`` — range exchange + in-partition sort, never a
    global sort; this query is the map-only key computation plus one
    profiling aggregate. The Morton math is integer mask arithmetic
    (whole-stage codegen, no UDF)."""
    _utc(spark)
    o = load_table(spark, sf_dir, "orders")
    keyed = o.selectExpr(
        "o_custkey AS ck",
        f"{_Y_SPARK} AS eday",
        f"{zorder_key_sql(_X_SPARK, _Y_SPARK)} AS z")
    return (keyed.groupBy(F.expr(f"z div {ZORDER_BUCKET_DIV}")
                          .cast("bigint").alias("zbucket"))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.min("ck").cast("bigint").alias("min_ck"),
                 F.max("ck").cast("bigint").alias("max_ck"),
                 F.min("eday").cast("bigint").alias("min_day"),
                 F.max("eday").cast("bigint").alias("max_day")))
