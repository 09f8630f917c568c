"""Judge-facing operators from the optimizer pipeline (SURVEY.md §2.E/F):
plan selection, Spearman ranking loss, coreset selection.

The selection/metric shapes are pinned against DuckDB on the star schema
(candidates ↦ lineitem rows grouped by order — same window mechanics as the
real qid/candidate bundles). Coreset selection is genuinely non-SQL
(iterative greedy) — registered rows-only; its numeric behavior is pinned
by unit tests against a pure-numpy re-implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from .registry import register


@register(
    "plan_selection_argmin",
    oracle="""
    SELECT l_orderkey, l_linenumber AS chosen_line,
           l_extendedprice AS chosen_price
    FROM (
      SELECT l_orderkey, l_linenumber, l_extendedprice,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                ORDER BY l_extendedprice, l_linenumber) AS rn
      FROM lineitem
    ) WHERE rn = 1
    """,
)
def plan_selection_argmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranker's selection operator (``Lero/lero_test.py:97``:
    ``choice = argmin(scores)``) per group with a deterministic tie-break.

    Round-13 optimization (guide §2.3 "aggregate before you shuffle"):
    the argmin is a ``min(struct(score, tie_break))`` HASH AGGREGATE —
    lexicographic struct ordering reproduces exactly the old window's
    ``ROW_NUMBER() ... ORDER BY (price, linenumber) = 1`` pick
    (``l_linenumber`` is unique per order, so there are no full ties) —
    instead of a window sort. The partial aggregate runs map-side, so
    the exchange carries ONE candidate row per (group × map partition)
    rather than every candidate row, and the full per-partition SORT the
    window needed disappears. Same single-exchange family, strictly less
    data through it and no sort — the shape ``model.infer.choose_best``
    wants at 100 TB candidate volume."""
    li = load_table(spark, sf_dir, "lineitem")
    best = F.min(F.struct(F.col("l_extendedprice"),
                          F.col("l_linenumber"))).alias("best")
    return (li.groupBy("l_orderkey").agg(best)
              .select("l_orderkey",
                      F.col("best.l_linenumber").alias("chosen_line"),
                      F.col("best.l_extendedprice").alias("chosen_price")))


@register(
    "spearman_rank_corr",
    oracle="""
    WITH ranked AS (
      SELECT l_orderkey,
             (2 * RANK() OVER (PARTITION BY l_orderkey ORDER BY l_quantity)
              + COUNT(*) OVER (PARTITION BY l_orderkey ORDER BY l_quantity
                               RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
              - 1) / 2.0 AS fq,
             (2 * RANK() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice)
              + COUNT(*) OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice
                               RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
              - 1) / 2.0 AS fp
      FROM lineitem
    ), agg AS (
      SELECT l_orderkey, COUNT(*) AS n,
             SUM(fq) AS sx, SUM(fp) AS sy, SUM(fq * fp) AS sxy,
             SUM(fq * fq) AS sxx, SUM(fp * fp) AS syy
      FROM ranked GROUP BY l_orderkey HAVING COUNT(*) >= 3
    )
    SELECT l_orderkey,
           (n * sxy - sx * sy) / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy))
             AS spearman
    FROM agg
    WHERE (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
    """,
)
def spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation per group (the ranking-loss kernel,
    ``Lero/lero_test.py:115-155``). Ranks are tie-aware *fractional* ranks
    — ``(2·rank + tie_count − 1)/2`` — which are value-determined (no
    arbitrary tie-break; this table has exact duplicate rows), and dyadic
    rationals, so every sum/product below is exact in doubles: the final
    Pearson-of-ranks is bit-identical across engines and partition orders.
    Constant-side groups (zero variance) are excluded — the reference skips
    NaN Spearman groups the same way (``lero_test.py:140-143``)."""
    li = load_table(spark, sf_dir, "lineitem")
    # all four windows partition by l_orderkey (tie counts via zero-width
    # RANGE frames, not a second partitioning) → ONE shuffle, two sorts
    wq = Window.partitionBy("l_orderkey").orderBy("l_quantity")
    wp = Window.partitionBy("l_orderkey").orderBy("l_extendedprice")
    ties_q = F.count(F.lit(1)).over(wq.rangeBetween(0, 0))
    ties_p = F.count(F.lit(1)).over(wp.rangeBetween(0, 0))
    fq = (F.lit(2) * F.rank().over(wq) + ties_q - 1) / 2.0
    fp = (F.lit(2) * F.rank().over(wp) + ties_p - 1) / 2.0
    ranked = li.select("l_orderkey", fq.alias("fq"), fp.alias("fp"))
    agg = (ranked.groupBy("l_orderkey")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("fq").alias("sx"), F.sum("fp").alias("sy"),
                F.sum(F.col("fq") * F.col("fp")).alias("sxy"),
                F.sum(F.col("fq") * F.col("fq")).alias("sxx"),
                F.sum(F.col("fp") * F.col("fp")).alias("syy"))
           .where(F.col("n") >= 3))
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return (agg.where((vx > 0) & (vy > 0))
            .select("l_orderkey",
                    ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                     / F.sqrt(vx * vy)).alias("spearman")))


@register("coreset_select_embeddings")  # rows-only: iterative greedy, no SQL analog
def coreset_select_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active-learning coreset over the embeddings table (reference
    ``coreset.py:91-98``): z-score+L2 normalize, MinHash-LSH bucket the
    vectors (seeded), then per-bucket greedy k-center — 4 selections per
    bucket, deterministic via sorted ids + first-minimum argmin."""
    from ..select.coreset import coreset_select

    emb = load_table(spark, sf_dir, "embeddings")
    sel = coreset_select(emb, k_per_bucket=4, id_col="vec_id",
                         vec_col="embedding", num_groups=8, seed=42)
    return sel.drop("rank").orderBy("bucket", "vec_id")
