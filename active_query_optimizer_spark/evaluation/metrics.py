"""Ranker evaluation metrics as Spark jobs.

Rebuilds ``Lero/lero_test.py:25-155``:

- ``selection_report`` — per-query latency of the *chosen* plan plus the
  ``sum`` row (``get_lero_dict``/``test``, ``lero_test.py:25-54,99-112``);
- ``spearman_by_group`` / ``ranking_loss`` — 1 − mean Spearman correlation
  between predicted scores and true latencies per query
  (``compute_ranking_loss``, ``lero_test.py:115-155``). Spearman =
  Pearson correlation of the two rank sequences with scipy tie semantics:
  AVERAGE ranks via ``rank() + (ties − 1)/2`` window expressions, then
  Pearson assembled as ``try_divide(covar_samp, sd·sd)`` so a
  constant-side group yields NULL (scipy's NaN) instead of an ANSI
  divide-by-zero — all JVM-side, one shuffle on qid. NULL-corr groups are
  skipped from the mean, replicating the reference's NaN-group skip
  (``lero_test.py:140-143``); when EVERY group is degenerate the loss is
  ``None``, matching ``compute_ranking_loss``'s no-valid-groups return
  (``lero_test.py:145-147``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..model.infer import choose_best


def spearman_by_group(df: DataFrame, qid_col: str = "qid",
                      pred_col: str = "score",
                      truth_col: str = "exec_time_ms") -> DataFrame:
    """``[qid, spearman]`` per query over its candidates (NULL when either
    side is constant within the group).

    Ties get AVERAGE ranks — ``rank() + (ties − 1)/2`` — the standard
    Spearman treatment and what the reference's ``scipy.stats.spearmanr``
    computes (``Lero/lero_test.py`` evaluation). This matters in
    penalty-dense regimes (sf1 at the 90 s deadline): a bundle whose
    candidates ALL saturate to the same timeout-penalty label carries no
    ranking information, and average ranks make its truth side constant
    ⇒ NULL corr ⇒ the group drops out of the mean, exactly like scipy's
    NaN. The pre-round-10 ``row_number(truth, candidate_idx)`` ranking
    instead manufactured a noise permutation from the arbitrary
    candidate order and let it pollute the loss (measured: 80-bundle sf1
    loss 1.48 "worse than random" while picks were oracle-exact)."""
    w_pred = Window.partitionBy(qid_col).orderBy(pred_col)
    w_true = Window.partitionBy(qid_col).orderBy(truth_col)
    half = F.lit(1).cast("double") / F.lit(2)

    def ties(w):
        # peers of the current row: the rank's own spec narrowed to a
        # zero-width RANGE frame, so rank and tie count share one Window
        return F.count(F.lit(1)).over(
            w.rangeBetween(Window.currentRow, Window.currentRow))

    ranked = (df
              .withColumn("__rp", F.rank().over(w_pred).cast("double")
                          + (ties(w_pred) - 1) * half)
              .withColumn("__rt", F.rank().over(w_true).cast("double")
                          + (ties(w_true) - 1) * half))
    # Pearson over the average ranks, assembled as covar / (sd·sd) with
    # try_divide: a constant side has zero stddev, and try_divide turns
    # that into NULL (scipy's NaN) instead of ANSI mode's DIVIDE_BY_ZERO
    # error — F.corr itself throws under ANSI when either side is
    # constant, which row_number ranks could never produce but average
    # ranks deliberately do.
    return (ranked.groupBy(qid_col)
            .agg(F.try_divide(
                F.covar_samp("__rp", "__rt"),
                F.stddev_samp("__rp") * F.stddev_samp("__rt"))
                .alias("spearman")))


def ranking_loss(df: DataFrame, qid_col: str = "qid",
                 pred_col: str = "score",
                 truth_col: str = "exec_time_ms") -> float | None:
    """1 − mean Spearman over non-degenerate query groups; ``None`` when
    every group is degenerate (constant on either side — e.g. a fully
    penalty-saturated sf1 batch), matching the reference's
    no-valid-groups return (``lero_test.py:145-147``)."""
    row = (spearman_by_group(df, qid_col, pred_col, truth_col)
           .agg(F.avg("spearman").alias("mean_rho")).collect()[0])
    rho = row["mean_rho"]
    return None if rho is None else 1.0 - rho


def selection_report(df: DataFrame, qid_col: str = "qid",
                     score_col: str = "score",
                     truth_col: str = "exec_time_ms") -> dict[str, float]:
    """``{qid: chosen-plan seconds, …, "sum": total}`` — the reference's
    ``lero_dict.json`` shape (``lero_test.py:99-112``; it divides ms by
    1000 once — root ``stable.py:24-26`` divides twice, a catalogued bug we
    do not replicate)."""
    chosen = choose_best(df, qid_col, score_col).collect()
    out = {r[qid_col]: r[truth_col] / 1000.0 for r in chosen}
    out["sum"] = sum(out.values())
    return out


def weighted_ranking_loss(df: DataFrame, qid_col: str = "qid",
                          pred_col: str = "score",
                          truth_col: str = "exec_time_ms") -> float:
    """1 − candidate-count-weighted mean Spearman: each query group
    contributes in proportion to ``n_candidates − 1`` (its number of
    independent pairwise comparisons), so a 7-candidate query — where
    ranking is genuinely harder and the signal richer — outweighs a
    2-candidate coin flip instead of counting the same. The unweighted
    ``ranking_loss`` replicates the reference's equal-weight mean
    (``lero_test.py:115-155``); this is the refinement for workloads
    with heterogeneous candidate counts (Spark's hint explorer yields
    2–7 per query, where the reference's PG explorer pinned ~3).
    Degenerate (constant-side) groups are skipped, as in the reference.
    """
    per_q = spearman_by_group(df, qid_col, pred_col, truth_col)
    sizes = (df.groupBy(qid_col)
             .agg((F.count(F.lit(1)) - 1).cast("double").alias("__w")))
    row = (per_q.join(sizes, qid_col)
           .where(F.col("spearman").isNotNull() & (F.col("__w") > 0))
           .agg((F.sum(F.col("spearman") * F.col("__w"))
                 / F.sum("__w")).alias("wrho")).collect()[0])
    rho = row["wrho"]
    return None if rho is None else 1.0 - rho
