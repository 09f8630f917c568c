"""Ranker evaluation metrics.

Rebuilds ``Lero/lero_test.py:25-155``:

- ``selection_report`` — per-query latency of the *chosen* plan plus the
  ``sum`` row (``get_lero_dict``/``test``, ``lero_test.py:25-54,99-112``);
- ``spearman_by_group`` / ``ranking_loss`` — 1 − mean Spearman correlation
  between predicted scores and true latencies per query
  (``compute_ranking_loss``, ``lero_test.py:115-155``). Spearman =
  Pearson correlation of the two rank sequences with scipy tie semantics
  (AVERAGE ranks). A group whose scores or whose truths are all tied — or
  that has a single candidate — has no correlation (scipy's NaN) and is
  skipped from the mean, replicating the reference's NaN-group skip
  (``lero_test.py:140-143``); when EVERY group is skipped the loss is
  ``None``, matching ``compute_ranking_loss``'s no-valid-groups return
  (``lero_test.py:145-147``);
- ``evaluate_bundles`` — the reference's whole test pass over labeled
  bundles (score, argmin, chosen latency, both ranking losses) in one call:
  every pipeline evaluates a model through it.

The ranking metrics run on the driver, as the reference's do
(``scipy.stats.spearmanr`` per query, ``lero_test.py:115-155``): every
caller reads back one float (or one value per query) computed over a
few rows per query, so they make ONE collect of ``(qid, score, truth)``
and rank in numpy, instead of window, group-by and average jobs. Rows are
sorted by ``(qid, score, truth)`` before any arithmetic, so the value does
not depend on partition order; values order as Spark orders them (NULL
first, NaN above every number, ``-0.0 == 0.0``).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..model.infer import choose_best, score_plans
from ..model.lero import LeroModel
from ..plans.featurize import PlanNode, to_pg_json

#: a labeled query: ``(qid, [(plan, exec_time_ms), ...])``
Bundle = tuple[str, list[tuple[PlanNode, float]]]


def _order_key(v):
    """Sort key giving Spark's ascending order: NULL first, then numbers
    (``-0.0`` equal to ``0.0``), then NaN, which Spark ranks above every
    number and equal to itself."""
    if v is None:
        return (0,)
    if isinstance(v, float) and v != v:
        return (2,)
    return (1, v)


def _codes(values: list) -> np.ndarray:
    """Dense integer codes whose order and equality are Spark's."""
    keys = [_order_key(v) for v in values]
    pos = {k: i for i, k in enumerate(sorted(set(keys)))}
    return np.array([pos[k] for k in keys], dtype=np.int64)


def _average_ranks(group: np.ndarray, code: np.ndarray,
                   group_start: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """1-based AVERAGE ranks of ``code`` within each group (``group`` is
    sorted; ``group_start`` holds each group's first row) and the number of
    distinct values per group. A tie run at 0-based positions
    ``first..last`` gets ``(first + last) / 2 + 1`` — scipy's
    ``rankdata(method="average")`` — exactly, as ranks are half-integers."""
    n = len(code)
    order = np.lexsort((code, group))
    g, c = group[order], code[order]
    new_run = np.ones(n, dtype=bool)
    new_run[1:] = (g[1:] != g[:-1]) | (c[1:] != c[:-1])
    run_first = np.flatnonzero(new_run)
    run_last = np.append(run_first[1:], n) - 1
    run = np.cumsum(new_run) - 1
    ranks = np.empty(n)
    ranks[order] = ((run_first[run] + run_last[run]) / 2.0
                    - group_start[g] + 1.0)
    return ranks, np.add.reduceat(new_run.astype(np.int64), group_start)


def _group_spearman(df: DataFrame) -> tuple[list, np.ndarray, np.ndarray]:
    """``(qids, sizes, rho)`` per ``qid`` group of ``score`` against
    ``exec_time_ms``, ``qids`` in Spark's order; ``rho`` is NaN where the
    group is skipped (a constant side, which includes a single
    candidate)."""
    rows = df.select("qid", "score", "exec_time_ms").collect()
    if not rows:
        return [], np.zeros(0, dtype=np.int64), np.zeros(0)
    qid, pred, truth = (_codes(list(col)) for col in zip(*rows))
    order = np.lexsort((truth, pred, qid))
    qid, pred, truth = qid[order], pred[order], truth[order]
    first = np.ones(len(qid), dtype=bool)
    first[1:] = qid[1:] != qid[:-1]
    start = np.flatnonzero(first)
    sizes = np.diff(np.append(start, len(qid)))
    rp, distinct_p = _average_ranks(qid, pred, start)
    rt, distinct_t = _average_ranks(qid, truth, start)
    # the mean of a group's average ranks is (n + 1) / 2 whatever the
    # ties, so deviations, their products and sums stay exact
    mean = (sizes[qid] + 1) / 2.0
    dp, dt = rp - mean, rt - mean
    sxy = np.add.reduceat(dp * dt, start)
    sxx = np.add.reduceat(dp * dp, start)
    syy = np.add.reduceat(dt * dt, start)
    valid = (distinct_p > 1) & (distinct_t > 1)
    rho = np.full(len(start), np.nan)
    rho[valid] = sxy[valid] / np.sqrt(sxx[valid] * syy[valid])
    qids = [rows[i][0] for i in order[start]]
    return qids, sizes, rho


def spearman_by_group(df: DataFrame) -> dict[object, float | None]:
    """``{qid: rho}`` per query over its candidates (predicted ``score``
    against measured ``exec_time_ms``); ``None`` when either side is
    constant within the group (or it has one candidate).

    Ties get AVERAGE ranks — the standard Spearman treatment and what the
    reference's ``scipy.stats.spearmanr`` computes (``Lero/lero_test.py``
    evaluation). This matters in penalty-dense regimes (sf1 at the 90 s
    deadline): a bundle whose candidates ALL saturate to the same
    timeout-penalty label carries no ranking information, and average
    ranks make its truth side constant ⇒ no correlation ⇒ the group drops
    out of the mean, exactly like scipy's NaN. The pre-round-10
    ``row_number(truth, candidate_idx)`` ranking instead manufactured a
    noise permutation from the arbitrary candidate order and let it
    pollute the loss (measured: 80-bundle sf1 loss 1.48 "worse than
    random" while picks were oracle-exact)."""
    qids, _, rho = _group_spearman(df)
    return {q: None if math.isnan(r) else float(r)
            for q, r in zip(qids, rho.tolist())}


def ranking_loss(df: DataFrame) -> float | None:
    """1 − mean Spearman over non-degenerate query groups; ``None`` when
    every group is degenerate (constant on either side — e.g. a fully
    penalty-saturated sf1 batch), matching the reference's
    no-valid-groups return (``lero_test.py:145-147``)."""
    return _mean_loss(_group_spearman(df)[2])


def _mean_loss(rho: np.ndarray) -> float | None:
    rho = rho[~np.isnan(rho)]
    if not len(rho):
        return None
    return 1.0 - math.fsum(rho.tolist()) / len(rho)


def selection_report(df: DataFrame) -> dict[str, float]:
    """``{qid: chosen-plan seconds, …, "sum": total}`` — the reference's
    ``lero_dict.json`` shape (``lero_test.py:99-112``; it divides ms by
    1000 once — root ``stable.py:24-26`` divides twice, a catalogued bug we
    do not replicate)."""
    return _lero_dict(choose_best(df).collect())


def _lero_dict(chosen: list) -> dict[str, float]:
    out = {r["qid"]: r["exec_time_ms"] / 1000.0 for r in chosen}
    out["sum"] = sum(out.values())
    return out


def _weighted_loss(sizes: np.ndarray, rho: np.ndarray) -> float | None:
    """1 − candidate-count-weighted mean Spearman: each query group
    contributes in proportion to ``n_candidates − 1`` (its number of
    independent pairwise comparisons), so a 7-candidate query — where
    ranking is genuinely harder and the signal richer — outweighs a
    2-candidate coin flip instead of counting the same. ``ranking_loss``
    replicates the reference's equal-weight mean
    (``lero_test.py:115-155``); this is the refinement for workloads
    with heterogeneous candidate counts (Spark's hint explorer yields
    2–7 per query, where the reference's PG explorer pinned ~3).
    Degenerate (constant-side) groups are skipped, as in the reference.
    """
    valid = ~np.isnan(rho)
    if not valid.any():
        return None
    w = (sizes[valid] - 1).astype(float)
    return 1.0 - (math.fsum((rho[valid] * w).tolist())
                  / math.fsum(w.tolist()))


def as_bundles(labeled) -> list[Bundle]:
    """Labeled ``(qid, [Candidate, ...])`` pairs as bundles."""
    return [(qid, [(c.plan, float(c.exec_time_ms)) for c in cands])
            for qid, cands in labeled]


def evaluate_bundles(spark: SparkSession, model: LeroModel,
                     bundles: list[Bundle]) -> dict:
    """Evaluate ``model`` on labeled ``bundles`` as the reference's test
    pass does (``lero_test.py:82-155``): score every candidate, take each
    query's argmin (``choose_best``) and compare with the measured
    latencies. Returns ``picks`` (``{qid: candidate_idx}``), ``lero_dict``
    (the ``selection_report`` shape), and ``loss``/``wloss`` (the
    ``ranking_loss``/``_weighted_loss`` values). The scored frame is
    cached for its two collects (the argmin rows, the Spearman rows)."""
    rows = [(qid, i, to_pg_json(p, t), float(t))
            for qid, cands in bundles for i, (p, t) in enumerate(cands)]
    scored = score_plans(spark.createDataFrame(
        rows,
        "qid string, candidate_idx int, plan_json string, exec_time_ms double"
    ), model).cache()
    try:
        chosen = choose_best(scored).collect()
        _, sizes, rho = _group_spearman(scored)
    finally:
        scored.unpersist()
    return {"picks": {r["qid"]: r["candidate_idx"] for r in chosen},
            "lero_dict": _lero_dict(chosen),
            "loss": _mean_loss(rho), "wloss": _weighted_loss(sizes, rho)}
