"""Dynamic pipeline: incremental retraining under workload drift.

Rebuilds ``Lero/dynamic.py:23-53`` (and the 10-batch ``deployment.py``
variant): for batch i, retrain from scratch on batch i's labeled bundles
and evaluate on batch i+1 — the distribution-shift simulation. Per-batch
total latency of the chosen plans is the reported series
(``lero_dynamic_latency_list``).

The batch loop is the reference's own shape; ``streaming.incremental``
exposes the same logic as a Structured Streaming ``foreachBatch`` sink for
a live bundle feed (SURVEY.md §3.3's closing note).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..evaluation.metrics import ranking_loss, selection_report
from ..model.infer import score_plans
from ..model.lero import train_pairwise_from_bundles
from ..plans.featurize import PlanNode, to_pg_json

Bundle = tuple[str, list[tuple[PlanNode, float]]]

#: hint strategies used for live labeling (small on purpose: each strategy
#: multiplies timed executions per query, the scarce resource)
LIVE_LABEL_STRATEGIES = ("BROADCAST", "MERGE")


def _as_bundles(labeled) -> list[Bundle]:
    """Labeled ``(qid, [Candidate, ...])`` pairs as training bundles."""
    return [(qid, [(c.plan, float(c.exec_time_ms)) for c in cands])
            for qid, cands in labeled]


def _score_bundles(spark: SparkSession, bundles: list[Bundle], model):
    """The scored candidate frame: one row per (qid, candidate_idx) with its
    plan JSON, measured ``exec_time_ms`` and the model's ``score``."""
    rows = [(qid, i, to_pg_json(p, t), float(t))
            for qid, cands in bundles for i, (p, t) in enumerate(cands)]
    df = spark.createDataFrame(
        rows,
        "qid string, candidate_idx int, plan_json string, exec_time_ms double")
    return score_plans(df, model)


def _train_score_series(spark: SparkSession,
                        pairs: list[tuple[list[Bundle], list[Bundle]]],
                        epochs: int, seed: int,
                        pair_weighting: str = "none") -> dict:
    """Model ``i`` trains from scratch on ``pairs[i][0]`` (seed ``seed + i``)
    and is scored on ``pairs[i][1]``: the chosen-plan latency sum and the
    ranking loss of each valid split, in order."""
    latency_series: list[float] = []
    loss_series: list[float | None] = []
    for i, (train, valid) in enumerate(pairs):
        model = train_pairwise_from_bundles(
            train, epochs=epochs, seed=seed + i,
            pair_weighting=pair_weighting)
        scored = _score_bundles(spark, valid, model).cache()
        latency_series.append(selection_report(scored)["sum"])
        loss_series.append(ranking_loss(scored))
        scored.unpersist()
    return {"latency_series": latency_series, "ranking_loss_series": loss_series}


def run_dynamic(spark: SparkSession, batches: list[list[Bundle]],
                epochs: int = 50, seed: int = 0) -> dict:
    """Train on batch i, evaluate on batch i+1 (reference
    ``dynamic.py:27-53``: retrain from scratch each batch). Returns the
    per-transition latency series and ranking losses."""
    return _train_score_series(spark, list(zip(batches, batches[1:])),
                               epochs, seed)


def run_deployment(spark: SparkSession,
                   train_batches: list[list[Bundle]],
                   valid_batches: list[list[Bundle]],
                   epochs: int = 50, seed: int = 0,
                   pair_weighting: str = "none") -> dict:
    """Deployment variant with a dedicated evaluation split
    (``Lero/deployment.py:16-46``): unlike ``run_dynamic`` (which evaluates
    on the *next training batch*), each batch carries its own ``valid_i``
    bundle set, and the series is

    - model_0 = bootstrap trained on the FIRST bundle of ``train_1`` only
      (``deployment.py:11-14`` seeds ``train_0`` with ``train_1``'s first
      line), evaluated on ``valid_1``;
    - model_i = trained on ``train_i``, evaluated on ``valid_{i+1}``
      (the final training batch is never trained on — the reference loop
      skips ``i == num_batch``).

    Returns the per-batch chosen-plan latency series
    (``lero_latency_list``) and ranking losses, one entry per valid split.
    """
    if len(train_batches) != len(valid_batches):
        raise ValueError("train/valid batch counts must match")
    if not train_batches or not train_batches[0]:
        return {"latency_series": [], "ranking_loss_series": []}
    model_train_sets = [[train_batches[0][0]]] + train_batches[:-1]
    return _train_score_series(spark,
                               list(zip(model_train_sets, valid_batches)),
                               epochs, seed, pair_weighting=pair_weighting)


def live_deployment_batches(spark: SparkSession, sf_dir: str,
                            num_batches: int = 10,
                            train_per_batch: int = 2,
                            valid_per_batch: int = 1,
                            seed: int = 42,
                            strategies: tuple[str, ...] =
                            LIVE_LABEL_STRATEGIES,
                            timeout_s: float | None = 30.0,
                            ) -> tuple[list[list[Bundle]], list[list[Bundle]]]:
    """Generate → explore/label → (train_i, valid_i) splits: the live
    front half of the reference's deployment workflow. The workload comes
    from the seeded generator and is labeled by
    ``evaluation.results.label_generated_workload`` (every query's
    hint/plan variants executed and timed; single-plan queries skipped),
    and the labeled bundles are sliced into per-batch train/valid splits
    in generation order — the drift-over-time framing of
    ``Lero/deployment.py:16-46``, with real executed plans and wall-clock
    labels instead of synthetic bundles."""
    from ..evaluation.results import label_generated_workload

    per_batch = train_per_batch + valid_per_batch
    total = num_batches * per_batch
    labeled, _, session, _ = label_generated_workload(
        spark, sf_dir, total, seed, strategies=strategies,
        timeout_s=timeout_s)
    if session is not spark:
        raise RuntimeError("a zombie plan variant forced a Spark restart; "
                           "rerun on the revived session")
    if len(labeled) < total:
        raise ValueError(
            f"workload yielded only {len(labeled)}/{total} rankable bundles "
            "— raise num_sql oversampling or loosen strategies")
    good = _as_bundles(labeled)
    starts = range(0, total, per_batch)
    return ([good[i:i + train_per_batch] for i in starts],
            [good[i + train_per_batch:i + per_batch] for i in starts])


def run_live_deployment(spark: SparkSession, sf_dir: str,
                        num_batches: int = 10, epochs: int = 20,
                        seed: int = 42, **kw) -> dict:
    """End-to-end: generate → explore/label → 10-batch deployment series.
    Composes :func:`live_deployment_batches` with :func:`run_deployment`
    — the full ``Lero/deployment.py`` loop driven by this repo's own
    workload generator and explorer instead of pre-recorded bundle files."""
    trains, valids = live_deployment_batches(
        spark, sf_dir, num_batches=num_batches, seed=seed, **kw)
    return run_deployment(spark, trains, valids, epochs=epochs, seed=seed)
