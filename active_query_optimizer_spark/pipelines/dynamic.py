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


def _score_bundles(spark: SparkSession, bundles: list[Bundle], model):
    rows = [(qid, i, to_pg_json(p, t), float(t))
            for qid, cands in bundles for i, (p, t) in enumerate(cands)]
    df = spark.createDataFrame(
        rows,
        "qid string, candidate_idx int, plan_json string, exec_time_ms double")
    return score_plans(df, model)


def run_dynamic(spark: SparkSession, batches: list[list[Bundle]],
                epochs: int = 50, seed: int = 0) -> dict:
    """Train on batch i, evaluate on batch i+1 (reference
    ``dynamic.py:27-53``: retrain from scratch each batch). Returns the
    per-transition latency series and ranking losses."""
    latency_series: list[float] = []
    loss_series: list[float | None] = []
    for i in range(len(batches) - 1):
        model = train_pairwise_from_bundles(batches[i], epochs=epochs,
                                            seed=seed + i)
        scored = _score_bundles(spark, batches[i + 1], model).cache()
        report = selection_report(scored)
        latency_series.append(report["sum"])
        loss_series.append(ranking_loss(scored))
        scored.unpersist()
    return {"latency_series": latency_series, "ranking_loss_series": loss_series}


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
    bootstrap = [train_batches[0][0]]
    model_train_sets = [bootstrap] + train_batches[:-1]
    latency_series: list[float] = []
    loss_series: list[float | None] = []
    for i, (train, valid) in enumerate(zip(model_train_sets, valid_batches)):
        model = train_pairwise_from_bundles(
            train, epochs=epochs, seed=seed + i,
            pair_weighting=pair_weighting)
        scored = _score_bundles(spark, valid, model).cache()
        report = selection_report(scored)
        latency_series.append(report["sum"])
        loss_series.append(ranking_loss(scored))
        scored.unpersist()
    return {"latency_series": latency_series, "ranking_loss_series": loss_series}


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
    from the seeded generator (``workload/generate``, the rebuild of
    ``create_sql.py``), every query is labeled by executing its hint/plan
    variants (``plans/explore.label_query``), and the labeled bundles are
    sliced into per-batch train/valid splits in generation order — the
    drift-over-time framing of ``Lero/deployment.py:16-46``, with real
    executed plans and wall-clock labels instead of synthetic bundles.

    Queries whose variants collapse to a single physical plan carry no
    ranking signal and are skipped (the generator is over-sampled 2× to
    cover the loss)."""
    from ..catalog import register_views
    from ..plans.explore import label_query
    from ..stats.harvester import harvest_range_dict
    from ..workload.generate import generate_workload

    register_views(spark, sf_dir)
    rd = harvest_range_dict(spark, sf_dir)
    total = num_batches * (train_per_batch + valid_per_batch)
    wl = sorted(generate_workload(spark, rd, num_sql=2 * total,
                                  seed=seed).collect(),
                key=lambda r: r["id"])
    good: list[Bundle] = []
    for r in wl:
        cands = label_query(spark, r["sql"], strategies, timeout_s)
        if len(cands) >= 2:
            good.append((f"g{r['id']}",
                         [(c.plan, float(c.exec_time_ms)) for c in cands]))
        if len(good) >= total:
            break
    if len(good) < total:
        raise ValueError(
            f"workload yielded only {len(good)}/{total} rankable bundles — "
            "raise num_sql oversampling or loosen strategies")
    trains: list[list[Bundle]] = []
    valids: list[list[Bundle]] = []
    i = 0
    for _ in range(num_batches):
        trains.append(good[i:i + train_per_batch])
        i += train_per_batch
        valids.append(good[i:i + valid_per_batch])
        i += valid_per_batch
    return trains, valids


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
