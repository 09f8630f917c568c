"""Deployment pipeline: incremental retraining under workload drift.

Rebuilds ``Lero/deployment.py:16-46``: for batch i, retrain from scratch
on batch i's labeled bundles and evaluate on the next batch's dedicated
valid split — the distribution-shift simulation. Per-batch total latency
of the chosen plans is the reported series (``lero_latency_list``); every
evaluation goes through ``evaluation.metrics.evaluate_bundles``. The
reference's ``Lero/dynamic.py:23-53`` next-batch protocol is this loop
without the bootstrap model, and is no longer a separate entry point.

The batches are labeled bundles the caller supplies: the RESULTS artifact
(``evaluation.results.optimizer_results``) slices its live-generated,
explorer-labeled workload into ``run_deployment``'s train/valid splits.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..evaluation.metrics import Bundle, evaluate_bundles
from ..model.lero import train_pairwise_from_bundles


def run_deployment(spark: SparkSession,
                   train_batches: list[list[Bundle]],
                   valid_batches: list[list[Bundle]],
                   epochs: int = 50, seed: int = 0,
                   pair_weighting: str = "none") -> dict:
    """Deployment series with a dedicated evaluation split
    (``Lero/deployment.py:16-46``): each batch carries its own ``valid_i``
    bundle set, and the series is

    - model_0 = bootstrap trained on the FIRST bundle of ``train_1`` only
      (``deployment.py:11-14`` seeds ``train_0`` with ``train_1``'s first
      line), evaluated on ``valid_1``;
    - model_i = trained on ``train_i``, evaluated on ``valid_{i+1}``
      (the final training batch is never trained on — the reference loop
      skips ``i == num_batch``).

    Model ``i`` trains from scratch with seed ``seed + i``. Returns the
    per-batch chosen-plan latency series (``lero_latency_list``) and
    ranking losses, one entry per valid split.
    """
    if len(train_batches) != len(valid_batches):
        raise ValueError("train/valid batch counts must match")
    if not train_batches or not train_batches[0]:
        return {"latency_series": [], "ranking_loss_series": []}
    model_train_sets = [[train_batches[0][0]]] + train_batches[:-1]
    latency_series: list[float] = []
    loss_series: list[float | None] = []
    for i, (train, valid) in enumerate(zip(model_train_sets, valid_batches)):
        model = train_pairwise_from_bundles(
            train, epochs=epochs, seed=seed + i,
            pair_weighting=pair_weighting)
        ev = evaluate_bundles(spark, model, valid)
        latency_series.append(ev["lero_dict"]["sum"])
        loss_series.append(ev["loss"])
    return {"latency_series": latency_series, "ranking_loss_series": loss_series}
