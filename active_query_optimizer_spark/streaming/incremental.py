"""Incremental ranker retraining as a Structured Streaming sink.

The reference's dynamic pipeline (``Lero/dynamic.py:23-53``) is a manual
loop over arriving workload batches; SURVEY.md §3.3 notes the idiomatic
live form is ``foreachBatch`` — this module is that form: a stream of
labeled bundle lines (the ``qid#####planJSON…`` text format) drives
per-micro-batch retraining; each batch's model evaluates on the *next*
batch before being replaced, reproducing the reference's
train-on-i / eval-on-i+1 protocol continuously.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..evaluation.metrics import evaluate_bundles
from ..model.lero import LeroModelPairWise, train_pairwise_from_bundles
from ..plans.featurize import from_pg_json


class IncrementalTrainer:
    """State carried across micro-batches: current model + metric series."""

    def __init__(self, epochs: int = 30, seed: int = 0) -> None:
        self.epochs, self.seed = epochs, seed
        self.model: LeroModelPairWise | None = None
        self.loss_series: list[float | None] = []
        self.batches_seen = 0

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body. ``batch_df``: [qid, candidate_idx, plan_json]
        (exploded bundles with Execution Time embedded in the JSON; a
        candidate without one is unlabeled and skipped)."""
        rows = batch_df.select("qid", "candidate_idx", "plan_json").collect()
        if not rows:
            return
        by_qid: dict[str, list] = {}
        for r in rows:
            tree, ms = from_pg_json(r["plan_json"])
            if ms is not None:
                by_qid.setdefault(r["qid"], []).append((tree, ms))
        bundles = [(q, cands) for q, cands in by_qid.items()
                   if len(cands) >= 2]
        if self.model is not None:
            # evaluate yesterday's model on today's data first (drift metric)
            self.loss_series.append(evaluate_bundles(
                batch_df.sparkSession, self.model, bundles)["loss"])
        if bundles:
            self.model = train_pairwise_from_bundles(
                bundles, epochs=self.epochs, seed=self.seed + batch_id)
        self.batches_seen += 1


def incremental_retrain_stream(bundle_stream: DataFrame,
                               trainer: IncrementalTrainer,
                               checkpoint_dir: str):
    """Wire a bundle-line stream into the trainer; returns the started
    query (caller awaits/stops). ``availableNow`` in tests; continuous
    micro-batches in production."""
    from pyspark.sql import functions as F

    from ..sources.workload_text import SEP

    parts = F.split(F.col("value"), SEP)
    exploded = (bundle_stream
                .where(F.length(F.trim("value")) > 0)
                .select(parts[0].alias("qid"),
                        F.posexplode(F.slice(parts, 2, 1_000_000))
                        .alias("candidate_idx", "plan_json")))
    return (exploded.writeStream
            .foreachBatch(trainer.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())
