"""Stable pipeline: label → train pairwise → select → evaluate.

Rebuilds the reference's primary entry point (``stable.py:13-30``,
``Lero/stable.py:11-28``; lifecycle trace in SURVEY.md §3.1), with the PG
plan-explorer stage replaced by Spark hint-variant exploration
(``plans.explore``):

1. label each training query's candidate plans (timed execution);
2. fit ``FeatureGenerator`` + pairwise tree-conv ranker on all candidate
   pairs;
3. score the test queries' candidates and report the chosen-plan latency
   dict (``lero_dict.json`` shape) and the Spearman ranking loss, both
   from ``evaluation.metrics.evaluate_bundles``.

The reference's root ``stable.py:24-26`` divides the summed seconds by 1000
twice (catalogued bug, SURVEY §2.G) — not replicated.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

from ..evaluation.metrics import as_bundles, evaluate_bundles
from ..model.lero import train_pairwise_from_bundles
from ..plans.explore import HINT_STRATEGIES, LABEL_TIMEOUT_S, label_query


def run_stable(spark: SparkSession, train_queries: list[tuple[str, str]],
               test_queries: list[tuple[str, str]] | None = None,
               model_dir: str | None = None, epochs: int = 50,
               seed: int = 0) -> dict:
    """Label + train on ``train_queries`` (``(qid, sql)`` against already
    registered views), evaluate on ``test_queries`` (defaults to the train
    set — the reference evaluates a held-out file when present). Every
    candidate is labeled under ``LABEL_TIMEOUT_S``; one that survives the
    cancellation escalation raises ``ZombieExecutionError`` to the caller."""
    def label(queries: list[tuple[str, str]]) -> list:
        return as_bundles([(q, label_query(spark, sql, HINT_STRATEGIES,
                                           LABEL_TIMEOUT_S))
                           for q, sql in queries])

    bundles = label(train_queries)
    model = train_pairwise_from_bundles(bundles, epochs=epochs, seed=seed)

    eval_bundles = bundles
    if test_queries is not None:
        eval_bundles = label(test_queries)
    ev = evaluate_bundles(spark, model, eval_bundles)

    if model_dir:
        model.save(model_dir)
        with open(os.path.join(model_dir, "lero_dict.json"), "w") as f:
            json.dump(ev["lero_dict"], f)
    return {"model": model, "lero_dict": ev["lero_dict"],
            "ranking_loss": ev["loss"], "bundles": eval_bundles}
