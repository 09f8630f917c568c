"""Active-learning loop: choose which pool queries to label next.

This is the composition the reference exists for (its README workflow:
generate a pool → label a seed → train → embed → coreset-select the next
labeling batch → retrain): ``coreset.py`` supplies the selection,
``lero_train.get_feaure`` the embeddings, and the PG explorer the labels.
Here each piece is the Spark-native rebuild:

  pool workload (DataFrame)            workload/generate
  seed labeling (hint exploration)     plans/explore
  pairwise ranker                      model/lero
  pool plan embeddings                 model/infer.plan_embeddings (UDF)
  MinHash-LSH + greedy k-center        select/coreset
  next labeling batch                  ← selected ids

Labeling cost is the scarce resource (each label = executing every
candidate plan); everything else is cheap Spark jobs — which is why the
embeddings and selection run distributed over the *unlabeled* pool and only
the selected handful of queries ever reach the timed-execution stage.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..evaluation.metrics import as_bundles
from ..model.infer import plan_embeddings
from ..model.lero import LeroModelPairWise, train_pairwise_from_bundles
from ..plans.explore import HINT_STRATEGIES, LABEL_TIMEOUT_S, label_query
from ..plans.featurize import capture_plan, to_pg_json
from ..select.coreset import coreset_select


#: schema of the ``(qid, plan_json)`` rows ``pool_default_plans`` returns
_PLAN_ROWS = "qid string, plan_json string"


def pool_default_plans(spark: SparkSession,
                       pool: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Each pool query's Catalyst-default plan as a driver-side bundle row
    ``(qid, plan_json)`` — the cheap (un-executed, estimate-based)
    representation the embeddings are computed from. The plans do not
    depend on the model, so the active loop captures them once."""
    rows = []
    for qid, sql in pool:
        try:
            tree = capture_plan(spark.sql(sql), executed=False)
        except Exception:
            continue  # a query Catalyst cannot plan has no default plan
        rows.append((qid, to_pg_json(tree)))
    return rows


def select_next_batch(spark: SparkSession, model: LeroModelPairWise,
                      pool_plans: list[tuple[str, str]], k: int,
                      labeled_qids: set[str],
                      num_groups: int = 4, seed: int = 42) -> list[str]:
    """Coreset-select ``min(k, |unlabeled|)`` pool queries most distant (in
    plan-embedding space) from everything already labeled (reference
    ``coreset.py:91-98``: LSH partition → per-group greedy k-center against
    the labeled set). Every bucket proposes up to ``k`` in greedy order and
    the batch takes them round-robin: each bucket's first pick (by bucket
    id), then each bucket's second, until ``k`` are taken — so every round
    labels the same budget. ``pool_plans`` are ``pool_default_plans`` rows.

    The labeled embeddings go to ``coreset_select`` raw: it standardizes
    them with the unlabeled pool's (mean, std) and L2-normalizes them with
    the same helper as the pool, so similarities compare one space. The
    reference standardizes U∪L jointly (``coreset.py:100-131``); here the
    pool's stats stand in for the union's."""
    unlabeled = [row for row in pool_plans if row[0] not in labeled_qids]
    if not unlabeled:
        return []
    pool_df = spark.createDataFrame(unlabeled, _PLAN_ROWS)
    emb = plan_embeddings(pool_df, model).select(
        F.col("qid"), F.col("embedding"))

    labeled_rows = [row for row in pool_plans if row[0] in labeled_qids]
    labeled_mat = None
    if labeled_rows:
        ldf = spark.createDataFrame(labeled_rows, _PLAN_ROWS)
        lemb = plan_embeddings(ldf, model).select("embedding").collect()
        labeled_mat = np.stack([np.array(r["embedding"]) for r in lemb])

    # coreset_select runs two jobs on ``emb`` (column stats, then the
    # per-bucket selection); cached, each pool plan is embedded once
    emb.cache()
    try:
        sel = coreset_select(emb, k_per_bucket=k, labeled=labeled_mat,
                             id_col="qid", vec_col="embedding",
                             num_groups=num_groups, seed=seed).collect()
        sel.sort(key=lambda r: (r["rank"], r["bucket"]))
        return [r["qid"] for r in sel[:k]]
    finally:
        emb.unpersist()


def run_active_loop(spark: SparkSession, pool: list[tuple[str, str]],
                    seed_batch: int = 4, batch_size: int = 4,
                    rounds: int = 2, epochs: int = 15,
                    seed: int = 0) -> dict:
    """Bootstrap-label ``seed_batch`` queries and capture every pool
    query's default plan once, then for each round: train,
    embed the pool, coreset-select ``batch_size`` new queries, label them,
    fold into the training set. Returns the model + labeling history.
    Every candidate is labeled under ``LABEL_TIMEOUT_S``; one that survives
    the cancellation escalation raises ``ZombieExecutionError`` to the
    caller."""
    by_qid = dict(pool)
    labeled: list = []
    labeled_qids: set[str] = set()

    def label(qids: list[str]) -> list:
        return [(q, label_query(spark, by_qid[q], HINT_STRATEGIES,
                                LABEL_TIMEOUT_S)) for q in qids]

    first = [q for q, _ in pool[:seed_batch]]
    labeled += label(first)
    labeled_qids |= set(first)
    history = [sorted(first)]

    pool_plans = pool_default_plans(spark, pool)
    model = None
    for r in range(rounds):
        bundles = [b for b in as_bundles(labeled) if len(b[1]) >= 2]
        model = train_pairwise_from_bundles(bundles, epochs=epochs,
                                            seed=seed + r)
        picked = select_next_batch(spark, model, pool_plans, batch_size,
                                   labeled_qids, seed=seed)
        if not picked:
            break
        labeled += label(picked)
        labeled_qids |= set(picked)
        history.append(sorted(picked))

    return {"model": model, "labeled_qids": labeled_qids,
            "history": history, "bundles": labeled}
