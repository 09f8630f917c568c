"""Distributed plan scoring + plan selection.

The reference scores candidates in a driver loop (``Lero/lero_test.py:
82-112``); at fleet scale (millions of plan candidates logged per day) the
scoring must run where the plans live. Here:

- ``score_plans``: Arrow-batched pandas UDF over a ``plan_json`` column;
  the numpy net weights + featurizer state broadcast once per job (KB-MB),
  each batch re-hydrates the net locally and scores a few thousand trees
  vectorized — no per-row Python round trips.
- ``choose_best``: per-query argmin of predicted score =
  ``row_number() over (partition by qid order by score, idx)`` — one
  shuffle on qid; the idx tie-break keeps the winner deterministic
  (``lero_test.py:97`` argmin takes the first minimum the same way).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.featurize import FeatureGenerator, from_pg_json, prepare_trees
from .lero import LeroModel
from .tcnn import LeroNet


def _model_state(model: LeroModel) -> dict:
    net = model._ensure_net()
    assert model.fg is not None
    return {
        "fg": model.fg.state_dict(),
        "weights": {k: v.copy() for k, v in net.state_arrays().items()},
        "hidden": tuple(layer.c_out for layer in net.tree
                        if hasattr(layer, "c_out")),
    }


def _rebuild(state: dict) -> LeroModel:
    fg = FeatureGenerator.from_state(state["fg"])
    model = LeroModel(fg)
    model.net = LeroNet(fg.input_feature_dim, hidden=state["hidden"])
    model.net.load_state_arrays(state["weights"])
    return model


def _net_column(df: DataFrame, model: LeroModel, out_col: str,
                embed: bool) -> DataFrame:
    """Append the net's output for each ``plan_json`` row: the pooled
    embedding when ``embed``, else the score. One Arrow-batched UDF body
    serves both."""
    b_state = df.sparkSession.sparkContext.broadcast(_model_state(model))

    @F.pandas_udf("array<double>" if embed else "double")
    def _apply(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        local = _rebuild(b_state.value)
        for s in batches:
            if s.empty:
                yield pd.Series([], dtype=object if embed else float)
                continue
            trees = [local.fg.transform_tree(from_pg_json(p)[0])
                     for p in s]
            scores, emb = local.net.forward(*prepare_trees(trees))
            yield (pd.Series(list(np.asarray(emb, dtype=float))) if embed
                   else pd.Series(np.asarray(scores, dtype=float)))

    return df.withColumn(out_col, _apply(F.col("plan_json")))


def score_plans(df: DataFrame, model: LeroModel) -> DataFrame:
    """Append ``score`` = learned cost of each ``plan_json`` row."""
    return _net_column(df, model, "score", embed=False)


def plan_embeddings(df: DataFrame, model: LeroModel) -> DataFrame:
    """Append ``embedding``, the 64-d pooled plan embedding of each
    ``plan_json`` row (feeds coreset selection — reference
    ``lero_train.py:224-241``)."""
    return _net_column(df, model, "embedding", embed=True)


def choose_best(df: DataFrame) -> DataFrame:
    """One row per ``qid``: the candidate with the lowest predicted
    ``score`` (deterministic tie-break on ``candidate_idx``)."""
    w = Window.partitionBy("qid").orderBy(F.col("score").asc(),
                                          F.col("candidate_idx").asc())
    return (df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1).drop("__rn"))
