"""Regression anchor against the reference's surviving plan corpus.

``/root/reference/Lero/dynamic_data/stats_simplified/train_{0,1}`` holds
real PostgreSQL ``EXPLAIN (ANALYZE, FORMAT JSON)`` candidate bundles with
ground-truth ``Execution Time`` — the exact input format our featurizer and
trainer claim to support (SURVEY §7.2 M3: "support ingesting the
reference's PG-format JSON bundles directly"). The corpus is read at test
time only (never copied); tests skip when the tree is absent.
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from active_query_optimizer_spark.plans import featurize as FZ
from active_query_optimizer_spark.model import lero as L

CORPUS_DIR = "/root/reference/Lero/dynamic_data/stats_simplified"
CORPUS = [f"{CORPUS_DIR}/train_0", f"{CORPUS_DIR}/train_1"]

pytestmark = pytest.mark.skipif(
    not os.path.exists(CORPUS_DIR), reason="reference corpus not available")


def _load_bundles(paths, limit: int = 40):
    bundles = []
    for path in paths if isinstance(paths, list) else [paths]:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if not line:
                    continue
                parts = line.split("#####")
                plans = (parts[1:]
                         if not parts[0].lstrip().startswith(("[", "{"))
                         else parts)
                cands = []
                for p in plans:
                    tree, ms = FZ.from_pg_json(p)
                    cands.append((tree, ms))
                bundles.append((f"q{len(bundles)}", cands))
                if len(bundles) >= limit:
                    return bundles
    return bundles


def test_parse_full_reference_corpus():
    bundles = _load_bundles(CORPUS, limit=10_000)
    # this snapshot: train_0 = 1 bundle × 3 plans, train_1 = 182 bundles
    assert len(bundles) >= 150
    n_cands = {len(c) for _, c in bundles}
    assert n_cands <= {2, 3}  # SURVEY §1.1: 2–3 candidates per query
    all_ops = {op for _, cands in bundles
               for tree, _ in cands for op in tree.preorder_ops()}
    # every op the corpus contains maps into the 15-type vocabulary
    assert all_ops <= set(FZ.OP_TYPES)
    assert {"Hash Join", "Seq Scan", "Aggregate"} <= all_ops
    # execution-time labels present on every candidate
    assert all(ms is not None and ms > 0
               for _, cands in bundles for _, ms in cands)


def test_feature_dim_matches_reference_on_stats():
    """The reference's pickled ``input_feature_dim`` for STATS is 26 =
    15 ops + 8 relations + 1 unknown + width + rows (BASELINE.md)."""
    bundles = _load_bundles(CORPUS, limit=10_000)
    plans = [p for _, c in bundles for p, _ in c]
    times = [t for _, c in bundles for _, t in c]
    fg = FZ.FeatureGenerator().fit(plans, times)
    stats_tables = {"badges", "comments", "posthistory", "postlinks",
                    "posts", "tags", "users", "votes"}
    # the surviving snapshot's plans touch 7 of the 8 STATS tables (no
    # ``tags`` scan survives); with all 8 the dim is the reference's
    # pickled 26 = 15 + 8 + 1 + 2
    assert set(fg.relations) <= stats_tables
    assert fg.input_feature_dim == 15 + len(fg.relations) + 1 + 2


def test_train_and_rank_on_reference_corpus():
    """Pairwise model trained on real reference bundles must beat random
    plan choice on its training distribution (sanity anchor, not a
    benchmark: the reference reports ranking loss ~0.61 on a *held-out*
    workload)."""
    bundles = _load_bundles(CORPUS, limit=60)
    model = L.train_pairwise_from_bundles(bundles, epochs=20, seed=3)
    chosen_t, best_t, worst_t = [], [], []
    for _, cands in bundles:
        trees = [model.fg.transform_tree(p) for p, _ in cands]
        scores = model.predict(trees)
        times = [t for _, t in cands]
        chosen_t.append(times[int(np.argmin(scores))])
        best_t.append(min(times))
        worst_t.append(max(times))
    chosen, best, worst = sum(chosen_t), sum(best_t), sum(worst_t)
    mid = (best + worst) / 2
    assert chosen <= mid, (chosen, best, worst)
