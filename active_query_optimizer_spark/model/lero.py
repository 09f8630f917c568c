"""Plan-ranker training: pointwise and pairwise.

Rebuilds ``Lero/model.py:128-319`` and ``Lero/lero_train.py:26-73``:

- ``LeroModel`` — pointwise MSE on normalized latency;
- ``LeroModelPairWise`` — the reference's main mode: for each query's
  candidate set, all ordered pairs (i, j), label ``1.0 if t_i >= t_j``,
  loss = BCE(sigmoid(s_i − s_j), label) (``model.py:267-299``); a single
  shared net scores both sides in one batch, so one backward pass takes
  the pair gradient ``(p − y)`` into side 1 and ``−(p − y)`` into side 2.

The reference's rank-score pretrain labels (rank², rank⁴, eʳᵃⁿᵏ —
``lero_train.py:43-73``) are not rebuilt: rank² and eʳᵃⁿᵏ lost to the
latency pretrain (PRETRAIN_AB.md).

Training is driver-local numpy (corpora are ≤ a few thousand plans — the
reference trains 2511 pairs in ~3 CPU-minutes; this net is the same size).
Pairs are built on the driver too (``all_pairs`` over each query's
bundle); scoring at scale is a pandas UDF (``model/infer.py``).
"""

from __future__ import annotations

import json
import os

import numpy as np

from ..plans.featurize import (FeatureGenerator, FlatTree, PlanNode,
                                prepare_trees)
from .tcnn import Adam, LeroNet


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


class LeroModel:
    """Pointwise trainer (``Lero/model.py:128-213``): MSE on normalized
    latency labels."""

    def __init__(self, feature_generator: FeatureGenerator | None = None,
                 seed: int = 0) -> None:
        self.fg = feature_generator
        self.net: LeroNet | None = None
        self._seed = seed

    def _ensure_net(self) -> LeroNet:
        if self.net is None:
            assert self.fg is not None
            self.net = LeroNet(self.fg.input_feature_dim, seed=self._seed)
        return self.net

    def fit(self, trees: list[FlatTree], labels: list[float],
            epochs: int = 100, batch_size: int = 64, lr: float = 1e-3,
            seed: int = 0) -> list[float]:
        """Returns per-epoch mean losses. Defaults mirror the reference
        (batch 64, 100 epochs, Adam — ``model.py:133,168``)."""
        net = self._ensure_net()
        opt = Adam(net.params(), lr=lr)
        y = np.asarray(labels, dtype=float)
        rng = np.random.default_rng(seed)
        losses = []
        for _ in range(epochs):
            order = rng.permutation(len(trees))
            total, nb = 0.0, 0
            for s in range(0, len(order), batch_size):
                sel = order[s:s + batch_size]
                net.zero_grad()
                scores, _ = net.forward(
                    *prepare_trees([trees[i] for i in sel]))
                diff = scores - y[sel]
                total += float((diff ** 2).mean())
                nb += 1
                net.backward(2.0 * diff / len(sel))
                opt.step()
            losses.append(total / max(nb, 1))
        return losses

    def predict(self, trees: list[FlatTree]) -> np.ndarray:
        return self._ensure_net().forward(*prepare_trees(trees))[0]

    def embeddings(self, trees: list[FlatTree]) -> np.ndarray:
        """64-d pooled plan embeddings (``lero_train.py:224-241`` —
        ``get_feaure`` (sic)); feeds coreset selection."""
        return self._ensure_net().forward(*prepare_trees(trees))[1]

    # ---- persistence (reference: torch state dict + joblib'd generator,
    #      ``model.py:100-126``; here: npz + json)
    def save(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        assert self.fg is not None
        net = self._ensure_net()
        np.savez(os.path.join(path, "weights.npz"), **net.state_arrays())
        with open(os.path.join(path, "feature_generator.json"), "w") as f:
            json.dump(self.fg.state_dict(), f)
        with open(os.path.join(path, "input_feature_dim"), "w") as f:
            f.write(str(self.fg.input_feature_dim))

    @classmethod
    def load(cls, path: str) -> "LeroModel":
        with open(os.path.join(path, "feature_generator.json")) as f:
            fg = FeatureGenerator.from_state(json.load(f))
        model = cls(fg)
        net = model._ensure_net()
        with np.load(os.path.join(path, "weights.npz")) as z:
            net.load_state_arrays(dict(z))
        return model


class LeroModelPairWise(LeroModel):
    """Pairwise trainer (``Lero/model.py:216-319``)."""

    def fit_pairs(self, x1: list[FlatTree], x2: list[FlatTree],
                  y1: list[float], y2: list[float],
                  epochs: int = 100, batch_size: int = 64, lr: float = 1e-3,
                  seed: int = 0,
                  weights: list[float] | None = None) -> list[float]:
        """(x1[i], x2[i]) are two candidate plans of the same query with
        true latencies (y1[i], y2[i]); label = 1.0 if y1 >= y2
        (``model.py:238-241``). ``weights`` (optional, mean-1-normalized
        by the caller) scale each pair's cross-entropy and gradient —
        the consequence-weighted objective (round-11 q64-class
        experiment): a pair whose mis-ordering costs 4x latency should
        pull harder than a near-tie."""
        net = self._ensure_net()
        opt = Adam(net.params(), lr=lr)
        labels = (np.asarray(y1) >= np.asarray(y2)).astype(float)
        w_all = (np.ones(len(x1)) if weights is None
                 else np.asarray(weights, dtype=float))
        rng = np.random.default_rng(seed)
        losses = []
        for _ in range(epochs):
            order = rng.permutation(len(x1))
            total, nb = 0.0, 0
            for s in range(0, len(order), batch_size):
                sel = order[s:s + batch_size]
                net.zero_grad()
                # both sides in one batch: side 1 rows, then side 2 rows
                s, _ = net.forward(*prepare_trees(
                    [x1[i] for i in sel] + [x2[i] for i in sel]))
                p = _sigmoid(s[:len(sel)] - s[len(sel):])
                yb = labels[sel]
                wb = w_all[sel]
                eps = 1e-12
                total += float(-(wb * (yb * np.log(p + eps)
                                       + (1 - yb) * np.log(1 - p + eps))
                                 ).mean())
                nb += 1
                g = wb * (p - yb) / len(sel)
                net.backward(np.concatenate([g, -g]))
                opt.step()
            losses.append(total / max(nb, 1))
        return losses


def all_pairs(items: list) -> list[tuple]:
    """All ordered candidate pairs of one query's bundle
    (``lero_train.py:26-40``: n(n−1)/2 with both sides used)."""
    out = []
    for i in range(len(items)):
        for j in range(i + 1, len(items)):
            out.append((items[i], items[j]))
    return out


def train_pairwise_from_bundles(
        bundles: list[tuple[str, list[tuple[PlanNode, float]]]],
        epochs: int = 100, seed: int = 0,
        pretrain_epochs: int = 0,
        pretrain_mode: str = "latency",
        pretrain_censor_ms: float | None = None,
        pair_weighting: str = "none",
        ) -> LeroModelPairWise:
    """End-to-end: labeled bundles → fit FeatureGenerator → all-pairs →
    pairwise model (the ``training_pairwise`` orchestration,
    ``lero_train.py:76-161``).

    With ``pretrain_epochs > 0`` the net is first fit POINTWISE and the
    pairwise pass fine-tunes from those weights — the reference's
    pretraining idea (``lero_train.py:43-73,91-94``) applied as
    initialization. The pairwise cross-entropy only sees plan ORDER
    within a bundle; a heavy-tailed workload (one 19.7 s mis-pick
    dominating a fold's regret — round-9 verdict item #6) benefits from
    the net also carrying latency MAGNITUDE. ``pretrain_mode`` must be
    ``latency`` (fit normalized measured latency); the reference's
    rank-score label family lost to it (PRETRAIN_AB.md).

    ``pretrain_censor_ms`` excludes candidates at/above that label from
    the PRETRAIN SET ONLY: a timeout-penalty label is a censored
    observation (a lower bound), not a latency measurement — on a
    penalty-dense corpus (the sf1 rehearsal) fitting magnitudes to the
    penalty constant distorts every score. The pairwise pass still sees
    those candidates: their ordering information is valid.

    ``pair_weighting="latency_delta"`` weights each training pair by the
    absolute difference of its two NORMALIZED latency labels
    (mean-1-normalized across the pair set): a pair whose mis-ordering
    costs 4x pulls harder than a near-tie, concentrating capacity on the
    picks that dominate regret (the q64-class experiment). ``"none"``
    replicates the reference's equal-weight objective."""
    if pretrain_mode != "latency":
        raise ValueError(f"unknown pretrain_mode {pretrain_mode!r}")
    plans = [p for _, cands in bundles for p, _ in cands]
    times = [t for _, cands in bundles for _, t in cands]
    fg = FeatureGenerator().fit(plans, times)
    model = LeroModelPairWise(fg, seed=seed)
    # featurize each plan once: the pretrain set and the pairs share trees
    featurized = [[(fg.transform_tree(p), t) for p, t in cands]
                  for _, cands in bundles]
    if pretrain_epochs > 0 and plans:
        keep = [[(x, t) for x, t in cands
                 if pretrain_censor_ms is None or t < pretrain_censor_ms]
                for cands in featurized]
        p_trees = [x for cands in keep for x, _ in cands]
        labels = [fg.label_norm.norm(t) for cands in keep for _, t in cands]
        if p_trees:
            model.fit(p_trees, labels, epochs=pretrain_epochs, seed=seed)
    x1, x2, y1, y2 = [], [], [], []
    for cands in featurized:
        for (xa, ta), (xb, tb) in all_pairs(cands):
            x1.append(xa)
            x2.append(xb)
            y1.append(fg.label_norm.norm(ta))
            y2.append(fg.label_norm.norm(tb))
    weights = None
    if pair_weighting == "latency_delta" and x1:
        w = np.abs(np.asarray(y1) - np.asarray(y2))
        mean = float(w.mean())
        # an all-tied pair set degenerates to equal weights rather than
        # zeroing the gradient
        weights = list(w / mean) if mean > 0 else None
    elif pair_weighting != "none":
        raise ValueError(f"unknown pair_weighting {pair_weighting!r}")
    if x1:
        model.fit_pairs(x1, x2, y1, y2, epochs=epochs, seed=seed,
                        weights=weights)
    return model
