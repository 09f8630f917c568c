"""``optimizer_train``: the learned optimizer's offline loop on the committed
label corpus.

Set-up reads every ``.label_cache`` bundle file directly and decodes its
plans with ``from_pg_json`` (going through ``cached_label_query`` would
relabel live whenever the code fingerprint moved). A fixed seed draws the
train / held-out / pool split; the run's seed seeds training and the
coreset hashing.

A pass is one cycle of three operations:

1. ``train``: train the pairwise ranker with ``tools/make_results.py``'s
   objective (latency pretrain, then the latency-delta weighted pairwise
   pass) on the train bundles, subsampled to fit the run;
2. ``score``: score the held-out candidates with ``score_plans`` and
   evaluate them with ``choose_best``, ``selection_report`` and
   ``ranking_loss``;
3. ``select``: embed the pool with ``plan_embeddings`` and pick the next
   labeling batch with ``coreset_select``.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import random
import time

import metrics as M

#: work per split, in plan-tree nodes: the train split counts every node
#: once per pair it takes part in (what pairwise training touches), the
#: held-out and pool splits count each plan's nodes once. Fixing the work
#: rather than the bundle count keeps every seed's cycle the same size.
TRAIN_WORK, HELD_WORK, POOL_WORK = 1200, 1400, 2800
#: the split is fixed so every seed trains and scores the same bundles; the
#: run's seed is the ranker's training seed (initial weights, pair order)
#: and the coreset's hashing seed
SPLIT_SEED = 0
PRETRAIN_EPOCHS, EPOCHS = 1, 1
CORESET_GROUPS, CORESET_K = 4, 4


def corpus_files(root: str) -> tuple[str, list[str]]:
    """The committed label cache's directory and its bundle files (probe
    markers excluded; poison markers are skipped when read)."""
    cache_dir = os.path.join(root, ".label_cache")
    return cache_dir, sorted(f for f in os.listdir(cache_dir)
                             if f.endswith(".json.gz")
                             and not f.endswith("-probe.json.gz"))


def read_bundles(cache_dir: str, files: list[str]) -> list:
    """``[(key, [(plan, exec_ms, plan_json, variant), ...]), ...]`` for
    every file holding at least two labeled candidates."""
    from active_query_optimizer_spark.plans.featurize import from_pg_json

    bundles = []
    for f in files:
        with gzip.open(os.path.join(cache_dir, f), "rt") as fh:
            raw = json.load(fh)
        if not isinstance(raw, list) or len(raw) < 2:
            continue  # poison marker or a one-plan bundle
        bundles.append((f.split(".")[0], [
            (from_pg_json(r["plan_json"])[0], float(r["exec_time_ms"]),
             r["plan_json"], r["variant"]) for r in raw]))
    return bundles


def _nodes(plan) -> int:
    return 1 + sum(_nodes(c) for c in plan.children)


def plan_nodes(cands) -> int:
    return sum(_nodes(p) for p, *_ in cands)


def pair_nodes(cands) -> int:
    return plan_nodes(cands) * (len(cands) - 1)


def _take(bundles, target: int, weight):
    """Bundles, in the given order, whose summed ``weight`` fills
    ``target`` without passing it (to within 3 %); returns them and the
    rest."""
    taken, rest, total = [], [], 0
    for b in bundles:
        w = weight(b[1])
        if total < 0.97 * target and total + w <= target:
            taken.append(b)
            total += w
        else:
            rest.append(b)
    return taken, rest


class OptimizerTrain:
    SETUP_REPEATS = 3
    #: steady passes a run makes at least, even past ``--seconds``. They
    #: take longer than the benchmark's 3 s, so each stage's best-of-N has
    #: the same N on every run
    STEADY_PASSES = 2

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.cache_dir, self.files = corpus_files(ctx.root)
        h = hashlib.sha256()
        for f in self.files:
            with open(os.path.join(self.cache_dir, f), "rb") as fh:
                h.update(f.encode() + fh.read())
        ctx.inputs["label_corpus"] = {"files": len(self.files),
                                      "sha256": h.hexdigest()[:16]}
        self.cycles: list[dict] = []

    def setup(self) -> None:
        with self.ctx.tracer.span("featurize.decode"):
            self.bundles = read_bundles(self.cache_dir, self.files)

    def prepare(self) -> None:
        order = list(range(len(self.bundles)))
        random.Random(SPLIT_SEED).shuffle(order)
        left = [self.bundles[i] for i in order]
        self.train, left = _take(left, TRAIN_WORK, pair_nodes)
        self.held, left = _take(left, HELD_WORK, plan_nodes)
        self.pool, left = _take(left, POOL_WORK, plan_nodes)
        self.ctx.inputs["label_corpus"].update(
            bundles=len(self.bundles),
            plans=sum(len(c) for _, c in self.bundles),
            pairs=sum(len(c) * (len(c) - 1) // 2 for _, c in self.bundles),
            split_bundles=[len(self.train), len(self.held), len(self.pool)],
            train=[q for q, _ in self.train])

    def ops(self):
        return [("train", self._train), ("score", self._score),
                ("select", self._select)]

    def _train(self) -> dict:
        from active_query_optimizer_spark.evaluation.results import (
            LABEL_TIMEOUT_S)
        from active_query_optimizer_spark.model.lero import (
            train_pairwise_from_bundles)
        from active_query_optimizer_spark.plans.explore import (
            LABEL_TIMEOUT_PENALTY)

        t0 = time.perf_counter()
        self.model = train_pairwise_from_bundles(
            [(q, [(p, t) for p, t, _, _ in c]) for q, c in self.train],
            epochs=EPOCHS, seed=self.ctx.seed,
            pretrain_epochs=PRETRAIN_EPOCHS, pretrain_mode="latency",
            pretrain_censor_ms=LABEL_TIMEOUT_PENALTY * LABEL_TIMEOUT_S
            * 1000.0,
            pair_weighting="latency_delta")
        self.cycles.append({})
        return {"s": time.perf_counter() - t0}

    def _score(self) -> dict:
        from active_query_optimizer_spark.evaluation.metrics import (
            ranking_loss, selection_report)
        from active_query_optimizer_spark.model.infer import (
            choose_best, score_plans)

        spark, tracer = self.ctx.spark, self.ctx.tracer
        t0 = time.perf_counter()
        rows = [(q, i, v, js, t) for q, c in self.held
                for i, (_, t, js, v) in enumerate(c)]
        df = spark.createDataFrame(
            rows, "qid string, candidate_idx int, variant string, "
                  "plan_json string, exec_time_ms double")
        with tracer.span("infer.score"):
            scored = score_plans(df, self.model).cache()
            n_scored = scored.count()
        picks = {r["qid"]: r["candidate_idx"]
                 for r in choose_best(scored).collect()}
        report = selection_report(scored)
        with tracer.span("evaluation.ranking_loss"):
            loss = ranking_loss(scored)
        scored.unpersist()
        s = time.perf_counter() - t0
        regret_ms = sum(c[picks[q]][1] - min(t for _, t, _, _ in c)
                        for q, c in self.held if q in picks)
        self.cycles[-1].update(picks=picks, report_keys=sorted(report),
                               loss=loss, regret_s=regret_ms / 1e3)
        return {"s": s, "plans_scored": n_scored}

    def _select(self) -> dict:
        from active_query_optimizer_spark.model.infer import plan_embeddings
        from active_query_optimizer_spark.select.coreset import coreset_select

        spark, tracer = self.ctx.spark, self.ctx.tracer
        t0 = time.perf_counter()
        pool = spark.createDataFrame(
            list(enumerate(js for _, c in self.pool for _, _, js, _ in c)),
            "vec_id long, plan_json string")
        with tracer.span("select.embed"):
            emb = plan_embeddings(pool, self.model).select(
                "vec_id", "embedding").cache()
            emb.count()
        with tracer.span("select.coreset"):
            chosen = [r["vec_id"] for r in coreset_select(
                emb, CORESET_K, num_groups=CORESET_GROUPS,
                seed=self.ctx.seed).collect()]
        emb.unpersist()
        s = time.perf_counter() - t0
        self.cycles[-1].update(chosen=sorted(chosen))
        return {"s": s, "selected": len(chosen)}

    def check(self) -> tuple[int, list[str]]:
        """Per cycle: one pick per held-out query, regret >= 0, coreset ids
        drawn from the pool; across cycles: identical picks, regret, loss
        and selection (training and scoring are seeded)."""
        failures = []
        held_q = {q for q, _ in self.held}
        n_pool = sum(len(c) for _, c in self.pool)
        keys = ("picks", "regret_s", "loss", "chosen")
        first = self.cycles[0] if self.cycles else {}
        for k, c in enumerate(self.cycles):
            if any(key not in c for key in keys):
                failures.append(f"cycle {k}: incomplete")
                continue
            if set(c["picks"]) != held_q:
                failures.append(f"cycle {k}: picks cover "
                                f"{len(c['picks'])}/{len(held_q)} queries")
            if set(c["report_keys"]) != held_q | {"sum"}:
                failures.append(f"cycle {k}: selection report keys differ")
            if c["regret_s"] < 0:
                failures.append(f"cycle {k}: regret {c['regret_s']} < 0")
            if not c["chosen"] or not all(0 <= i < n_pool
                                          for i in c["chosen"]):
                failures.append(f"cycle {k}: coreset ids outside the pool")
            if any(c[key] != first.get(key) for key in keys):
                failures.append(f"cycle {k}: result differs from cycle 0")
        return len(self.cycles), failures

    def quality(self) -> dict:
        c = self.cycles[0] if self.cycles else {}
        return {"regret_s": c.get("regret_s", 0.0),
                "ranking_loss": c.get("loss") or 0.0}

    def _figures(self, ops) -> dict:
        by = {}
        for s in ops:
            by.setdefault(s["op"], []).append(s)
        return {
            "train_s": M.median([s["s"] for s in by.get("train", [])]),
            "score_plans_per_s": M.median(
                [s["plans_scored"] / s["s"] for s in by.get("score", [])]),
            "select_s": M.median([s["s"] for s in by.get("select", [])]),
        }

    def summary(self, passes) -> dict:
        steady = [s for p in passes[1:] for s in p["ops"] if "error" not in s]
        return {**self._figures(steady), **self.quality()}

    def layer_metrics(self, passes, traced, tracer, totals, n_tr) -> dict:
        pairs = sum(len(c) * (len(c) - 1) // 2 for _, c in self.train)
        pairwise = totals.get("model.pairwise", {}).get("total_s", 0.0) / n_tr
        ops = [s for p in traced for s in p["ops"] if "error" not in s]
        return {
            **self._figures(ops),
            "model.pairs": float(pairs),
            "model.pairs_per_s": pairs * EPOCHS / pairwise if pairwise else 0.0,
            "infer.plans_scored": M.median(
                [s["plans_scored"] for s in ops if s["op"] == "score"]),
        }
