"""Metric catalogue and the reduction of a run's samples to metrics.

End-to-end metrics are the same three on every workload; what an
*operation* and a *pass* are depends on the workload (see README.md).
Per-layer metrics are reported by the traced run; a layer a workload does
not exercise reads 0 there. Per-layer times and counts are per steady
pass unless the name says otherwise; set-up layers are the median over the
run's set-up repetitions.
"""

from __future__ import annotations

import math
import statistics

#: name, unit, better, bound (share of the parent's median). Every bound is
#: the largest allowed: on a shared 4-core host, whole runs drift up to a
#: quarter slower for minutes at a time, and every metric moves with them.
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("cold_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.25),
)

#: name, unit, better, and the end-to-end metric and workload it should move
PER_LAYER = (
    # set-up (median over the run's set-up repetitions)
    ("session.start_s", "s", "lower",
     "setup_s on all"),
    ("featurize.decode_s", "s", "lower",
     "setup_s on optimizer_train"),
    # engine_queries
    ("query_s.p50", "s", "lower",
     "pass_s on engine_queries"),
    ("query_s.p90", "s", "lower",
     "pass_s on engine_queries"),
    ("query_cold_s.sum", "s", "lower",
     "cold_s on engine_queries"),
    ("operators.build_s", "s", "lower",
     "pass_s, cold_s on engine_queries"),
    ("operators.action_s", "s", "lower",
     "pass_s, cold_s on engine_queries"),
    ("operators.build_share", "ratio", "lower",
     "pass_s on engine_queries"),
    ("operators.build_jobs", "count", "lower",
     "pass_s on engine_queries"),
    ("catalog.load_table_s", "s", "lower",
     "pass_s (operators.build_s) on engine_queries"),
    ("catalog.load_table_calls", "count", "lower",
     "pass_s (operators.build_s) on engine_queries"),
    ("cache.persisted_rdds_leaked", "count", "lower",
     "cold_s, pass_s on engine_queries"),
    ("cache.leaking_queries", "count", "lower",
     "cold_s, pass_s on engine_queries"),
    ("plan.exchanges", "count", "lower",
     "pass_s on engine_queries"),
    ("plan.python_nodes", "count", "lower",
     "pass_s on engine_queries"),
    # Spark status store, per steady pass
    ("spark.executor_cpu_s", "s", "lower",
     "pass_s on all"),
    ("spark.executor_run_s", "s", "lower",
     "pass_s on all"),
    ("spark.core_busy", "ratio", "higher",
     "pass_s on all"),
    ("spark.jobs", "count", "lower",
     "pass_s on all"),
    ("spark.stages", "count", "lower",
     "pass_s on all"),
    ("spark.tasks", "count", "lower",
     "pass_s on all"),
    ("spark.input_mb", "MB", "lower",
     "pass_s on engine_queries"),
    ("spark.shuffle_read_mb", "MB", "lower",
     "pass_s on engine_queries, optimizer_train"),
    ("spark.shuffle_write_mb", "MB", "lower",
     "pass_s on engine_queries, optimizer_train"),
    ("spark.spill_mb", "MB", "lower",
     "pass_s on engine_queries"),
    ("py4j.calls", "count/op", "lower",
     "pass_s on engine_queries"),
    # optimizer_train
    ("train_s", "s", "lower",
     "pass_s on optimizer_train"),
    ("score_plans_per_s", "1/s", "higher",
     "pass_s on optimizer_train"),
    ("select_s", "s", "lower",
     "pass_s on optimizer_train"),
    ("regret_s", "s", "lower",
     "none (quality; must not move with speed work) on optimizer_train"),
    ("ranking_loss", "1-rho", "lower",
     "none (quality; must not move with speed work) on optimizer_train"),
    ("featurize.fit_s", "s", "lower",
     "pass_s (train_s) on optimizer_train"),
    ("featurize.transform_s", "s", "lower",
     "pass_s (train_s) on optimizer_train"),
    ("featurize.prepare_trees_s", "s", "lower",
     "pass_s (train_s) on optimizer_train"),
    ("model.pretrain_s", "s", "lower",
     "pass_s (train_s) on optimizer_train"),
    ("model.pairwise_s", "s", "lower",
     "pass_s (train_s) on optimizer_train"),
    ("model.forward_s", "s", "lower",
     "pass_s (train_s) on optimizer_train"),
    ("model.backward_s", "s", "lower",
     "pass_s (train_s) on optimizer_train"),
    ("model.adam_s", "s", "lower",
     "pass_s (train_s) on optimizer_train"),
    ("model.pairs", "count", "higher",
     "pass_s (train_s) on optimizer_train"),
    ("model.pairs_per_s", "1/s", "higher",
     "pass_s (train_s) on optimizer_train"),
    ("infer.score_s", "s", "lower",
     "pass_s (score_plans_per_s) on optimizer_train"),
    ("infer.plans_scored", "count", "higher",
     "pass_s (score_plans_per_s) on optimizer_train"),
    ("evaluation.ranking_loss_s", "s", "lower",
     "pass_s (score_plans_per_s) on optimizer_train"),
    ("select.embed_s", "s", "lower",
     "pass_s (select_s) on optimizer_train"),
    ("select.coreset_s", "s", "lower",
     "pass_s (select_s) on optimizer_train"),
    # run-level
    ("error_rate", "ratio", "lower",
     "correct / failed on all"),
    ("trace.overhead_s", "s", "lower",
     "traced minus untraced pass_s, per workload"),
    ("trace.overhead_share", "ratio", "lower",
     "trace.overhead_s over the untraced pass_s"),
)

#: set-up span name -> per-layer metric
SETUP_SPANS = {
    "session.start": "session.start_s",
    "featurize.decode": "featurize.decode_s",
}

#: per-pass span name -> per-layer metric (total seconds per steady pass)
PASS_SPANS = {
    "catalog.load_table": "catalog.load_table_s",
    "featurize.fit": "featurize.fit_s",
    "featurize.transform": "featurize.transform_s",
    "featurize.prepare_trees": "featurize.prepare_trees_s",
    "model.pretrain": "model.pretrain_s",
    "model.pairwise": "model.pairwise_s",
    "model.forward": "model.forward_s",
    "model.backward": "model.backward_s",
    "model.adam": "model.adam_s",
    "infer.score": "infer.score_s",
    "evaluation.ranking_loss": "evaluation.ranking_loss_s",
    "select.embed": "select.embed_s",
    "select.coreset": "select.coreset_s",
}


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q: float) -> float:
    """Linear-interpolated percentile (``q`` in 0..100)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail(xs) -> tuple[str, float] | None:
    """The highest of p99/p95/p90/p75 with at least ten samples beyond it."""
    for q in (99, 95, 90, 75):
        if len(xs) * (100 - q) / 100.0 >= 10:
            return f"p{q}", percentile(xs, q)
    return None


def _ok(samples):
    return [s for s in samples if "error" not in s]


def summarize(wl, passes, setup_s, session_s, setup_runs, prepare_s,
              tracer, quality, persisted, cores, failed, attempted) -> dict:
    cold = _ok(passes[0]["ops"])
    steady = passes[1:]
    steady_ops = [s for p in steady for s in _ok(p["ops"])]
    pass_times = [sum(s["s"] for s in _ok(p["ops"])) for p in steady]
    # each operation's fastest steady time: the best-of-N estimator of its
    # steady-state cost; a pass is the sum of them
    best: dict[str, float] = {}
    for s in steady_ops:
        best[s["op"]] = min(s["s"], best.get(s["op"], math.inf))
    op_times = [s["s"] for s in steady_ops]
    e2e = {
        "setup_s": setup_s,
        "cold_s": sum(s["s"] for s in cold),
        "pass_s": sum(best.values()),
    }
    t = tail(op_times)
    detail = {"ops_per_pass": len(passes[0]["ops"]),
              "steady_passes": len(steady), "steady_ops": len(op_times),
              "op_s.tail": {"percentile": t[0], "value": t[1]} if t else None,
              "pass_s.all": pass_times, "op_s.best": best,
              "setup_repeats_s": setup_runs,
              "session_s": session_s, "prepare_s": prepare_s}

    layer = {name: 0.0 for name, *_ in PER_LAYER}
    traced = [p for p in steady if p["traced"]]
    untraced = [p for p in steady if not p["traced"]]
    n_tr = max(1, len(traced))
    if tracer.spans:
        for span, metric in SETUP_SPANS.items():
            durs = [t1 - t0 for name, t0, t1, _, op in tracer.spans
                    if name == span and op < 0]
            layer[metric] = median(durs)
        op_ids = {s["op_id"] for p in traced for s in p["ops"]}
        totals = tracer.totals(op_ids)
        for span, metric in PASS_SPANS.items():
            layer[metric] = totals.get(span, {}).get("total_s", 0.0) / n_tr
        spark_sum: dict[str, float] = {}
        for p in traced:
            for s in p["ops"]:
                for k, v in s.get("spark", {}).items():
                    spark_sum[k] = spark_sum.get(k, 0.0) + v
        for k, v in spark_sum.items():
            layer[k] = v / n_tr
        wall = sum(s["s"] for p in traced for s in _ok(p["ops"]))
        layer["spark.core_busy"] = (spark_sum.get("spark.executor_run_s", 0.0)
                                    / (wall * cores) if wall else 0.0)
        n_ops = sum(len(p["ops"]) for p in traced)
        layer["py4j.calls"] = (tracer.counted("py4j.calls", op_ids) / n_ops
                               if n_ops else 0.0)
        tr_med = median([sum(s["s"] for s in _ok(p["ops"])) for p in traced])
        un_med = median([sum(s["s"] for s in _ok(p["ops"]))
                         for p in untraced])
        if untraced:
            layer["trace.overhead_s"] = tr_med - un_med
            layer["trace.overhead_share"] = ((tr_med - un_med) / un_med
                                             if un_med else 0.0)
        layer.update(wl.layer_metrics(passes, traced, tracer, totals, n_tr))
    layer.update(quality)
    layer["error_rate"] = failed / attempted if attempted else 0.0
    return {"end_to_end": {n: {"value": e2e[n], "unit": u}
                           for n, u, *_ in END_TO_END},
            "per_layer": {n: {"value": float(layer[n]), "unit": u}
                          for n, u, *_ in PER_LAYER},
            "workload": wl.summary(passes),
            "detail": detail,
            "persisted_rdds_at_end": persisted}


def report_lines(summary: dict, metrics: dict, failures: list[str]):
    """Human-readable lines printed before the result line."""
    moves = {name: m for name, _, _, m in PER_LAYER}
    for name, m in metrics.items():
        yield (f"{name:32s} {m['value']:14.6g} {m['unit']:9s} "
               f"{moves.get(name, '')}").rstrip()
    for name, v in summary["workload"].items():
        yield f"  {name:30s} {v}"
    d = summary["detail"]
    yield (f"  steady ops {d['steady_ops']} over {d['steady_passes']} "
           f"passes; tail {d['op_s.tail']}")
    yield f"  correctness failures: {len(failures)}"
    for f in failures:
        yield f"    FAIL {f}"
