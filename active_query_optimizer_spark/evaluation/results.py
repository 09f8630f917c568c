"""End-to-end optimizer evaluation artifact — the rebuild's analog of the
reference's published results (``results/log.txt:1-14``: summed chosen-plan
latency over its query set).

The reference publishes PostgreSQL chosen-plan latencies; this module
produces the same headline on Spark, from this repo's own machinery
end-to-end: seeded workload generation (``workload/generate``), candidate
exploration + wall-clock labeling (``plans/explore``), pairwise tree-conv
training (``model/lero``), distributed scoring + argmin selection
(``evaluation.metrics.evaluate_bundles``), and the reference's
deployment-series loop (``pipelines/dynamic``). The numbers reported per
held-out query:

- **default_ms** — Catalyst's unhinted plan (what Spark runs today);
- **chosen_ms** — the plan the learned ranker picks from the candidate set;
- **best_ms** / **worst_ms** — the oracle floor / ceiling over candidates.

Every generated query is labeled through one path,
``plans/labelcache.cached_label_query``, under ``LABEL_TIMEOUT_S``.

``write_results_md`` renders RESULTS.md; ``tools/make_results.py`` is the
CLI that produces the committed artifact at sf0.1, and the sf0.01 test
regenerates a small one each CI run so the artifact can't rot.
"""

from __future__ import annotations

import json
import os
import sys
from typing import Any

from pyspark.sql import SparkSession

from ..catalog import register_views
from ..model.lero import train_pairwise_from_bundles
from ..pipelines.dynamic import run_deployment
from ..plans.explore import (HINT_STRATEGIES, LABEL_TIMEOUT_PENALTY,
                             LABEL_TIMEOUT_S, Candidate,
                             ZombieExecutionError)
from ..plans.labelcache import cached_label_query
from ..stats.harvester import harvest_range_dict
from ..workload.extract import extract_aliases
from ..workload.generate import generate_workload
from .metrics import as_bundles, evaluate_bundles


#: the training recipe every committed artifact records. A pointwise
#: latency pretrain initializes the net (timeout-penalty labels are
#: censored out of it; PRETRAIN_AB.md), then the pairwise pass weights
#: each pair by its normalized latency gap (FEATURES_AB.md). The reference
#: trains cold, on equal-weight pairs.
PRETRAIN_EPOCHS = 20
PRETRAIN_MODE = "latency"
PAIR_WEIGHTING = "latency_delta"
#: the generator over-samples this many queries per requested bundle, to
#: cover the single-plan and skipped queries
OVERSAMPLE = 2.0


def _revive_spark(spark: SparkSession, app: str = "aqo-results-revived",
                  ) -> SparkSession:
    """Tear the session's JVM down and build a fresh one. A zombie task
    thread (one that ignores Spark's interrupt machinery — see
    ``ZombieExecutionError``) survives ``SparkContext.stop()`` too: stop
    only interrupts the executor pools. Shutting the py4j gateway down
    kills the JVM outright, and clearing the cached gateway/jvm handles
    makes the next ``getOrCreate`` launch a clean one.

    This necessarily reaches into private PySpark internals
    (``SparkContext._gateway/_jvm/_active_spark_context``,
    ``SparkSession._instantiatedSession/_activeSession``) — pinned to the
    PySpark 4.x layout by ``tests/test_labelcache.py::
    test_revive_spark_internals_still_exist``,
    so an upgrade that moves them fails loudly in CI instead
    of handing back a handle to a dead JVM. Every handle is cleared
    best-effort even when ``stop()`` raises (round-6 advice: relying on
    ``stop()`` to clear them leaves getOrCreate pointing at the dead
    JVM)."""
    from pyspark import SparkContext

    from ..session import get_spark

    try:
        spark.stop()
    except Exception:  # noqa: BLE001 - teardown is best-effort by nature
        pass
    try:
        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
    except Exception:  # noqa: BLE001
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    # stop() normally clears these; clear them unconditionally so a
    # failed stop() can't leave getOrCreate returning the dead session
    with SparkContext._lock:
        SparkContext._active_spark_context = None
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None
    fresh = get_spark(app)
    fresh.sparkContext.setLogLevel("ERROR")
    return fresh


def _r4(x: float | None) -> float | None:
    """round(x, 4) that passes through ``None`` — ranking_loss returns
    ``None`` when every bundle is degenerate (penalty-saturated)."""
    return None if x is None else round(x, 4)


def _clamp_folds(folds: int, n_bundles: int) -> int:
    """Clamp the cross-validation fold count so every fold's held-out
    slice is non-empty (round-6 advice: only >=3 bundles are guaranteed,
    and an oversized fold count made ``block == 0`` and ``_split_eval``
    fail on an empty test set)."""
    if folds > n_bundles:
        print(f"WARNING: folds={folds} > {n_bundles} bundles; clamping",
              file=sys.stderr)
        return n_bundles
    return folds


def label_generated_workload(spark: SparkSession, sf_dir: str,
                             num_queries: int, seed: int,
                             cache_dir: str | None = None,
                             ) -> tuple[list[tuple[str, list[Candidate]]],
                                        tuple[int, int], SparkSession]:
    """Generate a seeded workload against ``sf_dir``'s views and label each
    query by executing its plan variants (every ``HINT_STRATEGIES`` hint
    plus the other explorer forms) under ``LABEL_TIMEOUT_S``. Every
    generated query goes through ``cached_label_query``, in generation
    order, until ``num_queries`` are kept. Queries whose variants collapse
    to one physical plan carry no ranking signal and are skipped (the
    generator over-samples ``OVERSAMPLE``x to cover the loss).

    With ``cache_dir`` set, bundles come from the label cache when their
    (sql, strategies, timeout, sf_dir, code+data-fingerprint) key is present
    (``plans/labelcache`` — the deliberate measurement-protocol decision:
    a grown workload mixes measurement sessions). Returns
    ``(bundles, (hits, lookups), spark)`` — lookups counts every labeled
    query including skipped single-plan ones, and the returned session
    replaces the caller's if a zombie variant forced a JVM teardown (see
    ``_revive_spark``); tests leave the cache off."""
    register_views(spark, sf_dir)
    print("labeling: harvesting ranges...", file=sys.stderr, flush=True)
    rd = harvest_range_dict(spark, sf_dir)
    print("labeling: generating workload...", file=sys.stderr, flush=True)
    wl = sorted(generate_workload(spark, rd,
                                  num_sql=int(OVERSAMPLE * num_queries),
                                  seed=seed).collect(),
                key=lambda r: r["id"])
    hits = lookups = 0
    out: list[tuple[str, list[Candidate]]] = []
    for r in wl:
        print(f"labeling: q{r['id']} (kept {len(out)}/{num_queries})",
              file=sys.stderr, flush=True)
        lookups += cache_dir is not None
        try:
            # hit accounting comes from the cache itself: an under-budget
            # poison marker that relabels live is a miss
            cands, was_hit = cached_label_query(
                spark, r["sql"], HINT_STRATEGIES, LABEL_TIMEOUT_S, sf_dir,
                cache_dir)
        except ZombieExecutionError as e:
            # one variant ignored the full cancellation escalation: the
            # query is poisoned — drop it for this run (the generator
            # over-samples 2x for exactly this kind of loss), tear the
            # JVM down so the runaway threads actually die, and move on.
            # With the cache on, the cache has recorded a POISONED marker
            # with a cross-run retry budget (a transient machine condition
            # must not exclude the query from every future run).
            print(f"WARNING: q{r['id']} poisoned ({e}); reviving session",
                  file=sys.stderr)
            spark = _revive_spark(spark)
            register_views(spark, sf_dir)
            continue
        hits += was_hit
        if len(cands) >= 2:
            out.append((f"q{r['id']}", cands))
        if len(out) >= num_queries:
            break
    return out, (hits, lookups), spark


def _is_saturated(cands: list[Candidate]) -> bool:
    """True when every candidate carries the timeout-penalty label — the
    bundle has zero ranking signal (its truth side is constant, so the
    tie-aware Spearman already NULLs it out of the loss); RESULTS counts
    the kept ones in ``saturated_bundles``. Labeled on the
    explicit ``timed_out`` flag; legacy bundles cached before the flag
    existed fall back to magnitude inference, which can misclassify a
    REAL measurement landing inside the cancellation-escalation window
    above the penalty threshold (round-12 advice #2 — why the flag)."""
    pen_ms = LABEL_TIMEOUT_PENALTY * LABEL_TIMEOUT_S * 1000.0
    return all(
        c.timed_out if c.timed_out is not None
        else float(c.exec_time_ms) >= pen_ms
        for c in cands)


def _split_eval(spark: SparkSession,
                train: list[tuple[str, list[Candidate]]],
                test: list[tuple[str, list[Candidate]]],
                epochs: int, seed: int, penalty_ms: float) -> dict[str, Any]:
    """Train on ``train`` with the artifact recipe, score ``test``: returns
    the ranking losses, one row per held-out query (its default, chosen,
    best and worst labels) and the held-out second totals — one
    evaluation of one train/held-out split (every cross-validation fold
    goes through this same path). Labels at or above
    ``penalty_ms`` are censored out of the pointwise pretrain."""
    model = train_pairwise_from_bundles(
        as_bundles(train), epochs=epochs, seed=seed,
        pretrain_epochs=PRETRAIN_EPOCHS, pretrain_mode=PRETRAIN_MODE,
        pretrain_censor_ms=penalty_ms, pair_weighting=PAIR_WEIGHTING)
    ev = evaluate_bundles(spark, model, as_bundles(test))
    rows = []
    for qid, cands in test:
        times = [float(c.exec_time_ms) for c in cands]
        ci = ev["picks"][qid]
        rows.append({
            "qid": qid,
            "n_candidates": len(cands),
            "n_tables": len(extract_aliases(cands[0].sql)),
            "default_ms": next(t for c, t in zip(cands, times)
                               if c.variant == "default"),
            "chosen_ms": times[ci],
            "chosen_variant": cands[ci].variant,
            "best_ms": min(times),
            "worst_ms": max(times),
        })
    return {"loss": ev["loss"], "wloss": ev["wloss"], "rows": rows,
            "totals": {k: round(sum(q[f"{k}_ms"] / 1e3 for q in rows), 4)
                       for k in ("default", "chosen", "best")}}


def optimizer_results(spark: SparkSession, sf_dir: str,
                      num_queries: int = 24, epochs: int = 30, seed: int = 7,
                      deployment_batches: int = 5,
                      cache_dir: str | None = None,
                      folds: int = 3,
                      ) -> dict[str, Any]:
    """Label a generated workload, evaluate ``folds`` rotated
    train/held-out splits over the same labels, and report held-out
    chosen-vs-default latencies, the Spearman ranking loss, and the
    reference-shaped deployment series (same explorer labels sliced into
    per-batch train/valid splits — ``run_deployment`` is the
    ``Lero/deployment.py:16-46`` loop).

    Fold j holds out the j-th contiguous 1/k block in generation order
    and trains on the rest, so the reported loss carries a cross-split
    spread instead of one split's draw (``cross_split``). The last fold
    is the headline held-out split (``per_query``, ``totals_sec``, the
    losses, ``by_shape``): the drift framing — the past trains, the
    future evaluates."""
    if folds < 2:
        raise ValueError(f"folds={folds}: need at least 2")
    bundles, (cache_hits, cache_lookups), spark = label_generated_workload(
        spark, sf_dir, num_queries, seed, cache_dir=cache_dir)
    if len(bundles) < 3:
        raise ValueError(f"only {len(bundles)} rankable bundles generated")
    print(f"labeling done: {len(bundles)} bundles "
          f"(cache {cache_hits}/{cache_lookups} hits)",
          file=sys.stderr, flush=True)
    # timeout-penalty labels are censored observations: excluded from the
    # pointwise pretrain set, kept for the pairwise ordering pass
    penalty_ms = LABEL_TIMEOUT_PENALTY * LABEL_TIMEOUT_S * 1000.0

    # rotate the held-out block through the generation-ordered bundle
    # list (k disjoint held-out blocks)
    folds = _clamp_folds(folds, len(bundles))
    fold_rows = []
    block = len(bundles) // folds
    for j in range(folds):
        print(f"cross-split fold {j}/{folds}", file=sys.stderr, flush=True)
        lo, hi = j * block, (j + 1) * block if j < folds - 1 \
            else len(bundles)
        test = bundles[lo:hi]
        train = bundles[:lo] + bundles[hi:]
        ev = _split_eval(spark, train, test, epochs, seed, penalty_ms)
        t = ev["totals"]
        gap = (round(100.0 * (t["chosen"] - t["best"]) / t["best"], 2)
               if t["best"] > 0 else None)
        # regret attribution (round-8 verdict item #5): the oracle-gap
        # PERCENTAGE is a heavy-tailed statistic over a small
        # denominator — name the query that dominates it and whether
        # any pick landed on a timeout-penalty label, so an outlier
        # fold is explained in the artifact instead of unexplained
        regrets = [(q["chosen_ms"] - q["best_ms"], q["qid"],
                    q["chosen_ms"], q["chosen_variant"], q["best_ms"])
                   for q in ev["rows"]]
        # true sum for the reported value; a zero-regret fold gets
        # regret_sec 0.0 and top_regret null rather than a share_pct
        # computed against a fabricated 1 ms denominator (r9 advice)
        total_regret = sum(r[0] for r in regrets)
        worst = max(regrets)
        n_timeout_picks = sum(1 for r in regrets if r[2] >= penalty_ms)
        fold_rows.append({
            "fold": j, "n_test": len(test),
            "ranking_loss": _r4(ev["loss"]),
            "ranking_loss_weighted": _r4(ev["wloss"]),
            "totals_sec": t, "oracle_gap_pct": gap,
            "regret_sec": round(total_regret / 1e3, 4),
            "timeout_label_picks": n_timeout_picks,
            "top_regret": None if total_regret <= 0 else {
                "qid": worst[1],
                "chosen_ms": round(worst[2], 1),
                "chosen_variant": worst[3],
                "best_ms": round(worst[4], 1),
                "share_pct": round(100.0 * worst[0] / total_regret, 1),
            },
        })
    losses = [f["ranking_loss"] for f in fold_rows
              if f["ranking_loss"] is not None]
    gaps = [f["oracle_gap_pct"] for f in fold_rows
            if f["oracle_gap_pct"] is not None]
    cross = {
        "k": folds,
        "folds": fold_rows,
        "loss_mean": (round(sum(losses) / len(losses), 4)
                      if losses else None),
        "loss_spread": (round(max(losses) - min(losses), 4)
                        if losses else None),
        "oracle_gap_mean_pct": (round(sum(gaps) / len(gaps), 2)
                                if gaps else None),
        "oracle_gap_spread_pct": (round(max(gaps) - min(gaps), 2)
                                  if gaps else None),
    }
    # ``train``/``test``/``ev`` are left at the last fold: it is the
    # headline held-out split
    per_query = ev["rows"]

    # per-shape breakdown: the generator's template dimension is the join
    # width (reference workloads group by table count, create_sql.py's
    # weights [1,7,7,7,7,7] over 2-7 joins) — report where the ranker's
    # wins concentrate
    by_shape: dict[int, dict[str, Any]] = {}
    for q in per_query:
        s = by_shape.setdefault(q["n_tables"], {
            "n_queries": 0, "default_sec": 0.0, "chosen_sec": 0.0,
            "best_sec": 0.0})
        s["n_queries"] += 1
        s["default_sec"] += q["default_ms"] / 1e3
        s["chosen_sec"] += q["chosen_ms"] / 1e3
        s["best_sec"] += q["best_ms"] / 1e3
    for s in by_shape.values():  # round once, after accumulation
        for k in ("default_sec", "chosen_sec", "best_sec"):
            s[k] = round(s[k], 4)

    # deployment series: the SAME explorer labels sliced into the
    # reference's per-batch train/valid splits (one train + one valid
    # bundle per batch keeps the series meaningful at small workloads)
    per_batch = max(1, len(bundles) // max(1, deployment_batches) - 1)
    trains, valids, i = [], [], 0
    for _ in range(deployment_batches):
        if i + per_batch >= len(bundles):
            break
        trains.append(as_bundles(bundles[i:i + per_batch]))
        valids.append(as_bundles(bundles[i + per_batch:i + per_batch + 1]))
        i += per_batch + 1
    print("deployment series...", file=sys.stderr, flush=True)
    deployment = run_deployment(spark, trains, valids, epochs=epochs,
                                seed=seed, pair_weighting=PAIR_WEIGHTING)

    def tot(key: str) -> float:
        return round(sum(q[key] for q in per_query) / 1000.0, 4)

    return {
        "sf_dir": sf_dir,
        "n_labeled": len(bundles),
        "n_train": len(train),
        "n_test": len(test),
        "epochs": epochs,
        "seed": seed,
        "pretrain": {"epochs": PRETRAIN_EPOCHS, "mode": PRETRAIN_MODE},
        "pair_weighting": PAIR_WEIGHTING,
        "label_cache": {"enabled": cache_dir is not None,
                        "hits": cache_hits,
                        "misses": cache_lookups - cache_hits},
        # every generated query is labeled, so nothing is biased out; the
        # record keeps the fields RESULTS_SF1.json carries, so one
        # renderer serves both artifacts. ``saturated_bundles`` counts
        # the KEPT bundles that carry zero ranking signal (all candidates
        # at the timeout penalty)
        "workload_bias": {
            "probe_default_s": None,
            "skip_saturated": False,
            "oversample": OVERSAMPLE,
            "probe_skipped": 0,
            "saturated_skipped": 0,
        },
        "saturated_bundles": {
            "labeled": sum(1 for _, cs in bundles if _is_saturated(cs)),
            "held_out": sum(1 for _, cs in test if _is_saturated(cs)),
        },
        "cross_split": cross,
        "per_query": per_query,
        "totals_sec": {
            "default": tot("default_ms"),
            "chosen": tot("chosen_ms"),
            "best_possible": tot("best_ms"),
            "worst_case": tot("worst_ms"),
        },
        "ranking_loss": _r4(ev["loss"]),
        "ranking_loss_weighted": _r4(ev["wloss"]),
        "by_shape": {str(k): v for k, v in sorted(by_shape.items())},
        "deployment_latency_series": [round(x, 4) for x in
                                      deployment["latency_series"]],
        "deployment_loss_series": [_r4(x) for x in
                                   deployment["ranking_loss_series"]],
    }


def write_results_md(res: dict[str, Any], path: str) -> None:
    """Render the artifact (plus a machine-readable .json sibling)."""
    t = res["totals_sec"]
    lines = [
        "# RESULTS — learned plan selection on Spark (end-to-end)",
        "",
        "The rebuild's analog of the reference's `results/log.txt:1-14`: "
        "chosen-plan latency over a labeled workload, produced entirely by "
        "this repo (generator -> explorer -> pairwise ranker -> argmin "
        "selection), measured on Spark.",
        "",
        f"- data: `{res['sf_dir']}`  |  labeled queries: "
        f"{res['n_labeled']} (train {res['n_train']} / held-out test "
        f"{res['n_test']}, generation order)  |  epochs: {res['epochs']}, "
        f"seed: {res['seed']}  |  pointwise pretrain: "
        f"{res['pretrain']['mode']} x {res['pretrain']['epochs']} epochs"
        f"  |  pairwise objective: consequence-weighted "
        f"(`{res['pair_weighting']}` — NON-REFERENCE recipe, adopted "
        f"after the round-11 A/B in FEATURES_AB.md; the reference trains "
        f"equal-weight pairs)",
        "",
    ]
    wb = res["workload_bias"]
    cs = res["cross_split"]
    # the quotable numbers live here, NOT in the single-split table
    # below: with a probe-biased workload (slow-default queries skipped
    # at generation) the chosen-vs-default ratio on one held-out block
    # undersells the picker; cross-fold regret / oracle gap / timeout
    # picks are stable under that bias (round-12 verdict item #5)
    regrets = [f["regret_sec"] for f in cs["folds"]]
    tpicks = sum(f["timeout_label_picks"] for f in cs["folds"])
    lines += [
        "## Headline decision metrics (cross-fold — cite these "
        "across rounds)",
        "",
        f"- per-fold regret (chosen - oracle best, held-out): "
        f"max **{max(regrets)} s**, mean "
        f"{_r4(sum(regrets) / len(regrets))} s over k={cs['k']} folds",
        f"- oracle gap: mean **{cs['oracle_gap_mean_pct']}%** ± "
        f"spread {cs['oracle_gap_spread_pct']}%",
        f"- timeout-label picks: **{tpicks}** across all folds",
        f"- ranking loss: mean {cs['loss_mean']} ± spread "
        f"{cs['loss_spread']} (not comparable across pairwise "
        "objectives)",
        "",
    ]
    if wb["probe_default_s"] and wb["probe_skipped"]:
        lines += [
            f"The single-split chosen-vs-default table below is "
            f"diluted by workload bias: {wb['probe_skipped']} "
            f"slow-default queries (> {wb['probe_default_s']}s) were "
            "probe-skipped at generation, so the held-out default "
            "total is dominated by already-fast queries. Use the "
            "cross-fold metrics above for round-over-round claims.",
            "",
        ]
    lines += [
        "## Held-out totals (seconds, sum over test queries)",
        "",
        "| plan choice | total sec |",
        "|---|---|",
        f"| Spark default (no hints) | {t['default']} |",
        f"| **learned ranker's choice** | **{t['chosen']}** |",
        f"| oracle best candidate | {t['best_possible']} |",
        f"| worst candidate | {t['worst_case']} |",
        "",
        f"Spearman ranking loss (1 - mean rho) on test: "
        f"**{res['ranking_loss']}** (candidate-count-weighted: "
        f"{res['ranking_loss_weighted']})",
        "",
    ]
    lc = res["label_cache"]
    if lc["enabled"]:
        lines += [
            f"Labels: cache-mixed measurement sessions — {lc['hits']} "
            f"bundle(s) from the committed label cache, {lc['misses']} "
            "labeled live this run (`plans/labelcache.py` documents the "
            "protocol decision; a cached label invalidates on any edit to "
            "the labeling code).",
            "",
        ]
    sat = res["saturated_bundles"]
    if wb["probe_default_s"] or wb["skip_saturated"] or sat["labeled"] \
            or sat["held_out"]:
        parts = []
        if wb["probe_default_s"]:
            parts.append(
                f"{wb['probe_skipped']} generated queries "
                f"probe-skipped (default plan exceeded "
                f"{wb['probe_default_s']}s)")
        if wb["skip_saturated"]:
            parts.append(f"{wb['saturated_skipped']} labeled "
                         "bundles dropped as fully timeout-saturated")
        bias_txt = ("Workload bias toward sub-deadline queries: "
                    + "; ".join(parts) + ". " if parts else "")
        lines += [
            bias_txt
            + f"Fully saturated bundles KEPT: {sat['labeled']}"
              f"/{res['n_labeled']} labeled, {sat['held_out']}"
              f"/{res['n_test']} held-out (a saturated bundle's truth "
              "side is constant, so it carries zero ranking signal and "
              "the tie-aware Spearman drops it from the loss).",
            "",
        ]
    lines += [
        f"## Cross-split error bar (k={cs['k']} rotated held-out "
        "blocks, same labels)",
        "",
        "| fold | held-out | ranking loss | oracle gap % | "
        "regret sec | timeout-label picks | top regret contributor |",
        "|---|---|---|---|---|---|---|",
    ]
    for f in cs["folds"]:
        tr = f["top_regret"]
        tr_txt = (f"{tr['qid']}: chosen {tr['chosen_ms']}ms "
                  f"({tr['chosen_variant']}) vs best {tr['best_ms']}ms "
                  f"= {tr['share_pct']}% of fold regret" if tr else "-")
        lines.append(
            f"| {f['fold']} | {f['n_test']} | {f['ranking_loss']} | "
            f"{f['oracle_gap_pct']} | {f['regret_sec']} | "
            f"{f['timeout_label_picks']} | {tr_txt} |")
    lines += [
        "",
        f"Loss mean **{cs['loss_mean']}** ± spread "
        f"{cs['loss_spread']}; oracle gap mean "
        f"**{cs['oracle_gap_mean_pct']}%** ± spread "
        f"{cs['oracle_gap_spread_pct']}%. The single-split headline "
        "above is one draw from this distribution — trajectory claims "
        "across rounds should cite the spread, not the draw. The "
        "oracle-gap PERCENTAGE is heavy-tailed: a fold whose held-out "
        "block has a small oracle-best total can show a large gap from "
        "a single imperfect pick on one expensive query — the regret "
        "attribution column names that query, and 'timeout-label "
        "picks' counts choices that landed on a timeout-penalty label "
        "(0 everywhere means the gap is NOT timeout saturation and "
        "needs no label censoring).",
        "",
    ]
    lines += [
        "## Per-query (held-out)",
        "",
        "| qid | tables | candidates | default ms | chosen ms | "
        "chosen variant | best ms | worst ms |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for q in res["per_query"]:
        lines.append(
            f"| {q['qid']} | {q['n_tables']} | "
            f"{q['n_candidates']} | "
            f"{q['default_ms']:.1f} | {q['chosen_ms']:.1f} | "
            f"{q['chosen_variant']} | {q['best_ms']:.1f} | "
            f"{q['worst_ms']:.1f} |")
    lines += [
        "",
        "## By join width (held-out totals, sec)",
        "",
        "| tables joined | queries | default | chosen | oracle best |",
        "|---|---|---|---|---|",
    ]
    for k, s in res["by_shape"].items():
        lines.append(
            f"| {k} | {s['n_queries']} | {s['default_sec']} | "
            f"{s['chosen_sec']} | {s['best_sec']} |")
    lines += [
        "",
        "## Deployment series (reference `deployment.py` loop)",
        "",
        "Per-batch chosen-plan latency (sec) with the model retrained each "
        "batch and evaluated on that batch's valid split:",
        "",
        f"- latency: {res['deployment_latency_series']}",
        f"- ranking loss: {res['deployment_loss_series']}",
        "",
        "Wall-clock labels are single-run measurements on a shared machine "
        "— treat small per-query deltas as noise; the totals and the loss "
        "are the headline. Regenerated per round by "
        "`tools/make_results.py`; the sf0.01 regeneration test pins the "
        "pipeline end-to-end.",
    ]
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    with open(os.path.splitext(path)[0] + ".json", "w") as fh:
        json.dump(res, fh, indent=1)


__all__ = ["label_generated_workload", "optimizer_results",
           "write_results_md"]
