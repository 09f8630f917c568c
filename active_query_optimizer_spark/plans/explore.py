"""Candidate physical-plan exploration via join-strategy hints.

The Lero component the reference *depends on but does not ship* (its plan
bundles are pre-baked, ``.MISSING_LARGE_BLOBS:1-13``): given a query,
produce k alternative physical plans, execute each, and record
(plan tree, wall time) — the labeled training data for the pairwise ranker.

PostgreSQL-Lero steers its optimizer with cardinality-scaling knobs; the
idiomatic Spark lever is **join-strategy hints** (``BROADCAST`` / ``MERGE``
/ ``SHUFFLE_HASH`` / ``SHUFFLE_REPLICATE_NL``) plus the no-hint Catalyst
default (SURVEY.md §4.1). Catalyst may override a hint, so variants are
deduplicated by structural plan fingerprint before execution
(SURVEY.md §7.3c).

Labeling (``label_query``) executes candidates one at a time, each under
a deadline — the reference's PG labeling runs under ``statement_timeout``;
this is the *training* loop, not a query path, and its cost is the whole
point (active learning exists to minimize how often we pay it).
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Iterator

from pyspark.sql import DataFrame, SparkSession

from ..workload.extract import extract_aliases
from .featurize import PlanNode, capture_plan, plan_fingerprint, to_pg_json

HINT_STRATEGIES = ("BROADCAST", "MERGE", "SHUFFLE_HASH", "SHUFFLE_REPLICATE_NL")

#: Conf-knob exploration dimensions — the closest Spark analog of Lero's
#: PG cardinality-scaling knobs (the Lero paper steers the native optimizer
#: through its tuning GUCs; Spark's equivalent is the join-threshold
#: switch). Each yields a candidate planned under a temporarily overridden
#: session conf; the override is re-applied when the candidate is
#: executed/labeled. Adaptive execution is no knob here: the fingerprint
#: reads the pre-AQE ``sparkPlan``, which turning AQE off leaves
#: unchanged, so that form always dedups away. Nor is the runtime bloom
#: filter: Spark injects one only when the application side scans more
#: than ``runtime.bloomFilter.applicationSideScanSizeThreshold`` (10 GB by
#: default), so turning it off never changes a plan here.
CONF_VARIANTS: tuple[tuple[str, dict[str, str]], ...] = (
    ("nobroadcast", {"spark.sql.autoBroadcastJoinThreshold": "-1"}),
)

#: executed-plan join node names (raw Spark vocabulary, pre-PG-mapping)
_JOIN_NODE_NAMES = ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin",
                    "BroadcastNestedLoopJoin", "CartesianProduct")

#: hint variant → Spark join nodes that prove the hint materialized
_HINT_REALIZATION = {
    "broadcast": {"BroadcastHashJoin", "BroadcastNestedLoopJoin"},
    "merge": {"SortMergeJoin"},
    "shuffle_hash": {"ShuffledHashJoin"},
    "shuffle_replicate_nl": {"CartesianProduct", "BroadcastNestedLoopJoin"},
}


@contextmanager
def _conf_overrides(spark: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Temporarily override session confs (saved/restored around planning
    and labeling so candidate plans don't leak their knobs)."""
    saved: dict[str, str | None] = {}
    for k, v in conf.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, old in saved.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def realized_join_strategies(df: DataFrame) -> tuple[str, ...]:
    """Preorder join-node names of the *executed* (AQE-final) plan — the
    ground truth of which strategy Catalyst actually ran (SURVEY §7.3c:
    hints are requests, not commands; AQE can re-plan mid-query)."""
    out: list[str] = []

    def walk(jnode: Any) -> None:
        name = jnode.nodeName()
        if name == "AdaptiveSparkPlan":
            walk(jnode.executedPlan())
            return
        if "QueryStage" in name:
            walk(jnode.plan())
            return
        for jn in _JOIN_NODE_NAMES:
            if name.startswith(jn):
                out.append(jn)
                break
        for i in range(jnode.children().size()):
            walk(jnode.children().apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return tuple(out)


def with_hint(sql: str, strategy: str, aliases: list[str]) -> str:
    """Inject ``/*+ STRATEGY(a1, a2, …) */`` after the first SELECT."""
    if not aliases:
        return sql
    hint = f"/*+ {strategy}({', '.join(aliases)}) */"
    idx = sql.upper().find("SELECT")
    if idx < 0:
        return sql
    end = idx + len("SELECT")
    return f"{sql[:end]} {hint}{sql[end:]}"


@dataclass
class Candidate:
    variant: str
    sql: str
    fingerprint: str
    plan: PlanNode
    exec_time_ms: float | None = None
    #: session-conf overrides this candidate was planned under (must be
    #: re-applied to reproduce the plan at execution time)
    conf: dict[str, str] = field(default_factory=dict)
    #: executed-plan join node names (filled by ``label_query``)
    realized_joins: tuple[str, ...] = ()
    #: whether the requested hint materialized in the executed plan
    #: (None for non-hint variants: default / rotations / conf knobs)
    hint_realized: bool | None = None
    #: whether this label is the timeout penalty rather than a real
    #: measurement (round-12 advice: a variant finishing inside the
    #: cancellation-escalation window can legitimately MEASURE above the
    #: penalty threshold, so magnitude inference misclassifies it; None
    #: on bundles cached before the flag existed)
    timed_out: bool | None = None

    def to_bundle_json(self) -> str:
        return to_pg_json(self.plan, self.exec_time_ms)


def reorder_from_clause(sql: str, rotation: int) -> str:
    """Rotate the comma-FROM table list by ``rotation`` positions — the
    cheap join-ORDER exploration lever (Lero's PG explorer perturbs join
    order via cardinality scaling; Catalyst plans comma-joins largely in
    FROM order below the CBO threshold, so rotating the list yields
    genuinely different join trees). WHERE text is untouched — aliases
    keep their meaning."""
    import re as _re

    m = _re.search(r"\bFROM\s+(.*?)(\s+WHERE\b)", sql,
                   _re.IGNORECASE | _re.DOTALL)
    if not m:
        return sql
    parts = [p.strip() for p in m.group(1).split(",") if p.strip()]
    if len(parts) < 2:
        return sql
    r = rotation % len(parts)
    rotated = parts[r:] + parts[:r]
    return sql[:m.start(1)] + ", ".join(rotated) + sql[m.end(1):]


#: one planning form: (variant name, SQL text, session-conf overrides)
Form = tuple[str, str, dict[str, str]]


def variant_forms(sql: str,
                  strategies: tuple[str, ...] = HINT_STRATEGIES) -> list[Form]:
    """The explorer's forms of one query: Catalyst default + one variant
    per hint strategy applied to every relation + two FROM-order rotations
    (join-order exploration) + session-conf knob variants."""
    aliases = sorted(extract_aliases(sql))
    return ([("default", sql, {})] +
            [(s.lower(), with_hint(sql, s, aliases), {}) for s in strategies] +
            [(f"rot{r}", reorder_from_clause(sql, r), {}) for r in (1, 2)] +
            [(name, sql, conf) for name, conf in CONF_VARIANTS])


def plan_forms(spark: SparkSession, forms: list[Form]) -> list[Candidate]:
    """Plan each form under its conf overrides (not executed) and keep the
    first candidate per pre-execution plan fingerprint, in form order. A
    form Catalyst refuses to plan is skipped."""
    seen: set[str] = set()
    out: list[Candidate] = []
    for name, text, conf in forms:
        try:
            with _conf_overrides(spark, conf):
                tree = capture_plan(spark.sql(text), executed=False)
        except Exception:
            continue  # hint form Catalyst refuses outright
        fp = plan_fingerprint(tree)
        if fp in seen:
            continue
        seen.add(fp)
        out.append(Candidate(variant=name, sql=text, fingerprint=fp,
                             plan=tree, conf=conf))
    return out


def plan_variants(spark: SparkSession, sql: str,
                  strategies: tuple[str, ...] = HINT_STRATEGIES
                  ) -> list[Candidate]:
    """Distinct physical-plan candidates of ``variant_forms``, deduplicated
    by pre-execution plan fingerprint."""
    return plan_forms(spark, variant_forms(sql, strategies))


#: per-candidate labeling deadline (sec); a timed-out candidate is labeled
#: at ``LABEL_TIMEOUT_PENALTY * timeout_s`` ms — the Lero-style treatment
#: (PG labeling runs under ``statement_timeout``): the ranker still learns
#: "this plan is bad", and the labeling loop is never hostage to one
#: pathological variant (a SHUFFLE_REPLICATE_NL hint can turn an equi-join
#: into a near-cartesian plan whose runtime is unbounded)
LABEL_TIMEOUT_S = 30.0
LABEL_TIMEOUT_PENALTY = 2.0


class ZombieExecutionError(RuntimeError):
    """A labeled action survived repeated job-group cancellation AND
    ``cancelAllJobs`` — the backing computation no longer responds to
    Spark's task-interrupt machinery (observed in the wild: one round-6
    labeling variant pinned a 3-task stage for 18+ minutes straight
    through its 30 s watchdog). The only reliable recovery is tearing the
    session down; the caller owns that decision."""


#: extra time the watchdog grants the cancellation machinery before
#: declaring the action a zombie: 3 group-cancels 5 s apart (AQE submits
#: follow-on jobs under the same group — a single cancel only kills jobs
#: already running) + one cancelAllJobs with a 30 s drain
_CANCEL_RETRIES = 3
_CANCEL_RETRY_WAIT_S = 5.0
_CANCEL_ALL_WAIT_S = 30.0


def _time_execution(df: DataFrame, timeout_s: float) -> float | None:
    """Wall-clock ``collect()`` in ms under a ``timeout_s`` deadline: the
    action runs in a worker thread under its own job group and the caller
    cancels the group at the deadline (``interruptOnCancel`` so running
    tasks die too) — returns ``None`` on timeout. Cancellation escalates
    (re-cancel for AQE follow-on jobs, then ``cancelAllJobs``); an action
    that survives the full escalation raises ``ZombieExecutionError``
    instead of holding the labeling loop hostage."""
    sc = df.sparkSession.sparkContext
    group = f"aqo-label-{time.monotonic_ns()}"
    result: dict[str, object] = {}

    def run() -> None:
        # job groups are thread-local: set it in the submitting thread
        sc.setJobGroup(group, "candidate labeling", interruptOnCancel=True)
        t0 = time.perf_counter()
        try:
            df.collect()
            result["ms"] = (time.perf_counter() - t0) * 1000.0
        except Exception as e:  # noqa: BLE001 - classified by the caller
            result["err"] = e
            result["elapsed_s"] = time.perf_counter() - t0

    worker = threading.Thread(target=run, daemon=True,
                              name=f"label-exec-{group}")
    worker.start()
    worker.join(timeout_s)
    if worker.is_alive():
        for _ in range(_CANCEL_RETRIES):
            sc.cancelJobGroup(group)
            worker.join(_CANCEL_RETRY_WAIT_S)
            if not worker.is_alive():
                break
        if worker.is_alive():
            sc.cancelAllJobs()
            worker.join(_CANCEL_ALL_WAIT_S)
        if worker.is_alive():
            raise ZombieExecutionError(
                f"labeled action ignored {_CANCEL_RETRIES} group cancels "
                f"and cancelAllJobs (>{timeout_s}s + escalation)")
        if "ms" in result:  # finished in the cancel window — a real label
            return float(result["ms"])  # type: ignore[arg-type]
        return None  # cancelled at the deadline — the penalty path
    if "err" in result:
        if float(result.get("elapsed_s", 0.0)) < timeout_s:  # type: ignore[arg-type]
            raise result["err"]  # type: ignore[misc] # real execution error
        return None
    return float(result["ms"])  # type: ignore[arg-type]


def label_query(spark: SparkSession, sql: str, strategies: tuple[str, ...],
                timeout_s: float) -> list[Candidate]:
    """Execute every distinct variant of ``sql``; attach wall time and the
    AQE-final executed plan (with actual ``numOutputRows``) to each
    candidate — one labeled bundle, the reference's
    ``qid#####planJSON…`` line content.

    Each candidate's execution is cancelled at the ``timeout_s`` deadline
    and labeled ``LABEL_TIMEOUT_PENALTY * timeout_s`` ms (see the penalty
    note above) with its *pre-execution* plan — the labeling loop's wall
    clock is bounded by ``variants x timeout`` no matter how pathological
    a variant plans. Sequential by design: each candidate must own the
    cluster while timed.

    Post-execution discipline (SURVEY §7.3c): hints are requests — the
    *realized* strategy is read back from the executed plan
    (``realized_joins`` / ``hint_realized``), and variants whose executed
    plan collapsed into an already-labeled one are dropped, so a bundle
    never contains two labels for the same physical plan."""
    labeled: list[Candidate] = []
    seen_realized: set[str] = set()
    for cand in plan_variants(spark, sql, strategies):
        with _conf_overrides(spark, cand.conf):
            df = spark.sql(cand.sql)
            ms = _time_execution(df, timeout_s)
            if ms is None:  # timed out — penalty label, pre-exec plan
                labeled.append(Candidate(
                    variant=cand.variant, sql=cand.sql,
                    fingerprint=cand.fingerprint, plan=cand.plan,
                    exec_time_ms=LABEL_TIMEOUT_PENALTY * timeout_s * 1000.0,
                    conf=cand.conf, timed_out=True))
                continue
            executed = capture_plan(df, executed=True)
            realized = realized_join_strategies(df)
        fp = plan_fingerprint(executed)
        if fp in seen_realized:
            continue  # hint requested, Catalyst/AQE ran the same plan anyway
        seen_realized.add(fp)
        expect = _HINT_REALIZATION.get(cand.variant)
        labeled.append(Candidate(
            variant=cand.variant, sql=cand.sql,
            fingerprint=fp, plan=executed, exec_time_ms=ms, conf=cand.conf,
            realized_joins=realized,
            hint_realized=(None if expect is None
                           else bool(expect.intersection(realized))),
            timed_out=False))
    return labeled


def bundles_to_lines(bundles: list[tuple[str, list["Candidate"]]]) -> list[str]:
    """Reference bundle-file lines: ``qid#####plan1#####plan2…``
    (``Lero/create_training_file.py:4-15``)."""
    sep = "#####"
    return [sep.join([qid] + [c.to_bundle_json() for c in cands])
            for qid, cands in bundles if cands]
