"""Engine-side counters read from Spark's own status store, scoped to one
benchmark operation by its job group, plus static plan shape counts."""

from __future__ import annotations

import re

#: stage fields summed per operation: (metric, StageData accessor, scale)
_STAGE_FIELDS = (
    ("spark.executor_cpu_s", "executorCpuTime", 1e-9),
    ("spark.executor_run_s", "executorRunTime", 1e-3),
    ("spark.input_mb", "inputBytes", 1 / 2**20),
    ("spark.shuffle_read_mb", "shuffleReadBytes", 1 / 2**20),
    ("spark.shuffle_write_mb", "shuffleWriteBytes", 1 / 2**20),
    ("spark.spill_mb", "diskBytesSpilled", 1 / 2**20),
    ("spark.tasks", "numTasks", 1.0),
)

_PYTHON_NODE = re.compile(
    r"(ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|MapInPandas|"
    r"PythonMapInArrow|MapInArrow|FlatMapCoGroupsInPandas|"
    r"AggregateInPandas|WindowInPandas|ArrowWindowPython|PythonUDTF)")


def job_ids(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def group_counters(spark, group: str) -> dict[str, float]:
    """Jobs, stages and summed stage metrics of every job in ``group``."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {name: 0.0 for name, _, _ in _STAGE_FIELDS}
    jobs = job_ids(spark, group)
    stages: set[int] = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    n_stages = 0
    for sid in sorted(stages):
        try:
            data = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - skipped stages have no attempt
            continue
        n_stages += 1
        for name, accessor, scale in _STAGE_FIELDS:
            out[name] += float(getattr(data, accessor)()) * scale
    out["spark.jobs"] = float(len(jobs))
    out["spark.stages"] = float(n_stages)
    return out


def plan_counts(df) -> dict[str, float]:
    """Exchange and Python-evaluation node counts of ``df``'s physical
    plan (the plan Catalyst hands to adaptive execution)."""
    text = df._jdf.queryExecution().executedPlan().toString()
    return {"plan.exchanges": float(len(re.findall(r"Exchange", text))),
            "plan.python_nodes": float(len(_PYTHON_NODE.findall(text)))}


def persisted_rdds(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())
