"""``engine_queries``: registered headline queries at sf0.01.

One operation builds a query (calls its registered function until the
DataFrame is returned, which includes catalog reads and any eager
sub-jobs) and runs it to completion through Spark's ``noop`` sink, which
materializes every column (``count()`` would let Catalyst prune them). A
pass runs every query of ``queries.ENGINE_SET`` once, in a seeded order;
the first pass of the process is the cold one.
"""

from __future__ import annotations

import random
import time

import metrics as M
import sparkstats
from queries import ENGINE_SET, HEADLINE_108

SF = 0.01


class EngineQueries:
    SETUP_REPEATS = 3
    #: steady passes a run makes at least, even past ``--seconds``. They
    #: take longer than the benchmark's 3 s, so each query's best-of-N has
    #: the same N on every run; the JIT is still warming up in the first one
    STEADY_PASSES = 4

    def __init__(self, ctx) -> None:
        from active_query_optimizer_spark.operators import ORACLES, QUERIES

        self.ctx = ctx
        self.data = ctx.data_dir(SF)
        missing = [n for n in HEADLINE_108 if n not in QUERIES]
        if missing:
            raise RuntimeError(f"unregistered headline queries: {missing}")
        self.queries, self.oracles = QUERIES, ORACLES
        self.order = list(ENGINE_SET)
        random.Random(ctx.seed).shuffle(self.order)
        ctx.inputs["engine_order"] = self.order

    def setup(self) -> None:
        # the registered queries read their tables themselves, so set-up
        # is one trivial job
        self.ctx.spark.range(1).count()

    def prepare(self) -> None:
        pass

    def ops(self):
        return [(name, lambda name=name: self._run(name))
                for name in self.order]

    def _run(self, name: str) -> dict:
        spark, tracer = self.ctx.spark, self.ctx.tracer
        fn = self.queries[name]
        t0 = time.perf_counter()
        df = fn(spark, self.data)
        build_s = time.perf_counter() - t0
        out: dict = {}
        if tracer.enabled:
            tracer.enabled = False
            out["build_jobs"] = len(sparkstats.job_ids(
                spark, f"perfbench-{tracer.op_id}"))
            out.update(sparkstats.plan_counts(df))
            tracer.enabled = True
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        action_s = time.perf_counter() - t1
        if tracer.enabled:
            tracer.enabled = False
            out["persisted"] = sparkstats.persisted_rdds(spark)
            tracer.enabled = True
        out.update(s=build_s + action_s, build_s=build_s, action_s=action_s)
        return out

    def check(self) -> tuple[int, list[str]]:
        """Every query of the pass against its DuckDB oracle (or its
        recorded row count), outside the timed passes."""
        from oracle import Oracle

        failures = []
        ora = Oracle(self.data)
        try:
            for name in self.order:
                try:
                    got = self.queries[name](self.ctx.spark,
                                             self.data).toPandas()
                    why = ora.check(name, got, self.oracles)
                except Exception as e:  # noqa: BLE001 - counted as failed
                    why = f"{type(e).__name__}: {str(e)[:200]}"
                if why:
                    failures.append(f"{name}: {why}")
        finally:
            ora.close()
        return len(self.order), failures

    def quality(self) -> dict:
        return {}

    def summary(self, passes) -> dict:
        steady = [s for p in passes[1:] for s in p["ops"] if "error" not in s]
        return {
            "queries_per_pass": len(self.order),
            "query_s.p50": M.median([s["s"] for s in steady]),
            "query_cold_s.sum": sum(s["s"] for s in passes[0]["ops"]
                                    if "error" not in s),
            "build_share": (sum(s["build_s"] for s in steady)
                            / max(1e-9, sum(s["s"] for s in steady))),
        }

    def layer_metrics(self, passes, traced, tracer, totals, n_tr) -> dict:
        steady = [s["s"] for p in passes[1:] for s in p["ops"]
                  if "error" not in s]
        ops = [s for p in traced for s in p["ops"] if "error" not in s]
        build = sum(s["build_s"] for s in ops)
        action = sum(s["action_s"] for s in ops)
        leaking, prev = 0, None
        for s in passes[0]["ops"] + [s for p in traced for s in p["ops"]]:
            if "persisted" in s:
                if prev is not None and s["persisted"] > prev:
                    leaking += 1
                prev = s["persisted"]
        figures = self.summary(passes)
        return {
            "query_s.p50": figures["query_s.p50"],
            "query_s.p90": M.percentile(steady, 90),
            "query_cold_s.sum": figures["query_cold_s.sum"],
            "operators.build_s": build / n_tr,
            "operators.action_s": action / n_tr,
            "operators.build_share": build / (build + action) if ops else 0.0,
            "operators.build_jobs": sum(s.get("build_jobs", 0)
                                        for s in ops) / n_tr,
            "catalog.load_table_calls": totals.get(
                "catalog.load_table", {}).get("calls", 0) / n_tr,
            "plan.exchanges": sum(s.get("plan.exchanges", 0)
                                  for s in ops) / n_tr,
            "plan.python_nodes": sum(s.get("plan.python_nodes", 0)
                                     for s in ops) / n_tr,
            "cache.persisted_rdds_leaked": float(prev or 0),
            "cache.leaking_queries": float(leaking),
        }
