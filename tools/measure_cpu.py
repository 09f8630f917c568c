"""Load-robust query measurement: executor run/CPU time + shuffle bytes per
query execution, read in-process from Spark's status store.

Wall clock on a contended host is a lottery; executorCpuTime is not. Each
run is its own job group and sums only that group's stages, so totals stay
right after the store has evicted old stages (``spark.ui.retainedStages``).

Usage: python tools/measure_cpu.py <runs> <query> [<query> ...]
Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from active_query_optimizer_spark.operators import QUERIES
from active_query_optimizer_spark.session import get_spark
from perfbench.sparkstats import group_counters


def main() -> None:
    runs = int(sys.argv[1])
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("measure-cpu")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    for name in names:
        per_run = []
        for i in range(runs):
            group = f"measure-cpu-{name}-{i}"
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).count()
            wall = time.perf_counter() - t0
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            c = group_counters(spark, group)
            per_run.append({
                "wall_s": round(wall, 3),
                "run_ms": round(c["spark.executor_run_s"] * 1e3),
                "cpu_ms": round(c["spark.executor_cpu_s"] * 1e3),
                "shuf_w_kb": round(c["spark.shuffle_write_mb"] * 1024),
                "tasks": int(c["spark.tasks"]),
                "stages": int(c["spark.stages"]),
            })
        best = min(per_run, key=lambda r: r["run_ms"])
        print(f"{name}: best_run_ms={best['run_ms']} best_cpu_ms={best['cpu_ms']} "
              f"stages={best['stages']} tasks={best['tasks']} "
              f"shufW_kb={best['shuf_w_kb']} walls={[r['wall_s'] for r in per_run]} "
              f"cpus={[r['cpu_ms'] for r in per_run]} "
              f"runs={[r['run_ms'] for r in per_run]}")
    spark.stop()


if __name__ == "__main__":
    main()
