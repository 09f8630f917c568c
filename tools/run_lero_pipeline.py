"""End-to-end Lero pipeline demo on the star schema.

Runs the full Layer-B loop the reference orchestrates across ``pg.py`` →
``create_sql.py`` → (PG plan explorer) → ``Lero/stable.py``:

  1. harvest statistics from the parquet tables        (stats/harvester)
  2. generate a seeded SQL workload                    (workload/generate)
  3. take the first n generated queries to label       (no selection;
     coreset selection needs a model: pipelines/active)
  4. label: explore hint-variant plans, time them      (plans/explore)
  5. train the pairwise tree-conv ranker               (model/lero)
  6. evaluate: chosen-plan latency + ranking loss      (evaluation/metrics)
  7. serve: run each query as the ranker's argmin and  (pipelines/optimize)
     check its rows against Spark's default plan

Usage:  python tools/run_lero_pipeline.py [sf_dir] [n_queries]
Prints one JSON summary line; exits 1 when a served query's rows differ
from the default plan's.
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from active_query_optimizer_spark.catalog import register_views  # noqa: E402
from active_query_optimizer_spark.session import get_spark  # noqa: E402
from active_query_optimizer_spark.stats.harvester import harvest_range_dict  # noqa: E402
from active_query_optimizer_spark.workload.generate import generate_workload  # noqa: E402
from active_query_optimizer_spark.pipelines.optimize import (  # noqa: E402
    choose_plan, run_optimized)
from active_query_optimizer_spark.pipelines.stable import run_stable  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    spark = get_spark("lero-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    register_views(spark, sf_dir)

    # 1-2. harvest + generate
    rd = harvest_range_dict(
        spark, sf_dir,
        tables=("region", "nation", "customer", "supplier", "orders"))
    wl = generate_workload(spark, rd, num_sql=n_queries * 3, seed=7).collect()

    # 3. the first n generated queries (plan embeddings need a first
    # model; coreset selection over *plan* embeddings runs in the active
    # loop once a model exists, see pipelines/active.py)
    queries = [(f"q{r['id']}", r["sql"]) for r in wl[:n_queries]]

    # 4-6. label → train → evaluate
    out = run_stable(spark, queries, epochs=20, seed=7)

    # 7. serve: the reference's test path runs the argmin
    # (Lero/lero_test.py:82-112); run_optimized returns rows only, so the
    # tally of chosen variants asks choose_plan for its pick
    chosen: Counter[str] = Counter()
    rows_match = True
    for _, sql in queries:
        chosen[choose_plan(spark, sql, out["model"])[0].variant] += 1
        rows_match &= (run_optimized(spark, sql, out["model"])
                       == spark.sql(sql).collect())

    n_cands = [len(c) for _, c in out["bundles"]]
    summary = {
        "sf_dir": sf_dir,
        "n_queries": len(queries),
        "candidates_per_query": {
            "min": int(min(n_cands)), "max": int(max(n_cands)),
            "mean": round(float(np.mean(n_cands)), 2)},
        "chosen_plan_total_s": round(out["lero_dict"]["sum"], 3),
        "ranking_loss": round(out["ranking_loss"], 4),
        "optimized_rows_match_default": rows_match,
        "chosen_variants": chosen,
    }
    print(json.dumps(summary))
    if not rows_match:
        sys.exit(1)


if __name__ == "__main__":
    main()
