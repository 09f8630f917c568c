"""Correctness sweep over all 108 frozen headline queries.

Runs each query once on the benchmark's sf0.01 data and compares it with
its DuckDB oracle (102 queries) or its recorded row count (the other 6).
Prints one line per failing query and a JSON summary as the last line;
exits 1 when any query fails. Takes a few minutes on 4 cores.

    python3 perfbench/check_all.py
"""

from __future__ import annotations

import json
import os
import sys

import run

SF = 0.01


def main() -> int:
    if not os.path.isdir(run.PKG_DIR):
        print(f"check_all: package not found at {run.PKG_DIR}",
              file=sys.stderr)
        return 2
    run._prepare_env()
    import datagen
    from harness import _shutdown
    from oracle import Oracle
    from queries import HEADLINE_108

    from active_query_optimizer_spark.operators import ORACLES, QUERIES
    from active_query_optimizer_spark.session import get_spark

    data = datagen.ensure_data(os.path.join(run.WORK, "data"), SF)
    spark = get_spark("perfbench-check-all")
    spark.sparkContext.setLogLevel("ERROR")
    ora = Oracle(data)
    failures: dict[str, str] = {}
    try:
        for name in HEADLINE_108:
            try:
                why = ora.check(name, QUERIES[name](spark, data).toPandas(),
                                ORACLES)
            except Exception as e:  # noqa: BLE001 - reported per query
                why = f"{type(e).__name__}: {str(e)[:200]}"
            if why:
                failures[name] = why
                print(f"FAIL {name}: {why}", flush=True)
    finally:
        ora.close()
        _shutdown(spark)
    n = len(HEADLINE_108)
    print(json.dumps({"queries": n, "with_oracle": sum(
        1 for q in HEADLINE_108 if q in ORACLES), "failed": len(failures),
        "error_rate": len(failures) / n, "failures": sorted(failures)}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
