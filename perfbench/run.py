"""Benchmark for the engine and the learned optimizer.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload engine_queries --seed 1 \
        --seconds 20 --trace 0

Workloads (see ``perfbench/README.md``):

- ``engine_queries``: registered headline queries, cold then steady;
- ``optimizer_train``: featurize, train, score, choose and select on the
  committed label corpus.

Each run is one closed-loop client in one process on ``local[N]`` (N =
``$SPARK_GRAFT_CPUS`` or the core count). The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1``). Every run also writes a record under
``perfbench/.work/records/``.
"""

from __future__ import annotations

import argparse
import os
import shlex
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PKG_DIR = os.path.join(ROOT, "active_query_optimizer_spark")

#: pinned numeric-library thread counts: ranker training is numpy in this
#: process, and unpinned BLAS pools spent as much system time as user time
THREAD_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
               "NUMEXPR_NUM_THREADS")

WORKLOADS = ("engine_queries", "optimizer_train")


def _prepare_env() -> dict[str, str]:
    """Pin threads, keep every file the run writes inside the checkout,
    and put the checkout on the Python workers' import path. Must run
    before numpy or pyspark is imported."""
    for var in THREAD_VARS:
        os.environ[var] = "1"
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    warehouse = os.path.join(WORK, "warehouse")
    for d in (tmp, local, warehouse):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    # the data is a few MB; a small heap keeps the run light on a shared host
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    # no hsperfdata file: the JVM would write it to the system temp dir
    java_opts = (f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                 "-XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={warehouse}"),
        "--driver-java-options", shlex.quote(java_opts), "pyspark-shell"])
    sys.path.insert(0, ROOT)
    return {var: os.environ[var] for var in THREAD_VARS}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(PKG_DIR):
        print(f"perfbench: package not found at {PKG_DIR}; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    threads = _prepare_env()
    from harness import run  # noqa: E402 - after the environment is set

    return run(args, ROOT, WORK, threads)


if __name__ == "__main__":
    sys.exit(main())
