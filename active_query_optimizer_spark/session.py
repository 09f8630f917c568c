"""SparkSession factory tuned for this engine.

Local-mode settings mirror what we would set on a real cluster where it
matters (AQE, adaptive skew handling, Arrow for the pandas-UDF path); the
shuffle-partition count is sized for local[32] but on a 1000-executor cluster
AQE coalescing makes the static number mostly irrelevant. Python workers
start from ``pydaemon``, with the package's parent directory on their path,
so UDFs import the package from any working directory.

PySpark's DataFrame debugging is off. By default every ``functions.*`` call
and ``Column`` method records its Python file and line in the JVM
(``pyspark.errors.utils._with_origin``), which costs 4-5 extra py4j round
trips per call; on perfbench's ``engine_queries`` that is more than half of
all py4j calls (about 734 per query run with it, 324 without). What is given
up: ``AnalysisException`` messages no longer carry the DataFrame call-site
context. To get it back while debugging, build a session with
``spark.python.sql.dataFrameDebugging.enabled=true`` before any other
session in the process (pyspark reads the conf once per process).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "active_query_optimizer_spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.python.daemon.module", f"{__package__}.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        # static: pyspark caches it for the process on first read; off
        # saves the per-call call-site capture (see module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()

