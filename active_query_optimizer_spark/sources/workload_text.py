"""Text sources for the reference's file formats.

- Workload files: one query per line, ``qid#####SQL`` (reference
  ``create_sql.py:5-9``, ``data/test/stats_test_sql.txt``).
- Candidate-plan bundles: ``qid#####planJSON1#####planJSON2[#####...]`` —
  2–3 plan-JSON candidates per query with measured execution time inside
  (reference ``Lero/lero_test.py:15-23``, ``Lero/create_training_file.py``).

Both map onto ``spark.read.text`` + JVM-side split/explode: the 100 TB
shape (a workload file shards across executors like any text source; no
driver-side line loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SEP = "#####"


def read_workload_text(spark: SparkSession, path: str) -> DataFrame:
    """``[qid: string, sql: string]`` from a ``qid#####SQL`` file. Lines
    without the separator get a positional qid (the reference's
    ``create_training_file`` strips qids the same way)."""
    raw = spark.read.text(path)
    parts = F.split(F.col("value"), SEP, 2)
    return (
        raw.where(F.length(F.trim("value")) > 0)
        .select(
            F.when(F.size(parts) > 1, parts[0])
             .otherwise(F.monotonically_increasing_id().cast("string"))
             .alias("qid"),
            F.when(F.size(parts) > 1, parts[1])
             .otherwise(F.col("value")).alias("sql"),
        )
    )


def write_workload_text(df: DataFrame, path: str) -> None:
    """Persist a workload DataFrame's ``id`` and ``sql`` columns in the
    reference's line format."""
    (df.select(F.concat_ws(SEP, F.col("id").cast("string"), F.col("sql"))
               .alias("value"))
       .write.mode("overwrite").text(path))


def read_plan_bundles(spark: SparkSession, path: str) -> DataFrame:
    """Candidate-plan bundles exploded to one row per candidate:
    ``[qid: string, candidate_idx: int, plan_json: string]`` (the SURVEY §1.1
    exploded bundle shape). First field is the qid when ≥3 fields are
    present; 2-field lines are qid-less train files (plan1#####plan2)."""
    raw = spark.read.text(path).where(F.length(F.trim("value")) > 0)
    parts = F.split(F.col("value"), SEP)
    has_qid = F.col("parts")[0].rlike(r"^[^{]")  # plan JSON starts with { or [
    df = raw.select(parts.alias("parts"),
                    F.monotonically_increasing_id().cast("string").alias("line_id"))
    df = df.select(
        F.when(has_qid, F.col("parts")[0]).otherwise(F.col("line_id")).alias("qid"),
        F.when(has_qid, F.slice("parts", 2, 1_000_000))
         .otherwise(F.col("parts")).alias("plans"),
    )
    return df.select(
        "qid",
        F.posexplode("plans").alias("candidate_idx", "plan_json"),
    )
