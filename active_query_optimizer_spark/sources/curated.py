"""Curated-corpus sink: the publish step at the end of a data pipeline.

Writes the filtered/split corpus as parquet partitioned by ``split`` and
``lang``, laid out for the two access patterns that matter downstream:

- **partition pruning** on the split/lang directories (a trainer reading
  ``split=train`` must never list, let alone scan, valid/test files);
- **bounded file counts and sizes**: the pre-write shuffle is keyed by
  the partition columns, so 1000 executors produce one file per
  directory instead of 1000 shards each — the small-files problem is an
  operational outage at 100 TB, not a style issue; ``maxRecordsPerFile``
  caps file size regardless.

Reading back with ``spark.read.parquet`` keeps the partition columns as
ordinary columns and lets Catalyst prune: the round-trip test asserts
``PartitionFilters`` carries the split predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_curated(df: DataFrame, path: str) -> None:
    """Write ``df`` as parquet partitioned by ``split`` and ``lang``; one
    task writes each partition directory, in files of at most 100,000
    records."""
    (df.repartition("split", "lang")
       .write.mode("overwrite")
       .option("maxRecordsPerFile", 100_000)
       .partitionBy("split", "lang")
       .parquet(path))
