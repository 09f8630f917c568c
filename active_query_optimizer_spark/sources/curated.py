"""Curated-corpus sink: the publish step at the end of a data pipeline.

Writes the filtered/split corpus as partitioned parquet laid out for the
two access patterns that matter downstream:

- **partition pruning** on the split/lang directories (a trainer reading
  ``split=train`` must never list, let alone scan, valid/test files);
- **bounded file counts and sizes**: the pre-write shuffle is keyed by
  the partition columns (+ a deterministic salt when one directory needs
  more than one writer), so 1000 executors produce a few right-sized
  files per directory instead of 1000 shards each — the small-files
  problem is an operational outage at 100 TB, not a style issue;
  ``maxRecordsPerFile`` caps file size regardless.

Reading back through :func:`read_curated` keeps the partition columns as
ordinary columns and lets Catalyst prune: the round-trip test asserts
``PartitionFilters`` carries the split predicate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_curated(df: DataFrame, path: str,
                  partition_by: tuple[str, ...] = ("split", "lang"),
                  max_records_per_file: int = 100_000,
                  files_per_partition: int = 1,
                  salt_col: str | Column | None = None,
                  format: str = "parquet") -> None:
    """Write ``df`` partitioned by ``partition_by`` with bounded files.

    With ``files_per_partition == 1`` each partition directory is written
    by exactly one task (one file). For very large directories pass
    ``files_per_partition > 1`` plus a stable ``salt_col`` (e.g. the
    doc id): the shuffle key gains ``pmod(xxhash64(salt_col), k)``, which
    deterministically fans each directory out to k writers — NOT
    ``rand()``, which would re-deal rows on task retries and corrupt
    exactly-once file commits."""
    if format not in _FORMATS:
        raise ValueError(f"unsupported curated format: {format!r}")
    keys: list[Column] = [F.col(c) for c in partition_by]
    if files_per_partition > 1:
        if salt_col is None:
            raise ValueError(
                "files_per_partition > 1 needs a stable salt_col")
        salt = F.pmod(F.xxhash64(F.col(salt_col)
                                 if isinstance(salt_col, str) else salt_col),
                      F.lit(files_per_partition))
        keys.append(salt)
    (df.repartition(*keys)
       .write.mode("overwrite")
       .option("maxRecordsPerFile", max_records_per_file)
       .partitionBy(*partition_by)
       .format(format).save(path))


#: interchange formats the sink speaks. All three are Spark built-ins:
#: parquet is the training-read default; ORC serves warehouse consumers
#: (same columnar pruning + PartitionFilters); JSONL is the interchange/
#: inspection form (schema-on-read — pass the schema back explicitly,
#: JSON cannot carry it)
_FORMATS = ("parquet", "orc", "json")


def read_curated(spark: SparkSession, path: str, format: str = "parquet",
                 schema=None) -> DataFrame:
    """Read a curated corpus; partition columns come back as columns and
    filters on them prune directories (``PartitionFilters`` in the scan —
    parquet and ORC alike). For JSONL pass the write-side ``schema`` so
    types survive the round-trip (JSON infers BIGINT/DOUBLE only and an
    inference pass over 100 TB is itself a full scan)."""
    if format not in _FORMATS:
        raise ValueError(f"unsupported curated format: {format!r}")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.format(format).load(path)
