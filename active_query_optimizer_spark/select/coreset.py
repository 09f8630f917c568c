"""MinHash-LSH partitioning + greedy k-center coreset selection.

Rebuilds ``coreset.py:5-131`` Spark-natively (the reference runs datasketch
MinHash + torch matmuls in one process; we reproduce *intent* — its
``coreset()`` even has an undefined-variable bug, ``coreset.py:93``,
SURVEY §2.G):

- standardization (``coreset.py:100-131``): z-score per feature over the
  full set, then L2 row normalization. ``column_stats`` computes the
  per-dimension (mean, std) in one Spark aggregate over the exploded
  vector; ``zscore_l2`` is the numpy row transform, applied where the rows
  already are — inside the per-bucket greedy — with the tiny stats
  broadcast.
- ``lsh_partition`` (``coreset.py:5-46``): MinHash over the *set of
  positive feature indices* of the standardized vector (the reference
  binarizes exactly this way); bucket id = first hash value mod
  ``num_groups``. Dividing by a positive std and then by a positive row
  norm keeps the sign of ``v − mean``, so a standardized dimension is
  positive exactly when ``v > mean``. The hash is one Spark SQL
  expression on the raw vector, ``min over {i : v_i > mean_i} of
  ((1 + i)·a + b) mod HASH_PRIME``: the first hash of
  ``pyspark.ml.feature.MinHashLSH``'s first table, with ``(a, b)`` drawn
  as MinHashLSH draws them from ``java.util.Random(seed)``. It needs no
  vector column and no fitted model. A row with no dimension above the
  mean (a one-row pool, identical rows) gets the min-hash ``HASH_PRIME``,
  above every real hash, where MinHashLSH fails with "Must have at least
  1 non zero entry".
- ``greedy_k_center`` (``coreset.py:48-89``): per bucket, repeatedly pick
  the unlabeled point whose max cosine similarity to (labeled ∪ selected)
  is smallest. Greedy selection is sequential *within* a bucket by
  definition — ``applyInPandas`` runs every bucket in parallel, with the
  (small) labeled matrix broadcast; the per-bucket matmuls are numpy.

The whole selection makes one Python pass over the rows (the per-bucket
``applyInPandas``); the stats aggregate and the hashing stay in the JVM.

Scale: buckets are the unit of parallelism — LSH keeps them
similarity-coherent and bounded, so 100 M unlabeled plan embeddings spread
over thousands of buckets, each solved independently. Nothing but the
selected ids and the per-dimension stats ever reaches the driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType


def column_stats(df: DataFrame, vec_col: str = "embedding"
                 ) -> tuple[np.ndarray, np.ndarray]:
    """Per-dimension (mean, population std) of an array column over the
    whole set; a zero or undefined std becomes 1.0 so ``zscore_l2`` never
    divides by zero."""
    stats = sorted(df.select(F.posexplode(vec_col).alias("dim", "v"))
                   .groupBy("dim")
                   .agg(F.avg("v").alias("mean"),
                        F.stddev_pop("v").alias("std")).collect(),
                   key=lambda r: r["dim"])
    means = np.array([r["mean"] for r in stats])
    stds = np.array([r["std"] if r["std"] else 1.0 for r in stats])
    return means, stds


def zscore_l2(mat: np.ndarray, means: np.ndarray,
              stds: np.ndarray) -> np.ndarray:
    """z-score each dimension with the set's (mean, std), then
    L2-normalize each row (``coreset.py:100-131``); a row equal to the
    mean stays the zero vector."""
    z = (mat - means) / stds
    norms = np.linalg.norm(z, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return z / norms


#: MinHashLSH's modulus (``MinHashLSH.HASH_PRIME``); also the min-hash of
#: an empty index set, above every real hash, so rows with no dimension
#: above the mean share the bucket ``HASH_PRIME mod num_groups``
HASH_PRIME = 2038074743


def lsh_partition(df: DataFrame, means: np.ndarray,
                  vec_col: str = "embedding", num_groups: int = 16,
                  seed: int = 42) -> DataFrame:
    """Append ``bucket``: MinHash of each row's positive-dimension index
    set after standardization (``coreset.py:5-46``: MinHash of
    ``np.where(vec > 0)``), i.e. over the dimensions where ``v > mean``.

    The bucket is ``pmod(min_{i : v_i > mean_i} ((1 + i)·a + b) mod P,
    num_groups)`` with ``P = HASH_PRIME`` — equal to ``MinHashLSH(seed=
    seed)``'s first hash mod ``num_groups``, since MinHashLSH hashes the
    non-zero indices of the binarized vector the same way and draws its
    first table's ``a = 1 + nextInt(P − 1)``, ``b = nextInt(P − 1)`` from
    ``java.util.Random(seed)``. An empty index set hashes to ``P``."""
    if not np.isfinite(means).all():
        raise ValueError("embedding means must be finite")
    rand = df.sparkSession._jvm.java.util.Random(int(seed))
    a = 1 + rand.nextInt(HASH_PRIME - 1)
    b = rand.nextInt(HASH_PRIME - 1)
    # JVM-side — higher-order functions against a literal means array, not
    # a Python UDF, so the hash never leaves the JVM. One SQL string rather
    # than a lit() per dimension (each is a py4j call); repr() round-trips
    # a double exactly, and the ``D`` suffix parses it as a double rather
    # than a decimal. array_min skips the NULLs of dimensions at or below
    # the mean, and is NULL when all are
    means_sql = ", ".join(f"{float(m)!r}D" for m in means)
    above = f"zip_with(`{vec_col}`, array({means_sql}), (v, m) -> v > m)"
    min_hash = (f"array_min(transform({above}, (p, i) -> "
                f"IF(p, ((1 + i) * {a}L + {b}L) % {HASH_PRIME}L, NULL)))")
    return df.withColumn("bucket", F.expr(
        f"pmod(coalesce({min_hash}, {HASH_PRIME}L), {int(num_groups)})"))


def greedy_k_center(df: DataFrame, labeled: np.ndarray | None,
                    k_per_bucket: int,
                    stats: tuple[np.ndarray, np.ndarray],
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Per-``bucket`` greedy k-center (``coreset.py:48-89``): each step selects
    the unlabeled point minimizing max cosine similarity to
    labeled ∪ already-selected; rows are pre-sorted by id so ties break
    deterministically (np.argmin takes the first minimum). Returns
    ``[bucket, id, rank]``, ``rank`` being the 0-based step that picked
    the row within its bucket.

    ``labeled`` and the rows of ``vec_col`` are raw vectors; both go
    through ``zscore_l2`` with the same ``stats`` = (means, stds), so the
    similarities compare vectors of one space."""
    spark = df.sparkSession
    means, stds = stats
    b_state = spark.sparkContext.broadcast((
        means, stds,
        zscore_l2(np.asarray(labeled, dtype=float), means, stds)
        if labeled is not None and len(labeled) else None))
    id_field = df.schema[id_col]

    def select(pdf: pd.DataFrame) -> pd.DataFrame:
        mu, sd, L = b_state.value
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        U = zscore_l2(np.stack(pdf[vec_col].to_numpy()), mu, sd)   # (n, d)
        n = len(pdf)
        k = min(k_per_bucket, n)
        # running max cosine similarity of each unlabeled point to the
        # reference set (labeled ∪ selected); matmul-based like the
        # reference's torch.mm on normalized rows
        max_sim = (U @ L.T).max(axis=1) if L is not None else np.full(n, -np.inf)
        chosen: list[int] = []
        mask = np.zeros(n, dtype=bool)
        for _ in range(k):
            cand = np.where(~mask, max_sim, np.inf)
            pick = int(np.argmin(cand))
            mask[pick] = True
            chosen.append(pick)
            max_sim = np.maximum(max_sim, U @ U[pick])
        out = pdf.iloc[chosen][["bucket", id_col]]
        return out.assign(rank=np.arange(len(chosen), dtype=np.int32))

    schema = StructType([df.schema["bucket"], StructField(
        id_col, id_field.dataType, id_field.nullable),
        StructField("rank", IntegerType(), False)])
    return df.groupBy("bucket").applyInPandas(select, schema)


def coreset_select(df: DataFrame, k_per_bucket: int,
                   labeled: np.ndarray | None = None,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   num_groups: int = 16, seed: int = 42) -> DataFrame:
    """Compose: stats → LSH partition → per-bucket standardize + greedy
    (``coreset.py:91-98``). ``labeled`` holds raw embeddings, standardized
    with the pool's stats; the reference instead standardizes U∪L jointly
    (``coreset.py:100-131``). Returns ``[bucket, id, rank]`` of selected
    points (``rank``: greedy pick order within the bucket)."""
    stats = column_stats(df, vec_col)
    bucketed = lsh_partition(df, stats[0], vec_col, num_groups, seed=seed)
    return greedy_k_center(bucketed, labeled, k_per_bucket, stats, id_col,
                           vec_col)
