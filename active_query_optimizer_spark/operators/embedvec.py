"""Embedding-column preprocessing operators: int8 scalar quantization,
per-dimension corpus moments, the corpus Gram matrix, and PCA projection —
the chain a vector pipeline runs between embedding generation and index
build (quantize for memory/IO; moments + Gram feed whitening/PCA; the
projection is the reduced representation that gets indexed).

The quantize/moments pair are pure JVM higher-order-function expressions
over the ``array<float>`` column (no UDFs); Gram and projection are one
Arrow matmul per batch (the justified-vectorized class). All but the
projection carry exact DuckDB oracles. The float→
integer quantizations are engine-portable by construction: every float32
widens exactly to double, double ``*`` and ``/`` are correctly rounded
identically in the JVM and DuckDB, and ``floor`` is exact — so the
quantized integers (and everything aggregated from them) value-hash
equal across engines. This is the same discipline as
``functions/vector.py``'s left-to-right cosine folds, applied to stats
that must also be order-INdependent (integer sums commute; double sums
do not).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_for_compute, load_table
from .registry import register

#: symmetric int8 range: q = clamp(round_half_up(v / (amax/127)), ±127)
QUANT_LEVELS = 127
#: scale column is surfaced micro-quantized (×1e9, floor) so it stays a
#: hashable integer; 1e9 keeps 9 significant digits of a scale ≤ ~1.0
SCALE_Q = 1_000_000_000
#: per-dimension sums quantize elements at 1e6 (mean precision ~1e-6);
#: squared sums at 1e3 — |v| ≤ ~1 ⇒ vq3² ≤ ~1e6 per element, so the int64
#: accumulator holds to ~1e12 rows; past that, swap the sum accumulator
#: to DECIMAL(38,0) (two-level: exact per-partition int64 partials, one
#: decimal final fold) — the quantization itself is scale-free
DIM_Q = 1_000_000
DIM_Q3 = 1_000


@register(
    "embedding_quantize_int8",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_max(list_transform(embedding,
                 v -> abs(CAST(v AS DOUBLE)))) AS amax,
             CASE WHEN list_max(list_transform(embedding,
                      v -> abs(CAST(v AS DOUBLE)))) = 0
               THEN list_transform(embedding, v -> 0::BIGINT)
               ELSE list_transform(embedding, v -> CAST(FLOOR(
                 CAST(v AS DOUBLE)
                   / (list_max(list_transform(embedding,
                        vv -> abs(CAST(vv AS DOUBLE)))) / {QUANT_LEVELS}.0)
                   + 0.5) AS BIGINT))
             END AS qs
      FROM embeddings
    )
    SELECT vec_id,
           CAST(FLOOR(amax / {QUANT_LEVELS}.0 * {SCALE_Q}) AS BIGINT)
               AS scale_q,
           CAST(len(list_filter(qs,
               x -> abs(x) > {QUANT_LEVELS})) AS BIGINT) AS n_clipped,
           CAST(list_sum(list_transform(qs,
               x -> least(greatest(x, -{QUANT_LEVELS}), {QUANT_LEVELS})
                    * least(greatest(x, -{QUANT_LEVELS}), {QUANT_LEVELS})))
             AS BIGINT) AS sum_q2
    FROM q
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization summary: the quantization
    scale (``amax/127``, micro-quantized to an integer), how many raw
    quantized values exceeded the int8 range before clamping, and the
    energy of the clamped codes (``Σ q_i²`` — the quantity an IVF-PQ
    residual analysis reads).

    ``floor(x + 0.5)`` is the explicit HALF-UP rounding — chosen over the
    engines' ``round`` builtins because *those* disagree (banker's vs
    half-away) while floor is exact everywhere.

    Scale: map-only over the embeddings table — no shuffle at all; each
    row's work is O(dim) codegen'd array math. At 100 TB this is the
    io-bound pass you'd fuse with the parquet rewrite that stores the
    codes."""
    e = load_for_compute(spark, sf_dir, "embeddings", "vec_id")
    v = F.transform("embedding", lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    scale = amax / float(QUANT_LEVELS)
    raw_q = F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)))
    qs = F.when(amax == 0,
                F.transform(v, lambda x: F.lit(0).cast("long"))
                ).otherwise(raw_q)
    clamp = F.transform(
        qs, lambda x: F.greatest(F.least(x, F.lit(QUANT_LEVELS)),
                                 F.lit(-QUANT_LEVELS)))
    return e.select(
        "vec_id",
        F.floor(scale * SCALE_Q).cast("bigint").alias("scale_q"),
        F.size(F.filter(qs, lambda x: F.abs(x) > QUANT_LEVELS))
         .cast("bigint").alias("n_clipped"),
        F.aggregate(clamp, F.lit(0).cast("long"),
                    lambda acc, x: acc + x * x).alias("sum_q2"),
    )


@register(
    "embedding_dim_stats",
    oracle=f"""
    SELECT dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(vq) AS BIGINT) AS min_q,
           CAST(MAX(vq) AS BIGINT) AS max_q,
           CAST(SUM(vq) AS BIGINT) AS sum_q,
           CAST(SUM(vq3 * vq3) AS BIGINT) AS sumsq_q3
    FROM (
      SELECT t.i - 1 AS dim,
             CAST(FLOOR(CAST(e.embedding[t.i] AS DOUBLE) * {DIM_Q})
               AS BIGINT) AS vq,
             CAST(FLOOR(CAST(e.embedding[t.i] AS DOUBLE) * {DIM_Q3})
               AS BIGINT) AS vq3
      FROM embeddings e,
           LATERAL (SELECT unnest(generate_series(1, len(e.embedding)))
                    AS i) t
    )
    GROUP BY dim
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus moments over the embedding column — the inputs
    to whitening / z-score standardization (``select/coreset.py`` consumes
    exactly these as its standardize step, computed there in-batch):
    count, min/max, sum (1e-6 quantization), and sum of squares (1e-3
    quantization; int64-safe bound in the module docstring).

    Scale: posexplode to (dim, quantized value) then ONE shuffle of
    (dim, partial aggregates) — partial aggregation runs map-side, so
    64 dims × n_partitions rows move, not n_rows × 64. The integer
    quantization is what makes the merge exact in any order."""
    e = load_for_compute(spark, sf_dir, "embeddings", "vec_id")
    vd = F.col("v").cast("double")
    expl = (e.select(F.posexplode("embedding").alias("dim", "v"))
            .select("dim",
                    F.floor(vd * DIM_Q).cast("bigint").alias("vq"),
                    F.floor(vd * DIM_Q3).cast("bigint").alias("vq3")))
    return (expl.groupBy("dim")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("vq").alias("min_q"),
                 F.max("vq").alias("max_q"),
                 F.sum("vq").cast("bigint").alias("sum_q"),
                 F.sum(F.col("vq3") * F.col("vq3")).cast("bigint")
                  .alias("sumsq_q3"))
            .select("dim", "n", "min_q", "max_q", "sum_q", "sumsq_q3"))


@register(
    "embedding_gram_upper",
    oracle=f"""
    WITH q AS (
      SELECT list_transform(embedding,
                 v -> CAST(FLOOR(CAST(v AS DOUBLE) * {DIM_Q3})
                      AS BIGINT)) AS vq
      FROM embeddings
    )
    SELECT ti.i - 1 AS dim_i, tj.j - 1 AS dim_j,
           CAST(SUM(vq[ti.i] * vq[tj.j]) AS BIGINT) AS gram_q
    FROM q,
         LATERAL (SELECT unnest(generate_series(1, len(vq))) AS i) ti,
         LATERAL (SELECT unnest(generate_series(1, len(vq))) AS j) tj
    WHERE tj.j >= ti.i
    GROUP BY dim_i, dim_j
    """,
)
def embedding_gram_upper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle Gram matrix ``G = Σ_r v_r v_rᵀ`` of the
    (1e-3-quantized) embedding corpus — the d×d moment matrix whitening /
    PCA starts from (``select/coreset.py`` standardizes per-batch; this
    is the corpus-level equivalent a 100 TB pipeline would precompute
    once and eigendecompose on the driver: d×d is tiny even when the
    corpus is not).

    Spark shape: ONE Arrow batch matmul per partition (``mapInPandas`` —
    a d×d integer matmul per batch beats a d² posexplode row blowup
    through the JVM by orders of magnitude; same justified-vectorized
    class as ``select/coreset.py``'s standardizer), then a single shuffle
    of d(d+1)/2-row partials — the map-side-combine pattern where the
    "combine" is numpy. Integer quantization (``DIM_Q3``, headroom
    analysis in the module docstring) makes the merge exact in any order,
    which is what lets DuckDB's double-LATERAL oracle hash-match."""
    import numpy as np
    import pandas as pd

    e = load_for_compute(spark, sf_dir, "embeddings", "vec_id")

    def gram_partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            vq = np.floor(v * DIM_Q3).astype(np.int64)
            g = vq.T @ vq
            iu, ju = np.triu_indices(g.shape[0])
            yield pd.DataFrame({"dim_i": iu.astype(np.int64),
                                "dim_j": ju.astype(np.int64),
                                "partial": g[iu, ju]})

    partials = e.select("embedding").mapInPandas(
        gram_partials, "dim_i bigint, dim_j bigint, partial bigint")
    return (partials.groupBy("dim_i", "dim_j")
            .agg(F.sum("partial").cast("bigint").alias("gram_q")))


#: principal components kept by the PCA projection
PCA_K = 8
#: projected coordinates are surfaced quantized (×1e3, floor) — scalar,
#: driver-hashable, and insensitive to sub-milli float noise
PCA_OUT_Q = 1_000


def _pca_moments(spark: SparkSession, sf_dir: str):
    """One fused corpus pass for the PCA fit: per Arrow batch, numpy
    computes the upper-triangle Gram partials (``DIM_Q3`` lane — exactly
    ``embedding_gram_upper``'s arithmetic), the per-dim quantized sums
    (``DIM_Q`` lane — exactly ``embedding_dim_stats``'s ``sum_q``), and a
    row count, tagged into one (dim_i, dim_j, val) stream:

    - ``dim_j >= 0``  → Gram entry (dim_i, dim_j)
    - ``dim_i >= 0 > dim_j`` → per-dim sum
    - ``dim_i < 0`` → row count

    One shuffle of d(d+1)/2 + d + 1 bounded integer partials per map
    partition, one collect. Integer partials merge exactly in any order."""
    import numpy as np
    import pandas as pd

    e = load_for_compute(spark, sf_dir, "embeddings", "vec_id")

    def moments(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            vq3 = np.floor(v * DIM_Q3).astype(np.int64)
            g = vq3.T @ vq3
            iu, ju = np.triu_indices(g.shape[0])
            sums = np.floor(v * DIM_Q).astype(np.int64).sum(axis=0)
            d = g.shape[0]
            yield pd.DataFrame({
                "dim_i": np.concatenate(
                    [iu, np.arange(d), [-1]]).astype(np.int64),
                "dim_j": np.concatenate(
                    [ju, np.full(d, -1), [-1]]).astype(np.int64),
                "val": np.concatenate(
                    [g[iu, ju], sums, [len(pdf)]]).astype(np.int64),
            })

    partials = e.select("embedding").mapInPandas(
        moments, "dim_i bigint, dim_j bigint, val bigint")
    return (partials.groupBy("dim_i", "dim_j")
            .agg(F.sum("val").cast("bigint").alias("val"))
            .collect())


def pca_components(spark: SparkSession, sf_dir: str):
    """Fit step: top-``PCA_K`` principal axes of the embedding corpus from the
    distributed quantized moments (``embedding_gram_upper`` +
    ``embedding_dim_stats``), eigendecomposed on the driver.

    The covariance is assembled from EXACT integer aggregates — d(d+1)/2
    Gram entries and d sums, a bounded ``collect`` of ~2k scalars for
    d=64 — so the matrix handed to ``eigh`` is identical no matter how
    the cluster partitioned the corpus, and the fit is deterministic
    end-to-end. Sign ambiguity (an eigenvector and its negation are both
    valid) is canonicalized: the largest-|component| entry is made
    positive. Returns ``(mean, components)`` as float64 arrays
    ``(d,)``/``(PCA_K, d)``.

    Round-13 optimization (guide §1.2 "don't compute things you throw
    away" / §2.3 "aggregate before you shuffle"): the fit previously ran
    TWO full passes over the corpus — ``embedding_gram_upper`` plus
    ``embedding_dim_stats``, the latter a posexplode of n·d rows through
    a shuffle to produce five aggregates of which the fit reads two
    (n, sum_q). Both moment sets now come from ONE fused ``mapInPandas``
    pass (``_pca_moments``): each Arrow batch emits its d(d+1)/2 Gram
    partials, d quantized dim sums, and a row-count partial, merged by a
    single bounded aggregate. Identical integer arithmetic on both
    lanes, so the assembled covariance is bit-identical to the two-pass
    form (pinned by the numpy-replica test). The registered
    ``embedding_gram_upper`` / ``embedding_dim_stats`` queries are
    unchanged — only the fit's internal dataflow fused."""
    import numpy as np

    rows = _pca_moments(spark, sf_dir)
    gram = {(r["dim_i"], r["dim_j"]): r["val"]
            for r in rows if r["dim_j"] >= 0}
    sums = {r["dim_i"]: r["val"]
            for r in rows if r["dim_i"] >= 0 > r["dim_j"]}
    n = next(r["val"] for r in rows if r["dim_i"] < 0)
    d = len(sums)
    mean = np.zeros(d)
    for i, s in sums.items():
        mean[i] = (s / DIM_Q) / n
    g = np.zeros((d, d))
    for (i, j), v in gram.items():
        g[i, j] = g[j, i] = v / (DIM_Q3 * DIM_Q3)
    cov = g / n - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)          # ascending eigenvalues
    comp = vecs[:, ::-1][:, :PCA_K].T         # (k, d), top-variance first
    for row in comp:                          # fix sign per component
        if row[np.argmax(np.abs(row))] < 0:
            row *= -1.0
    return mean, comp


@register("embedding_pca_project")  # rows-only: eigendecomposition has no
# SQL analog; exactness is pinned by the numpy-replica + invariant tests
# in tests/test_datapipe.py (same class as coreset_select_embeddings)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transform step: project every embedding onto the corpus' top
    ``PCA_K`` principal axes — the dimensionality-reduction / whitening
    pass a vector pipeline runs before indexing or clustering, and the
    consumer the quantize/dim-stats/Gram trio above exists to feed.

    Spark shape: the fit is driver-side linear algebra on bounded
    aggregates (NOT an iterative Spark job — d×d eigendecomposition is
    microseconds); the (k, d) component matrix rides to executors inside
    the Arrow-UDF closure (KB-sized, the `model/infer.py` broadcast
    pattern) and the transform is ONE matmul per Arrow batch, map-only,
    no shuffle. Per-row results are independent dot products, so the
    output is partitioning-invariant; coordinates are floor-quantized to
    ints for a stable driver hash."""
    import numpy as np
    import pandas as pd

    mean, comp = pca_components(spark, sf_dir)
    e = load_for_compute(spark, sf_dir, "embeddings", "vec_id")

    def project(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            p = (v - mean) @ comp.T                      # (rows, k)
            out = {"vec_id": pdf["vec_id"].to_numpy()}
            for c in range(comp.shape[0]):
                out[f"pc{c}_q"] = np.floor(
                    p[:, c] * PCA_OUT_Q).astype(np.int64)
            yield pd.DataFrame(out)

    schema = ("vec_id bigint, "
              + ", ".join(f"pc{c}_q bigint" for c in range(PCA_K)))
    return e.select("vec_id", "embedding").mapInPandas(project, schema)


@register(
    "embedding_outlier_flags",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_sum(list_transform(embedding,
                 v -> CAST(FLOOR(CAST(v AS DOUBLE) * {DIM_Q3}) AS BIGINT)
                      * CAST(FLOOR(CAST(v AS DOUBLE) * {DIM_Q3}) AS BIGINT)
             )) AS d2
      FROM embeddings
    ), m AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(d2 AS HUGEINT)) AS s,
             SUM(CAST(d2 AS HUGEINT) * CAST(d2 AS HUGEINT)) AS ss
      FROM q
    )
    SELECT q.vec_id, CAST(q.d2 AS BIGINT) AS norm_q2,
           (m.n * q.d2 - m.s) * (m.n * q.d2 - m.s)
             > 9 * m.n * (m.n * m.ss - m.s * m.s) AS is_outlier
    FROM q, m
    """,
)
def embedding_outlier_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QC: flag vectors whose (quantized) squared L2 norm sits
    more than 3σ from the corpus mean — the cheap screen that catches
    zero vectors, unnormalized strays, and exploded activations before
    they poison an index or a k-means fit.

    Same float-free z-test as ``events_anomaly_days``, but the moments
    here square ~2e7-magnitude norms, so the comparison runs in 128-bit
    integer space — ``DECIMAL(38,0)`` in Spark, ``HUGEINT`` in DuckDB —
    where every product (≤ ~22 digits) is exact in both engines; int64
    would wrap at ~2k vectors.

    Scale: one map-side pass folds each vector to a scalar norm; the
    moment frame is THREE scalars broadcast back; flagging is map-only."""
    e = load_for_compute(spark, sf_dir, "embeddings", "vec_id")
    vq = F.transform("embedding",
                     lambda x: F.floor(x.cast("double") * DIM_Q3)
                     .cast("long"))
    d2 = F.aggregate(vq, F.lit(0).cast("long"),
                     lambda acc, x: acc + x * x)
    q = e.select("vec_id", d2.alias("d2"))
    dec = F.col("d2").cast("decimal(38,0)")
    m = q.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
              F.sum(dec).alias("s"),
              F.sum(dec * dec).alias("ss"))
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    dev = n * F.col("d2").cast("decimal(38,0)") - s
    return (q.crossJoin(F.broadcast(m))
            .select("vec_id", F.col("d2").cast("bigint").alias("norm_q2"),
                    (dev * dev > F.lit(9) * n * (n * ss - s * s))
                    .alias("is_outlier")))


@register(
    "embedding_lang_centroids",
    oracle=f"""
    SELECT lang, dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(vq) // COUNT(*) AS BIGINT) AS centroid_q
    FROM (
      SELECT d.lang AS lang, t.i - 1 AS dim,
             CAST(FLOOR(CAST(e.embedding[t.i] AS DOUBLE) * {DIM_Q})
               AS BIGINT) AS vq
      FROM embeddings e
      JOIN documents d ON e.vec_id = d.doc_id,
           LATERAL (SELECT unnest(generate_series(1, len(e.embedding)))
                    AS i) t
    )
    GROUP BY lang, dim
    """,
)
def embedding_lang_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group centroid vectors (grouped by document language) — the
    aggregation every cluster-then-curate loop needs: class prototypes
    for nearest-centroid routing, per-domain drift monitoring, or seeding
    IVF coarse quantizers from labeled strata. Centroid elements are
    integer: 1e-6-quantized element sums divided with ``div`` (exact in
    both engines; the ~1e-6 floor bias is far below embedding noise).

    Scale: the metadata join is vec_id = doc_id (co-partitioned by the
    load helper); posexplode then ONE shuffle of (lang, dim) partial
    aggregates — map-side combine moves |langs|x|dims| rows per
    partition, never n_rows x dims. Same discipline as
    ``embedding_dim_stats``, with the group key widened."""
    e = load_for_compute(spark, sf_dir, "embeddings", "vec_id")
    d = load_for_compute(spark, sf_dir, "documents", "doc_id").select(
        F.col("doc_id").alias("vec_id"), "lang")
    vd = F.col("v").cast("double")
    expl = (e.join(d, "vec_id")
            .select("lang", F.posexplode("embedding").alias("dim", "v"))
            .select("lang", "dim",
                    F.floor(vd * DIM_Q).cast("bigint").alias("vq")))
    return (expl.groupBy("lang", "dim")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.expr("sum(vq) div count(1)").cast("bigint")
                  .alias("centroid_q")))


#: one-Lloyd-step constants: seed count, milli-unit quantization, and the
#: champion-key multiplier (must exceed the largest cid; 16 > 8)
KM_K = 8
KM_Q = 1000
KM_TIE = 16


@register(
    "embedding_kmeans_step",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, list_transform(embedding,
          v -> CAST(FLOOR(CAST(v AS DOUBLE) * {KM_Q} + 0.5) AS BIGINT))
        AS qv
      FROM embeddings
    ), seeds AS (
      SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < {KM_K}
    ), pairs AS (
      SELECT q.vec_id, s.cid,
             list_sum(list_transform(generate_series(1, len(q.qv)),
                i -> (q.qv[i] - s.cv[i]) * (q.qv[i] - s.cv[i]))) AS dist
      FROM q CROSS JOIN seeds s
    ), assign AS (
      SELECT vec_id, arg_min(cid, dist * {KM_TIE} + cid) AS cid
      FROM pairs GROUP BY vec_id
    )
    SELECT a.cid, t.i - 1 AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(q.qv[t.i]) AS BIGINT) AS sum_q,
           CAST(SUM(q.qv[t.i]) // COUNT(*) AS BIGINT) AS centroid_q
    FROM assign a JOIN q USING (vec_id),
         LATERAL (SELECT unnest(generate_series(1, len(q.qv))) AS i) t
    GROUP BY a.cid, dim
    """,
)
def embedding_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd iteration of k-means over milli-quantized
    embeddings: assign every vector to its nearest of ``KM_K`` seed
    centroids (integer squared-L2; deterministic ``dist·16+cid``
    champion key breaks distance ties by centroid id), then emit the
    update numerators — per (centroid, dim): member count, integer
    element sum, and the floor-divided new centroid element.

    This is the exact-arithmetic anchor for the clustering the ANN
    family uses approximately (``ann_ivf_topk`` trains MLlib KMeans —
    rows-only by nature); here every step is integer, so the full
    assignment+update round has a value-hash oracle. Iterating is the
    caller's loop: feed ``centroid_q`` back in as the next seeds.

    Round-13 optimization (guide §2.4 "remove shuffles outright"): the
    k seed centroids are a bounded k×dim integer matrix, so they ride
    to the executors as LITERALS inside the assignment expression —
    exactly how ``model/infer.py`` ships its model and how production
    Lloyd keeps centroids on the driver between rounds — instead of a
    broadcast crossJoin fan-out (k rows per vector) followed by a
    ``vec_id`` argmin aggregate and a join back onto the vector frame.
    Assignment is now MAP-ONLY (champion = ``array_min`` over the k
    (dist·16+cid, cid) structs per row), and the whole round has ONE
    exchange: the (cid, dim) partial-aggregated update — map-side
    combine moves k·dim rows per partition, never n·dim. Seed
    collection is a bounded driver transfer (k·dim longs) with the
    ``vec_id < k`` filter pushed to parquet."""
    q = _km_quantized(spark, sf_dir)
    seeds = _km_collect_seeds(spark, sf_dir)
    return _km_assign_update_literal(q, seeds)


def _km_qv_expr() -> Column:
    """The shared milli-quantization expression (exact integer space)."""
    return F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * KM_Q + F.lit(0.5))
                   .cast("long"))


def _km_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The milli-quantized vector frame ``q (vec_id, qv: array<long>)``."""
    e = load_for_compute(spark, sf_dir, "embeddings", "vec_id")
    return e.select("vec_id", _km_qv_expr().alias("qv"))


def _km_collect_seeds(spark: SparkSession,
                      sf_dir: str) -> list[tuple[int, list[int]]]:
    """First-round seed centroids, collected to the driver: the ``KM_K``
    lowest vec_ids (deterministic, engine-portable — no RNG to agree on)
    as ``[(cid, [qv…])]``. Bounded transfer — k·dim longs — read with the
    ``vec_id < k`` filter pushed to the parquet scan (no repartition on
    this k-row path)."""
    rows = (load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") < KM_K)
            .select("vec_id", _km_qv_expr().alias("qv"))
            .collect())
    return sorted((r["vec_id"], list(r["qv"])) for r in rows)


def _km_assign_update_literal(
        q: DataFrame, seeds: list[tuple[int, list[int]]]) -> DataFrame:
    """One Lloyd assign+update round over quantized vectors ``q``
    (vec_id, qv: array<long>) against driver-held ``seeds``
    [(cid, [cv…])]. Assignment is a map-only expression (the k seed
    vectors are literals, the champion is ``array_min`` over the k
    ``dist·KM_TIE+cid`` keys — the same deterministic tie-break key as
    before, decoded by mod KM_TIE); the ONLY exchange is the (cid, dim) update
    aggregate, partial-combined map-side. Pure integer arithmetic
    throughout — engine-exact and partitioning-invariant."""
    # the whole assignment expression is built as ONE SQL string and
    # parsed JVM-side — per-element Column ops for k·dim literals would
    # cost thousands of py4j round trips at plan-construction time
    def dist_to(cv: list[int]) -> str:
        arr = "array(" + ",".join(f"{int(v)}L" for v in cv) + ")"
        return (f"aggregate(zip_with(qv, {arr}, (a, b) -> (a - b) * (a - b)),"
                f" 0L, (acc, x) -> acc + x)")

    champs = "array(" + ",".join(
        f"({dist_to(cv)} * {KM_TIE} + {int(cid)}L)" for cid, cv in seeds
    ) + ")"
    # the champion key dist·KM_TIE+cid already encodes the winning cid in
    # its low bits (cid < KM_TIE), so the argmin is min-key mod KM_TIE
    cid = F.expr(f"pmod(array_min({champs}), {KM_TIE})").cast("long")
    # bind cid BELOW the posexplode: selected alongside the generator it
    # plans into the post-Generate projection and is re-evaluated once per
    # exploded ELEMENT (dim× the work); bound first, the Generate merely
    # carries it through (measured 2.7× total CPU difference)
    withcid = q.select(cid.alias("cid"), "qv")
    return (withcid.select("cid", F.posexplode("qv").alias("dim", "vq"))
            .groupBy("cid", "dim")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("vq").cast("bigint").alias("sum_q"),
                 F.expr("sum(vq) div count(1)").cast("bigint")
                  .alias("centroid_q")))


def _km_seeds_from_update_rows(rows) -> list[tuple[int, list[int]]]:
    """Roll collected (cid, dim, centroid_q) update rows back into the
    driver-side ``[(cid, [cv…])]`` seed shape for the next iteration
    (bounded: k·dim rows)."""
    by_cid: dict[int, dict[int, int]] = {}
    for r in rows:
        by_cid.setdefault(r["cid"], {})[r["dim"]] = r["centroid_q"]
    return sorted(
        (cid, [dims[d] for d in sorted(dims)])
        for cid, dims in by_cid.items())


# DuckDB replay of both Lloyd rounds: round 1 is embedding_kmeans_step's
# oracle verbatim; seeds2 rebuilds the centroid arrays with an ordered
# list() aggregate; round 2 repeats the pair/argmin/update CTEs.
_KM2_Q = f"""
    WITH q AS (
      SELECT vec_id, list_transform(embedding,
          v -> CAST(FLOOR(CAST(v AS DOUBLE) * {KM_Q} + 0.5) AS BIGINT))
        AS qv
      FROM embeddings
    ), seeds AS (
      SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < {KM_K}
    ), pairs1 AS (
      SELECT q.vec_id, s.cid,
             list_sum(list_transform(generate_series(1, len(q.qv)),
                i -> (q.qv[i] - s.cv[i]) * (q.qv[i] - s.cv[i]))) AS dist
      FROM q CROSS JOIN seeds s
    ), assign1 AS (
      SELECT vec_id, arg_min(cid, dist * {KM_TIE} + cid) AS cid
      FROM pairs1 GROUP BY vec_id
    ), upd1 AS (
      SELECT a.cid, t.i - 1 AS dim,
             CAST(SUM(q.qv[t.i]) // COUNT(*) AS BIGINT) AS centroid_q
      FROM assign1 a JOIN q USING (vec_id),
           LATERAL (SELECT unnest(generate_series(1, len(q.qv))) AS i) t
      GROUP BY a.cid, dim
    ), seeds2 AS (
      SELECT cid, list(centroid_q ORDER BY dim) AS cv
      FROM upd1 GROUP BY cid
    ), pairs2 AS (
      SELECT q.vec_id, s.cid,
             list_sum(list_transform(generate_series(1, len(q.qv)),
                i -> (q.qv[i] - s.cv[i]) * (q.qv[i] - s.cv[i]))) AS dist
      FROM q CROSS JOIN seeds2 s
    ), assign2 AS (
      SELECT vec_id, arg_min(cid, dist * {KM_TIE} + cid) AS cid
      FROM pairs2 GROUP BY vec_id
    )
    SELECT a.cid, t.i - 1 AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(q.qv[t.i]) AS BIGINT) AS sum_q,
           CAST(SUM(q.qv[t.i]) // COUNT(*) AS BIGINT) AS centroid_q
    FROM assign2 a JOIN q USING (vec_id),
         LATERAL (SELECT unnest(generate_series(1, len(q.qv))) AS i) t
    GROUP BY a.cid, dim
"""


@register("embedding_kmeans_two_steps", oracle=_KM2_Q)
def embedding_kmeans_two_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO chained exact Lloyd iterations: round 1 from the literal seed
    set (``vec_id < KM_K``), round 2 from the centroids round 1 produced
    — the iterative-ML pattern ``embedding_kmeans_step`` anchors, now
    actually iterated with a full value-hash oracle for the composed
    trajectory (round-4 verdict item: turn the single-step anchor into a
    verified iterative pattern). Convergence is pinned in tests: the
    integer inertia (sum of champion distances) is non-increasing from
    round 1 to round 2, exactly as Lloyd guarantees.

    Scale: each round is the ``embedding_kmeans_step`` shape (k-row
    broadcast fan-out, map-side-combined (cid, dim) update); the
    inter-round hand-off moves k·dim LONGS through the driver — the
    bounded centroid matrix, exactly what a production Lloyd loop holds
    between rounds — so each round is the one-exchange literal-seed
    shape of ``embedding_kmeans_step`` (round-13 optimization; the old
    form chained two broadcast crossJoin+argmin+rejoin rounds into one
    24-exchange DAG). A production loop additionally persists the
    quantized frame ``q`` once for all iterations (here the two scans
    at bench SF cost less than managing cache lifetime in a registry
    entry; the sig-table pattern in ``dedup.py`` shows the persisted
    form)."""
    q = _km_quantized(spark, sf_dir)
    seeds = _km_collect_seeds(spark, sf_dir)
    upd1_rows = _km_assign_update_literal(q, seeds).collect()
    seeds2 = _km_seeds_from_update_rows(upd1_rows)
    return _km_assign_update_literal(q, seeds2)
