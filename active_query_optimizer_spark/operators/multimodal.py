"""Multimodal column plumbing: opaque ``binary`` payloads + typed metadata,
processed with Arrow-batched ``mapInPandas``.

The package depends on no image/audio codec, so every decode step is a
deterministic fake: it derives per-payload features from the bytes, so the
Spark-side plumbing — schema, batching, partitioning — is real and tested,
and the ``kind`` output column says ``"fake"``. A codec (PIL/librosa/pyav)
would replace the byte arithmetic inside the batch functions. The
oracle-checked queries cover the deterministic byte-level features; the
mapInPandas pipeline is exercised by tests and the rows-only query check.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table
from .registry import register

FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("first_byte", T.IntegerType()),
    T.StructField("last_byte", T.IntegerType()),
    T.StructField("byte_sum_mod", T.LongType()),
])


def binary_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the multimodal shape from ``documents``: payload as an opaque
    binary column + typed metadata struct — the schema an image/audio table
    would have (payload would be JPEG/PCM bytes instead of UTF-8 text)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.octet_length(F.col("text")).alias("n_bytes"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


def decode_payload(payload: bytes):
    """Fake decode: byte-level summary features of the payload."""
    return {
        "n_bytes": len(payload),
        "first_byte": payload[0] if payload else -1,
        "last_byte": payload[-1] if payload else -1,
        "byte_sum_mod": sum(payload) % 100_000_007,
    }


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads. This is the
    pattern for any decode/resize/frame-sample stage: ``mapInPandas`` keeps
    the transfer vectorized and the operation partition-parallel — no
    driver-side loop, no per-row Python overhead."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [decode_payload(p) for p in pdf["payload"]]
            out = pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "kind": "fake",
                "n_bytes": [f["n_bytes"] for f in feats],
                "first_byte": [f["first_byte"] for f in feats],
                "last_byte": [f["last_byte"] for f in feats],
                "byte_sum_mod": [f["byte_sum_mod"] for f in feats],
            })
            yield out

    return df.mapInPandas(batches, FEATURE_SCHEMA)


@register(
    "multimodal_bytes_features",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           greatest(ord(text[1:1]), -1) AS first_byte,
           greatest(ord(text[len(text):len(text)]), -1) AS last_byte
    FROM documents
    """,
)
def multimodal_bytes_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level payload features via pure Column ops (oracle-checked
    twin of the mapInPandas pipeline; ASCII corpus ⇒ first/last byte ==
    first/last char code)."""
    b = binary_table(spark, sf_dir)
    s = F.col("payload").cast("string")
    empty = F.octet_length(s) == 0
    return b.select(
        "doc_id",
        F.col("meta.n_bytes").cast("bigint").alias("n_bytes"),
        F.when(empty, -1).otherwise(F.ascii(F.substring(s, 1, 1))).alias("first_byte"),
        F.when(empty, -1).otherwise(F.ascii(F.substring(s, -1, 1))).alias("last_byte"),
    )


@register(
    "multimodal_feature_extract",
    oracle="""
    SELECT doc_id,
           'fake' AS kind,
           octet_length(encode(text)) AS n_bytes,
           CASE WHEN length(text) = 0 THEN -1 ELSE ord(text[1:1]) END
               AS first_byte,
           CASE WHEN length(text) = 0 THEN -1
                ELSE ord(text[len(text):len(text)]) END AS last_byte,
           CAST(COALESCE(list_sum(list_transform(
                    generate_series(1, length(text)),
                    i -> ord(text[i:i]))), 0) % 100000007 AS BIGINT)
               AS byte_sum_mod
    FROM documents
    """,
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real mapInPandas decode pipeline with the deterministic fake
    decoder. The fake decode is pure byte arithmetic over the UTF-8 payload
    (ASCII corpus ⇒ per-char ``ord`` == per-byte value), so DuckDB expresses
    it exactly: a lambda over a generated char index replays ``byte_sum_mod``
    and the first/last-byte features — exact oracle, not rows-only."""
    return extract_features(binary_table(spark, sf_dir))


# ---------------------------------------------------------------------------
# Resize / frame-sample pipeline shapes (codecs stubbed; plumbing real)
# ---------------------------------------------------------------------------

RESIZE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("pixels", T.ArrayType(T.FloatType())),
])

FRAME_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("frame_ts_ms", T.LongType()),
    T.StructField("frame_bytes", T.BinaryType()),
])


def resize_images(df: DataFrame, width: int = 8,
                  height: int = 8) -> DataFrame:
    """Image-resize stage shape: binary payload → fixed (width×height)
    float grid. The fake decoder derives a deterministic grid from payload
    bytes so the batch shape, schema, and partition-parallelism are fully
    exercised. One output row per image; array column sized width·height
    (Arrow keeps it columnar).
    """
    n_px = width * height

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            rows = []
            for p in pdf["payload"]:
                b = np.frombuffer(bytes(p), dtype=np.uint8)
                if len(b) == 0:
                    rows.append(np.zeros(n_px, dtype=np.float32))
                    continue
                # deterministic fake "resize": average-pool the byte stream
                # into n_px buckets, normalized to [0, 1]
                idx = (np.arange(len(b)) * n_px) // len(b)
                sums = np.zeros(n_px); counts = np.zeros(n_px)
                np.add.at(sums, idx, b)
                np.add.at(counts, idx, 1)
                counts[counts == 0] = 1
                rows.append((sums / counts / 255.0).astype(np.float32))
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].astype("int64"),
                "width": width, "height": height,
                "pixels": [r for r in rows],
            })

    return df.mapInPandas(batches, RESIZE_SCHEMA)


def sample_frames(df: DataFrame, every_ms: int = 1000,
                  max_frames: int = 4) -> DataFrame:
    """Video frame-sampling stage shape: one input row (video payload) →
    up to ``max_frames`` output rows, each a (frame_idx, timestamp, bytes)
    — the row-expanding mapInPandas pattern (output cardinality ≠ input
    cardinality is why this is mapInPandas, not a UDF). The fake decoder
    slices the payload deterministically."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, tss, frames = [], [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                p = bytes(p)
                n = min(max_frames, max(1, len(p) // 64))
                for i in range(n):
                    ids.append(int(doc_id))
                    idxs.append(i)
                    tss.append(i * every_ms)
                    frames.append(p[i * 64:(i + 1) * 64])
            yield pd.DataFrame({
                "doc_id": pd.Series(ids, dtype="int64"),
                "frame_idx": pd.Series(idxs, dtype="int32"),
                "frame_ts_ms": pd.Series(tss, dtype="int64"),
                "frame_bytes": frames,
            })

    return df.mapInPandas(batches, FRAME_SCHEMA)


@register(
    "multimodal_resize_grid",
    oracle="""
    WITH docs AS (
        SELECT doc_id, octet_length(encode(text)) AS n, text FROM documents
    ),
    pooled AS (
        SELECT d.doc_id,
               (t.i * 64) // d.n AS bucket,
               SUM(ord(d.text[t.i + 1:t.i + 1])) AS s,
               COUNT(*) AS c
        FROM docs d,
             LATERAL (SELECT unnest(generate_series(0, d.n - 1)) AS i) t
        WHERE d.n > 0
        GROUP BY 1, 2
    ),
    grid AS (
        SELECT d.doc_id, b.bucket,
               COALESCE(p.s, 0) AS s, COALESCE(p.c, 1) AS c
        FROM docs d
        CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bucket) b
        LEFT JOIN pooled p ON p.doc_id = d.doc_id AND p.bucket = b.bucket
    )
    SELECT doc_id, 8 AS width, 8 AS height,
           string_agg(
               CAST(CAST(ROUND(CAST(CAST((s / c) / 255.0 AS REAL) AS DOUBLE)
                                * 1000000) AS BIGINT) AS VARCHAR),
               ',' ORDER BY bucket) AS px_q
    FROM grid GROUP BY doc_id
    """,
)
def multimodal_resize_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize pipeline over binary payloads, driver-facing form: the
    raw ``pixels array<float>`` column is digested into ``px_q`` — a
    comma-joined micro-quantized (×1e6, HALF_UP) integer string — because
    the driver's canonicalizer needs scalar cells (round-2 red row) and the
    quantized digest is engine-portable: the fake resize is exact integer
    pooling (byte sums / counts) whose float32 grid both numpy and DuckDB
    derive with the same correctly-rounded double ops. The raw-array
    pipeline stays available as :func:`resize_images`."""
    grid = resize_images(binary_table(spark, sf_dir))
    q = F.transform(
        "pixels",
        lambda v: F.round(v.cast("double") * F.lit(1000000.0)).cast("bigint"),
    )
    return grid.select(
        "doc_id", "width", "height",
        F.concat_ws(",", q.cast(T.ArrayType(T.StringType()))).alias("px_q"),
    )


@register(
    "multimodal_frame_sample",
    oracle="""
    SELECT d.doc_id,
           t.i AS frame_idx,
           CAST(t.i * 1000 AS BIGINT) AS frame_ts_ms,
           substring(d.text, t.i * 64 + 1, 64) AS frame_text
    FROM documents d,
         LATERAL (SELECT unnest(generate_series(
                      0,
                      least(4, greatest(1, octet_length(encode(d.text)) // 64))
                      - 1)) AS i) t
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling pipeline (row-expanding mapInPandas), driver-facing
    form: the fake frame extractor slices the payload at 64-byte strides, so
    DuckDB replays it with ``substring`` over a generated frame index (ASCII
    corpus ⇒ char offsets == byte offsets). ``frame_bytes`` is surfaced as a
    UTF-8 string column so both engines hash a scalar; the binary-typed
    pipeline stays available as :func:`sample_frames`."""
    frames = sample_frames(binary_table(spark, sf_dir))
    return frames.select(
        "doc_id", "frame_idx", "frame_ts_ms",
        F.col("frame_bytes").cast("string").alias("frame_text"),
    )
