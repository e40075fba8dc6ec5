"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque ``binary`` columns with typed metadata, exactly how
a 100 TB crawl stores them (WARC payload bytes next to the url row). What is
REAL here and tested: the schema, the Arrow batch shape, the mapInPandas UDF
signatures, partitioning-friendly metadata derivation. No codec library
(PIL/ffmpeg) is a dependency: ``decode_image_fake`` is a deterministic
byte-derived stand-in so the distributed plumbing is end-to-end testable, and
a real decoder plugs in through ``decode_batch(decoder=...)``.

Operators:
- ``with_media_meta``   — JVM-side metadata: byte length, sha256, magic-byte
  sniffed media kind. Narrow, codegen'd, no Python.
- ``decode_batch``      — mapInPandas decode: binary → (width, height,
  n_channels) via the pluggable decoder. Arrow-batched; one Python pass.
- ``frame_sample``      — video-style frame sampling: binary → one row per
  sampled frame index (UDTF shape, like link harvest T2 — SURVEY §2.9).
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MAGIC = {
    b"\x89PNG": "image/png",
    b"\xff\xd8\xff": "image/jpeg",
    b"RIFF": "audio/wav",
    b"\x1aE\xdf\xa3": "video/webm",
}


def with_media_meta(df: DataFrame, blob_col: str = "blob") -> DataFrame:
    """Adds byte_len, blob_sha, media_kind (magic-byte sniff; 'application/
    octet-stream' fallback). All built-in expressions."""
    b = F.col(blob_col)
    kind = F.lit("application/octet-stream")
    for magic, mime in MAGIC.items():
        kind = F.when(
            F.startswith(b, F.lit(magic)), F.lit(mime)
        ).otherwise(kind)
    return (
        df.withColumn("byte_len", F.length(b).cast("long"))
        .withColumn("blob_sha", F.lower(F.sha2(b, 256)))
        .withColumn("media_kind", kind)
    )


# ---------------------------------------------------------------------------
# Decoders (pluggable through decode_batch's ``decoder`` argument).
# ---------------------------------------------------------------------------

def decode_image_fake(data: bytes) -> Tuple[int, int, int]:
    """Deterministic byte-derived fake decode: (width, height, channels) as a
    pure function of the payload, so distributed tests have an exact oracle."""
    d = hashlib.sha256(data).digest()
    width = 16 + int.from_bytes(d[0:2], "big") % 2032
    height = 16 + int.from_bytes(d[2:4], "big") % 2032
    channels = 1 + d[4] % 4
    return width, height, channels


DECODE_SCHEMA_EXTRA = [
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("n_channels", IntegerType()),
]


def decode_batch(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    decoder: Callable[[bytes], Tuple[int, int, int]] = decode_image_fake,
) -> DataFrame:
    """mapInPandas decode: (id, blob) → (id, width, height, n_channels).

    Arrow-batched: one Python crossing per ~10k-row batch, the decode loop is
    the per-row cost (unavoidable for codecs). Output is narrow; at scale the
    decode stage is CPU-bound and embarrassingly parallel — repartition by
    anything uniform (e.g. hash(id)) to spread codec cost, no shuffle after.
    """
    out_schema = StructType(
        [StructField(id_col, LongType())] + DECODE_SCHEMA_EXTRA
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ws, hs, cs = [], [], []
            for data in pdf[blob_col]:
                w, h, c = decoder(bytes(data))
                ws.append(w)
                hs.append(h)
                cs.append(c)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "width": ws, "height": hs, "n_channels": cs}
            )

    return df.select(id_col, blob_col).mapInPandas(fn, out_schema)


def frame_sample(
    df: DataFrame,
    every_n: int = 10,
    n_frames_total: int = 100,
    blob_col: str = "blob",
    id_col: str = "doc_id",
) -> DataFrame:
    """Video-style frame sampling (UDTF shape: one row → many frame rows).

    The fake "container" has ``n_frames_total`` frames; emit every
    ``every_n``-th frame index with a deterministic per-frame digest (stands
    in for the decoded frame tensor): sha256(payload || ':' || frame_idx) —
    NUL-free suffix so the DuckDB oracle can recompute it over VARCHAR.
    Real codecs slot into the same mapInPandas seam.
    """
    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("frame_sha", StringType()),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, shas = [], [], []
            for rid, data in zip(pdf[id_col], pdf[blob_col]):
                payload = bytes(data)
                for i in range(0, n_frames_total, every_n):
                    ids.append(rid)
                    idxs.append(i)
                    shas.append(
                        hashlib.sha256(payload + b":" + str(i).encode()).hexdigest()
                    )
            yield pd.DataFrame({id_col: ids, "frame_idx": idxs, "frame_sha": shas})

    return df.select(id_col, blob_col).mapInPandas(fn, out_schema)


def resize_plan(
    df: DataFrame,
    target_w: int = 224,
    target_h: int = 224,
    w_col: str = "width",
    h_col: str = "height",
) -> DataFrame:
    """Aspect-preserving (letterbox) resize geometry: adds out_w, out_h and
    scale = min(target_w/w, target_h/h), dims clamped to >= 1.

    This is the metadata half of a resize stage — pure JVM column algebra
    (zero Python, zero shuffle); the pixel resampling itself plugs into the
    same mapInPandas seam as decode_batch (a real codec is passed as its
    ``decoder``). At 100 TB the geometry runs in the scan's
    codegen stage for free and the resample stage reads only rows whose
    (out_w, out_h) != (width, height) if pass-through is allowed.
    """
    w = F.col(w_col).cast("double")
    h = F.col(h_col).cast("double")
    s = F.least(F.lit(float(target_w)) / w, F.lit(float(target_h)) / h)
    return (
        df.withColumn("out_w", F.greatest(F.lit(1), F.round(w * s)).cast("int"))
        .withColumn("out_h", F.greatest(F.lit(1), F.round(h * s)).cast("int"))
        .withColumn("scale", s)
    )


FEATURE_DIM = 16


def feature_extract_batch(
    df: DataFrame,
    blob_col: str = "blob",
    id_col: str = "doc_id",
    dim: int = FEATURE_DIM,
) -> DataFrame:
    """Deterministic stand-in visual-feature extractor: (id, blob) →
    (id, features array<double> of ``dim``), feat_i = byte_i(sha256(blob))
    / 255.0 — a pure function of the payload, so the DuckDB oracle can
    recompute it, while the Spark-side plumbing (Arrow batches, mapInPandas
    schema, narrow output feeding the embedding ops) is exactly what a real
    CNN/CLIP encoder UDF uses. Output plugs straight into
    similarity.cosine_topk / dedup.embedding_near_dupes.
    """
    import hashlib

    out_schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("features", ArrayType(DoubleType())),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for data in pdf[blob_col]:
                d = hashlib.sha256(bytes(data)).digest()
                feats.append([d[i] / 255.0 for i in range(dim)])
            yield pd.DataFrame({id_col: pdf[id_col], "features": feats})

    return df.select(id_col, blob_col).mapInPandas(fn, out_schema)


def frame_dupes(
    frames: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicate frames ACROSS videos from a ``frame_sample`` output:
    (frame_sha, n_copies, n_videos, keep_id, keep_idx) for every frame
    digest appearing more than once — intros, outros, test cards and
    re-uploads shared between containers. keep = the (id, frame_idx)-min
    occurrence; all others are the delete/skip set for feature extraction.

    One digest-keyed combiner aggregate — the video twin of exact text
    dedup, and the cheap prefilter before any perceptual-hash near-dup
    pass. At corpus scale the digest relation is frames × 64 bytes, skew-
    free by construction (sha keys)."""
    return (
        frames.groupBy("frame_sha")
        .agg(
            F.count("*").cast("long").alias("n_copies"),
            F.count_distinct(id_col).cast("long").alias("n_videos"),
            F.min(
                F.struct(F.col(id_col).alias("kid"), F.col("frame_idx").alias("kidx"))
            ).alias("_k"),
        )
        .filter(F.col("n_copies") > 1)
        .select(
            "frame_sha",
            "n_copies",
            "n_videos",
            F.col("_k.kid").alias("keep_id"),
            F.col("_k.kidx").alias("keep_idx"),
        )
    )
