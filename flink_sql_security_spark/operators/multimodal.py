"""Multimodal column plumbing: images/audio/video as opaque binary columns.

The Spark-side machinery is real and tested — schemas, Arrow-batched
``mapInPandas`` pipelines, partition sizing — while the actual media decode is
stubbed (no image/audio libraries in this container, driver brief): pass
``fake=True`` for a deterministic md5-derived feature vector, or get a
``NotImplementedError`` naming the real dependency.

Scale notes:
- binary payloads ride in their own column; metadata stays in typed columns so
  filters/pruning never touch the bytes
- ``mapInPandas`` streams Arrow record batches — memory is bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch``, not partition size
- repartition before decode so each task holds O(batch) media, not O(file)
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, FloatType, IntegerType, StringType, StructField,
    StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("media_id", StringType(), False),
    StructField("kind", StringType(), False),       # image | audio | video
    StructField("content", BinaryType(), True),     # opaque payload
    StructField("mime", StringType(), True),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("duration_ms", IntegerType(), True),
])

FEATURE_DIM = 16

_FEATURES_SCHEMA = StructType([
    StructField("media_id", StringType(), False),
    StructField("kind", StringType(), False),
    StructField("n_bytes", IntegerType(), True),
    StructField("features", ArrayType(FloatType()), True),
])


def _fake_features(payload: bytes) -> list[float]:
    """Deterministic md5-derived pseudo-features (decode stand-in)."""
    digest = hashlib.md5(payload or b"").digest()
    return [b / 255.0 for b in digest[:FEATURE_DIM]]


def extract_features(df: DataFrame, fake: bool = False) -> DataFrame:
    """media rows → (media_id, kind, n_bytes, features[16]).

    Real Arrow-batched pipeline; the decode kernel is the only stub. With
    ``fake=True`` features are md5-derived (deterministic for tests).
    """
    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "media decode requires Pillow/torchaudio/ffmpeg, not "
                    "available in this environment; pass fake=True for the "
                    "deterministic stub"
                )
            out = pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": pdf["content"].map(
                    lambda b: len(b) if b is not None else 0),
                "features": pdf["content"].map(
                    lambda b: _fake_features(bytes(b) if b is not None else b"")),
            })
            yield out

    return df.mapInPandas(decode, schema=_FEATURES_SCHEMA)


_DECODED_SCHEMA = StructType([
    StructField("media_id", StringType(), False),
    StructField("kind", StringType(), False),
    StructField("width", IntegerType(), True),
    StructField("height", IntegerType(), True),
    StructField("channels", IntegerType(), True),
    StructField("pixels", BinaryType(), True),      # H*W*C row-major bytes
])

_FAKE_DECODE_SIDE = 8  # stub decodes to an 8×8 RGB buffer


def decode_media(df: DataFrame, fake: bool = False) -> DataFrame:
    """media rows → decoded pixel buffers (media_id, kind, w, h, c, pixels).

    The decode kernel is the stubbed step (Pillow/ffmpeg absent here): with
    ``fake=True`` every payload deterministically becomes an 8×8×3 buffer
    whose bytes cycle the payload's md5 — stable across runs/engines, so
    downstream kernels (resize, features) are testable for real. The
    surrounding plumbing is production-shaped: Arrow batches in, explicit
    output schema, payload bytes never surface into JVM row objects larger
    than one batch.
    """

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        side = _FAKE_DECODE_SIDE
        npix = side * side * 3
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "media decode requires Pillow/torchaudio/ffmpeg, not "
                    "available in this environment; pass fake=True for the "
                    "deterministic stub"
                )

            def buf(b):
                digest = hashlib.md5(bytes(b) if b is not None else b"").digest()
                return bytes(digest[i % len(digest)] for i in range(npix))

            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "width": side,
                "height": side,
                "channels": 3,
                "pixels": pdf["content"].map(buf),
            })

    return df.mapInPandas(decode, schema=_DECODED_SCHEMA)


def resize_plan(df: DataFrame, max_side: int = 224) -> DataFrame:
    """Target-dimension planning for aspect-preserving downscale — pure JVM
    arithmetic on metadata columns, no payload access, fully codegen'd
    (and therefore DuckDB-oracle-checkable).

    out = floor(dim · max_side / longest_side), clamped ≥1; rows already
    within bounds keep their dimensions. ``floor`` (not round) keeps the
    arithmetic unambiguous across engines.
    """
    w, h = F.col("width"), F.col("height")
    longest = F.greatest(w, h)
    scale_needed = longest > max_side
    out_w = F.when(scale_needed, F.greatest(
        F.lit(1), F.floor(w * max_side / longest).cast("int"))).otherwise(w)
    out_h = F.when(scale_needed, F.greatest(
        F.lit(1), F.floor(h * max_side / longest).cast("int"))).otherwise(h)
    return (
        df.where(w.isNotNull() & h.isNotNull())
        .select("media_id", "kind", "width", "height",
                out_w.alias("out_width"), out_h.alias("out_height"))
    )


def resize_media(decoded: DataFrame, out_side: int = 4) -> DataFrame:
    """Nearest-neighbor resize of decoded pixel buffers to out_side².

    Runs for real (numpy index-gather on the Arrow batch — no media lib
    needed once buffers are decoded); with the fake decode stub upstream
    this exercises the full decode→transform kernel chain end to end.
    """
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for b, w, h, c in zip(pdf["pixels"], pdf["width"],
                                  pdf["height"], pdf["channels"]):
                if b is None:
                    outs.append(None)
                    continue
                arr = np.frombuffer(bytes(b), dtype=np.uint8).reshape(h, w, c)
                ys = (np.arange(out_side) * h) // out_side
                xs = (np.arange(out_side) * w) // out_side
                outs.append(arr[np.ix_(ys, xs)].tobytes())
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "width": out_side,
                "height": out_side,
                "channels": pdf["channels"],
                "pixels": outs,
            })

    return decoded.mapInPandas(kernel, schema=_DECODED_SCHEMA)


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Planning-only frame sampler: one row per (video, frame_ts) without
    touching payload bytes — metadata-driven explode, fully JVM-side.
    Rows with negative duration metadata are dropped, not fatal:
    sequence() requires stop >= start, so one bad row would otherwise
    fail the whole job at runtime."""
    return (
        df.where(F.col("kind") == "video")
        .where(F.col("duration_ms") >= 0)
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))
            ).alias("frame_ts_ms"),
        )
    )


def audio_segment_plan(df: DataFrame, window_ms: int = 2000,
                       hop_ms: int = 1000) -> DataFrame:
    """Planning-only audio segmenter: one row per (audio, segment) with
    ``hop_ms`` stride and ``window_ms`` windows clipped to the clip end —
    the audio analogue of :func:`frame_sample_plan` (a feature extractor
    consumes (media_id, seg_start_ms, seg_end_ms) plus the payload).
    Metadata-driven explode, fully JVM-side; payload bytes untouched.
    Zero/negative durations are dropped BEFORE the explode: sequence()
    with a positive step requires stop >= start, so a single bad
    metadata row would otherwise fail the whole job at runtime (a
    duration-0 clip emitted no segments before either — the
    seg_start < duration clip removed its lone row).
    """
    return (
        df.where(F.col("kind") == "audio")
        .where(F.col("duration_ms") > 0)
        .select(
            "media_id", "duration_ms",
            F.explode(
                F.sequence(F.lit(0), F.col("duration_ms"), F.lit(hop_ms))
            ).alias("seg_start_ms"),
        )
        .where(F.col("seg_start_ms") < F.col("duration_ms"))
        .select(
            "media_id", "seg_start_ms",
            F.least(F.col("seg_start_ms") + window_ms,
                    F.col("duration_ms")).alias("seg_end_ms"),
        )
    )


# ---------------------------------------------------------------------------
# Perceptual hashing (image near-duplicate detection)
# ---------------------------------------------------------------------------

PHASH_BITS = 63  # 8x8 low-frequency DCT block minus the DC term


def phash(decoded: DataFrame, block: int = 8) -> DataFrame:
    """(media_id, phash): 63-bit perceptual hash over decoded pixel buffers.

    Classic pHash: grayscale → 2-D DCT-II → keep the ``block``×``block``
    low-frequency corner → drop the DC coefficient → threshold the
    remaining 63 coefficients at their median → pack to a BIGINT
    (63 bits keeps the sign clear, same convention as the 48-bit
    SimHash). Near-duplicate images — recompressed, slightly cropped,
    brightness-shifted — land within a few bits; pair them with
    ``dedup.hamming_pairs(sig, "phash", "media_id", nbits=63, ...)``.

    The DCT runs as two small matrix products per image on the Arrow
    batch (numpy, float64) — no media library needed once ``decode_media``
    has produced pixel buffers; with the container's stubbed decoder the
    full kernel chain is still exercised end to end. Scale shape: narrow
    mapInPandas over the decoded batch, no shuffle; the downstream
    banded hamming join is the only exchange.
    """
    import math

    import numpy as np

    def dct_mat(n: int) -> "np.ndarray":
        # orthonormal DCT-II basis, built from math.cos (deterministic)
        m = np.empty((n, n), dtype=np.float64)
        for k in range(n):
            s = math.sqrt(1.0 / n) if k == 0 else math.sqrt(2.0 / n)
            for i in range(n):
                m[k, i] = s * math.cos(math.pi * (2 * i + 1) * k / (2 * n))
        return m

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mats: dict[int, "np.ndarray"] = {}
        for pdf in batches:
            ids, sigs = [], []
            for mid, b, w, h, c in zip(pdf["media_id"], pdf["pixels"],
                                       pdf["width"], pdf["height"],
                                       pdf["channels"]):
                if b is None or w < block or h < block:
                    continue
                arr = np.frombuffer(bytes(b), dtype=np.uint8) \
                    .reshape(h, w, c).astype(np.float64)
                gray = arr.mean(axis=2)
                Dh = mats.setdefault(h, dct_mat(h))
                Dw = mats.setdefault(w, dct_mat(w))
                coeffs = (Dh @ gray @ Dw.T)[:block, :block].ravel()[1:]
                med = float(np.median(coeffs))
                sig = 0
                for i, v in enumerate(coeffs):
                    if v > med:
                        sig |= 1 << i
                ids.append(mid)
                sigs.append(sig)
            yield pd.DataFrame({
                "media_id": pd.array(ids, dtype="string"),
                "phash": pd.array(sigs, dtype="int64"),
            })

    return decoded.mapInPandas(kernel, schema="media_id string, phash long")


def phash_pairs(decoded: DataFrame, max_hamming: int = 10) -> DataFrame:
    """Near-duplicate image pairs: pHash + the shared banded hamming join
    (pigeonhole-exact, no cartesian — see dedup.hamming_pairs)."""
    from flink_sql_security_spark.operators.dedup import hamming_pairs

    from flink_sql_security_spark.operators.cache import attach

    sig = phash(decoded).persist()
    return attach(
        hamming_pairs(sig, "phash", "media_id",
                      nbits=PHASH_BITS, max_hamming=max_hamming),
        sig)
