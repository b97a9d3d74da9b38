"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata structs, processed via Arrow-batched mapInPandas.

Decode strategy: no media is decoded. Every operator derives its
metadata and feature vectors from the payload bytes alone through the
deterministic stubs (`_fake_decode_*`, clearly marked), so results are
reproducible and the gated `multimodal_features` query can be
value-checked against a DuckDB replica of the stub. A real decoder
(Pillow/libsndfile/ffmpeg) would replace the stub call inside the same
`mapInPandas` batch functions; the schemas and id handling stay as they
are.

Scale notes: binary payloads stay columnar (never hit the driver);
mapInPandas streams Arrow batches so one task holds only
``spark.sql.execution.arrow.maxRecordsPerBatch`` payloads at once.
Repartition by size class before decode so skewed payload sizes don't
straggle a task.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def _id_schema(df: DataFrame, id_col: str, *rest: T.StructField) -> T.StructType:
    """Output schema that PRESERVES the caller's id column name and
    Spark type (r5 ADVICE contract, extended to every mapInPandas op
    here in r6d — image/audio/resize previously hardcoded
    media_id/LongType and broke on string ids)."""
    return T.StructType(
        [T.StructField(id_col, df.schema[id_col].dataType), *rest]
    )


def _fake_decode_image(payload: bytes) -> tuple[int, int, list[float]]:
    """STUB — deterministic fake image decode. Produces (width, height,
    8-dim vector) purely from the byte content so results are
    reproducible."""
    n = len(payload)
    w = 16 + (n % 64)
    h = 16 + ((n // 64) % 64)
    feats = [float((payload[i % max(n, 1)] if n else 0) ^ i) for i in range(8)]
    return w, h, feats


def extract_image_features(
    df: DataFrame, payload_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """Featurize binary image payloads via Arrow-batched mapInPandas
    (deterministic stub, see module docstring)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(payload) if payload is not None else b""
                w, h, feats = _fake_decode_image(data)
                rows.append((mid, w, h, len(data), feats))
            yield pd.DataFrame(
                rows, columns=[id_col, "width", "height", "n_bytes", "features"]
            )

    schema = _id_schema(df, id_col, *IMAGE_FEATURES_SCHEMA.fields[1:])
    return df.select(id_col, payload_col).mapInPandas(batches, schema)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("mfcc", T.ArrayType(T.FloatType())),
    ]
)


def _fake_decode_audio(payload: bytes) -> tuple[int, int, list[float]]:
    """STUB — deterministic fake audio decode. Returns (sample_rate,
    duration_ms, 13-dim MFCC-shaped vector) derived purely from the
    bytes."""
    n = len(payload)
    sr = 16000 if n % 2 == 0 else 44100
    duration_ms = n * 1000 // max(sr // 1000, 1) // 8
    mfcc = [float(((payload[i % max(n, 1)] if n else 0) * 31 + i) % 97) for i in range(13)]
    return sr, duration_ms, mfcc


def extract_audio_features(
    df: DataFrame, payload_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """Featurize binary audio payloads via Arrow-batched mapInPandas
    (deterministic stub, see module docstring)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(payload) if payload is not None else b""
                sr, dur, mfcc = _fake_decode_audio(data)
                rows.append((mid, sr, dur, mfcc))
            yield pd.DataFrame(
                rows, columns=[id_col, "sample_rate", "duration_ms", "mfcc"]
            )

    schema = _id_schema(df, id_col, *AUDIO_FEATURES_SCHEMA.fields[1:])
    return df.select(id_col, payload_col).mapInPandas(batches, schema)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def resize_images(
    df: DataFrame,
    target_w: int,
    target_h: int,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """Resize: binary in → binary out, one row per image, via
    mapInPandas. STUB: the payload is repeated, then truncated or
    zero-padded to ``target_w * target_h`` bytes."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        target = target_w * target_h
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(payload) if payload is not None else b""
                out = (data * (target // max(len(data), 1) + 1))[:target].ljust(
                    target, b"\x00"
                )
                rows.append((mid, target_w, target_h, out))
            yield pd.DataFrame(
                rows, columns=[id_col, "width", "height", "payload"]
            )

    schema = _id_schema(df, id_col, *RESIZED_SCHEMA.fields[1:])
    return df.select(id_col, payload_col).mapInPandas(batches, schema)


def frame_sample_plan(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    every_n: int = 10,
) -> DataFrame:
    """Video frame-sampling plumbing: one output row per sampled frame
    index. STUB: the frame count is ``len(payload) % 256 + 1``."""
    meta_schema = _id_schema(df, id_col, T.StructField("n_frames", T.IntegerType()))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(payload) if payload is not None else b""
                rows.append((mid, len(data) % 256 + 1))
            yield pd.DataFrame(rows, columns=[id_col, "n_frames"])

    meta = df.select(id_col, payload_col).mapInPandas(batches, meta_schema)
    return meta.select(
        id_col,
        "n_frames",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
        ).alias("frame_idx"),
    )


VIDEO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("fps_milli", T.IntegerType()),
        T.StructField("fourcc", T.StringType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def extract_video_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    sample_frames: int = 2,
) -> DataFrame:
    """Video metadata + features via Arrow-batched mapInPandas. STUB:
    width, height and the feature vector come from the image stub,
    ``n_frames`` is ``len(payload) % 256 + 1``, ``fps_milli`` is 0 and
    ``fourcc`` is empty. ``sample_frames`` is accepted for API stability
    and unused."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf[id_col], pdf[payload_col]):
                data = bytes(payload) if payload is not None else b""
                w, h, fv = _fake_decode_image(data)
                rows.append((mid, w, h, len(data) % 256 + 1, 0, "", fv))
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "width", "height", "n_frames",
                    "fps_milli", "fourcc", "features",
                ],
            )

    schema = _id_schema(df, id_col, *VIDEO_FEATURES_SCHEMA.fields[1:])
    return df.select(id_col, payload_col).mapInPandas(batches, schema)
