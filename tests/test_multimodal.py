"""Multimodal plumbing tests: binary columns through Arrow-batched
mapInPandas — schema, determinism, null-payload safety."""

from __future__ import annotations

from tsp_spark.pipeline.multimodal import (
    extract_audio_features,
    extract_image_features,
    frame_sample_plan,
    resize_images,
)


def _media_df(spark):
    rows = [
        (1, b"\x01\x02\x03\x04" * 100),
        (2, b"jpegdata-something-longer" * 7),
        (3, None),
    ]
    return spark.createDataFrame(rows, "media_id long, payload binary")


def test_image_features(spark):
    out = extract_image_features(_media_df(spark)).collect()
    by_id = {r["media_id"]: r for r in out}
    assert set(by_id) == {1, 2, 3}
    assert by_id[1]["n_bytes"] == 400
    assert len(by_id[1]["features"]) == 8
    assert by_id[3]["n_bytes"] == 0  # null payload is safe
    # determinism
    again = {r["media_id"]: r for r in extract_image_features(_media_df(spark)).collect()}
    assert again[2]["features"] == by_id[2]["features"]


def test_audio_features(spark):
    out = {r["media_id"]: r for r in extract_audio_features(_media_df(spark)).collect()}
    assert out[1]["sample_rate"] in (16000, 44100)
    assert len(out[1]["mfcc"]) == 13
    assert out[3]["duration_ms"] == 0


def test_resize(spark):
    out = {r["media_id"]: r for r in resize_images(_media_df(spark), 8, 4).collect()}
    for r in out.values():
        assert (r["width"], r["height"]) == (8, 4)
        assert len(r["payload"]) == 32


def test_frame_sample(spark):
    out = frame_sample_plan(_media_df(spark).where("payload is not null"), every_n=10)
    rows = out.collect()
    assert all(r["frame_idx"] % 10 == 0 for r in rows)
    assert all(r["frame_idx"] < r["n_frames"] for r in rows)
    # stub frame count: payload length mod 256, plus one
    n_frames = {1: 400 % 256 + 1, 2: len(b"jpegdata-something-longer" * 7) % 256 + 1}
    assert all(r["n_frames"] == n_frames[r["media_id"]] for r in rows)
    assert {(r["media_id"], r["frame_idx"]) for r in rows} == {
        (mid, i) for mid, n in n_frames.items() for i in range(0, n, 10)
    }


def test_id_col_preserved(spark):
    """ADVICE r5 (extended to EVERY mapInPandas op here in r6d): all
    five media operators must keep a caller-supplied id column's name
    AND Spark type — image/audio/resize previously hardcoded
    media_id/LongType and broke on string ids (review-caught)."""
    from tsp_spark.pipeline.multimodal import (
        extract_audio_features,
        extract_image_features,
        extract_video_features,
        resize_images,
    )

    df = spark.createDataFrame(
        [("docA", bytearray(b"xyz"))], "doc_id string, payload binary"
    )
    fs = frame_sample_plan(df, id_col="doc_id", every_n=10)
    assert fs.schema["doc_id"].dataType.simpleString() == "string"
    assert [r["doc_id"] for r in fs.collect()] == ["docA"]
    assert [r["n_frames"] for r in fs.collect()] == [len(b"xyz") % 256 + 1]
    for fn in (
        extract_video_features,
        extract_image_features,
        extract_audio_features,
    ):
        out = fn(df, id_col="doc_id")
        assert out.schema["doc_id"].dataType.simpleString() == "string", fn
        assert out.collect()[0]["doc_id"] == "docA", fn
    # video stub values: frame count from the payload length, no
    # container metadata, 8-float feature vector, same on two runs
    video = extract_video_features(df, id_col="doc_id").collect()[0]
    assert video["n_frames"] == len(b"xyz") % 256 + 1
    assert video["fourcc"] == "" and video["fps_milli"] == 0
    assert len(video["features"]) == 8
    assert extract_video_features(df, id_col="doc_id").collect()[0] == video
    rz = resize_images(df, 4, 4, id_col="doc_id")
    assert rz.schema["doc_id"].dataType.simpleString() == "string"
    assert rz.collect()[0]["doc_id"] == "docA"
