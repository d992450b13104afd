"""Multimodal plumbing: the binary-column contracts are real even though
the decoders are stubbed (no image/audio libs in this runtime)."""

import pytest
from pyspark.sql import functions as F

from datum_spark.operators.multimodal import (
    attach_media_metadata,
    extract_audio_features,
    extract_image_features,
    sample_video_frames,
)


@pytest.fixture(scope="module")
def media(spark):
    return (spark.range(6)
            .select(F.col("id").alias("media_id"),
                    F.encode(F.concat(F.lit("payload-"), F.col("id")),
                             "UTF-8").alias("content")))


def test_metadata_no_decode(media):
    out = attach_media_metadata(media).collect()
    assert all(r["n_bytes"] == len(f"payload-{r['media_id']}") for r in out)
    # content hash is a stable dedup key
    assert len({r["content_hash"] for r in out}) == 6


def test_image_features_fake(media):
    out = extract_image_features(media, fake_decode=True).collect()
    assert {r["media_id"] for r in out} == set(range(6))
    assert all(16 <= r["width"] < 16 + 1024 for r in out)
    assert "content" not in out[0].asDict()  # binary pruned from output


def test_image_features_gated(media):
    with pytest.raises(Exception, match="image"):
        extract_image_features(media, fake_decode=False).collect()


def test_audio_features_fake(media):
    out = extract_audio_features(media, fake_decode=True).collect()
    for r in out:
        n_bytes = len(f"payload-{r['media_id']}")
        assert r["n_samples"] == n_bytes // 2
        assert r["duration_ms"] == r["n_samples"] * 1000 // 16000
        assert 0.0 <= r["rms"] <= 1.0


def test_video_frame_sampling(media):
    out = sample_video_frames(media, every_n_ms=500).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r)
    for rid, frames in by_id.items():
        idxs = sorted(f["frame_idx"] for f in frames)
        assert idxs == list(range(len(idxs)))  # dense 0..n-1
        assert all(f["frame_ts_ms"] == f["frame_idx"] * 500 for f in frames)
