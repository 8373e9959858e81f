"""Multimodal column plumbing: metadata sniffing (JVM-side) and
Arrow-batched feature extraction."""

import pytest

from fitness_nutrition_data_pipeline_spark.operators.multimodal import (
    FEATURE_DIM,
    MEDIA_SCHEMA,
    attach_metadata,
    byte_histogram_features,
)

PNG = b"\x89PNG\r\n\x1a\n" + bytes(range(64))
JPEG = b"\xff\xd8\xff\xe0" + bytes(64)
WAV = b"RIFF" + bytes(32)
JUNK = b"\x00\x01\x02\x03garbage"
MP4ISH = b"\x00\x00\x00\x18ftypmp42" + bytes(range(256)) * 64  # ~16 KiB "video"


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, bytearray(PNG), "image", None, None),
        (2, bytearray(JPEG), "image", None, None),
        (3, bytearray(WAV), "audio", None, None),
        (4, bytearray(JUNK), "image", None, None),
        (5, None, "image", None, None),
        (6, bytearray(MP4ISH), "video", None, None),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_metadata_sniff(media):
    out = {r.media_id: (r.format, r.size_bytes) for r in attach_metadata(media).collect()}
    assert out[1] == ("png", len(PNG))
    assert out[2] == ("jpeg", len(JPEG))
    assert out[3] == ("riff", len(WAV))
    assert out[4][0] == "unknown"
    assert out[5] == ("unknown", None) or out[5][1] is None


def test_byte_histogram_features(media):
    feats = {r.media_id: r.features for r in byte_histogram_features(media).collect()}
    assert feats[5] is None
    v = feats[1]
    assert len(v) == FEATURE_DIM
    assert abs(sum(v) - 1.0) < 1e-5
    # deterministic across runs
    again = {r.media_id: r.features for r in byte_histogram_features(media).collect()}
    assert again[1] == v
