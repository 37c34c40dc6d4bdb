"""Multimodal plumbing tests: binary payload columns through mapInPandas,
batch shaping, stubbed decode seam, frame-sampling expansion."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from syslog_kafka_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    extract_features,
    fake_decoder,
    frame_sample_plan,
    real_decoder,
)
from syslog_kafka_spark.session import child_session


@pytest.fixture()
def media(spark):
    rows = [
        (1, "image", None, b"\x01\x02\x03\x04" * 64, "jpeg", 640, 480, None),
        (2, "audio", None, b"\x09\x08\x07" * 100, "wav", None, None, 3000),
        (3, "video", None, b"\xff\x00" * 200, "mp4", 1920, 1080, 10_000),
        (4, "image", "s3://bucket/img.png", None, "png", 64, 64, None),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_feature_extraction_plumbing(spark, media):
    feats = {r.media_id: r for r in extract_features(media, dim=8, decoder=fake_decoder).collect()}
    assert set(feats) == {1, 2, 3, 4}
    assert feats[1].n_bytes == 256
    assert len(feats[1].feature) == 8
    assert abs(sum(feats[1].feature) - 1.0) < 1e-5  # normalized histogram
    # URI-mode row (no inline payload) passes through with null feature
    assert feats[4].feature is None and feats[4].n_bytes is None
    # deterministic: same bytes → same feature
    again = {r.media_id: r.feature for r in extract_features(media, dim=8, decoder=fake_decoder).collect()}
    assert again[2] == feats[2].feature


def test_real_decoder_is_stubbed(spark, media):
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        extract_features(media.filter(F.col("media_id") == 1), decoder=real_decoder).collect()


def test_extract_features_does_not_mutate_session_config(spark, media):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key, None)
    extract_features(media, dim=8, decoder=fake_decoder).collect()
    assert spark.conf.get(key, None) == before


def test_arrow_batch_size_scopes_and_restores(spark, media):
    """The Arrow batch bound is set on a child session made for it: the
    operator runs under it there, and the parent's conf never changes."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key, None)
    child = child_session(spark, {key: "2"})
    assert child.conf.get(key) == "2"
    rows = media.collect()
    out = extract_features(child.createDataFrame(rows, MEDIA_SCHEMA), dim=8, decoder=fake_decoder).collect()
    assert len(out) == 4
    assert spark.conf.get(key, None) == before


def test_integer_signal_modulo_in_source_dtype(spark):
    """An int64 signal with |value| > 2^53 must bucket by exact integer
    modulo, not by its float64-rounded image."""
    import numpy as np

    big = (1 << 60) + 3  # not representable exactly in float64

    def int_decoder(payload, fmt):
        return np.array([big], dtype=np.int64)

    rows = [(1, "image", None, b"\x00", "raw", None, None, None)]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feat = extract_features(media, dim=8, decoder=int_decoder).collect()[0].feature
    assert feat[big % 8] == 1.0  # exact bucket, all mass in it


def test_frame_sampling_expansion(spark, media):
    frames = frame_sample_plan(media, every_ms=2000).collect()
    # 10s video sampled every 2s → 5 frames, ids 0..4
    assert [r.frame_no for r in frames] == [0, 1, 2, 3, 4]
    assert [r.frame_ts_ms for r in frames] == [0, 2000, 4000, 6000, 8000]
