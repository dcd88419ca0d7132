"""Multimodal plumbing tests: binary payload columns + typed metadata flow
through Arrow kernels; decode stub is deterministic and the NotImplemented
gate is real."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from matrixprofiler_spark.operators.multimodal import (
    audio_features,
    decode_audio,
    decode_image,
    image_features,
    synth_media_df,
)


def test_decode_stub_gate():
    with pytest.raises(NotImplementedError):
        decode_image(b"x", 4, 4, 3)
    with pytest.raises(NotImplementedError):
        decode_audio(b"x", 16)
    # a real-media magic is refused by name even with fake=True
    media = {"PNG": b"\x89PNG\r\n\x1a\n" + b"\x00" * 8,
             "JPEG": b"\xFF\xD8\xFF\xE0" + b"\x00" * 8,
             "BMP": b"BM" + (10).to_bytes(4, "little") + b"\x00" * 4,
             "WAV": b"RIFF" + b"\x00" * 4 + b"WAVEfmt ",
             "FLAC": b"fLaC" + b"\x00" * 8}
    for fmt, payload in media.items():
        for fake in (False, True):
            with pytest.raises(NotImplementedError, match=fmt):
                decode_image(payload, 4, 4, 3, fake=fake)
            with pytest.raises(NotImplementedError, match=fmt):
                decode_audio(payload, 16, fake=fake)
    # "BM" whose size field does not match is an ordinary payload
    assert decode_image(b"BM" + b"\x00" * 8, 4, 4, 3, fake=True).shape == (4, 4, 3)


def test_fake_decode_deterministic():
    a = decode_image(b"payload", 8, 6, 3, fake=True)
    b = decode_image(b"payload", 8, 6, 3, fake=True)
    assert a.shape == (6, 8, 3) and a.dtype == np.uint8
    np.testing.assert_array_equal(a, b)
    c = decode_image(b"other", 8, 6, 3, fake=True)
    assert not np.array_equal(a, c)


def test_image_features_spark(spark):
    media = synth_media_df(spark, 12)
    feats = image_features(media).collect()
    assert len(feats) == 6  # even ids are images
    for r in feats:
        assert 0 <= r.mean_lum <= 255
        assert len(r.resized_8x8) == 64
        assert isinstance(r.phash64, int)
    # determinism across partitioning
    again = image_features(synth_media_df(spark, 12).repartition(5)).collect()
    assert {r.media_id: r.phash64 for r in again} == {r.media_id: r.phash64 for r in feats}


def test_audio_features_spark(spark):
    media = synth_media_df(spark, 12)
    feats = audio_features(media, frame=512).collect()
    assert len(feats) == 6
    for r in feats:
        assert r.duration_sec > 0
        assert 0 < r.rms < 1.2
        assert 0 <= r.zero_crossing_rate <= 1
        assert len(r.frame_rms) == int(r.duration_sec * 16000) // 512


def test_media_schema(spark):
    media = synth_media_df(spark, 4)
    kinds = {r.kind for r in media.select("kind").distinct().collect()}
    assert kinds == {"image", "audio"}
    assert media.schema["payload"].dataType.typeName() == "binary"
