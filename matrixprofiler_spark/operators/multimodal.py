"""Multimodal columns: image/audio as opaque ``binary`` payloads with typed
metadata, processed by Arrow-batched kernels over ``mapInPandas``.

The engine decodes no real media. ``decode_image``/``decode_audio`` are
deterministic fake decoders: mode='tile' repeats the payload bytes (the
closed-form decoder the oracle faces replicate in SQL) and mode='philox'
seeds a counter RNG from the payload digest. Both refuse a payload that
carries a real-media magic (PNG, JPEG, BMP, WAV, FLAC) with
NotImplementedError, so a real file is never faked silently. Everything
around the decode step — schema, batch shape, partitioning, UDF
signatures, feature extraction on the decoded arrays — is real and tested
(tests/test_multimodal.py).

Schema of a media table:
    media_id: string, kind: string ('image'|'audio'), payload: binary,
    meta: struct<width:int, height:int, channels:int,
                 sample_rate:int, n_samples:int>
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("channels", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_samples", T.IntegerType(), True),
                ]
            ),
            False,
        ),
    ]
)


def synth_media_df(spark: SparkSession, n: int, seed: int = 42) -> DataFrame:
    """Deterministic fake media table: payload = pseudo-random bytes whose
    digest seeds the fake decoder (so decode is reproducible anywhere)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for idx in b["id"].tolist():
                rng = np.random.Generator(np.random.Philox(key=seed, counter=[1, 0, 0, idx]))
                if idx % 2 == 0:
                    w, h, c = int(rng.integers(16, 64)), int(rng.integers(16, 64)), 3
                    payload = rng.integers(0, 256, size=256, dtype=np.uint8).tobytes()
                    rows.append((f"img_{idx:06d}", "image", payload,
                                 (w, h, c, None, None)))
                else:
                    sr, ns = 16000, int(rng.integers(1600, 16000))
                    payload = rng.integers(0, 256, size=256, dtype=np.uint8).tobytes()
                    rows.append((f"aud_{idx:06d}", "audio", payload,
                                 (None, None, None, sr, ns)))
            yield pd.DataFrame(rows, columns=["media_id", "kind", "payload", "meta"])

    return spark.range(0, n, 1, 4).mapInPandas(gen, schema=MEDIA_SCHEMA)


# Magic-byte predicates of the real media formats. A 2-byte "BM" alone is
# weak against arbitrary binary payloads, so BMP also needs the header's
# file-size field to match the payload length.
_MEDIA_MAGICS = {
    "PNG": lambda p: p[:8] == b"\x89PNG\r\n\x1a\n",
    "JPEG": lambda p: p[:3] == b"\xFF\xD8\xFF",  # SOI + first marker
    "BMP": lambda p: (p[:2] == b"BM" and len(p) >= 6
                      and int.from_bytes(p[2:6], "little") == len(p)),
    "WAV": lambda p: p[:4] == b"RIFF" and p[8:12] == b"WAVE",
    "FLAC": lambda p: p[:4] == b"fLaC",
}


def _refuse_real_media(payload: bytes) -> None:
    for fmt, matches in _MEDIA_MAGICS.items():
        if matches(payload):
            raise NotImplementedError(
                f"payload is a {fmt} file; this engine has no real media "
                "decoders, only the deterministic fake ones"
            )


def decode_image(payload: bytes, width: int, height: int, channels: int,
                 fake: bool = False, mode: str = "philox") -> np.ndarray:
    """Fake-decode an image payload to a uint8 (height, width, channels)
    array.

    ``fake=True`` is required: mode='philox' seeds a counter RNG from the
    payload digest; mode='tile' repeats the payload bytes row-major (the
    closed-form decoder any engine can replicate — the oracle face).

    Raises NotImplementedError for a payload with a real-media magic
    (PNG, JPEG, BMP, WAV, FLAC), whatever ``fake`` is, and for any payload
    when ``fake`` is False."""
    _refuse_real_media(payload)
    if not fake:
        raise NotImplementedError(
            "no image decoder in this engine — pass fake=True for the "
            "deterministic test decoder"
        )
    n = height * width * channels
    if mode == "tile":
        b = np.frombuffer(payload, dtype=np.uint8)
        reps = -(-n // b.size)
        return np.tile(b, reps)[:n].reshape(height, width, channels)
    digest = hashlib.sha256(payload).digest()
    seed = int.from_bytes(digest[:8], "little")
    rng = np.random.Generator(np.random.Philox(key=seed))
    return rng.integers(0, 256, size=(height, width, channels), dtype=np.uint8)


def decode_audio(payload: bytes, n_samples: int, fake: bool = False,
                 mode: str = "philox") -> np.ndarray:
    """Fake-decode an audio payload to a float32 mono waveform in [-1, 1).

    ``fake=True`` is required: mode='tile' maps tiled payload bytes to
    (b - 128) / 128 — closed-form for the oracle face; mode='philox'
    draws uniform samples from a counter RNG seeded by the payload digest.

    Raises NotImplementedError for a payload with a real-media magic
    (PNG, JPEG, BMP, WAV, FLAC), whatever ``fake`` is, and for any payload
    when ``fake`` is False."""
    _refuse_real_media(payload)
    if not fake:
        raise NotImplementedError(
            "no audio decoder in this engine — pass fake=True for the "
            "deterministic test decoder"
        )
    if mode == "tile":
        b = np.frombuffer(payload, dtype=np.uint8)
        reps = -(-n_samples // b.size)
        t = np.tile(b, reps)[:n_samples].astype(np.float32)
        return ((t - 128.0) / 128.0).astype(np.float32)
    digest = hashlib.sha256(payload).digest()
    seed = int.from_bytes(digest[:8], "little")
    rng = np.random.Generator(np.random.Philox(key=seed))
    return (rng.random(n_samples, dtype=np.float32) * 2 - 1).astype(np.float32)


IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("mean_lum", T.DoubleType(), False),
        T.StructField("std_lum", T.DoubleType(), False),
        T.StructField("resized_8x8", T.ArrayType(T.DoubleType()), False),
        T.StructField("phash64", T.LongType(), False),
    ]
)


def image_features(media: DataFrame, fake_decode: bool = True) -> DataFrame:
    """Decode -> grayscale -> resize 8x8 (area mean) -> perceptual-hash-style
    64-bit fingerprint + luminance stats. All vectorized numpy per batch."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, payload, meta in zip(b["media_id"], b["payload"], b["meta"]):
                img = decode_image(bytes(payload), meta["width"], meta["height"],
                                   meta["channels"], fake=fake_decode)
                gray = img.astype(np.float64).mean(axis=2)
                h, w = gray.shape
                # area-mean resize to 8x8 via integer bucket edges
                ye = np.linspace(0, h, 9).astype(int)
                xe = np.linspace(0, w, 9).astype(int)
                small = np.array(
                    [
                        [gray[ye[i]:ye[i + 1], xe[j]:xe[j + 1]].mean() for j in range(8)]
                        for i in range(8)
                    ]
                )
                bits = (small > np.median(small)).ravel()
                phash = 0
                for k, bit in enumerate(bits):
                    if bit:
                        phash |= 1 << k
                # keep int64-signed range
                phash = phash - (1 << 64) if phash >= (1 << 63) else phash
                rows.append((mid, float(gray.mean()), float(gray.std()),
                             small.ravel().tolist(), phash))
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_FEATURES_SCHEMA.fields])

    imgs = media.filter(F.col("kind") == "image")
    return imgs.mapInPandas(kernel, schema=IMAGE_FEATURES_SCHEMA)


AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("duration_sec", T.DoubleType(), False),
        T.StructField("rms", T.DoubleType(), False),
        T.StructField("zero_crossing_rate", T.DoubleType(), False),
        T.StructField("frame_rms", T.ArrayType(T.DoubleType()), False),
    ]
)


def audio_features(media: DataFrame, frame: int = 1024,
                   fake_decode: bool = True) -> DataFrame:
    """Decode -> frame-sample RMS series + global stats (the audio analog of
    the rollup engine's per-window aggregation)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, payload, meta in zip(b["media_id"], b["payload"], b["meta"]):
                x = decode_audio(bytes(payload), meta["n_samples"], fake=fake_decode)
                sr = meta["sample_rate"]
                nf = x.size // frame
                fr = (
                    np.sqrt((x[: nf * frame].reshape(nf, frame).astype(np.float64) ** 2).mean(axis=1))
                    if nf
                    else np.zeros(0)
                )
                zc = float(((x[1:] * x[:-1]) < 0).mean()) if x.size > 1 else 0.0
                rows.append((mid, x.size / sr, float(np.sqrt((x.astype(np.float64) ** 2).mean())),
                             zc, fr.tolist()))
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_FEATURES_SCHEMA.fields])

    auds = media.filter(F.col("kind") == "audio")
    return auds.mapInPandas(kernel, schema=AUDIO_FEATURES_SCHEMA)


def media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media table derived from the documents table (payload = utf-8 text
    bytes, dimensions closed-form in doc_id/length) — the oracle-reachable
    face of the media pipeline: an ANSI-SQL engine can re-derive payload
    bytes positionally (ascii-only corpus), so decode->feature outputs are
    hash-verifiable end to end. Even doc_id -> image, odd -> audio."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    did = F.col("doc_id").cast("long")
    none_i = F.lit(None).cast("int")
    imgs = docs.filter(did % 2 == 0).select(
        F.concat(F.lit("img_"), did.cast("string")).alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            (F.lit(8) + did % 8).cast("int").alias("width"),
            (F.lit(8) + did % 5).cast("int").alias("height"),
            F.lit(3).alias("channels"),
            none_i.alias("sample_rate"),
            none_i.alias("n_samples"),
        ).alias("meta"),
    )
    auds = docs.filter(did % 2 == 1).select(
        F.concat(F.lit("aud_"), did.cast("string")).alias("media_id"),
        F.lit("audio").alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            none_i.alias("width"),
            none_i.alias("height"),
            none_i.alias("channels"),
            F.lit(16000).alias("sample_rate"),
            (F.lit(1600) + (F.length("text") * 7) % 8000).cast("int").alias("n_samples"),
        ).alias("meta"),
    )
    return imgs.unionByName(auds)


IMAGE_EXACT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("n_pix", T.IntegerType(), False),
        T.StructField("mean_lum", T.DoubleType(), False),
        T.StructField("std_lum", T.DoubleType(), False),
    ]
)


def image_features_exact(media: DataFrame) -> DataFrame:
    """decode (tile mode) -> luminance stats from EXACT integer sums with
    the oracle's expression tree: t_p = r+g+b per pixel (int), mean_lum =
    S/(npix*3.0), std_lum = sqrt((S2/9.0)/npix - mean*mean)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, payload, meta in zip(b["media_id"], b["payload"], b["meta"]):
                img = decode_image(bytes(payload), meta["width"], meta["height"],
                                   meta["channels"], fake=True, mode="tile")
                t = img.astype(np.int64).sum(axis=2).ravel()
                npix = t.size
                s = int(t.sum())
                s2 = int((t * t).sum())
                mean = s / (npix * 3.0)
                std = np.sqrt((s2 / 9.0) / npix - mean * mean)
                rows.append((mid, npix, mean, float(std)))
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_EXACT_SCHEMA.fields])

    return media.filter(F.col("kind") == "image").mapInPandas(
        kernel, schema=IMAGE_EXACT_SCHEMA
    )


AUDIO_EXACT_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("n_samples", T.IntegerType(), False),
        T.StructField("duration_sec", T.DoubleType(), False),
        T.StructField("rms", T.DoubleType(), False),
        T.StructField("zcr", T.DoubleType(), False),
    ]
)


def audio_features_exact(media: DataFrame) -> DataFrame:
    """decode (tile mode) -> global stats from EXACT integer sums: samples
    are (b-128)/128 (exact float32), so d = round(x*128) recovers the ints;
    rms = sqrt((SS/16384.0)/n), zcr = sign-changes/(n-1)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for mid, payload, meta in zip(b["media_id"], b["payload"], b["meta"]):
                x = decode_audio(bytes(payload), meta["n_samples"], fake=True,
                                 mode="tile")
                d = np.rint(x.astype(np.float64) * 128.0).astype(np.int64)
                n = d.size
                ss = int((d * d).sum())
                rms = np.sqrt((ss / 16384.0) / n)
                zc = int(((d[1:] * d[:-1]) < 0).sum())
                rows.append((mid, n, n / 16000.0, float(rms), zc / (n - 1.0)))
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_EXACT_SCHEMA.fields])

    return media.filter(F.col("kind") == "audio").mapInPandas(
        kernel, schema=AUDIO_EXACT_SCHEMA
    )
