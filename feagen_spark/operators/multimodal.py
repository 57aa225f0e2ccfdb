"""Multimodal column plumbing (task brief): image and audio as opaque
``binary`` columns with typed metadata.

The Spark-side plumbing — schema, partitioning, UDF signatures, Arrow
batch shape — is real and tested. Codec policy, per modality:

- image: real path auto-detected via optional-import PIL (absent in this
  container → falls back to raising unless ``fake=True``);
- audio: REAL decode for WAV payloads via the stdlib ``wave`` module
  (no external dependency — tested in-sandbox); other containers need
  soundfile/librosa.

``fake=True`` always selects a clearly-marked deterministic fake that
derives "decoded" properties from the payload bytes (stable across
runs, good enough to exercise batching/partitioning/schema end-to-end).

Pattern: ``mapInPandas`` — per-partition Arrow batch iterator, the right
shape for byte-heavy decode at scale (no per-row Python, payloads never
leave the executor). Partition by asset bucket so decode parallelism
is independent of upstream layout: ``df.repartition(N, "asset_id")``.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

ASSET_SCHEMA = (
    "asset_id long, kind string, payload binary, "
    "meta_width int, meta_height int, meta_sample_rate int, meta_duration_ms int"
)

IMAGE_FEATURES_SCHEMA = (
    "asset_id long, width int, height int, n_bytes int, "
    "mean_intensity double, phash long"
)

AUDIO_FEATURES_SCHEMA = (
    "asset_id long, sample_rate int, duration_ms int, n_bytes int, rms double"
)

def synthetic_assets(spark, n: int = 64, kind: str = "image") -> DataFrame:
    """Deterministic fake binary assets (payload = seeded bytes) to test
    the plumbing; byte content derives from asset_id only."""
    base = spark.range(n).select(
        F.col("id").alias("asset_id"),
        F.lit(kind).alias("kind"),
        F.sha2(F.col("id").cast("string"), 256).alias("h"),
    )
    # payload: repeat the sha hex to a pseudo-blob; binary cast is real
    payload = F.encode(F.repeat(F.col("h"), 8), "utf-8")
    return base.select(
        "asset_id",
        "kind",
        payload.alias("payload"),
        (32 + F.col("asset_id") % 64).cast("int").alias("meta_width"),
        (32 + (F.col("asset_id") * 7) % 64).cast("int").alias("meta_height"),
        F.lit(16000).alias("meta_sample_rate"),
        (500 + F.col("asset_id") % 1500).cast("int").alias("meta_duration_ms"),
    )


def _pil():
    """Optional-import image codec: returns PIL.Image or None. Executors
    resolve this per-batch, so a cluster with Pillow installed upgrades
    to real decode with no code change."""
    try:
        from PIL import Image

        return Image
    except ImportError:
        return None


def _dhash64(gray: np.ndarray) -> int:
    """64-bit difference hash over an 8x9 grayscale grid (perceptual
    dHash: bit = RIGHT pixel brighter than its left neighbor,
    gray[:,1:] > gray[:,:-1] — note the convention when comparing
    against external dHash implementations, some use the inverse)."""
    bits = (gray[:, 1:] > gray[:, :-1]).ravel()[:64]
    weights = 1 << np.arange(bits.size, dtype=np.uint64)
    return int((bits.astype(np.uint64) * weights).sum().astype(np.int64))


def synthetic_wav_assets(spark, n: int = 32) -> DataFrame:
    """Deterministic GENUINE WAV assets (16-bit PCM sine tones built with
    the stdlib wave writer, Arrow-batched via mapInPandas): payloads are
    real audio containers, so ``decode_audio_features(fake=False)``
    exercises the actual codec path end-to-end."""
    import math

    base = spark.range(n).select(F.col("id").alias("asset_id"))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io
        import wave

        for pdf in batches:
            rows = []
            for aid in pdf["asset_id"]:
                aid = int(aid)
                sr = 8000 + (aid % 3) * 4000
                freq = 220.0 * (1 + aid % 8)
                n_samp = sr // 2  # 500 ms
                t = np.arange(n_samp) / sr
                samples = (
                    np.sin(2 * math.pi * freq * t) * 0.5 * 32767
                ).astype("<i2")
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(sr)
                    w.writeframes(samples.tobytes())
                rows.append(
                    {
                        "asset_id": aid,
                        "kind": "audio",
                        "payload": buf.getvalue(),
                        "meta_width": 0,
                        "meta_height": 0,
                        "meta_sample_rate": sr,
                        "meta_duration_ms": 500,
                    }
                )
            yield pd.DataFrame(rows, columns=[
                "asset_id", "kind", "payload", "meta_width", "meta_height",
                "meta_sample_rate", "meta_duration_ms",
            ])

    return base.mapInPandas(gen, schema=ASSET_SCHEMA)


def _fake_decode_bytes(payload: bytes, n_vals: int) -> np.ndarray:
    """DETERMINISTIC FAKE decode: derive n_vals uint8 'samples' from the
    payload via an md5 CHAIN — block i = md5(payload || '|' || str(i)),
    16 bytes each. md5 (not blake2b) so an external SQL engine can
    recompute the expansion verbatim (DuckDB: md5(payload_text || '|'
    || i) → hex pairs → bytes), making mm_image_features a full value
    oracle (VERDICT r3 #3 / SURVEY §8). Stands in for a real codec."""
    out = np.empty(n_vals, dtype=np.uint8)
    filled = 0
    counter = 0
    while filled < n_vals:
        d = hashlib.md5(payload + b"|" + str(counter).encode("ascii")).digest()
        take = min(16, n_vals - filled)
        out[filled : filled + take] = np.frombuffer(d[:take], dtype=np.uint8)
        filled += take
        counter += 1
    return out


def _fake_phash64(payload: bytes) -> int:
    """Fake perceptual hash: first 8 bytes of md5(payload || '|phash'),
    big-endian signed — the same SQL-portable signed-int64 packing the
    SimHash oracle uses."""
    return int.from_bytes(
        hashlib.md5(payload + b"|phash").digest()[:8], "big", signed=True
    )


def decode_image_features(df: DataFrame, fake: bool = False) -> DataFrame:
    """Image decode + feature extraction over Arrow batches.

    Real path auto-upgrades when PIL is importable on the executor
    (decode → grayscale → mean intensity + 64-bit dHash); without a
    codec it raises NotImplementedError unless fake=True, which
    exercises the full distributed plumbing with the deterministic fake
    decoder.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        Image = None if fake else _pil()
        for pdf in batches:
            if not fake and Image is None:
                raise NotImplementedError(
                    "image codec not available in this environment "
                    "(optional dependency PIL not importable); "
                    "pass fake=True for the deterministic stub decoder"
                )
            rows = []
            for aid, payload, w, h in zip(
                pdf["asset_id"], pdf["payload"], pdf["meta_width"], pdf["meta_height"]
            ):
                if fake:
                    px = _fake_decode_bytes(bytes(payload), int(w) * int(h))
                    phash = _fake_phash64(bytes(payload))
                else:
                    img = Image.open(io.BytesIO(bytes(payload))).convert("L")
                    w, h = img.size
                    px = np.asarray(img, dtype=np.uint8).ravel()
                    grid = np.asarray(img.resize((9, 8)), dtype=np.int16)
                    phash = _dhash64(grid)
                rows.append(
                    {
                        "asset_id": int(aid),
                        "width": int(w),
                        "height": int(h),
                        "n_bytes": len(payload),
                        "mean_intensity": float(px.mean()),
                        "phash": phash,
                    }
                )
            yield pd.DataFrame(rows, columns=[
                "asset_id", "width", "height", "n_bytes", "mean_intensity", "phash",
            ])

    return df.mapInPandas(run, schema=IMAGE_FEATURES_SCHEMA)


def _decode_wav(payload: bytes) -> tuple[int, int, np.ndarray]:
    """REAL audio decode for WAV containers via the stdlib ``wave``
    module (no external dependency): returns (sample_rate, duration_ms,
    float64 samples in [-1, 1], first channel). Compressed formats need
    an optional codec (soundfile/librosa) on the executor."""
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        sr = w.getframerate()
        n_frames = w.getnframes()
        width = w.getsampwidth()
        n_ch = w.getnchannels()
        raw = w.readframes(n_frames)
    if width == 2:
        samples = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif width == 1:  # unsigned 8-bit PCM
        samples = (np.frombuffer(raw, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif width == 4:
        samples = np.frombuffer(raw, dtype="<i4").astype(np.float64) / 2147483648.0
    else:
        raise ValueError(f"unsupported WAV sample width: {width}")
    samples = samples[::n_ch]  # first channel
    duration_ms = int(round(n_frames * 1000.0 / sr)) if sr else 0
    return sr, duration_ms, samples


def decode_audio_features(df: DataFrame, fake: bool = False) -> DataFrame:
    """Audio decode + RMS feature. Real path decodes WAV payloads with
    the stdlib ``wave`` module (sample_rate/duration read from the
    container, not the metadata columns); fake=True uses the
    deterministic stub decoder."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for aid, payload, sr, dur in zip(
                pdf["asset_id"], pdf["payload"], pdf["meta_sample_rate"],
                pdf["meta_duration_ms"],
            ):
                if fake:
                    n = max(1, int(sr) * int(dur) // 1000 // 100)  # decimated
                    samples = _fake_decode_bytes(bytes(payload), n).astype(np.float64)
                    samples = (samples - 128.0) / 128.0
                else:
                    sr, dur, samples = _decode_wav(bytes(payload))
                    if samples.size == 0:
                        samples = np.zeros(1)
                rows.append(
                    {
                        "asset_id": int(aid),
                        "sample_rate": int(sr),
                        "duration_ms": int(dur),
                        "n_bytes": len(payload),
                        "rms": float(np.sqrt((samples**2).mean())),
                    }
                )
            yield pd.DataFrame(rows, columns=[
                "asset_id", "sample_rate", "duration_ms", "n_bytes", "rms",
            ])

    return df.mapInPandas(run, schema=AUDIO_FEATURES_SCHEMA)
