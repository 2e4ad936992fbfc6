"""Multimodal columns: image/audio/video as opaque ``binary`` columns with
typed metadata, processed by Arrow-batched ``mapInPandas`` operators.

The Spark-side plumbing — schemas, batch iteration, partition sizing,
output contracts — is real and tested; the *codecs* are not: this runtime
ships no image/audio libraries, so the decode step is pluggable and the
default decoder is a clearly-marked deterministic fake (or
``NotImplementedError`` in strict mode). Swap ``decoder=`` for a real
Pillow/torchaudio-backed callable on a cluster that has them.

Why mapInPandas: media blobs are large, so per-row Python is ruinous and
per-partition batch iteration lets a decoder amortize model/codec init
exactly like the reference's engine ring amortizes WebDriver sessions
(``src/engine_ring.rs:32-54``).
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "MEDIA_SCHEMA",
    "fake_decode",
    "strict_decode",
    "netpbm_decode",
    "bmp_decode",
    "auto_decode",
    "encode_ppm",
    "decode_media",
    "sample_frames",
]

# typed metadata contract for an opaque media column
MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, mime string, "
    "width int, height int, duration_ms int"
)


def strict_decode(payload: bytes, mime: str) -> np.ndarray:
    """The real-decoder slot. No media codecs ship in this runtime."""
    raise NotImplementedError(
        "media decoding requires an image/audio codec library (e.g. Pillow,"
        " torchaudio) that is not installed in this environment; pass a"
        " decoder= callable backed by one, or use fake_decode for plumbing"
        " tests"
    )


def netpbm_decode(payload: bytes, mime: str = "") -> np.ndarray:
    """REAL pure-numpy decoder for binary Netpbm images — P5 (grayscale)
    and P6 (RGB), maxval ≤ 255. Exercises the decode slot with real bytes
    (the only raster formats decodable without a codec library). Returns
    float32 in [0, 1], shape (h, w) for P5 / (h, w, 3) for P6."""
    if len(payload) < 2 or payload[:1] != b"P" or payload[1:2] not in b"56":
        raise ValueError("not a binary Netpbm (P5/P6) payload")
    magic = payload[:2].decode()
    # header: magic, width, height, maxval — whitespace-separated with
    # '#'-comment lines allowed anywhere between tokens
    pos, tokens = 2, []
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated Netpbm header")
        tokens.append(int(payload[start:pos]))
    pos += 1  # single whitespace byte after maxval, then raster
    w, h, maxval = tokens
    if not (0 < maxval < 256):
        raise ValueError(f"unsupported Netpbm maxval {maxval}")
    channels = 3 if magic == "P6" else 1
    need = w * h * channels
    if len(payload) - pos < need:
        raise ValueError("truncated Netpbm raster")
    raster = np.frombuffer(payload, dtype=np.uint8, count=need, offset=pos)
    arr = raster.astype(np.float32) / float(maxval)
    return arr.reshape(h, w) if channels == 1 else arr.reshape(h, w, 3)


def bmp_decode(payload: bytes, mime: str = "") -> np.ndarray:
    """REAL pure-numpy decoder for uncompressed 24-bit BMP (BI_RGB).
    Returns float32 (h, w, 3) RGB in [0, 1] (rows un-flipped from BMP's
    bottom-up storage, BGR → RGB)."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if bpp != 24 or compression != 0:
        raise ValueError(f"only 24-bit BI_RGB BMP supported (bpp={bpp})")
    flip = h > 0
    h = abs(h)
    stride = (w * 3 + 3) // 4 * 4  # rows pad to 4 bytes
    raster = np.frombuffer(payload, dtype=np.uint8, count=stride * h, offset=data_off)
    rows = raster.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if flip:
        rows = rows[::-1]
    return rows[..., ::-1].astype(np.float32) / 255.0  # BGR → RGB


def auto_decode(payload: bytes, mime: str = "") -> np.ndarray:
    """Magic-byte dispatch over the REAL decoders; anything else raises
    like strict_decode (honest: no other codec exists here)."""
    if payload[:2] in (b"P5", b"P6"):
        return netpbm_decode(payload, mime)
    if payload[:2] == b"BM":
        return bmp_decode(payload, mime)
    return strict_decode(payload, mime)


def encode_ppm(arr: np.ndarray) -> bytes:
    """float [0,1] (h, w, 3) → binary P6 bytes (test-fixture generator;
    exact inverse of netpbm_decode for maxval 255)."""
    h, w = arr.shape[:2]
    raster = np.clip(np.round(arr * 255.0), 0, 255).astype(np.uint8)
    return f"P6\n{w} {h}\n255\n".encode() + raster.tobytes()


def fake_decode(payload: bytes, mime: str) -> np.ndarray:
    """DETERMINISTIC FAKE decoder (plumbing stand-in, NOT a codec): expands
    the payload digest into a fixed 8x8 float32 'frame' so downstream
    shapes/statistics are stable and assertable."""
    digest = hashlib.sha256(payload or b"").digest()
    arr = np.frombuffer((digest * 2)[:64], dtype=np.uint8).astype(np.float32)
    return arr.reshape(8, 8) / 255.0


def decode_media(
    df: DataFrame,
    decoder: Callable[[bytes, str], np.ndarray] = fake_decode,
) -> DataFrame:
    """binary payload → decoded frame stats (mapInPandas). Output keeps the
    id plus the decoded shape and summary stats — the pattern a real
    feature extractor follows; errors are rows, not exceptions."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-partition init happens HERE (codec/model load amortized)
        for pdf in batches:
            out = []
            for mid, payload, mime in zip(pdf["media_id"], pdf["payload"], pdf["mime"]):
                try:
                    frame = decoder(bytes(payload) if payload is not None else b"", mime)
                    out.append(
                        (
                            int(mid),
                            list(frame.shape),
                            float(frame.mean()),
                            float(frame.std()),
                            None,
                        )
                    )
                except NotImplementedError as e:
                    out.append((int(mid), None, None, None, str(e)[:80]))
            yield pd.DataFrame(
                out, columns=["media_id", "shape", "mean", "std", "error"]
            )

    return df.select("media_id", "payload", "mime").mapInPandas(
        run,
        schema="media_id long, shape array<int>, mean double, std double, error string",
    )


def sample_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling plan: expands each media row into frame
    timestamps (JVM-side sequence/explode — the actual frame *decode* is
    the pluggable decoder applied per sampled offset). Demonstrates the
    explode-then-decode shape that keeps frame fan-out in Catalyst."""
    return (
        df.filter(F.col("kind") == "video")
        # zero-length media yields NO frames (sequence(0, 0) would emit a
        # phantom frame at t=0 for duration_ms=0)
        .filter(F.col("duration_ms") >= 1)
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("duration_ms") - 1, F.lit(0)),
                    F.lit(every_ms),
                )
            ).alias("frame_ts_ms"),
        )
    )
