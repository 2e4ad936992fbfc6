"""Multimodal plumbing: schemas, mapInPandas batch shape, deterministic
fake decode, strict mode errors-as-rows, frame-sampling fan-out."""

from __future__ import annotations

import pytest

from doonop_spark.functions.multimodal import (
    MEDIA_SCHEMA,
    decode_media,
    fake_decode,
    sample_frames,
    strict_decode,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image", b"\x89PNG-ish-bytes", "image/png", 64, 64, 0),
        (2, "image", b"other-bytes", "image/jpeg", 32, 32, 0),
        (3, "video", b"riff-ish", "video/mp4", 320, 240, 3500),
        (4, "image", None, "image/png", 0, 0, 0),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_fake_decode_deterministic():
    a = fake_decode(b"abc", "image/png")
    b = fake_decode(b"abc", "image/png")
    assert a.shape == (8, 8) and (a == b).all()
    assert not (a == fake_decode(b"abd", "image/png")).all()


def test_strict_decode_raises():
    with pytest.raises(NotImplementedError):
        strict_decode(b"abc", "image/png")


def test_decode_media_plumbing(spark, media):
    out = {r.media_id: r for r in decode_media(media).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1].shape == [8, 8] and out[1].error is None
    assert 0.0 <= out[1].mean <= 1.0
    assert out[1].mean != out[2].mean  # payload-dependent
    assert out[4].error is None  # null payload decodes the empty digest


def test_strict_mode_errors_as_rows(spark, media):
    out = decode_media(media, decoder=strict_decode).collect()
    assert all(r.error is not None and r.shape is None for r in out)


def test_sample_frames_fanout(spark, media):
    frames = sample_frames(media, every_ms=1000).collect()
    # only the video row fans out: ts 0,1000,2000,3000
    assert sorted(r.frame_ts_ms for r in frames) == [0, 1000, 2000, 3000]
    assert {r.media_id for r in frames} == {3}


def test_sample_frames_zero_duration_yields_nothing(spark):
    """A duration_ms=0 video emits NO frames — matches the driver oracle
    range(0, d, 1000), which is empty for d=0 (the unfiltered sequence
    would emit a phantom t=0 frame)."""
    media = spark.createDataFrame(
        [(9, "video", bytearray(b"x"), "video/mp4", 1, 1, 0)],
        "media_id long, kind string, payload binary, mime string, "
        "width int, height int, duration_ms int",
    )
    assert sample_frames(media, every_ms=1000).count() == 0


def test_netpbm_decode_real_bytes_golden():
    """Real codec golden: a hand-built 2x3 P6 with known pixels decodes to
    exactly those values; encode_ppm round-trips; comments and P5 work;
    malformed inputs raise."""
    import numpy as np

    from doonop_spark.functions.multimodal import (
        bmp_decode,
        encode_ppm,
        netpbm_decode,
    )

    img = np.array(
        [[[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]],
         [[0.0, 0.0, 0.0], [1.0, 1.0, 1.0], [0.5019608, 0.5019608, 0.5019608]]],
        dtype=np.float32,
    )
    payload = encode_ppm(img)
    out = netpbm_decode(payload)
    assert out.shape == (2, 3, 3)
    assert np.allclose(out, img)

    # header comments are legal anywhere between tokens
    commented = b"P6\n# made by hand\n3 2\n# maxval next\n255\n" + payload.split(b"255\n", 1)[1]
    assert np.allclose(netpbm_decode(commented), img)

    # P5 grayscale
    p5 = b"P5\n2 2\n255\n" + bytes([0, 64, 128, 255])
    g = netpbm_decode(p5)
    assert g.shape == (2, 2)
    assert np.allclose(g, np.array([[0, 64], [128, 255]]) / 255.0)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="Netpbm"):
        netpbm_decode(b"P6\n3 2\n255\n\x00\x01")  # truncated raster
    with _pytest.raises(ValueError):
        netpbm_decode(b"JUNK")
    with _pytest.raises(ValueError):
        bmp_decode(b"JUNK")


def test_bmp_decode_real_bytes_golden():
    """Hand-assembled 2x2 24-bit BMP (bottom-up, padded rows) decodes to
    the intended RGB values."""
    import numpy as np

    from doonop_spark.functions.multimodal import bmp_decode

    # pixels (top-down, RGB): (255,0,0) (0,255,0) / (0,0,255) (255,255,255)
    # BMP stores bottom-up BGR with rows padded to 4 bytes (2*3=6 → pad 2)
    row_bottom = bytes([255, 0, 0, 255, 255, 255]) + b"\x00\x00"  # (0,0,255),(255,255,255)
    row_top = bytes([0, 0, 255, 0, 255, 0]) + b"\x00\x00"  # (255,0,0),(0,255,0)
    raster = row_bottom + row_top
    header = (
        b"BM" + (54 + len(raster)).to_bytes(4, "little") + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + (2).to_bytes(4, "little", signed=True)
        + (2).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(raster).to_bytes(4, "little")
        + b"\x00" * 16
    )
    out = bmp_decode(header + raster)
    assert out.shape == (2, 2, 3)
    expect = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 255, 255]]], dtype=np.float32
    ) / 255.0
    assert np.allclose(out, expect)


def test_decode_media_with_real_codec(spark):
    """The mapInPandas plumbing driven by REAL image bytes end-to-end:
    auto_decode routes P6/BMP payloads to the real decoders, non-image
    payloads surface as error rows (strict semantics)."""
    import numpy as np

    from doonop_spark.functions.multimodal import auto_decode, encode_ppm

    img = np.linspace(0, 1, 2 * 4 * 3, dtype=np.float32).reshape(2, 4, 3)
    rows = [
        (1, "image", bytearray(encode_ppm(img)), "image/x-portable-pixmap", 4, 2, 0),
        (2, "image", bytearray(b"not an image"), "application/octet-stream", 0, 0, 0),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, payload binary, mime string, "
        "width int, height int, duration_ms int",
    )
    got = {r.media_id: r for r in decode_media(media, decoder=auto_decode).collect()}
    assert got[1].shape == [2, 4, 3]
    decoded = np.round(img * 255) / 255.0
    assert abs(got[1].mean - float(decoded.mean())) < 1e-6
    assert got[1].error is None
    assert got[2].shape is None and "codec" in got[2].error
