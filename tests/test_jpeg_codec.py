"""JPEG decoder (operators/jpegcodec.py), baseline + progressive:
encoder->decoder round-trips (the forward encoders in
tests/media_fixtures.py are the oracle), exactly-representable pins,
sampling/restart/table-routing coverage, progressive-equals-baseline
bit-identity (same quantized coefficients), the NULL-on-malformed
contract, and the ``decode_image_pixels`` / ``parse_image_header``
dispatch seam."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from debgpt7_8_with_vectordb_spark.operators.jpegcodec import (
    ZIGZAG,
    decode_jpeg_pixels,
    parse_jpeg_header,
)
from debgpt7_8_with_vectordb_spark.operators.multimodal import (
    decode_image_pixels,
    parse_image_header,
)
from tests.media_fixtures import encode_jpeg_baseline, encode_jpeg_progressive


def _smooth_rgb(w: int, h: int, phase: float = 0.0) -> np.ndarray:
    """Low-frequency test image: JPEG is built for smooth content, so
    round-trip error bounds are tight and deterministic."""
    base = np.zeros((h, w, 3))
    x = np.arange(w)[None, :]
    y = np.arange(h)[:, None]
    for c in range(3):
        base[..., c] = 110 + 60 * np.sin(x / 8 + c + phase) + 40 * np.cos(y / 6)
    return np.clip(base, 0, 255).astype(np.uint8)


def _maxerr(a: bytes, b: np.ndarray) -> int:
    got = np.frombuffer(a, np.uint8).astype(int)
    return int(np.abs(got - b.reshape(-1).astype(int)).max())


def test_zigzag_is_a_permutation():
    assert sorted(ZIGZAG) == list(range(64))
    # spec Figure 5 spot pins: start of the second diagonal, end corner
    assert ZIGZAG[:6] == (0, 1, 8, 16, 9, 2)
    assert ZIGZAG[63] == 63


def test_constant_gray_q100_is_exact():
    # constant block -> DC-only spectrum; at quality 100 the luma DC
    # quant step divides it exactly for 128 (diff 0) -> bit-exact
    px = bytes([128]) * (16 * 16)
    out = decode_jpeg_pixels(encode_jpeg_baseline(16, 16, px, channels=1))
    assert out is not None
    fmt, w, h, ch, pixels = out
    assert (fmt, w, h, ch) == ("jpeg", 16, 16, 1)
    assert pixels == px


def test_solid_rgb_q100_is_exact():
    solid = np.full((8, 8, 3), (200, 30, 90), dtype=np.uint8)
    out = decode_jpeg_pixels(encode_jpeg_baseline(8, 8, solid.tobytes(), 3, 100))
    assert out is not None and out[3] == 3
    assert _maxerr(out[4], solid) == 0


def test_gradient_gray_q100_bounded():
    x, y = np.arange(24), np.arange(17)
    img = ((x[None, :] + 2 * y[:, None]) % 200 + 20).astype(np.uint8)
    out = decode_jpeg_pixels(encode_jpeg_baseline(24, 17, img.tobytes(), 1, 100))
    assert out is not None
    assert (out[1], out[2], out[3]) == (24, 17, 1)
    assert _maxerr(out[4], img) <= 1


def test_rgb_444_roundtrip_bounded():
    rgb = _smooth_rgb(30, 20)
    out = decode_jpeg_pixels(encode_jpeg_baseline(30, 20, rgb.tobytes(), 3, 95))
    assert out is not None
    assert _maxerr(out[4], rgb) <= 6


def test_rgb_420_subsampled_roundtrip_bounded():
    rgb = _smooth_rgb(30, 20, phase=1.5)
    j = encode_jpeg_baseline(30, 20, rgb.tobytes(), 3, 95, subsample=True)
    out = decode_jpeg_pixels(j)
    assert out is not None
    assert (out[1], out[2], out[3]) == (30, 20, 3)
    assert len(out[4]) == 30 * 20 * 3
    # chroma is 2x2 box-filtered: looser bound, still smooth-content tight
    assert _maxerr(out[4], rgb) <= 16
    # the scan really is 4:2:0: Y at 2x2 makes the MCU grid 16x16
    hdr = parse_jpeg_header(j)
    assert hdr == (30, 20, 3, 0xC0)


def test_odd_dimensions_crop():
    rgb = np.ascontiguousarray(_smooth_rgb(19, 15)[:13, :17])
    for sub in (False, True):
        out = decode_jpeg_pixels(
            encode_jpeg_baseline(17, 13, rgb.tobytes(), 3, 90, subsample=sub)
        )
        assert out is not None
        assert (out[1], out[2]) == (17, 13)
        assert len(out[4]) == 17 * 13 * 3


def test_restart_markers_do_not_change_pixels():
    rgb = _smooth_rgb(32, 24)
    plain = decode_jpeg_pixels(encode_jpeg_baseline(32, 24, rgb.tobytes(), 3, 92))
    for ri in (1, 2, 5):
        rj = encode_jpeg_baseline(32, 24, rgb.tobytes(), 3, 92, restart_interval=ri)
        assert b"\xff\xd0" in rj or b"\xff\xd1" in rj  # markers actually emitted
        out = decode_jpeg_pixels(rj)
        assert out is not None and out[4] == plain[4]


def test_quality_ladder_monotone_size():
    rgb = _smooth_rgb(40, 40)
    sizes = [
        len(encode_jpeg_baseline(40, 40, rgb.tobytes(), 3, q)) for q in (10, 50, 95)
    ]
    assert sizes == sorted(sizes)
    # and lower quality still decodes, just coarser
    out = decode_jpeg_pixels(encode_jpeg_baseline(40, 40, rgb.tobytes(), 3, 10))
    assert out is not None and len(out[4]) == 40 * 40 * 3


def test_header_parse_and_unsupported_frames():
    j = encode_jpeg_baseline(30, 20, _smooth_rgb(30, 20).tobytes(), 3, 80)
    assert parse_jpeg_header(j) == (30, 20, 3, 0xC0)
    # flip SOF0 -> SOF3 (lossless): header still reads, pixels refuse
    lossless = bytearray(j)
    idx = bytes(lossless).index(b"\xff\xc0")
    lossless[idx + 1] = 0xC3
    assert parse_jpeg_header(bytes(lossless)) == (30, 20, 3, 0xC3)
    assert decode_jpeg_pixels(bytes(lossless)) is None
    # SOF0 -> SOF2 with a full-band baseline scan is structurally
    # inconsistent (progressive DC scans are DC-only): corrupt -> None
    prog = bytearray(j)
    prog[idx + 1] = 0xC2
    assert decode_jpeg_pixels(bytes(prog)) is None


def test_malformed_inputs_return_none():
    j = encode_jpeg_baseline(16, 16, bytes(16 * 16 * 3), 3, 85)
    assert decode_jpeg_pixels(b"") is None
    assert decode_jpeg_pixels(b"\xff\xd8\xff") is None
    assert decode_jpeg_pixels(j[:40]) is None  # truncated mid-headers
    assert decode_jpeg_pixels(j[:-20]) is None  # truncated entropy data
    # corrupt a DHT length so tables are inconsistent
    bad = bytearray(j)
    idx = bytes(bad).index(b"\xff\xc4")
    bad[idx + 3] = 5
    assert decode_jpeg_pixels(bytes(bad)) is None
    assert parse_jpeg_header(b"\x89PNG") is None


def test_multimodal_dispatch_header_and_pixels():
    rgb = _smooth_rgb(12, 10)
    j = encode_jpeg_baseline(12, 10, rgb.tobytes(), 3, 95)
    assert parse_image_header(j) == ("jpeg", 12, 10)
    out = decode_image_pixels(j)
    assert out is not None and out[0] == "jpeg"
    assert (out[1], out[2], out[3]) == (12, 10, 3)


def test_sixteen_bit_dqt_tables_decode():
    # rewrite the 8-bit DQT segments as Pq=1 (16-bit) in place; the
    # decoder must honor the precision flag (spec B.2.4.1)
    j = encode_jpeg_baseline(16, 16, _smooth_rgb(16, 16).tobytes(), 3, 90)
    base = decode_jpeg_pixels(j)
    out = bytearray()
    pos = 0
    data = bytes(j)
    while True:
        idx = data.find(b"\xff\xdb", pos)
        if idx < 0:
            out += data[pos:]
            break
        out += data[pos:idx]
        (seglen,) = struct.unpack(">H", data[idx + 2 : idx + 4])
        body = data[idx + 4 : idx + 2 + seglen]
        tq, vals = body[0] & 15, body[1:65]
        wide = bytes([0x10 | tq]) + struct.pack(">64H", *vals)
        out += b"\xff\xdb" + struct.pack(">H", len(wide) + 2) + wide
        pos = idx + 2 + seglen
    got = decode_jpeg_pixels(bytes(out))
    assert got is not None and got[4] == base[4]


def test_randomized_roundtrip_bounded_error():
    # smooth random fields across several seeds/dims: decoded error
    # stays within the quantization budget at quality 97
    for seed in (3, 11, 42):
        rng = np.random.default_rng(seed)
        w = int(rng.integers(9, 33))
        h = int(rng.integers(9, 33))
        coarse = rng.integers(40, 216, size=(4, 4, 3)).astype(np.float64)
        up = np.repeat(np.repeat(coarse, (h + 3) // 4, 0), (w + 3) // 4, 1)
        rgb = np.clip(up[:h, :w], 0, 255).astype(np.uint8)
        out = decode_jpeg_pixels(
            encode_jpeg_baseline(w, h, rgb.tobytes(), 3, 97)
        )
        assert out is not None, (seed, w, h)
        err = np.abs(
            np.frombuffer(out[4], np.uint8).astype(int)
            - rgb.reshape(-1).astype(int)
        )
        assert err.max() <= 24 and err.mean() <= 3.0, (seed, w, h, err.max())


# ------------------------------------------------------ progressive


def test_progressive_decodes_bit_identical_to_baseline():
    for (w, h), sub, q in [
        ((30, 20), False, 95),
        ((30, 20), True, 90),
        ((17, 13), True, 80),
        ((48, 32), False, 50),
        ((8, 8), False, 100),
    ]:
        rgb = _smooth_rgb(w, h, phase=w * 0.1)
        base = decode_jpeg_pixels(
            encode_jpeg_baseline(w, h, rgb.tobytes(), 3, q, subsample=sub)
        )
        for spectral_only in (True, False):
            pj = encode_jpeg_progressive(
                w, h, rgb.tobytes(), 3, q,
                subsample=sub, spectral_only=spectral_only,
            )
            assert parse_jpeg_header(pj) == (w, h, 3, 0xC2)
            prog = decode_jpeg_pixels(pj)
            # same quantized coefficients -> decode must be bit-identical
            assert prog is not None and prog[4] == base[4], (
                w, h, sub, q, spectral_only,
            )


def test_progressive_noisy_content_stresses_eob_runs():
    rng = np.random.default_rng(5)
    gray = rng.integers(0, 256, size=(40, 56), dtype=np.uint8)
    bg = decode_jpeg_pixels(encode_jpeg_baseline(56, 40, gray.tobytes(), 1, 75))
    for spectral_only in (True, False):
        pg = decode_jpeg_pixels(
            encode_jpeg_progressive(
                56, 40, gray.tobytes(), 1, 75, spectral_only=spectral_only
            )
        )
        assert pg is not None and pg[4] == bg[4]
    rgb = rng.integers(0, 256, size=(32, 24, 3), dtype=np.uint8)
    b3 = decode_jpeg_pixels(
        encode_jpeg_baseline(24, 32, rgb.tobytes(), 3, 60, subsample=True)
    )
    p3 = decode_jpeg_pixels(
        encode_jpeg_progressive(24, 32, rgb.tobytes(), 3, 60, subsample=True)
    )
    assert p3 is not None and p3[4] == b3[4]


def test_progressive_truncated_and_dispatch():
    from debgpt7_8_with_vectordb_spark.operators.multimodal import (
        decode_image_pixels as dip,
    )

    rgb = _smooth_rgb(16, 16)
    pj = encode_jpeg_progressive(16, 16, rgb.tobytes(), 3, 90)
    assert dip(pj) is not None and dip(pj)[0] == "jpeg"
    # truncation mid-scan is malformed for this decoder (strict contract)
    assert decode_jpeg_pixels(pj[: len(pj) // 2]) is None


# ------------------------------------------------------------- APP1


def test_app1_segment_does_not_perturb_pixels():
    # an EXIF-style APP1 segment is metadata the pixel decoder skips
    app1 = b"Exif\x00\x00II*\x00\x08\x00\x00\x00\x00\x00\x00\x00\x00\x00"
    plain = decode_jpeg_pixels(encode_jpeg_baseline(16, 16, bytes(16 * 16 * 3), 3, 85))
    j = encode_jpeg_baseline(16, 16, bytes(16 * 16 * 3), 3, 85, exif=app1)
    assert b"\xff\xe1" in j
    assert decode_jpeg_pixels(j)[4] == plain[4]
    assert parse_jpeg_header(j)[:2] == (16, 16)
