"""Adversarial-input fences for the content decoders: forged headers
claiming huge outputs against tiny payloads must fail FAST and return
None — at 100 TB of scraped media a decompression bomb or a 65535x65535
JPEG header would otherwise OOM/hang the Spark task, which is a worse
failure mode than a wrong pixel. Plus seeded random mutation/truncation
fuzzing: decode must never raise, never hang, and either return None or
a shape-consistent tuple."""

from __future__ import annotations

import struct
import time
import zlib

import numpy as np

from debgpt7_8_with_vectordb_spark.operators.jpegcodec import decode_jpeg_pixels
from debgpt7_8_with_vectordb_spark.operators.multimodal import (
    decode_image_pixels,
    encode_test_gif,
    encode_test_image_patterned,
)
from tests.media_fixtures import encode_jpeg_baseline, encode_jpeg_progressive


def _timed_none(fn, payload, budget=2.0):
    t0 = time.monotonic()
    out = fn(payload)
    took = time.monotonic() - t0
    assert out is None, "forged bomb decoded to something"
    assert took < budget, f"bomb took {took:.1f}s — not a fast refusal"


def test_jpeg_giant_frame_header_refused_fast():
    j = bytearray(encode_jpeg_baseline(16, 16, bytes(16 * 16 * 3), 3, 85))
    idx = bytes(j).index(b"\xff\xc0")
    j[idx + 5 : idx + 9] = struct.pack(">HH", 65535, 65535)  # h, w
    _timed_none(decode_jpeg_pixels, bytes(j))


def test_png_inflate_bomb_capped():
    # 64x64 header, but IDAT inflates to ~64 MB of zeros
    bomb = zlib.compress(bytes(1 << 26), 9)

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">II", 64, 64) + b"\x08\x02\x00\x00\x00"
    payload = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", bomb) + chunk(b"IEND", b"")
    )
    _timed_none(decode_image_pixels, payload)


def test_png_giant_dims_refused():
    ihdr = struct.pack(">II", 60000, 60000) + b"\x08\x02\x00\x00\x00"

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    payload = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00" * 100))
        + chunk(b"IEND", b"")
    )
    _timed_none(decode_image_pixels, payload)


def test_gif_giant_dims_refused():
    g = bytearray(encode_test_gif(8, 8, seed=1))
    g[6:10] = struct.pack("<HH", 60000, 60000)
    _timed_none(decode_image_pixels, bytes(g))


def test_mutation_fuzz_never_raises_or_hangs():
    corpus = [
        encode_jpeg_baseline(24, 16, bytes(24 * 16 * 3), 3, 85, subsample=True),
        encode_jpeg_progressive(16, 16, bytes(16 * 16 * 3), 3, 80),
        encode_test_image_patterned("png", 12, 9, seed=3),
        encode_test_gif(10, 7, seed=5),
    ]
    rng = np.random.default_rng(1234)
    t0 = time.monotonic()
    for raw in corpus:
        for _ in range(120):
            b = bytearray(raw)
            mode = rng.integers(0, 3)
            if mode == 0:  # flip 1-4 bytes
                for _ in range(int(rng.integers(1, 5))):
                    b[int(rng.integers(0, len(b)))] = int(rng.integers(0, 256))
            elif mode == 1:  # truncate
                b = b[: int(rng.integers(0, len(b)))]
            else:  # flip + truncate
                if b:
                    b[int(rng.integers(0, len(b)))] ^= 0xFF
                b = b[: int(rng.integers(4, len(b) + 1))]
            payload = bytes(b)
            out = decode_image_pixels(payload)
            if out is not None:
                fmt, w, h, ch, px = out
                assert len(px) == w * h * ch
    assert time.monotonic() - t0 < 60, "fuzz loop too slow — hang risk"
