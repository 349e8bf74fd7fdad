"""TIFF pixel decode (struct-only subset): writer/parser round-trips
over byte orders, strip layouts, PackBits, photometric inversion; the
``decode_image_pixels`` dispatch; and refusal of the outside-subset
cases (LZW compression, 16-bit samples)."""

from __future__ import annotations

import struct

import numpy as np

from debgpt7_8_with_vectordb_spark.operators.multimodal import (
    _packbits_decode,
    decode_image_pixels,
    parse_image_header,
)
from tests.media_fixtures import encode_test_tiff_pixels


def _rgb(w: int, h: int, seed: int = 0) -> bytes:
    x = np.arange(w)[None, :, None]
    y = np.arange(h)[:, None, None]
    c = np.arange(3)[None, None, :]
    return ((x + 7 * y + 11 * c + seed) % 256).astype(np.uint8).tobytes()


def test_rgb_roundtrip_both_byte_orders():
    px = _rgb(13, 9)
    for be in (False, True):
        raw = encode_test_tiff_pixels(13, 9, px, spp=3, big_endian=be)
        assert parse_image_header(raw) == ("tiff", 13, 9)
        assert decode_image_pixels(raw) == ("tiff", 13, 9, 3, px)


def test_gray_multistrip_and_white_is_zero():
    px = bytes(range(256)) * 4  # 32x32 gray
    raw = encode_test_tiff_pixels(32, 32, px, spp=1, rows_per_strip=5)
    assert decode_image_pixels(raw) == ("tiff", 32, 32, 1, px)
    # WhiteIsZero storage must decode back to the same normalized pixels
    wiz = encode_test_tiff_pixels(32, 32, px, spp=1, white_is_zero=True)
    assert decode_image_pixels(wiz) == ("tiff", 32, 32, 1, px)


def test_packbits_roundtrip_and_golden():
    # runs + literals: exercises both PackBits branches
    px = (b"\x00" * 40 + bytes(range(17)) + b"\xff" * 30 + b"\x01\x02") * 4
    px = px[: 16 * 22]
    raw = encode_test_tiff_pixels(16, 22, px, spp=1, packbits=True)
    assert len(raw) < len(px) + 200  # RLE actually compresses the runs
    assert decode_image_pixels(raw) == ("tiff", 16, 22, 1, px)
    # spec example: runs decode, -128 is a no-op
    assert _packbits_decode(b"\xfe\xaa\x80\x02\x80\x00\x2a", 5) == (
        b"\xaa\xaa\xaa\x80\x00"
    )


def test_packbits_multistrip_rgb():
    px = _rgb(21, 17, seed=5)
    raw = encode_test_tiff_pixels(21, 17, px, spp=3, packbits=True, rows_per_strip=4)
    assert decode_image_pixels(raw) == ("tiff", 21, 17, 3, px)


def test_outside_subset_refused():
    px = _rgb(8, 8)
    raw = bytearray(encode_test_tiff_pixels(8, 8, px))
    # flip Compression (tag 259) to LZW (5): entry value offset is fixed
    idx = raw.index(struct.pack("<HHI", 259, 3, 1))
    raw[idx + 8 : idx + 10] = struct.pack("<H", 5)
    assert decode_image_pixels(bytes(raw)) is None
    # truncate past the IFD: strip data missing
    whole = encode_test_tiff_pixels(8, 8, px)
    assert decode_image_pixels(whole[: len(whole) - 30]) is None
    # giant dims refused fast (bomb fence)
    giant = bytearray(whole)
    gidx = giant.index(struct.pack("<HHI", 256, 4, 1))
    giant[gidx + 8 : gidx + 12] = struct.pack("<I", 60000)
    gidx = giant.index(struct.pack("<HHI", 257, 4, 1))
    giant[gidx + 8 : gidx + 12] = struct.pack("<I", 60000)
    assert decode_image_pixels(bytes(giant)) is None
