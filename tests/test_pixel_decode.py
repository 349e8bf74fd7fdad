"""Pixel decode for the stdlib-decodable subset — PNG (inflate + all
five scanline filters), BMP, PNM P2/P3/P5/P6, GIF, ICO, SVG dimensions.
Pinned against golden external bytes, independent writer/decoder
round-trips, and the Spark pixel-stats seam."""

from __future__ import annotations

import base64
import struct
import zlib

import pytest

from debgpt7_8_with_vectordb_spark.operators.multimodal import (
    decode_image_pixel_stats,
    decode_image_pixels,
    encode_test_image_patterned,
    synthesize_test_media_patterned,
)
from tests.media_fixtures import pattern_px

# the canonical 1x1 PNG data-URI file: single red-ish pixel via RGBA
GOLDEN_PNG_1x1_RGBA = base64.b64decode(
    "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJ"
    "AAAADUlEQVR42mP8z8BQDwAEhQGAhKmMIQAAAABJRU5ErkJggg=="
)
GOLDEN_BMP_1x1_WHITE = base64.b64decode(
    "Qk06AAAAAAAAADYAAAAoAAAAAQAAAAEAAAABABgAAAAAAAQAAAATCwAAEwsAAAAAAAAAAAAA"
    "////AA=="
)


def test_golden_png_pixels():
    got = decode_image_pixels(GOLDEN_PNG_1x1_RGBA)
    assert got is not None
    fmt, w, h, ch, px = got
    assert (fmt, w, h) == ("png", 1, 1)
    assert len(px) == w * h * ch
    # independently verify against a direct inflate+unfilter by hand
    # (1x1: one filter byte + ch sample bytes)
    idat_len = struct.unpack(">I", GOLDEN_PNG_1x1_RGBA[33:37])[0]
    raw = zlib.decompress(GOLDEN_PNG_1x1_RGBA[41 : 41 + idat_len])
    assert raw[0] in (0, 1, 2, 3, 4)


def test_golden_bmp_pixels_white():
    got = decode_image_pixels(GOLDEN_BMP_1x1_WHITE)
    assert got == ("bmp", 1, 1, 3, b"\xff\xff\xff")


@pytest.mark.parametrize("fmt", ["png", "bmp", "ppm"])
@pytest.mark.parametrize("wh", [(1, 1), (3, 2), (7, 5), (32, 17)])
def test_patterned_roundtrip_matches_pattern(fmt, wh):
    """Writer applies forward filters / bottom-up BGR / raw P6; decoder
    reverses them — the recovered stream must equal the abstract
    pattern in row-major top-down RGB order for every format."""
    w, h = wh
    blob = encode_test_image_patterned(fmt, w, h, seed=13)
    got = decode_image_pixels(blob)
    assert got is not None
    gfmt, gw, gh, ch, px = got
    assert (gw, gh, ch) == (w, h, 3)
    expect = bytes(
        pattern_px(x, y, c, 13)
        for y in range(h)
        for x in range(w)
        for c in range(3)
    )
    assert px == expect, f"{fmt} pixel stream mismatch"


def test_png_all_five_filters_hit():
    """h>=5 rows with filter type y%5 — every unfilter path (None, Sub,
    Up, Average, Paeth) participates in the round-trip."""
    blob = encode_test_image_patterned("png", 6, 10, seed=0)
    raw = _inflate_idat(blob)
    stride = 6 * 3
    ftypes = {raw[y * (stride + 1)] for y in range(10)}
    assert ftypes == {0, 1, 2, 3, 4}
    got = decode_image_pixels(blob)
    assert got is not None and got[4] == bytes(
        pattern_px(x, y, c, 0)
        for y in range(10)
        for x in range(6)
        for c in range(3)
    )


def _inflate_idat(blob: bytes) -> bytes:
    pos, idat = 8, bytearray()
    while pos + 8 <= len(blob):
        (size,) = struct.unpack(">I", blob[pos : pos + 4])
        tag = blob[pos + 4 : pos + 8]
        if tag == b"IDAT":
            idat += blob[pos + 8 : pos + 8 + size]
        pos += 12 + size
    return zlib.decompress(bytes(idat))


def test_png_gray_and_alpha_color_types():
    """Spec-built grayscale (ctype 0) and RGBA (ctype 6) fixtures the
    patterned writer never produces."""
    def png(ctype: int, ch: int, w: int, h: int) -> bytes:
        ihdr = struct.pack(">II", w, h) + bytes((8, ctype, 0, 0, 0))

        def chunk(tag, body):
            return (
                struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
            )

        raw = b"".join(
            b"\x00" + bytes((x * ch + c + y) % 256 for x in range(w) for c in range(ch))
            for y in range(h)
        )
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
        )

    got = decode_image_pixels(png(0, 1, 4, 3))
    assert got is not None and (got[0], got[3]) == ("png", 1)
    assert got[4] == bytes((x + y) % 256 for y in range(3) for x in range(4))
    got = decode_image_pixels(png(6, 4, 2, 2))
    assert got is not None and got[3] == 4 and len(got[4]) == 2 * 2 * 4


def test_png_unsupported_subsets_return_none():
    """16-bit depth: outside the stdlib subset — NULL, not garbage,
    not an exception. (Paletted ctype 3 and Adam7 interlace ARE
    supported now; these header-only fixtures are malformed — no
    PLTE/IDAT — and must still yield None.)"""
    def png_hdr(depth, ctype, interlace):
        ihdr = struct.pack(">II", 2, 2) + bytes((depth, ctype, 0, 0, interlace))
        return (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + b"\x00" * 4
        )

    assert decode_image_pixels(png_hdr(16, 2, 0)) is None  # 16-bit depth
    assert decode_image_pixels(png_hdr(8, 3, 0)) is None  # paletted, no PLTE
    assert decode_image_pixels(png_hdr(8, 2, 1)) is None  # Adam7, no IDAT
    assert decode_image_pixels(png_hdr(8, 2, 2)) is None  # unknown interlace


def test_bmp_topdown_and_32bpp():
    """Spec-built fixtures: negative height (top-down rows, no flip)
    and 32bpp BGRA; both normalized to top-down RGB(A) order."""
    def bmp(w, h_field, bpp, rows: bytes) -> bytes:
        info = struct.pack(
            "<IiiHHIIiiII", 40, w, h_field, 1, bpp, 0, len(rows), 0, 0, 0, 0
        )
        off = 14 + 40
        return b"BM" + struct.pack("<IHHI", off + len(rows), 0, 0, off) + info + rows

    # 1x2 24bpp bottom-up: file rows are [bottom, top] -> flip
    bottom, top = b"\x01\x02\x03\x00", b"\x04\x05\x06\x00"  # BGR + pad
    got = decode_image_pixels(bmp(1, 2, 24, bottom + top))
    assert got == ("bmp", 1, 2, 3, b"\x06\x05\x04\x03\x02\x01")
    # same rows top-down (h<0): no flip
    got = decode_image_pixels(bmp(1, -2, 24, bottom + top))
    assert got == ("bmp", 1, 2, 3, b"\x03\x02\x01\x06\x05\x04")
    # 1x1 32bpp BGRA -> RGBA
    got = decode_image_pixels(bmp(1, 1, 32, b"\x01\x02\x03\x04"))
    assert got == ("bmp", 1, 1, 4, b"\x03\x02\x01\x04")


def test_pnm_ascii_variants():
    assert decode_image_pixels(b"P2 2 2 255\n0 64\n128 255\n") == (
        "p2", 2, 2, 1, bytes((0, 64, 128, 255)),
    )
    assert decode_image_pixels(b"P3 1 2 255\n1 2 3 4 5 6\n") == (
        "p3", 1, 2, 3, bytes((1, 2, 3, 4, 5, 6)),
    )
    # P5 binary gray with a comment and maxval
    assert decode_image_pixels(b"P5 2 1 # c\n255\n\x09\x0a") == (
        "p5", 2, 1, 1, b"\x09\x0a",
    )
    # maxval > 255 (16-bit PNM) decodes with 8-bit high-byte
    # presentation since late round 7
    assert decode_image_pixels(b"P5 1 1 65535\n\x80\x01") == (
        "p5", 1, 1, 1, b"\x80",
    )


def test_pixel_decode_malformed_returns_none():
    assert decode_image_pixels(b"") is None
    assert decode_image_pixels(b"GIF89a" + b"\x00" * 20) is None  # no image block
    # truncated PNG IDAT
    blob = encode_test_image_patterned("png", 4, 4, seed=1)
    assert decode_image_pixels(blob[: len(blob) - 20]) is None
    # BMP payload shorter than the promised pixel array
    good = encode_test_image_patterned("bmp", 8, 8, seed=1)
    assert decode_image_pixels(good[:70]) is None
    # P6 body shorter than w*h*3
    assert decode_image_pixels(b"P6 4 4 255\n\x00\x00") is None


# ---------------------------------------------------------------------------
# Spark pixel-stats seam
# ---------------------------------------------------------------------------


def test_pixel_stats_spark_seam(spark):
    ids = spark.range(12).selectExpr("id AS doc_id")
    media = synthesize_test_media_patterned(ids)
    rows = {r["doc_id"]: r for r in decode_image_pixel_stats(media).collect()}
    assert len(rows) == 12
    fmts = ("png", "bmp", "ppm", "gif", "tiff", "webp")  # r8 rotation
    for i in range(12):
        w, h, seed = 1 + i % 32, 1 + (i * 7) % 32, i % 251
        r = rows[i]
        assert r["fmt"] == ("p6" if fmts[i % 6] == "ppm" else fmts[i % 6])
        assert (r["width"], r["height"], r["channels"]) == (w, h, 3)
        expect_sum = sum(
            pattern_px(x, y, c, seed)
            for y in range(h) for x in range(w) for c in range(3)
        )
        assert r["pixel_sum"] == expect_sum
        assert r["first_px"] == pattern_px(0, 0, 0, seed)
        assert r["last_px"] == pattern_px(w - 1, h - 1, 2, seed)


def test_pixel_stats_null_row_for_unsupported(spark):
    media = spark.createDataFrame(
        [(1, bytearray(b"GIF89a\x02\x00\x02\x00\x00\x00\x00;"), "image/gif")],
        "doc_id long, payload binary, media_type string",
    )
    r = decode_image_pixel_stats(media).collect()[0]
    assert r["fmt"] is None and r["pixel_sum"] is None


# ---------------------------------------------------------------------------
# GIF pixels (LZW implemented from the spec)
# ---------------------------------------------------------------------------


def test_golden_gif_1x1_pixels():
    import base64

    golden = base64.b64decode(
        "R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7"
    )
    assert decode_image_pixels(golden) == ("gif", 1, 1, 3, b"\x00\x00\x00")


@pytest.mark.parametrize("wh_seed", [(1, 1, 0), (3, 2, 5), (32, 17, 100), (300, 3, 7)])
def test_gif_patterned_roundtrip(wh_seed):
    """Writer emits clear-code-reset 9-bit LZW (the 'uncompressed GIF'
    technique) — decoding it exercises the table-reset path; indices map
    through a 256-entry patterned palette."""
    from debgpt7_8_with_vectordb_spark.operators.multimodal import (
        encode_test_gif,
    )

    w, h, seed = wh_seed
    got = decode_image_pixels(encode_test_gif(w, h, seed))
    assert got is not None
    fmt, gw, gh, ch, px = got
    assert (fmt, gw, gh, ch) == ("gif", w, h, 3)
    expect = bytearray()
    for y in range(h):
        for x in range(w):
            i = (x + 7 * y + seed) % 256
            expect += bytes((i, (i + 11) % 256, (i + 22) % 256))
    assert px == bytes(expect)


def test_gif_interlaced_and_lzw_growth():
    """Spec-built fixtures for the paths the simple writer skips: a
    real growing-dictionary LZW stream (written by a from-spec ENCODER
    with dictionary growth, independent of the decoder) and the Adam-
    style 4-pass interlace reorder."""
    from debgpt7_8_with_vectordb_spark.operators.multimodal import (
        _GIF_INTERLACE_PASSES,
        _lzw_decode,
    )

    # forward LZW encoder (textbook, dictionary grows; 2-bit min code)
    def lzw_encode(indices, min_code):
        clear, eoi = 1 << min_code, (1 << min_code) + 1
        table = {bytes([i]): i for i in range(clear)}
        next_code, code_size = eoi + 1, min_code + 1
        codes = [(clear, min_code + 1)]
        cur_size = min_code + 1
        w = b""
        for k in indices:
            wk = w + bytes([k])
            if wk in table:
                w = wk
                continue
            codes.append((table[w], cur_size))
            table[wk] = next_code
            next_code += 1
            if next_code - 1 == (1 << cur_size) and cur_size < 12:
                # GIF writers bump width when next emitted code would
                # overflow; mirror the decoder's growth rule
                pass
            if next_code > (1 << cur_size) and cur_size < 12:
                cur_size += 1
            w = bytes([k])
        if w:
            codes.append((table[w], cur_size))
        codes.append((eoi, cur_size))
        bits = bitpos = 0
        out = bytearray()
        for code, size in codes:
            bits |= code << bitpos
            bitpos += size
            while bitpos >= 8:
                out.append(bits & 0xFF)
                bits >>= 8
                bitpos -= 8
        if bitpos:
            out.append(bits & 0xFF)
        return bytes(out)

    indices = [0, 1, 0, 1, 0, 1, 2, 3, 2, 3, 2, 3, 0, 0, 1, 1] * 4
    data = lzw_encode(indices, 2)
    assert _lzw_decode(data, 2, len(indices)) == bytes(indices)

    # interlace pass order covers every row exactly once
    rows = []
    for start, step in _GIF_INTERLACE_PASSES:
        rows.extend(range(start, 16, step))
    assert sorted(rows) == list(range(16)) and len(set(rows)) == 16


def test_gif_malformed_returns_none():
    from debgpt7_8_with_vectordb_spark.operators.multimodal import (
        encode_test_gif,
    )

    good = encode_test_gif(8, 8, 3)
    assert decode_image_pixels(good[:20]) is None  # truncated mid-palette
    assert decode_image_pixels(good[:-30]) is None  # truncated LZW
    # pixel-less GIF (the metadata-only writer) has no image descriptor
    from debgpt7_8_with_vectordb_spark.operators.multimodal import (
        encode_test_image,
    )

    assert decode_image_pixels(encode_test_image("gif", 2, 2)) is None


# ---------------------------------------------------------------------------
# PNG paletted (ctype 3), Adam7, 16-bit, low-depth; BMP 8bpp; ICO; SVG
# ---------------------------------------------------------------------------


def test_png_paletted_decode():
    """Spec-built ctype-3 PNG: 8-bit indices through a PLTE chunk."""
    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">II", 2, 2) + bytes((8, 3, 0, 0, 0))
    plte = bytes((255, 0, 0, 0, 255, 0, 0, 0, 255))  # R, G, B palette
    raw = b"\x00\x00\x01" + b"\x00\x02\x00"  # rows: [R,G], [B,R]
    blob = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    )
    assert decode_image_pixels(blob) == (
        "png", 2, 2, 3,
        bytes((255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 0, 0)),
    )
    # index past the palette end -> malformed, None
    bad = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"PLTE", plte)
        + chunk(b"IDAT", zlib.compress(b"\x00\x07\x00" * 2)) + chunk(b"IEND", b"")
    )
    assert decode_image_pixels(bad) is None


def test_png_adam7_interlaced_decode():
    """Forward-built Adam7 fixture (passes extracted from the reference
    pattern image, each pass filtered independently — filter 0 and
    filter 2 variants) decodes to the same pixels as the ordered
    layout."""
    from debgpt7_8_with_vectordb_spark.operators.multimodal import _ADAM7

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    for w, h, ch, ftype in [(8, 8, 3, 0), (5, 3, 1, 0), (13, 9, 3, 2), (1, 1, 3, 0), (2, 2, 1, 0)]:
        full = [
            [(x * ch + c + 3 * y) % 256 for c in range(ch)]
            for y in range(h)
            for x in range(w)
        ]

        def px(x, y):
            return bytes(full[y * w + x])

        raw = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx if w > x0 else 0
            ph = (h - y0 + dy - 1) // dy if h > y0 else 0
            if pw == 0 or ph == 0:
                continue
            prev = bytes(pw * ch)
            for py in range(ph):
                line = b"".join(
                    px(x0 + px_i * dx, y0 + py * dy) for px_i in range(pw)
                )
                if ftype == 2:  # Up-filter each pass row
                    raw.append(2)
                    raw += bytes((line[i] - prev[i]) & 0xFF for i in range(len(line)))
                else:
                    raw.append(0)
                    raw += line
                prev = line
        ihdr = struct.pack(">II", w, h) + bytes((8, 2 if ch == 3 else 0, 0, 0, 1))
        blob = (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
        )
        got = decode_image_pixels(blob)
        assert got is not None, (w, h, ch, ftype)
        assert got[:4] == ("png", w, h, ch)
        expect = b"".join(bytes(p) for p in full)
        assert got[4] == expect, (w, h, ch, ftype)


def test_png_16bit_high_byte_presentation():
    """16-bit PNGs decode with the standard 8-bit presentation (high
    byte of each big-endian sample); filters run byte-wise with the
    doubled bpp per spec §9.2."""
    import numpy as np

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    def png16(w, h, ch, ctype, vals16, ftype=0):
        ihdr = struct.pack(">II", w, h) + bytes([16, ctype, 0, 0, 0])
        arr = np.asarray(vals16, dtype=">u2").reshape(h, w * ch)
        raw = bytearray()
        prev = np.zeros(w * ch * 2, dtype=np.int16)
        for y in range(h):
            raw.append(ftype)
            line = np.frombuffer(arr[y].tobytes(), np.uint8).astype(np.int16)
            if ftype == 2:  # Up filter, byte-wise
                raw += ((line - prev) & 0xFF).astype(np.uint8).tobytes()
            else:
                raw += line.astype(np.uint8).tobytes()
            prev = line
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
        )

    vals = [(i * 257 + 1000) % 65536 for i in range(6 * 4)]
    exp = bytes((v >> 8) & 0xFF for v in vals)
    assert decode_image_pixels(png16(6, 4, 1, 0, vals)) == ("png", 6, 4, 1, exp)
    # filtered variant must unfilter byte-wise before byte selection
    assert decode_image_pixels(png16(6, 4, 1, 0, vals, ftype=2)) == (
        "png", 6, 4, 1, exp,
    )
    vals3 = [(i * 911) % 65536 for i in range(5 * 3 * 3)]
    assert decode_image_pixels(png16(5, 3, 3, 2, vals3))[4] == bytes(
        (v >> 8) for v in vals3
    )
    # 16-bit palette is illegal per spec: refused
    bad = bytearray(png16(4, 4, 1, 0, [0] * 16))
    bad[25] = 3  # ctype -> palette
    assert decode_image_pixels(bytes(bad)) is None


def test_pnm_16bit_high_byte_presentation():
    import numpy as np

    vals = [(i * 157 + 300) % 65536 for i in range(5 * 4)]
    exp = bytes(v >> 8 for v in vals)
    raw5 = b"P5 5 4 65535\n" + np.asarray(vals, dtype=">u2").tobytes()
    assert decode_image_pixels(raw5) == ("p5", 5, 4, 1, exp)
    vals3 = [(i * 733) % 65536 for i in range(3 * 2 * 3)]
    raw6 = b"P6 3 2 65535\n" + np.asarray(vals3, dtype=">u2").tobytes()
    assert decode_image_pixels(raw6) == (
        "p6", 3, 2, 3, bytes(v >> 8 for v in vals3)
    )
    # ASCII 16-bit variant
    raw2 = ("P2 4 1 65535\n" + " ".join(str(v) for v in vals[:4])).encode()
    assert decode_image_pixels(raw2) == ("p2", 4, 1, 1, exp[:4])
    # maxval beyond the spec limit refused; truncated wide body refused
    assert decode_image_pixels(b"P5 2 2 70000\n" + b"\x00" * 8) is None
    assert decode_image_pixels(b"P5 5 4 65535\n" + b"\x01" * 9) is None


def test_bmp_8bpp_palette_and_rle8():
    import numpy as np

    def bmp8(w, h, indices, palette, compression=0, body=None):
        if body is None:
            row_bytes = (w + 3) // 4 * 4
            rows = np.zeros((h, row_bytes), dtype=np.uint8)
            rows[:, :w] = np.asarray(indices, dtype=np.uint8).reshape(h, w)[::-1]
            body = rows.tobytes()
        pal = b"".join(bytes([b, g, r, 0]) for r, g, b in palette)
        off = 14 + 40 + len(pal)
        info = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 8, compression, len(body),
            2835, 2835, len(palette), 0,
        )
        hdr = b"BM" + struct.pack("<IHHI", off + len(body), 0, 0, off)
        return hdr + info + pal + body

    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (7, 8, 9)]
    idx = [0, 1, 2, 3, 3, 2, 1, 0]  # 4x2 top-down
    raw = bmp8(4, 2, idx, palette)
    got = decode_image_pixels(raw)
    assert got is not None and (got[1], got[2], got[3]) == (4, 2, 3)
    exp = b"".join(bytes(palette[i]) for i in idx)
    assert got[4] == exp

    # RLE8: bottom-up rows; encode row1 (bottom) then row0
    # bottom row = indices [3,2,1,0] -> absolute mode; top = run of 0 x4
    rle = bytes(
        [0, 4, 3, 2, 1, 0,  # absolute 4 indices (even, no pad)
         0, 0,              # end of line
         4, 0,              # run: four of index 0
         0, 1]              # end of bitmap
    )
    raw_rle = bmp8(4, 2, None, palette, compression=1, body=rle)
    got2 = decode_image_pixels(raw_rle)
    assert got2 is not None
    top = b"".join(bytes(palette[0]) for _ in range(4))
    bottom = b"".join(bytes(palette[i]) for i in (3, 2, 1, 0))
    assert got2[4] == top + bottom
    # truncated palette refused
    assert decode_image_pixels(raw[: 14 + 40 + 5]) is None


def test_ico_png_frame_and_paletted_dib():
    import numpy as np

    # ICO wrapping a PNG frame reuses the PNG decoder
    png = encode_test_image_patterned("png", 8, 8, seed=2)
    entry = bytes([8, 8, 0, 0]) + struct.pack("<HHII", 1, 32, len(png), 22)
    ico_png = b"\x00\x00\x01\x00\x01\x00" + entry + png
    got = decode_image_pixels(ico_png)
    ref = decode_image_pixels(png)
    assert got == ("ico", 8, 8, 3, ref[4])

    # 8bpp paletted DIB frame with doubled height
    w = h = 4
    pal = b"".join(bytes([b_, g, r, 0]) for r, g, b_ in
                   [(10, 20, 30), (200, 100, 50)])
    idx = bytes([0, 1, 0, 1, 1, 0, 1, 0, 0, 0, 1, 1, 1, 1, 0, 0])
    dib = (
        struct.pack("<IiiHHIIiiII", 40, w, 2 * h, 1, 8, 0, 0, 0, 0, 2, 0)
        + pal + idx + b"\x00" * 8  # AND mask rows (ignored)
    )
    entry = bytes([w, h, 2, 0]) + struct.pack("<HHII", 1, 8, len(dib), 22)
    ico = b"\x00\x00\x01\x00\x01\x00" + entry + dib
    out = decode_image_pixels(ico)
    assert out is not None and out[0:4] == ("ico", 4, 4, 3)
    arr = np.frombuffer(out[4], np.uint8).reshape(4, 4, 3)
    # bottom-up normalization: the LAST xor row becomes the top row
    assert arr[0, 0].tolist() == [200, 100, 50]
    assert arr[3, 0].tolist() == [10, 20, 30]
    # malformed: out-of-range palette index refused
    bad = bytearray(ico)
    bad[22 + 40 + 8 + 2] = 9
    assert decode_image_pixels(bytes(bad)) is None


def test_svg_dimension_metadata():
    from debgpt7_8_with_vectordb_spark.operators.multimodal import (
        parse_image_header as pih,
    )

    assert pih(b'<svg width="120" height="80.4"><rect/></svg>') == (
        "svg", 120, 80,
    )
    assert pih(b'<svg width="12px" height="34px"/>') == ("svg", 12, 34)
    assert pih(
        b'<?xml version="1.0"?>\n<svg viewBox="0 0 640 480"></svg>'
    ) == ("svg", 640, 480)
    # width alone is not enough; viewBox fallback kicks in
    assert pih(b'<svg width="5" viewBox="0 0 20 10"/>') == ("svg", 20, 10)
    assert pih(b'<svg xmlns="x"></svg>') is None  # no dimensions at all
    assert pih(b"<html><svg/></html>") is None  # not an svg DOCUMENT


def test_png_low_bit_depth_palette():
    """1/2/4-bit palette PNGs: filters run on the packed bytes, then
    MSB-first index unpacking before palette mapping."""
    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    def png_lowdepth(w, h, depth, indices, palette):
        ihdr = struct.pack(">II", w, h) + bytes([depth, 3, 0, 0, 0])
        row_bytes = (w * depth + 7) // 8
        raw = bytearray()
        for y in range(h):
            raw.append(0)
            row = bytearray(row_bytes)
            for x in range(w):
                i = indices[y * w + x]
                shift = 8 - depth - (x * depth) % 8
                row[(x * depth) // 8] |= i << shift
            raw += row
        plte = b"".join(bytes(c) for c in palette)
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"PLTE", plte)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    pal4 = [(i * 16, 255 - i * 16, i) for i in range(16)]
    idx = [(x + y) % 16 for y in range(5) for x in range(7)]
    out = decode_image_pixels(png_lowdepth(7, 5, 4, idx, pal4))
    assert out is not None and out[0:4] == ("png", 7, 5, 3)
    assert out[4] == b"".join(bytes(pal4[i]) for i in idx)
    pal1 = [(0, 0, 0), (255, 255, 255)]
    idx1 = [(x ^ y) & 1 for y in range(3) for x in range(9)]
    out1 = decode_image_pixels(png_lowdepth(9, 3, 1, idx1, pal1))
    assert out1[4] == b"".join(bytes(pal1[i]) for i in idx1)
