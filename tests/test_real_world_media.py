"""EXTERNAL validation of the image codecs: decode real third-party
files shipped in the container (written by real encoders — libjpeg,
libpng, giflib — none of them our fixtures). This is the strongest
check available without image libraries: our own encoder round-trips
can't catch a consistently-wrong constant table; a foreign bitstream
can. Each test skips if its file is absent (different base images)."""

from __future__ import annotations

import os
import pathlib

import numpy as np
import pytest

from debgpt7_8_with_vectordb_spark.operators.multimodal import (
    decode_image_pixels,
    parse_image_header,
)


def _load(path: str) -> bytes:
    if not os.path.exists(path):
        pytest.skip(f"{path} not present in this container")
    return pathlib.Path(path).read_bytes()


def _decode(path: str):
    raw = _load(path)
    out = decode_image_pixels(raw)
    assert out is not None, f"real-world decode failed: {path}"
    fmt, w, h, ch, px = out
    hdr = parse_image_header(raw)
    assert hdr is not None and (hdr[1], hdr[2]) == (w, h)
    assert len(px) == w * h * ch
    return np.frombuffer(px, np.uint8).reshape(h, w, ch)


def test_real_libjpeg_files_decode_plausibly():
    # nodejs doc images: named for being white stripes with the logo —
    # and written by libjpeg's PROGRESSIVE encoder (SOF2 with real
    # successive-approximation scan scripts), the strongest external
    # check the progressive path can get
    raw = _load("/usr/share/doc/nodejs/full-white-stripe.jpg")
    from debgpt7_8_with_vectordb_spark.operators.jpegcodec import (
        parse_jpeg_header,
    )

    assert parse_jpeg_header(raw)[3] == 0xC2  # progressive frame
    a = _decode("/usr/share/doc/nodejs/full-white-stripe.jpg")
    assert a.shape == (312, 493, 3)
    white_frac = float((a > 240).all(axis=2).mean())
    assert white_frac > 0.9, white_frac
    # the non-white corner carries the Node.js green logo
    r, g, b = a[0, 0].tolist()
    assert g > r and g > b, (r, g, b)


def test_real_jpeg_with_exif():
    raw = _load(
        "/usr/lib/google-cloud-sdk/platform/gsutil/third_party/"
        "requests/ext/flower-of-life.jpg"
    )
    assert parse_image_header(raw) == ("jpeg", 161, 161)
    # the APP1 EXIF segment is skipped by the pixel decoder
    assert decode_image_pixels(raw) is not None


def test_real_large_jpeg_decodes():
    # 2013x2241 PROGRESSIVE libjpeg file (and its 1.5.2 sibling is
    # baseline — both encoder families covered by foreign bitstreams)
    a = _decode(
        "/usr/lib/google-cloud-sdk/platform/gsutil/third_party/"
        "pyparsing/docs/_static/pyparsingClassDiagram_3.0.9.jpg"
    )
    # a class diagram: overwhelmingly light background
    assert a.shape == (2241, 2013, 3)
    assert float(a.mean()) > 180
    b = _decode(
        "/usr/lib/google-cloud-sdk/platform/gsutil/third_party/"
        "pyparsing/docs/_static/pyparsingClassDiagram_1.5.2.jpg"
    )
    assert b.shape == (1659, 1155, 3) and float(b.mean()) > 180


def test_real_libpng_files_decode():
    logo = _decode("/usr/share/gitweb/static/git-logo.png")
    assert logo.shape == (27, 72, 3)
    icon = _decode("/usr/share/doc/python3/_static/file.png")
    assert icon.shape[2] == 4  # RGBA with alpha preserved


def test_real_gif_files_decode():
    a = _decode("/usr/share/doc/libxslt1-dev/html/smallfootonly.gif")
    assert a.shape == (60, 48, 3)
    big = _decode("/usr/share/doc/libxslt1-dev/html/processing.gif")
    assert big.shape == (521, 648, 3)


def test_real_ico_favicons_decode():
    # real 32bpp-DIB favicons from vendored third-party docs/templates
    for path, dims in [
        (
            "/usr/lib/google-cloud-sdk/platform/gsutil/third_party/"
            "pyasn1/docs/source/.static/favicon.ico",
            (30, 32),
        ),
        (
            "/usr/lib/google-cloud-sdk/platform/google_appengine/php/"
            "new_project_template/favicon.ico",
            (32, 32),
        ),
    ]:
        raw = _load(path)
        assert parse_image_header(raw) == ("ico", *dims)
        out = decode_image_pixels(raw)
        assert out is not None and out[0] == "ico" and out[3] == 4
        assert (out[1], out[2]) == dims
        assert len(out[4]) == dims[0] * dims[1] * 4


def test_real_svg_dimensions():
    raw = _load(
        "/usr/lib/google-cloud-sdk/platform/gsutil/third_party/"
        "urllib3/docs/_static/dark-logo.svg"
    )
    assert parse_image_header(raw) == ("svg", 400, 119)


def test_real_low_depth_palette_png():
    # gitweb's favicon: 2-bit palette PNG written by a real encoder
    raw = _load("/usr/share/gitweb/static/git-favicon.png")
    out = decode_image_pixels(raw)
    assert out is not None and (out[1], out[2], out[3]) == (16, 16, 3)


def test_real_bitfields_bmp_v5_header():
    """CPython's python.bmp: BITMAPV5HEADER + BI_BITFIELDS 32bpp with
    byte-aligned BGRA masks — written by a real encoder, decoded via
    the round-8 bitfields lane mapping."""
    raw = _load(
        "/root/.pyenv/versions/3.13.0/lib/python3.13/test/test_email/"
        "data/python.bmp"
    )
    out = decode_image_pixels(raw)
    assert out is not None
    fmt, w, h, ch, px = out
    assert (fmt, w, h, ch) == ("bmp", 16, 16, 4)
    alpha = px[3::4]
    assert alpha[0] == alpha[15] == alpha[240] == alpha[255] == 0
    assert alpha[8 * 16 + 8] == 255  # logo body opaque


def test_cross_codec_alpha_plane_identity():
    """CROSS-CODEC external validation: python.bmp (BI_BITFIELDS BGRA)
    and python.webp (lossy VP8X whose ALPH chunk is a headerless VP8L
    stream) ship the SAME 16x16 logo. Two independent from-scratch
    decoders — the BMP lane mapper and the VP8L entropy decoder — must
    produce byte-identical alpha planes from two real files written by
    two different real encoders. A defect in either decoder's pixel
    path cannot survive this equality."""
    import struct as _struct

    from debgpt7_8_with_vectordb_spark.operators.webplcodec import (
        decode_webp_alpha,
    )

    bmp = decode_image_pixels(
        _load(
            "/root/.pyenv/versions/3.13.0/lib/python3.13/test/"
            "test_email/data/python.bmp"
        )
    )
    assert bmp is not None and bmp[3] == 4
    bmp_alpha = bytes(bmp[4][3::4])

    d = _load(
        "/root/.pyenv/versions/3.13.0/lib/python3.13/test/test_email/"
        "data/python.webp"
    )
    pos = 12
    webp_alpha = None
    while pos + 8 <= len(d):
        tag = d[pos : pos + 4]
        (size,) = _struct.unpack("<I", d[pos + 4 : pos + 8])
        if tag == b"ALPH":
            webp_alpha = decode_webp_alpha(d[pos + 8 : pos + 8 + size], 16, 16)
        pos += 8 + size + (size & 1)
    assert webp_alpha is not None
    assert bmp_alpha == webp_alpha


def test_real_1bit_interlaced_png():
    """The one refusal in the pre-r8 container sweep: httplib2's ref
    img1.png is 1-bit palette, Adam7-interlaced — the packed-bit
    deinterlace path decodes it (closing the PNG subset)."""
    raw = _load(
        "/usr/lib/google-cloud-sdk/platform/gsutil/third_party/"
        "httplib2/ref/img1.png"
    )
    out = decode_image_pixels(raw)
    assert out is not None
    fmt, w, h, ch, px = out
    assert (fmt, w, h, ch) == ("png", 556, 20, 3)
    colors = {px[i : i + 3] for i in range(0, len(px), 3)}
    assert len(colors) == 2  # bilevel art through a 2-entry palette


def test_lowdepth_interlaced_png_roundtrip():
    """Forward-written Adam7 packed-bit fixtures at every sub-byte
    depth, gray AND palette: the writer packs each pass's rows
    independently (MSB-first) exactly as the spec requires, so decode
    must reproduce the sample grid."""
    import struct as _struct
    import zlib

    ADAM7 = (
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    )

    def chunk(tag, body):
        return (
            _struct.pack(">I", len(body)) + tag + body
            + _struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    def write_png(samples, w, h, depth, ctype, plte=None):
        raw = bytearray()
        for x0, y0, dx, dy in ADAM7:
            pw = (w - x0 + dx - 1) // dx if w > x0 else 0
            ph = (h - y0 + dy - 1) // dy if h > y0 else 0
            if not pw or not ph:
                continue
            for py in range(ph):
                raw.append(0)  # filter type none
                acc = bits = 0
                row = bytearray()
                for px_ in range(pw):
                    v = samples[(y0 + py * dy) * w + (x0 + px_ * dx)]
                    acc = (acc << depth) | v
                    bits += depth
                    if bits == 8:
                        row.append(acc)
                        acc = bits = 0
                if bits:
                    row.append(acc << (8 - bits))
                raw += row
        ihdr = _struct.pack(">II", w, h) + bytes([depth, ctype, 0, 0, 1])
        out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        if plte is not None:
            out += chunk(b"PLTE", plte)
        return out + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(
            b"IEND", b""
        )

    w, h = 13, 7  # odd dims: partial passes + partial final bytes
    for depth in (1, 2, 4):
        mask = (1 << depth) - 1
        samples = [(x + 3 * y) & mask for y in range(h) for x in range(w)]
        # palette: distinct triples per index
        plte = b"".join(bytes((i * 17 % 256, i * 29 % 256, i * 43 % 256))
                        for i in range(mask + 1))
        got = decode_image_pixels(write_png(samples, w, h, depth, 3, plte))
        assert got is not None and got[:4] == ("png", w, h, 3)
        expect = b"".join(plte[3 * s : 3 * s + 3] for s in samples)
        assert got[4] == expect
        # gray: scaled 8-bit presentation
        got = decode_image_pixels(write_png(samples, w, h, depth, 0))
        assert got is not None and got[:4] == ("png", w, h, 1)
        assert got[4] == bytes((s * 255) // mask for s in samples)


# ---------------------------------------------------------------------------
# Real-world AUDIO (round 8): the CPython test suite ships the same
# recording quantized at four PCM depths — cross-depth consistency is
# external validation no self-round-trip can give.
# ---------------------------------------------------------------------------

_AUDIODATA = "/root/.pyenv/versions/3.13.0/lib/python3.13/test/audiodata/"
_SNDHDR = "/root/.pyenv/versions/3.13.0/lib/python3.13/test/test_email/data/"


def test_real_wav_all_depths_and_extensible():
    from debgpt7_8_with_vectordb_spark.operators.multimodal import (
        parse_wav_header,
    )

    for depth in (8, 16, 24, 32):
        raw = _load(f"{_AUDIODATA}pluck-pcm{depth}.wav")
        assert parse_wav_header(raw) == ("wav", 2, 11025, depth, 3307)
    # WAVE_FORMAT_EXTENSIBLE container, same payload
    ext = parse_wav_header(_load(f"{_AUDIODATA}pluck-pcm24-ext.wav"))
    assert ext == ("wav", 2, 11025, 24, 3307)


def test_real_aiff_au_mp3_headers_and_samples():
    from debgpt7_8_with_vectordb_spark.operators.audio_headers import (
        parse_audio_header,
        parse_mp3_header,
    )

    # the header's 10 is TOTAL interleaved samples (5 frames x 2ch)
    aiff = _load(f"{_SNDHDR}sndhdr.aiff")
    assert parse_audio_header(aiff) == ("aiff", 2, 44100, 16, 10)
    # AIFF-C variant of the same header parses identically
    assert parse_audio_header(_load(f"{_SNDHDR}sndhdr.aifc"))[:4] == (
        "aiff", 2, 44100, 16,
    )
    # mu-law .au: header metadata parses
    au = _load(f"{_SNDHDR}sndhdr.au")
    assert parse_audio_header(au)[:3] == ("au", 1, 8012)
    # real MPEG-1 Layer III file: frame-walk metadata
    mp3 = _load(
        "/usr/lib/google-cloud-sdk/platform/gsutil/gslib/tests/"
        "test_data/test.mp3"
    )
    assert parse_mp3_header(mp3) == ("mp3", 1, 22050, None, 25920)
