"""Property-based tests (hypothesis) for the round-7 codecs: the pure
decode functions are hammered with arbitrary and adversarial inputs —
round-trips against independent forward encoders, and never-crash on
random bytes (the 100 TB malformed-media contract)."""

from __future__ import annotations

import zlib

from hypothesis import given, settings
from hypothesis import strategies as st

from debgpt7_8_with_vectordb_spark.operators.multimodal import (
    _lzw_decode,
    decode_image_pixels,
    encode_test_gif,
    encode_test_image_patterned,
)
from debgpt7_8_with_vectordb_spark.sources.readers import (
    _pdf_lzw_decode,
    pdf_extract_text,
)


# -- GIF LZW: round-trip vs an independent from-spec forward encoder ------


def _gif_lzw_encode(indices: list[int], min_code: int) -> bytes:
    """Textbook forward GIF LZW (LSB-first, growing dictionary),
    independent of the decoder."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code, cur = eoi + 1, min_code + 1
    codes = [(clear, min_code + 1)]
    w = b""
    for k in indices:
        wk = w + bytes([k])
        if wk in table:
            w = wk
            continue
        codes.append((table[w], cur))
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
            if next_code - 1 == (1 << cur) and cur < 12:
                cur += 1
        w = bytes([k])
    if w:
        codes.append((table[w], cur))
    codes.append((eoi, cur))
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


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=2, max_value=8).flatmap(
        lambda mc: st.tuples(
            st.just(mc),
            st.lists(
                st.integers(0, (1 << mc) - 1), min_size=1, max_size=600
            ),
        )
    )
)
def test_gif_lzw_roundtrip_property(mc_indices):
    min_code, indices = mc_indices
    data = _gif_lzw_encode(indices, min_code)
    assert _lzw_decode(data, min_code, len(indices)) == bytes(indices)


@settings(max_examples=40, deadline=None)
@given(st.binary(max_size=300), st.integers(2, 8), st.integers(0, 500))
def test_gif_lzw_never_crashes_on_noise(data, min_code, expected):
    out = _lzw_decode(data, min_code, expected)
    assert out is None or len(out) == expected


# -- patterned image round-trip over arbitrary dims/seeds -----------------


@settings(max_examples=40, deadline=None)
@given(
    st.sampled_from(["png", "bmp", "ppm"]),
    st.integers(1, 40),
    st.integers(1, 40),
    st.integers(0, 255),
)
def test_patterned_image_roundtrip_property(fmt, w, h, seed):
    got = decode_image_pixels(encode_test_image_patterned(fmt, w, h, seed))
    assert got is not None
    _, gw, gh, ch, px = got
    assert (gw, gh, ch) == (w, h, 3)
    assert px[0] == seed % 256
    assert px[-1] == (w - 1 + 7 * (h - 1) + 22 + seed) % 256


@settings(max_examples=30, deadline=None)
@given(st.integers(1, 40), st.integers(1, 40), st.integers(0, 250))
def test_gif_roundtrip_property(w, h, seed):
    got = decode_image_pixels(encode_test_gif(w, h, seed))
    assert got is not None and (got[1], got[2], got[3]) == (w, h, 3)


# -- decoders never raise on arbitrary bytes ------------------------------


@settings(max_examples=80, deadline=None)
@given(st.binary(max_size=400))
def test_pixel_and_wav_decode_never_raise(blob):
    for prefix in (
        b"", b"\x89PNG\r\n\x1a\n", b"BM", b"GIF89a", b"P6 ", b"RIFF",
    ):
        payload = prefix + blob
        r = decode_image_pixels(payload)
        assert r is None or isinstance(r, tuple)


@settings(max_examples=40, deadline=None)
@given(st.binary(max_size=400))
def test_pdf_extract_never_raises(blob):
    for payload in (
        blob,
        b"%PDF-1.4\n" + blob,
        b"%PDF-1.4\n1 0 obj\n<</Length 5>>\nstream\n" + blob,
        b"%PDF-1.4\n1 0 obj\n<</ToUnicode 2 0 R>>\nendobj\n" + blob,
    ):
        assert isinstance(pdf_extract_text(payload), str)


@settings(max_examples=40, deadline=None)
@given(st.binary(max_size=200))
def test_pdf_lzw_never_crashes(data):
    out = _pdf_lzw_decode(data)
    assert out is None or isinstance(out, bytes)


# ------------------------------------------ round-7 session-2 codecs


@settings(max_examples=30, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    seed=st.integers(min_value=0, max_value=2**31),
    quality=st.integers(min_value=5, max_value=100),
    subsample=st.booleans(),
    progressive=st.booleans(),
)
def test_jpeg_decode_total_property(w, h, seed, quality, subsample, progressive):
    """Any encoder-settings combination yields a decodable file with
    exact dimensions, and progressive decode stays bit-identical to
    baseline (same quantized coefficients)."""
    import numpy as np

    from debgpt7_8_with_vectordb_spark.operators.jpegcodec import (
        decode_jpeg_pixels,
    )
    from tests.media_fixtures import (
        encode_jpeg_baseline,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=w * h * 3, dtype=np.int64).astype("uint8")
    base = decode_jpeg_pixels(
        encode_jpeg_baseline(w, h, px.tobytes(), 3, quality, subsample=subsample)
    )
    assert base is not None
    assert (base[1], base[2], base[3]) == (w, h, 3)
    assert len(base[4]) == w * h * 3
    if progressive:
        prog = decode_jpeg_pixels(
            encode_jpeg_progressive(
                w, h, px.tobytes(), 3, quality, subsample=subsample
            )
        )
        assert prog is not None and prog[4] == base[4]


@settings(max_examples=60, deadline=None)
@given(blob=st.binary(min_size=0, max_size=300))
def test_session2_parsers_never_raise(blob):
    """Totality across the session-2 parsers on arbitrary bytes."""
    from debgpt7_8_with_vectordb_spark.operators.audio_headers import (
        parse_audio_header,
    )
    from debgpt7_8_with_vectordb_spark.operators.jpegcodec import (
        decode_jpeg_pixels,
        parse_jpeg_header,
    )
    from debgpt7_8_with_vectordb_spark.sources.readers import (
        parse_warc_records,
        zip_member_texts,
    )

    for fn in (parse_audio_header, decode_jpeg_pixels, parse_jpeg_header):
        fn(blob)
    parse_warc_records(blob)
    zip_member_texts(blob)
    # and with plausible magic prefixes grafted on
    for magic in (b"\xff\xd8", b"fLaC", b"ID3", b"OggS", b"WARC/1.0\r\n",
                  b"II*\x00", b"RIFF"):
        parse_audio_header(magic + blob)
        decode_jpeg_pixels(magic + blob)
        parse_warc_records(magic + blob)
