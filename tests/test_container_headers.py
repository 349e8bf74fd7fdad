"""Container-metadata breadth: TIFF / WebP dimensions via
``parse_image_header`` and AVI via the video dispatch — writer/parser
round-trips, layout pins, NULL-on-malformed, and non-regression of the
sibling containers that share magic prefixes (RIFF = WAV/AVI/WebP).
Malformed mp4 boxes, negative BMP widths and any parser exception come
back as None (the ``_parse_or_none`` task fence), never as a crash."""

from __future__ import annotations

import struct

import pytest

from debgpt7_8_with_vectordb_spark.operators.multimodal import (
    _parse_or_none,
    decode_video_metadata,
    encode_test_avi,
    encode_test_mp4,
    encode_test_tiff,
    encode_test_wav,
    encode_test_webp,
    parse_avi_header,
    parse_image_header,
    parse_mp4_header,
    parse_video_header,
    parse_wav_header,
)


def test_tiff_both_endiannesses():
    assert parse_image_header(encode_test_tiff(640, 480)) == ("tiff", 640, 480)
    assert parse_image_header(encode_test_tiff(31, 77, big_endian=True)) == (
        "tiff", 31, 77,
    )


def test_tiff_rejects_malformed():
    raw = encode_test_tiff(10, 10)
    assert parse_image_header(raw[:6]) is None
    # IFD offset beyond payload
    bad = raw[:4] + struct.pack("<I", 10_000) + raw[8:]
    assert parse_image_header(bad) is None
    # RATIONAL-typed width is outside the SHORT/LONG contract
    bad2 = bytearray(raw)
    bad2[12] = 5  # type field of the first entry
    assert parse_image_header(bytes(bad2)) is None


def test_webp_all_three_layouts():
    assert parse_image_header(encode_test_webp("vp8", 320, 240)) == (
        "webp", 320, 240,
    )
    assert parse_image_header(encode_test_webp("vp8l", 1, 16383)) == (
        "webp", 1, 16383,
    )
    assert parse_image_header(encode_test_webp("vp8x", 4096, 2160)) == (
        "webp", 4096, 2160,
    )


def test_webp_rejects_malformed():
    raw = encode_test_webp("vp8", 10, 10)
    assert parse_image_header(raw[:16]) is None
    bad = bytearray(raw)
    bad[23] = 0x00  # break the keyframe start code
    assert parse_image_header(bytes(bad)) is None
    lossless = bytearray(encode_test_webp("vp8l", 10, 10))
    lossless[20] = 0x30  # break the VP8L signature byte
    assert parse_image_header(bytes(lossless)) is None


def test_riff_prefix_routing_is_unambiguous():
    # three RIFF containers must land in their own parsers
    assert parse_image_header(encode_test_webp("vp8", 8, 8))[0] == "webp"
    assert parse_image_header(encode_test_avi(40_000, 25, 320, 240)) is None
    assert parse_video_header(encode_test_avi(40_000, 25, 320, 240))[0] == "avi"
    assert parse_video_header(encode_test_wav(1, 8000, 16, 4)) is None


def test_avi_roundtrip_and_duration_units():
    got = parse_avi_header(encode_test_avi(40_000, 250, 1920, 1080, streams=2))
    # 250 frames at 40ms each = 10s = 10_000_000 microsecond ticks
    assert got == ("avi", 1_000_000, 10_000_000, 1920, 1080, 2)


def test_avi_rejects_malformed():
    raw = encode_test_avi(40_000, 25, 320, 240)
    assert parse_avi_header(raw[:20]) is None
    assert parse_avi_header(b"RIFF\x04\x00\x00\x00WAVE") is None
    zero = encode_test_avi(0, 25, 320, 240)  # usec/frame 0 is corrupt
    assert parse_avi_header(zero) is None


@pytest.fixture(scope="module")
def spark():
    from debgpt7_8_with_vectordb_spark.session import get_spark

    return get_spark(shuffle_partitions=4)


def test_video_stage_dispatch(spark):
    rows_in = [
        (1, encode_test_mp4(1000, 5000, 640, 360, n_tracks=1)),
        (2, encode_test_avi(33_333, 300, 1280, 720, streams=2)),
        (3, b"not a video"),
    ]
    df = spark.createDataFrame(rows_in, "doc_id long, payload binary")
    rows = {r["doc_id"]: r for r in decode_video_metadata(df).collect()}
    assert rows[1]["fmt"] == "mp4" and rows[1]["width"] == 640
    assert rows[2]["fmt"] == "avi" and rows[2]["timescale"] == 1_000_000
    assert rows[2]["duration"] == 33_333 * 300 and rows[2]["n_tracks"] == 2
    assert rows[3]["fmt"] is None


# --------------------------------------------------------- MKV / WebM


def _mkv_imports():
    from debgpt7_8_with_vectordb_spark.operators.multimodal import (
        encode_test_mkv,
        parse_mkv_header,
    )

    return encode_test_mkv, parse_mkv_header


def test_mkv_roundtrip_and_doctype_split():
    encode_test_mkv, parse_mkv_header = _mkv_imports()
    got = parse_mkv_header(
        encode_test_mkv("matroska", 1920, 1080, 1_000_000, 42_000, n_tracks=3)
    )
    # default 1ms ticks -> timescale 1000/s, duration in ticks
    assert got == ("mkv", 1000, 42_000, 1920, 1080, 3)
    assert parse_mkv_header(encode_test_mkv("webm", 640, 360))[0] == "webm"


def test_mkv_defaults_and_optional_duration():
    encode_test_mkv, parse_mkv_header = _mkv_imports()
    # omit TimestampScale -> spec default 1_000_000 ns
    got = parse_mkv_header(
        encode_test_mkv("matroska", 10, 10, ts_scale_ns=None, duration_ticks=5.4)
    )
    assert got == ("mkv", 1000, 5, 10, 10, 1)
    # omit Duration -> None ticks, still a recognized video
    got2 = parse_mkv_header(
        encode_test_mkv("matroska", 10, 10, duration_ticks=None)
    )
    assert got2 == ("mkv", 1000, None, 10, 10, 1)
    # non-default scale: 33ms ticks -> about 30 ticks/s
    got3 = parse_mkv_header(
        encode_test_mkv("matroska", 10, 10, ts_scale_ns=33_000_000)
    )
    assert got3[1] == 30


def test_mkv_streamed_unknown_size_segment():
    encode_test_mkv, parse_mkv_header = _mkv_imports()
    raw = encode_test_mkv("webm", 320, 240, streamed=True)
    assert b"\x18\x53\x80\x67\xff" in raw  # unknown-size marker emitted
    assert parse_mkv_header(raw) == ("webm", 1000, 10_000, 320, 240, 1)


def test_mkv_rejects_malformed_and_videoless():
    encode_test_mkv, parse_mkv_header = _mkv_imports()
    raw = encode_test_mkv("matroska", 320, 240)
    assert parse_mkv_header(raw[:10]) is None
    assert parse_mkv_header(b"\x1aE\xdf\xa3") is None
    # a Segment whose only track has no Video element is not a video
    audio_only = raw.replace(b"\xb0", b"\xb1", 1)  # break PixelWidth id
    assert parse_mkv_header(audio_only) is None


def test_video_dispatch_covers_mkv(spark):
    from debgpt7_8_with_vectordb_spark.operators.multimodal import (
        encode_test_mkv,
        parse_video_header,
    )

    assert parse_video_header(encode_test_mkv("webm", 64, 48))[0] == "webm"


# ---------------------------------------------------------------------------
# mp4 / bmp: malformed boxes must yield None, never an exception
# ---------------------------------------------------------------------------


def _box(tag: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + tag + body


def test_mp4_short_v1_mvhd_body_is_skipped_not_misread():
    """A version-1 mvhd whose body is 28-31 bytes (v1 needs 32) used to
    pass the >=28 guard and read duration past the box end — struct
    error at EOF or a silent misread mid-file. Now it is skipped."""
    for body_len in (20, 28, 30, 31):
        mvhd = (b"\x01" + b"\x00" * (body_len - 1))
        blob = _box(b"ftyp", b"isom\x00\x00\x02\x00") + _box(
            b"moov", _box(b"mvhd", mvhd)
        )
        assert parse_mp4_header(blob) is None  # no timescale recovered
    # exactly 32 bytes parses fine
    mvhd32 = (
        b"\x01\x00\x00\x00" + struct.pack(">QQ", 0, 0)
        + struct.pack(">I", 48000) + struct.pack(">Q", 7)
    )
    blob = _box(b"ftyp", b"isom\x00\x00\x02\x00") + _box(
        b"moov", _box(b"mvhd", mvhd32)
    )
    assert parse_mp4_header(blob) == ("mp4", 48000, 7, 0, 0, 0)


def test_mp4_empty_tkhd_body_at_eof_no_indexerror():
    """`ver = payload[b3]` on an EMPTY tkhd body used to IndexError when
    the box ended the file; now the short body is skipped and the trak
    still counts."""
    mvhd = (
        b"\x00\x00\x00\x00" + struct.pack(">II", 0, 0)
        + struct.pack(">II", 1000, 5000)
    )
    trak = _box(b"trak", _box(b"tkhd", b""))
    blob = _box(b"ftyp", b"isom\x00\x00\x02\x00") + _box(
        b"moov", _box(b"mvhd", mvhd) + trak
    )
    assert parse_mp4_header(blob) == ("mp4", 1000, 5000, 0, 0, 1)


def test_bmp_negative_width_returns_none():
    """Negative int32 height is legal (top-down rows, abs()-normalized);
    negative or zero width is corrupt and must NOT leak into the
    metadata table where dimension filters would mis-handle it."""
    def bmp(w: int, h: int) -> bytes:
        info = struct.pack("<Iii", 40, w, h) + b"\x00" * 28
        return b"BM" + struct.pack("<IHHI", 54, 0, 0, 54) + info

    assert parse_image_header(bmp(-3, 2)) is None
    assert parse_image_header(bmp(0, 2)) is None
    assert parse_image_header(bmp(3, -2)) == ("bmp", 3, 2)


def test_parse_or_none_fences_any_parser_exception():
    """The decode stages route every per-payload parse through
    _parse_or_none: one malformed file yields a NULL row instead of a
    struct.error that kills the whole Spark task."""

    def explode(payload: bytes):
        raise struct.error("boom")

    assert _parse_or_none(explode, b"x") is None
    for parser in (parse_image_header, parse_wav_header, parse_mp4_header):
        # deterministic byte-noise sweep: no exception escapes the fence
        import random

        rng = random.Random(6)
        for n in (0, 1, 7, 64, 300):
            blob = bytes(rng.randrange(256) for _ in range(n))
            _parse_or_none(parser, blob)  # must not raise
            # prefix-truncations of valid-ish magic starts
            _parse_or_none(parser, b"\x89PNG\r\n\x1a\n" + blob)
            _parse_or_none(parser, b"RIFF" + blob)
            _parse_or_none(parser, struct.pack(">I", 20) + b"ftyp" + blob)


def test_decode_video_metadata_survives_malformed_payload(spark):
    """End-to-end through the Spark seam: the short-v1-mvhd payload that
    used to raise now comes back as a NULL-metadata row alongside good
    rows in the same Arrow batch."""
    from debgpt7_8_with_vectordb_spark.operators.multimodal import (
        decode_video_metadata,
        encode_test_mp4,
    )

    bad = _box(b"ftyp", b"isom\x00\x00\x02\x00") + _box(
        b"moov", _box(b"mvhd", b"\x01" + b"\x00" * 29)
    )
    rows = [
        (1, bytearray(encode_test_mp4(90000, 270000, 1280, 720, 1)), "video/mp4"),
        (2, bytearray(bad), "video/mp4"),
    ]
    media = spark.createDataFrame(
        rows, "doc_id long, payload binary, media_type string"
    )
    got = {r["doc_id"]: r["fmt"] for r in decode_video_metadata(media).collect()}
    assert got == {1: "mp4", 2: None}
