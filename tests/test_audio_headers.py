"""Audio metadata breadth (operators/audio_headers.py): MP3 frame walk,
FLAC STREAMINFO, Ogg Vorbis/Opus — writer/parser round-trips (writers
build fixtures forward from the specs, independent of the parsers),
hand-computed golden pins, NULL-on-malformed, and the Spark
``decode_audio_metadata`` dispatch over a mixed-container corpus."""

from __future__ import annotations

import struct

import pytest

from debgpt7_8_with_vectordb_spark.operators.audio_headers import (
    encode_test_flac,
    parse_audio_header,
    parse_flac_header,
    parse_mp3_header,
    parse_ogg_header,
)
from debgpt7_8_with_vectordb_spark.operators.multimodal import (
    decode_audio_metadata,
    encode_test_wav,
)
from tests.media_fixtures import encode_test_mp3, encode_test_ogg


def test_mp3_cbr_roundtrip_mpeg1():
    raw = encode_test_mp3(2, 44100, n_frames=7, bitrate_kbps=128)
    assert parse_mp3_header(raw) == ("mp3", 2, 44100, None, 7 * 1152)
    # hand-computed frame size pin: 1152/8 * 128000 / 44100 = 417 bytes
    assert len(raw) == 7 * 417
    assert raw[0] == 0xFF and (raw[1] & 0xE0) == 0xE0


def test_mp3_mpeg2_mono_and_padding():
    raw = encode_test_mp3(1, 22050, n_frames=5, bitrate_kbps=64, pad_every=2)
    got = parse_mp3_header(raw)
    # MPEG-2 layer III: 576 samples per frame
    assert got == ("mp3", 1, 22050, None, 5 * 576)


def test_mp3_id3v2_tag_skip():
    raw = encode_test_mp3(2, 48000, n_frames=3, bitrate_kbps=192, with_id3=True)
    assert raw[:3] == b"ID3"
    assert parse_mp3_header(raw) == ("mp3", 2, 48000, None, 3 * 1152)


def test_mp3_rejects_desync_and_lone_sync():
    raw = encode_test_mp3(2, 44100, n_frames=4)
    # truncated FINAL frame is tolerated (wild-corpus reality) but its
    # samples are dropped
    assert parse_mp3_header(raw[: len(raw) - 10]) == (
        "mp3", 2, 44100, None, 3 * 1152,
    )
    # desync at a frame boundary (garbage between frames) is corrupt
    assert parse_mp3_header(raw[:417] + b"junk" + raw[417:]) is None
    assert parse_mp3_header(b"\xff\xe0\x00\x00" + b"x" * 50) is None
    assert parse_mp3_header(b"") is None
    # free-format (bitrate index 0) honestly refused
    free = bytearray(raw)
    free[2] &= 0x0F
    assert parse_mp3_header(bytes(free)) is None


def test_flac_streaminfo_roundtrip_and_golden():
    raw = encode_test_flac(2, 44100, 16, 1_000_000)
    assert parse_flac_header(raw) == ("flac", 2, 44100, 16, 1_000_000)
    # golden bit-layout pin: rate<<44 | (ch-1)<<41 | (bits-1)<<36 | total
    packed = int.from_bytes(raw[8 + 10 : 8 + 18], "big")
    assert packed == (44100 << 44) | (1 << 41) | (15 << 36) | 1_000_000
    # 8-channel 24-bit corner
    assert parse_flac_header(encode_test_flac(8, 96000, 24, 7)) == (
        "flac", 8, 96000, 24, 7,
    )


def test_flac_rejects_malformed():
    raw = encode_test_flac(2, 44100, 16, 10)
    assert parse_flac_header(raw[:20]) is None
    assert parse_flac_header(b"fLaX" + raw[4:]) is None
    zero_rate = encode_test_flac(2, 1, 16, 10)  # rate 1 valid...
    assert parse_flac_header(zero_rate) is not None
    bad = bytearray(raw)
    bad[4] = (bad[4] & 0x80) | 0x03  # first block not STREAMINFO
    assert parse_flac_header(bytes(bad)) is None


def test_ogg_vorbis_roundtrip():
    raw = encode_test_ogg("vorbis", 2, 44100, total_granule=88200)
    assert parse_ogg_header(raw) == ("vorbis", 2, 44100, None, 88200)


def test_ogg_opus_roundtrip_is_48khz_clock():
    raw = encode_test_ogg("opus", 1, 16000, total_granule=96000)
    # Opus granules tick at 48 kHz regardless of the input rate field
    assert parse_ogg_header(raw) == ("opus", 1, 48000, None, 96000)


def test_ogg_rejects_malformed():
    raw = encode_test_ogg("vorbis", 2, 44100, 1000)
    assert parse_ogg_header(raw[:10]) is None
    assert parse_ogg_header(b"OggS\x01" + raw[5:]) is None  # bad version
    bad = bytearray(raw)
    bad[28:35] = b"\x02vorbis"  # not an identification header
    assert parse_ogg_header(bytes(bad)) is None


def test_dispatch_covers_all_containers():
    wav = encode_test_wav(2, 8000, 16, 100)
    assert parse_audio_header(wav) == ("wav", 2, 8000, 16, 100)
    assert parse_audio_header(encode_test_mp3(2, 44100, 2))[0] == "mp3"
    assert parse_audio_header(encode_test_flac(1, 22050, 8, 50))[0] == "flac"
    assert parse_audio_header(encode_test_ogg("opus", 2, 48000, 10))[0] == "opus"
    assert parse_audio_header(b"plain text document") is None


@pytest.fixture(scope="module")
def spark():
    from debgpt7_8_with_vectordb_spark.session import get_spark

    return get_spark(shuffle_partitions=4)


def test_spark_stage_mixed_corpus(spark):
    payloads = [
        (1, encode_test_wav(1, 16000, 16, 320)),
        (2, encode_test_mp3(2, 44100, 4, 128)),
        (3, encode_test_flac(2, 48000, 24, 4800)),
        (4, encode_test_ogg("vorbis", 1, 22050, 11025)),
        (5, encode_test_ogg("opus", 2, 48000, 9600)),
        (6, b"not audio at all"),
        (7, None),
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    rows = {
        r["doc_id"]: r for r in decode_audio_metadata(df).collect()
    }
    assert rows[1]["fmt"] == "wav" and rows[1]["n_samples"] == 320
    assert rows[2]["fmt"] == "mp3" and rows[2]["sample_rate"] == 44100
    assert rows[2]["bits"] is None and rows[2]["n_samples"] == 4 * 1152
    assert rows[3]["fmt"] == "flac" and rows[3]["bits"] == 24
    assert rows[4]["fmt"] == "vorbis" and rows[4]["n_samples"] == 11025
    assert rows[5]["fmt"] == "opus" and rows[5]["sample_rate"] == 48000
    assert rows[6]["fmt"] is None and rows[7]["fmt"] is None


# ------------------------------------------------------- AIFF / AU


def test_aiff_roundtrip_and_f80_rate():
    from debgpt7_8_with_vectordb_spark.operators.audio_headers import (
        encode_test_aiff,
        parse_aiff_header,
    )

    samples = [i * 7 % 251 - 125 for i in range(400)]
    raw = encode_test_aiff(2, 44100, 16, samples)
    assert parse_aiff_header(raw) == ("aiff", 2, 44100, 16, 400)
    assert parse_aiff_header(raw[:20]) is None
    assert parse_aiff_header(b"FORMxxxxWAVE") is None


def test_au_roundtrip_and_edge():
    from debgpt7_8_with_vectordb_spark.operators.audio_headers import (
        encode_test_au,
        parse_au_header,
    )

    samples = [i * 13 % 1999 - 999 for i in range(300)]
    raw = encode_test_au(2, 16000, 16, samples)
    assert parse_au_header(raw) == ("au", 2, 16000, 16, 300)
    # unknown-size convention (0xFFFFFFFF)
    import struct as _s

    unk = raw[:8] + _s.pack(">I", 0xFFFFFFFF) + raw[12:]
    assert parse_au_header(unk) == ("au", 2, 16000, 16, 300)
    # mu-law (encoding 1): metadata real, bits/samples None
    mulaw = raw[:12] + _s.pack(">I", 1) + raw[16:]
    assert parse_au_header(mulaw) == ("au", 2, 16000, None, None)
    assert parse_au_header(b".sndshort") is None


def test_aiff_au_through_stage_dispatch(spark):
    from debgpt7_8_with_vectordb_spark.operators.audio_headers import (
        encode_test_aiff,
        encode_test_au,
    )
    aiff = encode_test_aiff(1, 22050, 16, list(range(-50, 50)))
    au = encode_test_au(1, 8000, 8, [0, 1, -1, 127, -128])
    df = spark.createDataFrame(
        [(1, aiff), (2, au)], "doc_id long, payload binary"
    )
    rows = {r["doc_id"]: r for r in decode_audio_metadata(df).collect()}
    assert rows[1]["fmt"] == "aiff" and rows[1]["sample_rate"] == 22050
    assert rows[2]["fmt"] == "au" and rows[2]["bits"] == 8
