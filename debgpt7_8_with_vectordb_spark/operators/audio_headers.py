"""Zero-dependency audio METADATA decode beyond WAV: MP3, FLAC, Ogg.

The curation pattern is the same as the image side: filter a 100 TB
media corpus by (sample rate, channels, duration) BEFORE paying sample
decode. These containers' metadata is pure struct/bit layout:

- MP3 (MPEG-1/2/2.5 Layer I-III): ID3v2 tag skip (syncsafe size), frame
  sync walk with the spec bitrate/sample-rate tables; n_samples =
  samples-per-frame x frame count (exact for CBR and VBR alike since we
  walk every frame header — linear in payload size, same cost class as
  any decode pass).
- FLAC: "fLaC" magic + STREAMINFO block (bit-packed sample rate /
  channels / bits / total samples).
- Ogg: page header + first-packet codec id (Vorbis "\\x01vorbis" or
  Opus "OpusHead"); duration from the LAST page's granule position
  (PCM samples for Vorbis, 48 kHz ticks for Opus).

All parsers return the ``AUDIO_SCHEMA`` tuple shape
``(fmt, channels, sample_rate, bits, n_samples)`` with None for fields
the container does not carry (bits for lossy codecs), or None for
unrecognized/truncated bytes. Sample decode is out of scope: the
metadata is all a curation filter reads.

The ``encode_test_*`` writers (the FLAC/AIFF/AU ones here feed the
oracled ``audio_metadata`` query; the MP3/Ogg ones live in
``tests/media_fixtures.py``) build valid fixtures forward from the
specs, independent of the parsers, so round-trip tests are two
implementations agreeing.
"""

from __future__ import annotations

import struct

# MPEG audio bitrate tables, kbps; index 0 = "free", 15 = invalid.
_MP3_BITRATES = {
    # (version_group, layer): 14 usable entries
    (1, 1): (32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    (1, 2): (32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    (1, 3): (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    (2, 1): (32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    (2, 2): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    (2, 3): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
_MP3_RATES = {
    3: (44100, 48000, 32000),  # MPEG-1
    2: (22050, 24000, 16000),  # MPEG-2
    0: (11025, 12000, 8000),  # MPEG-2.5
}


def _mp3_frame(payload: bytes, pos: int):
    """Parse one MPEG audio frame header at pos. Returns
    (frame_bytes, channels, sample_rate, samples_per_frame) or None."""
    if pos + 4 > len(payload):
        return None
    b1, b2, b3, b4 = payload[pos : pos + 4]
    if b1 != 0xFF or (b2 & 0xE0) != 0xE0:
        return None
    version_id = (b2 >> 3) & 3  # 0=2.5, 1=reserved, 2=MPEG-2, 3=MPEG-1
    layer_id = (b2 >> 1) & 3  # 1=III, 2=II, 3=I
    if version_id == 1 or layer_id == 0:
        return None
    layer = 4 - layer_id  # 1, 2, 3
    vgroup = 1 if version_id == 3 else 2
    br_idx = (b3 >> 4) & 15
    sr_idx = (b3 >> 2) & 3
    if br_idx in (0, 15) or sr_idx == 3:
        return None  # free-format unsupported / invalid
    bitrate = _MP3_BITRATES[(vgroup, layer)][br_idx - 1] * 1000
    rate = _MP3_RATES[version_id][sr_idx]
    padding = (b3 >> 1) & 1
    channels = 1 if ((b4 >> 6) & 3) == 3 else 2
    if layer == 1:
        spf = 384
        size = (12 * bitrate // rate + padding) * 4
    else:
        spf = 1152 if (layer == 2 or vgroup == 1) else 576  # MPEG-2 L3
        size = spf // 8 * bitrate // rate + padding
    if size < 4:
        return None
    return size, channels, rate, spf


def parse_mp3_header(payload: bytes):
    """Walk every MPEG audio frame. Returns ("mp3", channels,
    sample_rate, None, n_samples) or None. Requires >= 2 coherent
    frames (or 1 frame filling the remainder) so random bytes that
    happen to contain a sync pattern don't classify as audio; a
    truncated FINAL frame is tolerated (routine in scraped corpora)
    with its samples dropped, but desync at a frame boundary is
    corrupt."""
    pos = 0
    n = len(payload)
    if n >= 10 and payload[:3] == b"ID3":
        size = 0  # ID3v2 syncsafe 28-bit length
        for b in payload[6:10]:
            if b & 0x80:
                return None
            size = (size << 7) | b
        pos = 10 + size
    first = _mp3_frame(payload, pos)
    if first is None:
        return None
    channels, rate = first[1], first[2]
    frames = 0
    samples = 0
    while pos < n:
        f = _mp3_frame(payload, pos)
        if f is None:
            return None  # desync at a frame boundary: corrupt
        if (f[1], f[2]) != (channels, rate):
            return None  # CBR/VBR streams keep rate+mode constant
        if pos + f[0] > n:
            break  # truncated FINAL frame: tolerated, samples dropped
        frames += 1
        samples += f[3]
        pos += f[0]
    if frames == 0 or (frames == 1 and pos != n):
        return None  # a lone sync pattern in random bytes is not audio
    return "mp3", channels, rate, None, samples


def parse_flac_header(payload: bytes):
    """"fLaC" + STREAMINFO (mandatory first metadata block): returns
    ("flac", channels, sample_rate, bits, total_samples) or None."""
    if len(payload) < 42 or payload[:4] != b"fLaC":
        return None
    btype = payload[4] & 0x7F
    (blen,) = struct.unpack(">I", b"\x00" + payload[5:8])
    if btype != 0 or blen < 34 or len(payload) < 8 + 34:
        return None
    body = payload[8 : 8 + 34]
    # bytes 10..17: 20-bit rate | 3-bit channels-1 | 5-bit bits-1 | 36-bit samples
    packed = int.from_bytes(body[10:18], "big")
    total = packed & ((1 << 36) - 1)
    bits = ((packed >> 36) & 0x1F) + 1
    channels = ((packed >> 41) & 0x07) + 1
    rate = (packed >> 44) & ((1 << 20) - 1)
    if not rate:
        return None
    return "flac", channels, rate, bits, total


def _ogg_page(payload: bytes, pos: int):
    """Returns (page_total_bytes, granule, body_start, body_len) or None."""
    if pos + 27 > len(payload) or payload[pos : pos + 4] != b"OggS":
        return None
    if payload[pos + 4] != 0:
        return None  # stream structure version
    (granule,) = struct.unpack("<q", payload[pos + 6 : pos + 14])
    nseg = payload[pos + 26]
    if pos + 27 + nseg > len(payload):
        return None
    body_len = sum(payload[pos + 27 : pos + 27 + nseg])
    total = 27 + nseg + body_len
    if pos + total > len(payload):
        return None
    return total, granule, pos + 27 + nseg, body_len


def parse_ogg_header(payload: bytes):
    """Ogg container with a Vorbis or Opus stream: identification
    header gives channels + sample rate; the final page's granule
    position gives n_samples (Vorbis: PCM samples at the stream rate;
    Opus: 48 kHz ticks regardless of input rate — reported as-is with
    fmt "opus" so downstream duration math divides by the right rate).
    Returns (fmt, channels, sample_rate, None, n_samples) or None."""
    first = _ogg_page(payload, 0)
    if first is None:
        return None
    _, _, body_start, body_len = first
    body = payload[body_start : body_start + body_len]
    if body[:7] == b"\x01vorbis" and body_len >= 30:
        if struct.unpack("<I", body[7:11])[0] != 0:
            return None  # vorbis_version must be 0
        channels = body[11]
        (rate,) = struct.unpack("<I", body[12:16])
        fmt = "vorbis"
    elif body[:8] == b"OpusHead" and body_len >= 19:
        channels = body[9]
        rate = 48000  # Opus granules and output clock are always 48 kHz
        fmt = "opus"
    else:
        return None
    if not channels or not rate:
        return None
    # walk pages to the last granule (linear, like the MP3 frame walk)
    pos = 0
    granule = 0
    while pos < len(payload):
        page = _ogg_page(payload, pos)
        if page is None:
            return None
        if page[1] >= 0:  # -1 marks a page with no completed packet
            granule = page[1]
        pos += page[0]
    return fmt, channels, rate, None, granule


def _f80_to_int(b: bytes) -> int:
    """IEEE 754 80-bit extended float -> int (AIFF stores the sample
    rate this way). Enough precision for any real audio rate."""
    exp = int.from_bytes(b[:2], "big") & 0x7FFF
    mant = int.from_bytes(b[2:10], "big")
    if exp == 0 and mant == 0:
        return 0
    shift = exp - 16383 - 63
    return mant << shift if shift >= 0 else mant >> -shift


def parse_aiff_header(payload: bytes):
    """AIFF / AIFF-C: big-endian IFF 'FORM' walk to the COMM chunk
    (channels, frame count, bits, 80-bit-float rate). AIFF-C with a
    non-PCM compression type still reports its metadata; returns the
    AUDIO_SCHEMA tuple or None."""
    if len(payload) < 12 or payload[:4] != b"FORM":
        return None
    form = payload[8:12]
    if form not in (b"AIFF", b"AIFC"):
        return None
    pos, n = 12, len(payload)
    while pos + 8 <= n:
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack(">I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if tag == b"COMM" and len(body) >= 18:
            channels, frames = struct.unpack(">HI", body[:6])
            (bits,) = struct.unpack(">H", body[6:8])
            rate = _f80_to_int(body[8:18])
            if not channels or not rate:
                return None
            return "aiff", int(channels), rate, int(bits), int(frames) * channels
        pos += 8 + size + (size & 1)  # IFF chunks are word-aligned
    return None


_AU_ENCODINGS = {2: 8, 3: 16, 4: 24, 5: 32}  # linear PCM encodings -> bits


def parse_au_header(payload: bytes):
    """Sun/NeXT .au/.snd: fixed big-endian header ('.snd', data offset,
    data size, encoding, rate, channels). Linear-PCM encodings report
    bits; mu-law/A-law/float report None bits (metadata still real)."""
    if len(payload) < 24 or payload[:4] != b".snd":
        return None
    off, size, enc, rate, channels = struct.unpack(">5I", payload[4:24])
    if not channels or not rate or off < 24:
        return None
    bits = _AU_ENCODINGS.get(enc)
    if size == 0xFFFFFFFF:  # unknown-size convention
        size = max(0, len(payload) - off)
    n_samples = size // (bits // 8) if bits else None
    return "au", int(channels), int(rate), bits, n_samples


def encode_test_aiff(
    channels: int, rate: int, bits: int, samples
) -> bytes:
    """Forward AIFF writer (spec-independent fixture): COMM + SSND."""
    frames = len(samples) // channels
    if bits == 16:
        data = struct.pack(f">{len(samples)}h", *samples)
    else:
        data = struct.pack(f"{len(samples)}b", *samples)
    # 80-bit float rate: normalize mantissa to the top bit
    exp = rate.bit_length() - 1
    mant = rate << (63 - exp)
    f80 = struct.pack(">H", 16383 + exp) + mant.to_bytes(8, "big")
    comm = struct.pack(">HIH", channels, frames, bits) + f80
    ssnd = struct.pack(">II", 0, 0) + data
    body = (
        b"AIFF"
        + b"COMM" + struct.pack(">I", len(comm)) + comm
        + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd
    )
    return b"FORM" + struct.pack(">I", len(body)) + body


def encode_test_au(channels: int, rate: int, bits: int, samples) -> bytes:
    """Forward .au writer: 24-byte header + big-endian PCM."""
    if bits == 16:
        data = struct.pack(f">{len(samples)}h", *samples)
    else:
        data = struct.pack(f"{len(samples)}b", *samples)
    enc = {8: 2, 16: 3}[bits]
    return (
        b".snd" + struct.pack(">5I", 24, len(data), enc, rate, channels) + data
    )


def parse_audio_header(payload: bytes):
    """Container dispatch for the audio metadata stage: WAV (RIFF walk
    in ``multimodal.parse_wav_header``), MP3, FLAC, Ogg Vorbis/Opus,
    AIFF/AIFF-C, Sun .au. Returns the AUDIO_SCHEMA tuple or None."""
    if payload[:4] == b"RIFF":
        from .multimodal import parse_wav_header

        w = parse_wav_header(payload)
        return w if w is None else (w[0], w[1], w[2], w[3], w[4])
    if payload[:4] == b"fLaC":
        return parse_flac_header(payload)
    if payload[:4] == b"OggS":
        return parse_ogg_header(payload)
    if payload[:4] == b"FORM":
        return parse_aiff_header(payload)
    if payload[:4] == b".snd":
        return parse_au_header(payload)
    if payload[:3] == b"ID3" or (
        len(payload) >= 2 and payload[0] == 0xFF and (payload[1] & 0xE0) == 0xE0
    ):
        return parse_mp3_header(payload)
    return None


# ------------------------------------------------------------- writers


def encode_test_flac(
    channels: int, sample_rate: int, bits: int, total_samples: int
) -> bytes:
    """"fLaC" + last-metadata STREAMINFO block (no audio frames —
    header-only fixture, the parser never reads past STREAMINFO)."""
    packed = (
        (sample_rate << 44)
        | ((channels - 1) << 41)
        | ((bits - 1) << 36)
        | total_samples
    )
    # 16+16 blocksize, 24+24 framesize, then the packed 64-bit field
    body = (
        struct.pack(">HH", 4096, 4096)
        + b"\x00\x00\x00" * 2  # min/max framesize unknown
        + packed.to_bytes(8, "big")
        + b"\x00" * 16  # md5 of unencoded audio
    )
    return b"fLaC" + bytes([0x80]) + len(body).to_bytes(3, "big") + body
