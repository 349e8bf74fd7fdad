"""Forward fixture encoders for the media decoder tests.

Each writer builds valid input bytes forward from the format spec,
independent of the package's decoder, so a round-trip test is two
implementations agreeing. None of this is reachable from a query; it
exists only to feed the decoders under test.
"""

from __future__ import annotations

import struct

from debgpt7_8_with_vectordb_spark.operators.audio_headers import (
    _MP3_BITRATES,
    _MP3_RATES,
)
from debgpt7_8_with_vectordb_spark.operators.jpegcodec import ZIGZAG, _dct_matrix


def pattern_px(x: int, y: int, c: int, seed: int) -> int:
    """The deterministic test-pixel pattern the patterned writers and
    the SQL oracle share (``multimodal._pattern_rgb_array``)."""
    return (x + 7 * y + 11 * c + seed) % 256


# ---------------------------------------------------------------- JPEG
#
# Baseline and progressive encoders: RGB->YCbCr (JFIF), optional 2x2
# box-filter chroma subsample, FDCT, Annex-K quantization tables scaled
# by the libjpeg quality formula, zigzag, DC-differential + run-length
# AC Huffman coding, 0xFF byte stuffing, optional restart markers; the
# progressive encoder emits either a spectral-selection-only script or
# the full successive-approximation progression (G.1.2.3 emit ordering
# for refinement correction bits and EOB runs). The Huffman tables are
# canonical two-length tables built here rather than the Annex-K
# defaults — valid per spec, deliberately non-standard so the decoder's
# canonical code construction is exercised on tables it has never seen.

# Annex K.1 quantization tables, natural (row-major) order
QUANT_LUMA = (
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
)
QUANT_CHROMA = (
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
)

# Encoder-side canonical Huffman tables (NOT Annex K — see above).
# DC: 12 category symbols split over lengths 3/4/5; AC: all 256 RRRRSSSS
# symbols over lengths 8/9. Both satisfy the canonical-code constraint
# (never reach the all-ones code of the longest length).
_ENC_DC_BITS = (0, 0, 4, 7, 1, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
_ENC_DC_VALS = tuple(range(12))
_ENC_AC_BITS = (0, 0, 0, 0, 0, 0, 0, 128, 128, 0, 0, 0, 0, 0, 0, 0)
_ENC_AC_VALS = tuple(range(256))
# distinct shapes for table-id 1 so multi-table routing is exercised
# (a BITS count is one byte, so 256 symbols must span >= two lengths)
_ENC_DC1_BITS = (0, 0, 0, 12, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
_ENC_AC1_BITS = (0, 0, 0, 0, 0, 0, 0, 1, 255, 0, 0, 0, 0, 0, 0, 0)


def _scaled_quant(base, quality: int):
    """libjpeg quality scaling: 1..100 -> per-entry clamp to [1, 255]."""
    quality = min(100, max(1, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - quality * 2
    return [min(255, max(1, (b * scale + 50) // 100)) for b in base]


def _canonical_codes(bits, vals):
    """symbol -> (length, code) from the BITS/HUFFVAL lists (Annex C)."""
    out = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (length, code)
            k += 1
            code += 1
        code <<= 1
    return out


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        if not length:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # stuff so entropy data never forms a marker
                self.buf.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def pad_to_byte(self) -> None:
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)

    def marker(self, m: int) -> None:
        self.pad_to_byte()
        self.buf += bytes((0xFF, m))


def _encode_block(bw, zz, pred, dctab, actab) -> int:
    """Huffman-encode one quantized zigzag block; returns its DC value."""
    diff = zz[0] - pred
    t = int(diff).bit_length() if diff >= 0 else int(-diff).bit_length()
    length, code = dctab[t]
    bw.write(code, length)
    if t:
        bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            length, code = actab[0xF0]  # ZRL
            bw.write(code, length)
            run -= 16
        s = v.bit_length() if v > 0 else (-v).bit_length()
        length, code = actab[(run << 4) | s]
        bw.write(code, length)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if run:
        length, code = actab[0x00]  # EOB
        bw.write(code, length)
    return int(zz[0])


def _box2(plane):
    """2x2 box-filter downsample with edge replication to even dims."""
    import numpy as np

    h, w = plane.shape
    if h % 2:
        plane = np.vstack([plane, plane[-1:]])
    if w % 2:
        plane = np.hstack([plane, plane[:, -1:]])
    return (
        plane[0::2, 0::2] + plane[0::2, 1::2]
        + plane[1::2, 0::2] + plane[1::2, 1::2]
    ) / 4.0


def _prepare_components(
    width: int,
    height: int,
    pixels: bytes,
    channels: int,
    quality: int,
    subsample: bool,
):
    """Shared forward-transform front end: color convert, optional 2x2
    chroma downsample, pad to the MCU block grid, FDCT, quantize,
    zigzag. Returns (comp_meta, quantized, qluma, qchroma, mcux, mcuy)
    where comp_meta = [(hi, vi, tq), ...] and quantized[i] is an
    (pbh, pbw, 64) int32 array of zigzag-ordered blocks."""
    import numpy as np

    if channels not in (1, 3):
        raise ValueError("JPEG encoders here support 1 or 3 channels")
    arr = (
        np.frombuffer(pixels, dtype=np.uint8, count=width * height * channels)
        .reshape(height, width, channels)
        .astype(np.float64)
    )
    qluma = _scaled_quant(QUANT_LUMA, quality)
    qchroma = _scaled_quant(QUANT_CHROMA, quality)
    if channels == 3:
        r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        if subsample:
            comps = [(y, 2, 2, 0), (_box2(cb), 1, 1, 1), (_box2(cr), 1, 1, 1)]
        else:
            comps = [(y, 1, 1, 0), (cb, 1, 1, 1), (cr, 1, 1, 1)]
    else:
        comps = [(arr[..., 0], 1, 1, 0)]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    cmat = _dct_matrix()
    qtabs = (
        np.asarray(qluma, dtype=np.float64).reshape(8, 8),
        np.asarray(qchroma, dtype=np.float64).reshape(8, 8),
    )
    zz = np.asarray(ZIGZAG)
    quantized = []
    for plane, hi, vi, tq in comps:
        pw, ph = 8 * mcux * hi, 8 * mcuy * vi
        plane = np.pad(
            plane,
            ((0, ph - plane.shape[0]), (0, pw - plane.shape[1])),
            mode="edge",
        )
        blocks = (
            plane.reshape(ph // 8, 8, pw // 8, 8).transpose(0, 2, 1, 3) - 128.0
        )
        coefs = np.einsum("ux,ijxy,vy->ijuv", cmat, blocks, cmat)
        q = np.rint(coefs / qtabs[tq]).astype(np.int32)
        quantized.append(q.reshape(ph // 8, pw // 8, 64)[:, :, zz])
    return [(hi, vi, tq) for _, hi, vi, tq in comps], quantized, qluma, qchroma, mcux, mcuy


def encode_jpeg_baseline(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 3,
    quality: int = 90,
    subsample: bool = False,
    restart_interval: int = 0,
    exif: bytes | None = None,
) -> bytes:
    """Encode interleaved top-down RGB (channels=3) or grayscale
    (channels=1) bytes as a baseline sequential JFIF file. ``subsample``
    emits 4:2:0 (Y at 2x2, chroma at 1x1); otherwise 4:4:4. ``exif``
    embeds a pre-built APP1 body the decoder must skip."""
    comps, quantized, qluma, qchroma, mcux, mcuy = _prepare_components(
        width, height, pixels, channels, quality, subsample
    )

    out = bytearray(b"\xff\xd8")
    out += (  # APP0 JFIF v1.1, no thumbnail
        b"\xff\xe0" + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00" + struct.pack(">HHBB", 1, 1, 0, 0)
    )
    if exif:
        out += b"\xff\xe1" + struct.pack(">H", len(exif) + 2) + exif

    def dqt(tq: int, table) -> bytes:
        body = bytes([tq]) + bytes(table[ZIGZAG[i]] for i in range(64))
        return b"\xff\xdb" + struct.pack(">H", len(body) + 2) + body

    def dht(tc: int, th: int, bits, vals) -> bytes:
        body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
        return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body

    out += dqt(0, qluma)
    sof = b"\x08" + struct.pack(">HH", height, width) + bytes([len(comps)])
    for idx, (hi, vi, tq) in enumerate(comps):
        sof += bytes([idx + 1, (hi << 4) | vi, tq])
    enc_dc = (_canonical_codes(_ENC_DC_BITS, _ENC_DC_VALS),)
    enc_ac = (_canonical_codes(_ENC_AC_BITS, _ENC_AC_VALS),)
    if channels == 3:
        out += dqt(1, qchroma)
        enc_dc += (_canonical_codes(_ENC_DC1_BITS, _ENC_DC_VALS),)
        enc_ac += (_canonical_codes(_ENC_AC1_BITS, _ENC_AC_VALS),)
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += dht(0, 0, _ENC_DC_BITS, _ENC_DC_VALS)
    out += dht(1, 0, _ENC_AC_BITS, _ENC_AC_VALS)
    if channels == 3:
        out += dht(0, 1, _ENC_DC1_BITS, _ENC_DC_VALS)
        out += dht(1, 1, _ENC_AC1_BITS, _ENC_AC_VALS)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([len(comps)])
    for idx, (_, _, tq) in enumerate(comps):
        sos += bytes([idx + 1, (tq << 4) | tq])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    bw = _BitWriter()
    preds = [0] * len(comps)
    rst = 0
    for m in range(mcux * mcuy):
        if restart_interval and m and m % restart_interval == 0:
            bw.marker(0xD0 + rst % 8)
            rst += 1
            preds = [0] * len(comps)
        my, mx = divmod(m, mcux)
        for ci, (hi, vi, tq) in enumerate(comps):
            for v in range(vi):
                for hh in range(hi):
                    blk = quantized[ci][my * vi + v, mx * hi + hh]
                    preds[ci] = _encode_block(
                        bw, blk, preds[ci], enc_dc[tq], enc_ac[tq]
                    )
    bw.pad_to_byte()
    out += bw.buf
    out += b"\xff\xd9"
    return bytes(out)


def _enc_dc_first(bw, dctab, dc: int, pred: int, al: int) -> int:
    """Progressive DC-first: category + magnitude bits of the
    point-transformed (arithmetic shift) DC differential."""
    val = dc >> al
    diff = val - pred
    t = diff.bit_length() if diff >= 0 else (-diff).bit_length()
    length, code = dctab[t]
    bw.write(code, length)
    if t:
        bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
    return val


def _emit_eobrun(bw, actab, n: int) -> None:
    """EOBn symbol for a run of n blocks: category floor(log2 n) +
    that many low-order bits of n (spec G.1.2.2)."""
    nbits = n.bit_length() - 1
    length, code = actab[nbits << 4]
    bw.write(code, length)
    if nbits:
        bw.write(n & ((1 << nbits) - 1), nbits)


def _enc_ac_first_block(bw, actab, zzblk, ss, se, al, eobrun) -> int:
    """Progressive AC-first for one block: run/size coding of the
    point-transformed band, EOB-run accumulation across blocks."""
    r = 0
    for k in range(ss, se + 1):
        t = int(zzblk[k])
        mag = (-t if t < 0 else t) >> al
        if mag == 0:
            r += 1
            continue
        if eobrun:
            _emit_eobrun(bw, actab, eobrun)
            eobrun = 0
        while r > 15:
            length, code = actab[0xF0]
            bw.write(code, length)
            r -= 16
        s = mag.bit_length()
        length, code = actab[(r << 4) | s]
        bw.write(code, length)
        bw.write(mag if t > 0 else (1 << s) - 1 - mag, s)
        r = 0
    if r:
        eobrun += 1
        if eobrun == 0x7FFF:
            _emit_eobrun(bw, actab, eobrun)
            eobrun = 0
    return eobrun


def _flush_eobrun_refine(bw, actab, st) -> None:
    """Emit the pending EOB run and the correction bits deferred with
    it (spec G.1.2.3 emit order: symbol, extra bits, buffered bits)."""
    if st["eobrun"] <= 0:
        return
    _emit_eobrun(bw, actab, st["eobrun"])
    st["eobrun"] = 0
    for b in st["bits"]:
        bw.write(b, 1)
    st["bits"] = []


def _enc_ac_refine_block(bw, actab, zzblk, ss, se, al, st) -> None:
    """Progressive AC-refinement for one block: correction bits for
    history coefficients ride after the next emitted symbol (or with
    the EOB run); newly-nonzero coefficients emit run/1 + sign. ZRLs
    are suppressed past the last newly-nonzero index so trailing
    history bits fold into the EOB run."""
    absv = []
    last_new = ss - 1
    for k in range(ss, se + 1):
        t = int(zzblk[k])
        mag = (-t if t < 0 else t) >> al
        absv.append(mag)
        if mag == 1:
            last_new = k
    r = 0
    pend = []  # correction bits since the last emitted symbol
    for k in range(ss, se + 1):
        mag = absv[k - ss]
        if mag == 0:
            r += 1
            continue
        while r > 15 and k <= last_new:
            _flush_eobrun_refine(bw, actab, st)
            length, code = actab[0xF0]
            bw.write(code, length)
            r -= 16
            for b in pend:
                bw.write(b, 1)
            pend = []
        if mag > 1:  # history coefficient: defer its correction bit
            pend.append(mag & 1)
            continue
        _flush_eobrun_refine(bw, actab, st)
        length, code = actab[(r << 4) | 1]
        bw.write(code, length)
        bw.write(0 if int(zzblk[k]) < 0 else 1, 1)
        for b in pend:
            bw.write(b, 1)
        pend = []
        r = 0
    if r > 0 or pend:
        st["eobrun"] += 1
        st["bits"].extend(pend)
        if st["eobrun"] == 0x7FFF:
            _flush_eobrun_refine(bw, actab, st)


def encode_jpeg_progressive(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 3,
    quality: int = 90,
    subsample: bool = False,
    spectral_only: bool = False,
) -> bytes:
    """Encode a progressive (SOF2) JFIF file carrying the SAME
    quantized coefficients as ``encode_jpeg_baseline`` at equal
    settings — decodes bit-identically to the baseline file, which is
    the round-trip oracle. Default script uses both spectral selection
    and successive approximation (DC 1+1 bits, AC 2-level refinement,
    libjpeg-style progression); ``spectral_only`` emits the simpler
    DC-then-AC-band script with no refinement scans."""
    comps, quantized, qluma, qchroma, mcux, mcuy = _prepare_components(
        width, height, pixels, channels, quality, subsample
    )
    hmax = max(c[0] for c in comps)
    vmax = max(c[1] for c in comps)
    grids = []  # non-interleaved (nbw, nbh) per component (spec A.2.2)
    for hi, vi, _ in comps:
        cw = -(-(width * hi) // hmax)
        ch = -(-(height * vi) // vmax)
        grids.append((-(-cw // 8), -(-ch // 8)))
    nc = len(comps)
    everyone = list(range(nc))
    if spectral_only:
        script = [(everyone, 0, 0, 0, 0)]
        script += [([ci], 1, 63, 0, 0) for ci in range(nc)]
    else:
        script = [(everyone, 0, 0, 0, 1)]
        script += [([ci], 1, 5, 0, 2) for ci in range(nc)]
        script += [([ci], 6, 63, 0, 2) for ci in range(nc)]
        script += [([ci], 1, 63, 2, 1) for ci in range(nc)]
        script += [(everyone, 0, 0, 1, 0)]
        script += [([ci], 1, 63, 1, 0) for ci in range(nc)]

    out = bytearray(b"\xff\xd8")
    out += (
        b"\xff\xe0" + struct.pack(">H", 16)
        + b"JFIF\x00\x01\x01\x00" + struct.pack(">HHBB", 1, 1, 0, 0)
    )

    def dqt(tq: int, table) -> bytes:
        body = bytes([tq]) + bytes(table[ZIGZAG[i]] for i in range(64))
        return b"\xff\xdb" + struct.pack(">H", len(body) + 2) + body

    def dht(tc: int, th: int, bits, vals) -> bytes:
        body = bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
        return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body

    out += dqt(0, qluma)
    sof = b"\x08" + struct.pack(">HH", height, width) + bytes([nc])
    for idx, (hi, vi, tq) in enumerate(comps):
        sof += bytes([idx + 1, (hi << 4) | vi, tq])
    enc_dc = (_canonical_codes(_ENC_DC_BITS, _ENC_DC_VALS),)
    enc_ac = (_canonical_codes(_ENC_AC_BITS, _ENC_AC_VALS),)
    if channels == 3:
        out += dqt(1, qchroma)
        enc_dc += (_canonical_codes(_ENC_DC1_BITS, _ENC_DC_VALS),)
        enc_ac += (_canonical_codes(_ENC_AC1_BITS, _ENC_AC_VALS),)
    out += b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof
    out += dht(0, 0, _ENC_DC_BITS, _ENC_DC_VALS)
    out += dht(1, 0, _ENC_AC_BITS, _ENC_AC_VALS)
    if channels == 3:
        out += dht(0, 1, _ENC_DC1_BITS, _ENC_DC_VALS)
        out += dht(1, 1, _ENC_AC1_BITS, _ENC_AC_VALS)

    for comp_list, ss, se, ah, al in script:
        sos = bytes([len(comp_list)])
        for ci in comp_list:
            tq = comps[ci][2]
            sos += bytes([ci + 1, (tq << 4) | tq])
        sos += bytes([ss, se, (ah << 4) | al])
        out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos
        bw = _BitWriter()
        if ss == 0 and len(comp_list) > 1:  # interleaved DC scan
            preds = [0] * nc
            for m in range(mcux * mcuy):
                my, mx = divmod(m, mcux)
                for ci in comp_list:
                    hi, vi, tq = comps[ci]
                    for v in range(vi):
                        for hh in range(hi):
                            blk = quantized[ci][my * vi + v, mx * hi + hh]
                            if ah == 0:
                                preds[ci] = _enc_dc_first(
                                    bw, enc_dc[tq], int(blk[0]), preds[ci], al
                                )
                            else:
                                bw.write((int(blk[0]) >> al) & 1, 1)
        else:  # non-interleaved: raster over the component's own grid
            ci = comp_list[0]
            hi, vi, tq = comps[ci]
            nbw, nbh = grids[ci]
            pred = 0
            eobrun = 0
            st = {"eobrun": 0, "bits": []}
            for m in range(nbw * nbh):
                my, mx = divmod(m, nbw)
                blk = quantized[ci][my, mx]
                if ss == 0:
                    if ah == 0:
                        pred = _enc_dc_first(bw, enc_dc[tq], int(blk[0]), pred, al)
                    else:
                        bw.write((int(blk[0]) >> al) & 1, 1)
                elif ah == 0:
                    eobrun = _enc_ac_first_block(
                        bw, enc_ac[tq], blk, ss, se, al, eobrun
                    )
                else:
                    _enc_ac_refine_block(bw, enc_ac[tq], blk, ss, se, al, st)
            if eobrun:
                _emit_eobrun(bw, enc_ac[tq], eobrun)
            _flush_eobrun_refine(bw, enc_ac[tq], st)
        bw.pad_to_byte()
        out += bw.buf
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------- TIFF


def encode_test_tiff_pixels(
    width: int,
    height: int,
    pixels: bytes,
    spp: int = 3,
    packbits: bool = False,
    big_endian: bool = False,
    rows_per_strip: int | None = None,
    white_is_zero: bool = False,
) -> bytes:
    """Forward TIFF writer (fixture oracle): strip-organized 8-bit
    chunky layout, optional PackBits compression (independent run
    encoder), either byte order, multi-strip via rows_per_strip."""
    e = ">" if big_endian else "<"
    rps = rows_per_strip or height
    strips = []
    for y0 in range(0, height, rps):
        rows = min(rps, height - y0)
        raw = pixels[y0 * width * spp : (y0 + rows) * width * spp]
        if white_is_zero and spp == 1:
            raw = bytes(255 - v for v in raw)
        if packbits:
            enc = bytearray()
            i = 0
            while i < len(raw):
                run = 1
                while (
                    i + run < len(raw) and raw[i + run] == raw[i] and run < 127
                ):
                    run += 1
                if run >= 2:
                    enc += bytes([257 - run, raw[i]])
                    i += run
                else:
                    lit = i
                    while (
                        i < len(raw) and i - lit < 128
                        and not (
                            i + 2 < len(raw)
                            and raw[i] == raw[i + 1] == raw[i + 2]
                        )
                    ):
                        i += 1
                    enc += bytes([i - lit - 1]) + raw[lit:i]
            strips.append(bytes(enc))
        else:
            strips.append(raw)
    photo = 0 if (white_is_zero and spp == 1) else (1 if spp == 1 else 2)
    n_entries = 9
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * n_entries + 4
    # strip offset/count arrays (LONG) live right after the IFD
    arr_bytes = 0 if len(strips) == 1 else 4 * len(strips) * 2
    strip0 = data_off + arr_bytes
    offs, pos = [], strip0
    for s in strips:
        offs.append(pos)
        pos += len(s)

    def entry(tag, typ, cnt, value_bytes):
        return struct.pack(e + "HHI", tag, typ, cnt) + value_bytes

    def long_inline(v):
        return struct.pack(e + "I", v)

    def short_inline(v):
        return struct.pack(e + "HH", v, 0)

    if len(strips) == 1:
        off_entry = entry(273, 4, 1, long_inline(offs[0]))
        cnt_entry = entry(279, 4, 1, long_inline(len(strips[0])))
        tail = b""
    else:
        off_entry = entry(273, 4, len(strips), long_inline(data_off))
        cnt_entry = entry(
            279, 4, len(strips), long_inline(data_off + 4 * len(strips))
        )
        tail = b"".join(struct.pack(e + "I", o) for o in offs)
        tail += b"".join(struct.pack(e + "I", len(s)) for s in strips)
    entries = (
        entry(256, 4, 1, long_inline(width))
        + entry(257, 4, 1, long_inline(height))
        + entry(258, 3, 1, short_inline(8))
        + entry(259, 3, 1, short_inline(32773 if packbits else 1))
        + entry(262, 3, 1, short_inline(photo))
        + off_entry
        + entry(277, 3, 1, short_inline(spp))
        + entry(278, 4, 1, long_inline(rps))
        + cnt_entry
    )
    bom = b"MM\x00*" if big_endian else b"II*\x00"
    return (
        bom + struct.pack(e + "I", ifd_off)
        + struct.pack(e + "H", n_entries) + entries + struct.pack(e + "I", 0)
        + tail + b"".join(strips)
    )


# ---------------------------------------------------------------- MP3 / Ogg


def encode_test_mp3(
    channels: int,
    sample_rate: int,
    n_frames: int,
    bitrate_kbps: int = 128,
    with_id3: bool = False,
    pad_every: int = 0,
) -> bytes:
    """Valid MPEG-1/2 Layer III CBR stream with zeroed frame payloads,
    written forward from the spec tables (independent of the parser).
    ``with_id3`` prepends a minimal ID3v2 tag with an opaque body."""
    version_id = {True: 3, False: 2}[sample_rate >= 32000]
    rates = _MP3_RATES[version_id]
    sr_idx = rates.index(sample_rate)
    vgroup = 1 if version_id == 3 else 2
    br_idx = _MP3_BITRATES[(vgroup, 3)].index(bitrate_kbps) + 1
    spf = 1152 if vgroup == 1 else 576
    out = bytearray()
    if with_id3:
        tag = b"TAG-BODY" * 4  # 32 bytes, syncsafe-encoded length
        out += b"ID3\x04\x00\x00" + bytes(
            (len(tag) >> s) & 0x7F for s in (21, 14, 7, 0)
        ) + tag
    mode = 0xC0 if channels == 1 else 0x00
    for i in range(n_frames):
        padding = 1 if pad_every and i % pad_every == 0 else 0
        size = spf // 8 * (bitrate_kbps * 1000) // sample_rate + padding
        hdr = bytes(
            (
                0xFF,
                0xE0 | (version_id << 3) | (1 << 1) | 1,  # layer III, no CRC
                (br_idx << 4) | (sr_idx << 2) | (padding << 1),
                mode,
            )
        )
        out += hdr + b"\x00" * (size - 4)
    return bytes(out)


def _ogg_wrap(serial: int, seq: int, granule: int, htype: int, packet: bytes) -> bytes:
    segs = []
    rest = len(packet)
    while rest >= 255:
        segs.append(255)
        rest -= 255
    segs.append(rest)
    hdr = (
        b"OggS\x00"
        + bytes([htype])
        + struct.pack("<q", granule)
        + struct.pack("<III", serial, seq, 0)  # checksum left 0 (parser ignores)
        + bytes([len(segs)])
        + bytes(segs)
    )
    return hdr + packet


def encode_test_ogg(
    codec: str, channels: int, sample_rate: int, total_granule: int
) -> bytes:
    """Two-page Ogg stream: identification header page + an EOS data
    page carrying the final granule position."""
    if codec == "vorbis":
        ident = (
            b"\x01vorbis"
            + struct.pack("<I", 0)
            + bytes([channels])
            + struct.pack("<I", sample_rate)
            + struct.pack("<iii", 0, 0, 0)
            + b"\xb8\x01"  # blocksizes + framing bit
        )
    elif codec == "opus":
        ident = (
            b"OpusHead\x01"
            + bytes([channels])
            + struct.pack("<H", 312)  # pre-skip
            + struct.pack("<I", sample_rate)  # input rate (informational)
            + struct.pack("<hB", 0, 0)
        )
    else:
        raise ValueError(f"unknown ogg codec: {codec}")
    page0 = _ogg_wrap(7, 0, 0, 0x02, ident)  # BOS
    page1 = _ogg_wrap(7, 1, total_granule, 0x04, b"\x00" * 20)  # EOS
    return page0 + page1
