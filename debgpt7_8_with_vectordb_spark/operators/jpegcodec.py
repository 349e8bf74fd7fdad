"""JPEG decoder (ITU-T T.81), zero dependencies beyond numpy: baseline
sequential AND progressive.

JPEG is struct + Huffman + an 8x8 DCT — all stdlib/numpy expressible.
The forward encoders that build the test inputs live in
``tests/media_fixtures.py``: the suite round-trips encoder->decoder,
pins the exactly-representable cases (constant blocks at quality 100)
byte-for-byte, and pins progressive decode bit-identical to baseline
decode of the same quantized coefficients.

Decoder (``decode_jpeg_pixels``): sequential (SOF0/SOF1) and progressive
(SOF2) DCT frames — marker walk, DQT (8- and 16-bit precision), DHT
canonical Huffman built from the BITS/HUFFVAL lists (spec Annex C), DRI
restart intervals with RSTn alignment + DC-predictor/EOB-run reset,
arbitrary Hi x Vi sampling factors (4:4:4 / 4:2:2 / 4:2:0 / 4:1:1),
multi-scan accumulation over a shared coefficient store (progressive
spectral selection + successive approximation: DC first/refine, AC
first/refine with EOB runs, spec G.1.2), zigzag + dequantize, vectorized
2-D IDCT over all blocks of a component at once, pixel-replication
chroma upsample, JFIF YCbCr->RGB. Lossless, hierarchical and
arithmetic-coded frames return None from the pixel decoder;
``parse_jpeg_header`` still reads their dimensions (the metadata half a
curation filter needs never requires entropy decode).

Reference analog: reference reader.py:310-333 decodes real media content
via libraries (pypdf pages); this module keeps the engine's decode
surface real with zero dependencies.
"""

from __future__ import annotations

import struct

# zigzag index -> natural (row-major) index, spec Figure 5
ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
)


class _JpegError(Exception):
    """Internal: any structural/entropy inconsistency; the public
    decoder converts it to the NULL-on-malformed contract."""


def _dct_matrix():
    """Orthonormal 8x8 DCT-II basis C with C[u, x] = a(u)/2 *
    cos((2x+1)u*pi/16): forward F = C f C^T, inverse f = C^T F C."""
    import numpy as np

    n = np.arange(8)
    c = np.cos((2 * n[None, :] + 1) * n[:, None] * np.pi / 16) / 2.0
    c[0] /= np.sqrt(2.0)
    return c


def _decode_table(bits, vals):
    """(length, code) -> symbol for the bit-serial decoder (F.16)."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if k >= len(vals):
                raise _JpegError("DHT symbol list shorter than BITS")
            table[(length, code)] = vals[k]
            k += 1
            code += 1
        if code > (1 << length):
            raise _JpegError("DHT code overflow")
        code <<= 1
    return table


def _extend(v: int, t: int) -> int:
    """Spec F.12 EXTEND: map t received magnitude bits to a signed value."""
    return v - (1 << t) + 1 if v < (1 << (t - 1)) else v


# ---------------------------------------------------------------- decoder


def parse_jpeg_header(payload: bytes):
    """Marker-walk to the first SOFn and read the frame header. Returns
    ``(width, height, n_components, sof_marker)`` or None. Works for
    every DCT frame type (incl. progressive) — dimensions live in the
    frame header, no entropy decode needed."""
    n = len(payload)
    if n < 4 or payload[:2] != b"\xff\xd8":
        return None
    pos = 2
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            return None
        marker = payload[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:
            return None
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        if seglen < 2 or pos + 2 + seglen > n:
            return None
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if seglen < 8:
                return None
            h, w = struct.unpack(">HH", payload[pos + 5 : pos + 9])
            ncomp = payload[pos + 9]
            if not w or not h:
                return None
            return int(w), int(h), int(ncomp), int(marker)
        if marker == 0xDA:  # scan before frame header: corrupt
            return None
        pos += 2 + seglen
    return None


class _BitReader:
    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        while True:
            if self.pos >= len(d):
                raise _JpegError("entropy data truncated")
            b = d[self.pos]
            if b != 0xFF:
                self.pos += 1
                break
            if self.pos + 1 >= len(d):
                raise _JpegError("entropy data truncated at 0xFF")
            nxt = d[self.pos + 1]
            if nxt == 0x00:  # stuffed data byte
                self.pos += 2
                break
            if nxt == 0xFF:  # fill byte, keep scanning
                self.pos += 1
                continue
            raise _JpegError("marker inside entropy segment")
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read(self, nbits: int) -> int:
        while self.nbits < nbits:
            self._fill()
        self.nbits -= nbits
        v = (self.acc >> self.nbits) & ((1 << nbits) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def align_restart(self, expected: int) -> None:
        """Drop pad bits and consume the RSTn marker (n must match)."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d) and d[self.pos] == 0xFF and d[self.pos + 1] == 0xFF:
            self.pos += 1
        if self.pos + 2 > len(d) or d[self.pos] != 0xFF:
            raise _JpegError("expected restart marker")
        m = d[self.pos + 1]
        if m != 0xD0 + expected:
            raise _JpegError("restart marker out of sequence")
        self.pos += 2


def _decode_huff(br: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read(1)
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise _JpegError("invalid Huffman code")


def _decode_block(br, dctab, actab, pred: int):
    """Decode one block; returns (dc, coef64-natural-order list)."""
    coef = [0] * 64
    t = _decode_huff(br, dctab)
    if t > 15:
        raise _JpegError("DC category out of range")
    dc = pred + (_extend(br.read(t), t) if t else 0)
    coef[0] = dc
    k = 1
    while k < 64:
        rs = _decode_huff(br, actab)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:  # ZRL: sixteen zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise _JpegError("AC run past block end")
        coef[ZIGZAG[k]] = _extend(br.read(s), s)
        k += 1
    return dc, coef


def decode_jpeg_pixels(payload: bytes):
    """REAL JPEG pixel decode, baseline AND progressive. Returns
    ``("jpeg", width, height, channels, pixels)`` with pixels row-major
    top-down, channel-interleaved RGB/gray — the ``decode_image_pixels``
    contract — or None for unsupported frame types (lossless/
    hierarchical/arithmetic) and malformed bytes."""
    try:
        return _decode_jpeg(payload)
    except Exception:
        return None


def _decode_jpeg(payload: bytes):
    n = len(payload)
    if n < 4 or payload[:2] != b"\xff\xd8":
        return None
    qt = {}
    huff = {}
    frame = None
    progressive = False
    restart_interval = 0
    state = None  # per-component coefficient store, created at first SOS
    pos = 2
    while pos + 2 <= n:
        if payload[pos] != 0xFF:
            return None
        marker = payload[pos + 1]
        if marker == 0xFF:
            pos += 1
            continue
        pos += 2
        if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        if pos + 2 > n:
            return None
        (seglen,) = struct.unpack(">H", payload[pos : pos + 2])
        if seglen < 2 or pos + seglen > n:
            return None
        body = payload[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xDB:  # DQT
            import numpy as np

            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                i += 1
                if pq == 0:
                    vals = body[i : i + 64]
                    i += 64
                elif pq == 1:
                    if i + 128 > len(body):
                        return None
                    vals = struct.unpack(">64H", body[i : i + 128])
                    i += 128
                else:
                    return None
                if len(vals) < 64:
                    return None
                tbl = np.zeros(64, dtype=np.float64)
                for z in range(64):
                    tbl[ZIGZAG[z]] = vals[z]
                qt[tq] = tbl.reshape(8, 8)
        elif marker == 0xC4:  # DHT
            i = 0
            while i + 17 <= len(body):
                tc, th = body[i] >> 4, body[i] & 15
                bits = body[i + 1 : i + 17]
                total = sum(bits)
                vals = body[i + 17 : i + 17 + total]
                if len(vals) < total:
                    return None
                i += 17 + total
                huff[(tc, th)] = _decode_table(bits, vals)
        elif marker in (0xC0, 0xC1, 0xC2):  # sequential / progressive DCT
            if len(body) < 6 or body[0] != 8:
                return None
            h, w = struct.unpack(">HH", body[1:5])
            nc = body[5]
            if not w or not h or nc not in (1, 3) or len(body) < 6 + 3 * nc:
                return None
            comps = []
            for ci in range(nc):
                cid, hv, tq = body[6 + 3 * ci : 9 + 3 * ci]
                comps.append((cid, hv >> 4, hv & 15, tq))
            frame = (int(w), int(h), comps)
            progressive = marker == 0xC2
        elif 0xC3 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            return None  # lossless / hierarchical / arithmetic: unsupported
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                return None
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS: decode one scan, resume the walk after
            if frame is None:
                return None
            if state is None:
                state = _new_coef_state(frame, n)
            pos = _decode_sos(
                payload, pos, body, state, qt, huff, restart_interval, progressive
            )
        # APPn / COM / others: skipped
    if state is None:
        return None
    return _reconstruct(frame, qt, state)


def _new_coef_state(frame, payload_len: int):
    """Per-component coefficient store shared by all scans of a frame.
    Blocks live on the MCU-padded grid (pbw x pbh); non-interleaved
    scans cover only the component's own ceil grid (nbw x nbh, spec
    A.2.2) and index into the padded rows.

    Adversarial-input bound: a forged header can claim 65535 x 65535
    with a few bytes of entropy data; allocating that store would OOM
    the Spark task before the bit reader ever notices truncation. A
    real file spends >= 2 bits per block (one DC + one AC symbol), so
    any frame whose block count exceeds 4x the payload's total BIT
    count is structurally impossible — refuse it up front."""
    w, h, comps = frame
    blocks_ub = sum(
        (-(-w // 8)) * (-(-h // 8)) for _ in comps
    )
    if blocks_ub > payload_len * 32:
        raise _JpegError("frame claims more blocks than the payload can hold")
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if not hmax or not vmax:
        raise _JpegError("zero sampling factor")
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    state = {"mcux": mcux, "mcuy": mcuy, "hmax": hmax, "vmax": vmax, "comps": {}}
    for cid, hi, vi, tq in comps:
        if not hi or not vi or hmax % hi or vmax % vi:
            raise _JpegError("unsupported sampling grid")
        cw = -(-(w * hi) // hmax)
        ch = -(-(h * vi) // vmax)
        state["comps"][cid] = {
            "hi": hi,
            "vi": vi,
            "pbw": mcux * hi,
            "pbh": mcuy * vi,
            "nbw": -(-cw // 8),
            "nbh": -(-ch // 8),
            "coefs": [[0] * 64 for _ in range(mcux * hi * mcuy * vi)],
        }
    return state


def _decode_sos(payload, pos, body, state, qt, huff, ri, progressive):
    """Decode one scan's entropy data into the coefficient store and
    return the byte position of the next marker. Handles baseline
    full-band scans and all four progressive scan kinds (DC/AC x
    first/refine) incl. EOB runs and restart intervals."""
    if not body:
        raise _JpegError("empty SOS")
    ns = body[0]
    if ns < 1 or len(body) < 1 + 2 * ns + 3:
        raise _JpegError("short SOS header")
    scomps = []
    for i in range(ns):
        cs, tt = body[1 + 2 * i], body[2 + 2 * i]
        if cs not in state["comps"]:
            raise _JpegError("scan references unknown component")
        scomps.append((cs, tt >> 4, tt & 15))
    ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
    ahal = body[3 + 2 * ns]
    ah, al = ahal >> 4, ahal & 15
    if not progressive:
        if ss or se != 63 or ah or al:
            raise _JpegError("non-full-band scan in a sequential frame")
    else:
        if se > 63 or ss > se or (ss == 0) != (se == 0):
            raise _JpegError("bad spectral band")
        if ss > 0 and ns != 1:
            raise _JpegError("interleaved AC scan")
        if ah and ah != al + 1:
            raise _JpegError("bad successive-approximation step")
    dctabs = {}
    actabs = {}
    for cs, td, ta in scomps:
        if ss == 0 and ah == 0:  # DC first / baseline needs a DC table
            if (0, td) not in huff:
                raise _JpegError("missing DC table")
            dctabs[cs] = huff[(0, td)]
        if not progressive or ss > 0:  # full-band or AC scan needs AC
            if (1, ta) not in huff:
                raise _JpegError("missing AC table")
            actabs[cs] = huff[(1, ta)]
    br = _BitReader(payload, pos)
    interleaved = ns > 1
    if interleaved:
        total_mcu = state["mcux"] * state["mcuy"]
    else:
        c0 = state["comps"][scomps[0][0]]
        total_mcu = c0["nbw"] * c0["nbh"]
    preds = {cs: 0 for cs, _, _ in scomps}
    eobrun = 0
    rst = 0
    for m in range(total_mcu):
        if ri and m and m % ri == 0:
            br.align_restart(rst % 8)
            rst += 1
            preds = dict.fromkeys(preds, 0)
            eobrun = 0
        if interleaved:
            my, mx = divmod(m, state["mcux"])
            for cs, _, _ in scomps:
                c = state["comps"][cs]
                for v in range(c["vi"]):
                    for hh in range(c["hi"]):
                        idx = (my * c["vi"] + v) * c["pbw"] + mx * c["hi"] + hh
                        blk = c["coefs"][idx]
                        if not progressive:
                            preds[cs], c["coefs"][idx] = _decode_block(
                                br, dctabs[cs], actabs[cs], preds[cs]
                            )
                        elif ah == 0:
                            preds[cs] = _dc_first(br, dctabs[cs], blk, preds[cs], al)
                        else:
                            _dc_refine(br, blk, al)
        else:
            cs = scomps[0][0]
            c = state["comps"][cs]
            my, mx = divmod(m, c["nbw"])
            idx = my * c["pbw"] + mx
            blk = c["coefs"][idx]
            if not progressive:
                preds[cs], c["coefs"][idx] = _decode_block(
                    br, dctabs[cs], actabs[cs], preds[cs]
                )
            elif ss == 0:
                if ah == 0:
                    preds[cs] = _dc_first(br, dctabs[cs], blk, preds[cs], al)
                else:
                    _dc_refine(br, blk, al)
            elif ah == 0:
                eobrun = _ac_first(br, actabs[cs], blk, ss, se, al, eobrun)
            else:
                eobrun = _ac_refine(br, actabs[cs], blk, ss, se, al, eobrun)
    pos = br.pos  # trailing pad bits already consumed byte-wise
    while pos < len(payload) and payload[pos] != 0xFF:
        pos += 1  # tolerate slack before the next marker
    return pos


def _dc_first(br, dctab, blk, pred: int, al: int) -> int:
    """Progressive DC first scan (spec G.1.2.1): baseline DC decode,
    value stored point-transformed (arithmetic shift domain)."""
    t = _decode_huff(br, dctab)
    if t > 15:
        raise _JpegError("DC category out of range")
    pred += _extend(br.read(t), t) if t else 0
    blk[0] = pred << al
    return pred


def _dc_refine(br, blk, al: int) -> None:
    """Progressive DC refinement: one raw bit ORed into the two's-
    complement representation (arithmetic-shift successive
    approximation makes | correct for negative DCs too)."""
    if br.read(1):
        blk[0] |= 1 << al


def _ac_first(br, actab, blk, ss, se, al, eobrun) -> int:
    """Progressive AC first scan (G.1.2.2): run/size decode of the
    band with EOB-run accumulation across blocks."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _decode_huff(br, actab)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r != 15:  # EOBn
                eobrun = (1 << r) - 1
                if r:
                    eobrun += br.read(r)
                break
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise _JpegError("AC run past band end")
        blk[ZIGZAG[k]] = _extend(br.read(s), s) << al
        k += 1
    return eobrun


def _ac_refine(br, actab, blk, ss, se, al, eobrun) -> int:
    """Progressive AC refinement (G.1.2.3): correction bits for
    history coefficients, sign-bit insertion for newly-nonzero ones,
    EOB runs carrying correction bits. History coefficients are
    multiples of 1 << (al+1), so the &-mask test is sign-safe in
    Python's two's-complement int semantics."""
    p1 = 1 << al
    m1 = -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _decode_huff(br, actab)
            r, s = rs >> 4, rs & 15
            val = 0
            if s == 0:
                if r != 15:  # EOBn: unlike AC-first, the run INCLUDES
                    # this block — its band tail still consumes
                    # correction bits below, then the count decrements
                    eobrun = 1 << r
                    if r:
                        eobrun += br.read(r)
                    break
            else:
                if s != 1:
                    raise _JpegError("AC refine size must be 1")
                val = p1 if br.read(1) else m1
            while k <= se:  # advance past r zero-history coefficients
                z = ZIGZAG[k]
                if blk[z] != 0:
                    if br.read(1) and (blk[z] & p1) == 0:
                        blk[z] += p1 if blk[z] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                blk[ZIGZAG[k]] = val
            k += 1
    if eobrun > 0:  # EOB path: correction bits only, to the band end
        while k <= se:
            z = ZIGZAG[k]
            if blk[z] != 0:
                if br.read(1) and (blk[z] & p1) == 0:
                    blk[z] += p1 if blk[z] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _reconstruct(frame, qt, state):
    """Dequantize + IDCT the accumulated coefficients, upsample,
    color-convert: shared tail of baseline and progressive decode."""
    import numpy as np

    w, h, comps = frame
    hmax, vmax = state["hmax"], state["vmax"]
    cmat = _dct_matrix()
    planes = []
    for cid, hi, vi, tq in comps:
        if tq not in qt:
            raise _JpegError("missing quant table")
        c = state["comps"][cid]
        coefs = np.asarray(c["coefs"], dtype=np.float64)  # (N, 64) natural
        blocks = (coefs * qt[tq].reshape(64)).reshape(c["pbh"], c["pbw"], 8, 8)
        spatial = np.einsum("ux,ijuv,vy->ijxy", cmat, blocks, cmat) + 128.0
        plane = spatial.transpose(0, 2, 1, 3).reshape(c["pbh"] * 8, c["pbw"] * 8)
        plane = np.repeat(np.repeat(plane, vmax // vi, axis=0), hmax // hi, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        gray = np.clip(np.rint(planes[0]), 0, 255).astype(np.uint8)
        return "jpeg", w, h, 1, gray.tobytes()
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return "jpeg", w, h, 3, np.clip(np.rint(rgb), 0, 255).astype(np.uint8).tobytes()
