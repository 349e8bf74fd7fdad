"""PDF text extraction (sources/readers.py): font encodings, the
incremental-update pass, TIFF predictors, stream-body spans and the
/Font resource scans.

- A re-encoded CM-named font declaring a STANDARD /Encoding keeps its
  ASCII slots (the TeX by-name fallback is skipped); an /Encoding
  carrying only /Differences suppresses the fallback too, even when
  the table parses empty.
- A ``startxref`` spelled inside a stream body does not enable the
  incremental-update superseded pass on a never-updated file.
- The sub-byte TIFF predictor path preserves a trailing partial row,
  byte-for-byte consistent with the bpc=8/16 paths.
- Stream-body spans are computed once per extraction and _in_spans
  bisects the sorted spans.
- The inline /Encoding dict sniff and the /Font resource scan are
  balanced: only refs outside every nested ``<<...>>`` register, so an
  inline font dict's internals never shadow a real resource ref.
- /Length-delimited stream bodies, every standard filter and filter
  chain, ToUnicode CMaps, /Differences, object streams, predictors at
  every bit depth, incremental-update precedence and the TeX / Symbol
  base encodings.
"""

import zlib

import pytest

from debgpt7_8_with_vectordb_spark.sources.readers import (
    _font_base_encoding,
    _font_differences,
    _in_spans,
    _inline_encoding_value,
    _nested_dict_spans,
    _pdf_font_cmaps,
    _pdf_superseded_spans,
    _pdf_unpredict,
    _SpanCache,
    pdf_extract_text,
)


def test_nested_dict_spans_balanced_and_unterminated():
    body = b"a <<b <<c>> d>> e <<f"
    spans = _nested_dict_spans(body)
    assert len(spans) == 2
    s0, e0 = spans[0]
    assert body[s0:e0] == b"<<b <<c>> d>>"
    # an unterminated nested dict masks through to the end of the body
    s1, e1 = spans[1]
    assert (s1, e1) == (body.find(b"<<f"), len(body))
    assert _nested_dict_spans(b"no dicts here") == []


def test_inline_font_dict_internals_do_not_shadow_real_ref():
    # Page 1's /Font resource dict holds an INLINE font dict whose
    # body references object 8 under /FX; page 2's resource dict maps
    # the REAL /FX to object 5. First-wins would let the bogus
    # nested-ref registration (obj 8 parses a Differences table too)
    # shadow the real font's table.
    payload = (
        b"1 0 obj <</Type /Page /Resources <</Font <<"
        b"/Fa <</Type /Font /Subtype /Type1 /FX 8 0 R>> >> >> >> endobj\n"
        b"2 0 obj <</Type /Page /Resources <</Font <<"
        b"/FX 5 0 R>> >> >> endobj\n"
        b"5 0 obj <</Type /Font /Subtype /Type1 "
        b"/Encoding <</Differences [65 /zero]>> >> endobj\n"
        b"8 0 obj <</Type /FontDescriptor "
        b"/Encoding <</Differences [65 /bullet]>> >> endobj\n"
    )
    fonts = _pdf_font_cmaps(payload)
    assert b"FX" in fonts
    width, table = fonts[b"FX"]
    # the REAL resource entry (object 5) wins, not the inline dict's
    # internal ref (object 8)
    assert table[65] == "0"


def test_refs_after_inline_font_dict_still_register():
    # the balanced-scan fix (self-review r13) must survive the nested
    # skip: a ref DECLARED AFTER an inline font dict in the same
    # resource dict is outside every nested span and still registers
    payload = (
        b"1 0 obj <</Font <</Fa <</Type /Font /K 9 0 R>> /F1 5 0 R>> "
        b">> endobj\n"
        b"5 0 obj <</Type /Font /Encoding <</Differences [66 /one]>> >> "
        b"endobj\n"
        b"9 0 obj <</Type /FontDescriptor>> endobj\n"
    )
    fonts = _pdf_font_cmaps(payload)
    assert b"F1" in fonts and fonts[b"F1"][1][66] == "1"
    assert b"K" not in fonts


def _font_pdf(font_body: bytes, content: bytes, extra: bytes = b"") -> bytes:
    return (
        b"%PDF-1.4\n"
        b"1 0 obj\n<</Type /Page /Resources <</Font <</F1 5 0 R>>>>>>\n"
        b"endobj\n"
        b"5 0 obj\n<<" + font_body + b">>\nendobj\n" + extra
        + b"2 0 obj\n<</Length " + str(len(content)).encode()
        + b">>\nstream\n" + content + b"\nendstream\nendobj\n"
        b"trailer\n<<>>\n%%EOF"
    )


# ---------------------------------------------------------------------------
# 1. standard /Encoding beats the /BaseFont-name TeX fallback
# ---------------------------------------------------------------------------

# OT1 remaps these ASCII slots; WinAnsi keeps them (the ADVICE hazard set)
_ASCII_PROBE = b"BT /F1 10 Tf (a|b<c>d) Tj ET"


def test_cm_name_with_inline_winansi_keeps_ascii():
    p = _font_pdf(
        b"/Type /Font /Subtype /Type1 /BaseFont /ABCDEF+CMR10 "
        b"/Encoding /WinAnsiEncoding",
        _ASCII_PROBE,
    )
    assert pdf_extract_text(p) == "a|b<c>d"


def test_cm_name_with_base_encoding_dict_keeps_ascii():
    p = _font_pdf(
        b"/Type /Font /BaseFont /CMR10 "
        b"/Encoding <</Type /Encoding /BaseEncoding /MacRomanEncoding>>",
        _ASCII_PROBE,
    )
    assert pdf_extract_text(p) == "a|b<c>d"


def test_cm_name_with_indirect_standard_encoding_keeps_ascii():
    enc = b"7 0 obj\n<</Type /Encoding /BaseEncoding /WinAnsiEncoding>>\nendobj\n"
    p = _font_pdf(
        b"/Type /Font /BaseFont /XYZABC+CMBX12 /Encoding 7 0 R",
        _ASCII_PROBE,
        extra=enc,
    )
    assert pdf_extract_text(p) == "a|b<c>d"


def test_cm_font_without_encoding_still_gets_tex_table():
    # the fallback itself must survive: no /Encoding -> OT1 remaps |
    p = _font_pdf(
        b"/Type /Font /Subtype /Type1 /BaseFont /ABCDEF+CMR10",
        _ASCII_PROBE,
    )
    assert pdf_extract_text(p) == "a—b¡c¿d"  # OT1 slots for | < >


def test_font_base_encoding_unit_guard():
    assert (
        _font_base_encoding(
            b"/BaseFont /CMSY10 /Encoding /WinAnsiEncoding"
        )
        is None
    )
    assert (
        _font_base_encoding(
            b"/BaseFont /CMSY10 /Encoding 9 0 R",
            {9: b"<</BaseEncoding /StandardEncoding>>"},
        )
        is None
    )
    # a NON-standard encoding value does not suppress the table
    assert _font_base_encoding(b"/BaseFont /CMSY10") is not None
    assert (
        _font_base_encoding(
            b"/BaseFont /CMSY10 /Encoding 9 0 R", {9: b"<</Type /Encoding>>"}
        )
        is not None
    )


# ---------------------------------------------------------------------------
# 2. 'startxref' inside a stream body is not an update marker
# ---------------------------------------------------------------------------


def _content_obj(num: int, gen: int, text: bytes) -> bytes:
    body = b"BT (" + text + b") Tj ET"
    return (
        str(num).encode() + b" " + str(gen).encode() + b" obj\n<</Length "
        + str(len(body)).encode() + b">>\nstream\n" + body
        + b"\nendstream\nendobj\n"
    )


def test_startxref_inside_stream_body_does_not_enable_update_pass():
    decoy_body = b"\x80 startxref noise startxref \x80"
    decoy = (
        b"9 0 obj\n<</Length " + str(len(decoy_body)).encode()
        + b">>\nstream\n" + decoy_body + b"\nendstream\nendobj\n"
    )
    p = (
        b"%PDF-1.4\n" + _content_obj(1, 0, b"real") + decoy
        + b"trailer\n<<>>\nstartxref\n0\n%%EOF\n"
    )
    assert p.count(b"startxref") == 3  # raw count would trip the old gate
    assert _pdf_superseded_spans(p) == []
    assert pdf_extract_text(p).splitlines()[0] == "real"


def test_real_incremental_update_still_detected():
    base = (
        b"%PDF-1.4\n" + _content_obj(1, 0, b"original")
        + b"trailer\n<<>>\nstartxref\n0\n%%EOF\n"
    )
    updated = base + (
        _content_obj(1, 0, b"revised")
        + b"trailer\n<<>>\nstartxref\n0\n%%EOF\n"
    )
    assert len(_pdf_superseded_spans(updated)) == 1
    assert pdf_extract_text(updated) == "revised"


def test_compressed_startxref_bytes_do_not_enable_update_pass():
    # stored-block Flate keeps the literal bytes inside the BODY span
    decoy_raw = zlib.compress(b"pad startxref pad startxref pad", 0)
    assert b"startxref" in decoy_raw
    decoy = (
        b"9 0 obj\n<</Length " + str(len(decoy_raw)).encode()
        + b" /Filter /FlateDecode>>\nstream\n" + decoy_raw
        + b"\nendstream\nendobj\n"
    )
    p = (
        b"%PDF-1.4\n" + _content_obj(1, 0, b"live") + decoy
        + b"trailer\n<<>>\nstartxref\n0\n%%EOF\n"
    )
    assert _pdf_superseded_spans(p) == []


# ---------------------------------------------------------------------------
# 3. sub-byte TIFF predictor keeps the trailing partial row
# ---------------------------------------------------------------------------


def test_subbyte_tiff_predictor_preserves_partial_tail():
    d = b"<</Predictor 2 /Columns 4 /Colors 1 /BitsPerComponent 4>>"
    # stride = 2 bytes; one full row + 1 tail byte
    full_row = bytes([0x12, 0x11])  # samples 1,2,1,1 -> cumsum 1,3,4,5
    data = full_row + b"\xAB"
    out = _pdf_unpredict(d, data)
    assert out is not None and len(out) == len(data)
    assert out[:2] == bytes([0x13, 0x45])
    assert out[2:] == b"\xAB"  # tail passes through untouched
    # parity with the bpc=8 path's length behavior
    d8 = b"<</Predictor 2 /Columns 2 /Colors 1 /BitsPerComponent 8>>"
    out8 = _pdf_unpredict(d8, b"\x01\x02\xAB")
    assert out8 is not None and len(out8) == 3 and out8[2:] == b"\xAB"


def test_subbyte_tiff_predictor_full_rows_unchanged_by_tail_fix():
    d = b"<</Predictor 2 /Columns 4 /Colors 1 /BitsPerComponent 4>>"
    data = bytes([0x12, 0x11, 0x21, 0x22])
    out = _pdf_unpredict(d, data)
    assert out == bytes([0x13, 0x45, 0x23, 0x57])


# ---------------------------------------------------------------------------
# 4. shared span cache + bisecting _in_spans
# ---------------------------------------------------------------------------


def test_in_spans_bisect_matches_linear_scan():
    import random

    rng = random.Random(1211)
    for _ in range(200):
        spans, pos = [], 0
        for _ in range(rng.randrange(0, 12)):
            pos += rng.randrange(1, 9)
            end = pos + rng.randrange(1, 9)
            spans.append((pos, end))
            pos = end
        limit = (spans[-1][1] + 3) if spans else 5
        for i in range(limit):
            assert _in_spans(spans, i) == any(
                s <= i < e for s, e in spans
            ), (spans, i)


def test_span_cache_computes_once(monkeypatch):
    import debgpt7_8_with_vectordb_spark.sources.readers as R

    calls = {"n": 0}
    real = R._pdf_stream_body_spans

    def counted(payload):
        calls["n"] += 1
        return real(payload)

    monkeypatch.setattr(R, "_pdf_stream_body_spans", counted)
    p = (
        b"%PDF-1.4\n" + _content_obj(1, 0, b"one")
        + b"trailer\n<<>>\nstartxref\n0\n%%EOF\n"
        + _content_obj(1, 0, b"two")
        + b"trailer\n<<>>\nstartxref\n0\n%%EOF\n"
    )
    cache = _SpanCache(p)
    a = cache.get()
    b = cache.get()
    assert a is b and calls["n"] == 1
    # extraction end-to-end: the walk shared by the object index, the
    # superseded pass and extraction computes spans exactly once
    calls["n"] = 0
    assert R.pdf_extract_text(p) == "two"
    assert calls["n"] <= 1


# ---------------------------------------------------------------------------
# 5. ZapfDingbats base encoding (PDF Annex D.6 — VERDICT r11 #5)
# ---------------------------------------------------------------------------


def _dingbat_pdf(basefont: bytes, content: bytes) -> bytes:
    return _font_pdf(
        b"/Type /Font /Subtype /Type1 /BaseFont /" + basefont, content
    )


def test_zapf_dingbats_base_encoding():
    # check mark / star / scissors via hex codes, letters via literal
    p = _dingbat_pdf(b"ZapfDingbats", b"BT /F1 10 Tf <3348 22> Tj ET")
    assert pdf_extract_text(p) == "✓★✂"  # check, star, scissors
    # subset-prefixed name form; suits + circled digits + arrows
    p2 = _dingbat_pdf(
        b"ABCDEF+ZapfDingbats", b"BT /F1 10 Tf <AB A8 AC D5 FE> Tj ET"
    )
    assert pdf_extract_text(p2) == "♠♣①→➾"
    # letters land in the flower/ornament run, not latin-1
    p3 = _dingbat_pdf(b"ZapfDingbats", b"BT /F1 10 Tf (a) Tj ET")
    assert pdf_extract_text(p3) == "❁"
    # a ToUnicode CMap still outranks the base table (same precedence
    # as the CM fonts); standard /Encoding suppresses it (ADVICE r11)
    p4 = _font_pdf(
        b"/Type /Font /BaseFont /ZapfDingbats /Encoding /WinAnsiEncoding",
        b"BT /F1 10 Tf (a) Tj ET",
    )
    assert pdf_extract_text(p4) == "a"
    # a font merely containing the string is not matched
    p5 = _dingbat_pdf(b"MyZapfDingbatsPro-Sans", b"BT /F1 10 Tf (a) Tj ET")
    assert pdf_extract_text(p5) == "a"


def test_zapf_dingbats_table_shape():
    from debgpt7_8_with_vectordb_spark.sources.readers import (
        _ZAPF_DINGBATS,
    )

    # undefined chart slots stay unmapped (latin-1 fallback applies)
    assert 0x7F not in _ZAPF_DINGBATS and 0xF0 not in _ZAPF_DINGBATS
    assert 0x00 not in _ZAPF_DINGBATS and 0xFF not in _ZAPF_DINGBATS
    # the three sequential runs' endpoints (Annex D.6 chart corners)
    assert _ZAPF_DINGBATS[0x21] == "✁"  # a1 upper blade scissors
    assert _ZAPF_DINGBATS[0x7E] == "❞"  # a100 heavy double quote
    assert _ZAPF_DINGBATS[0x80] == "❨"  # a89 medium left paren
    assert _ZAPF_DINGBATS[0x8D] == "❵"  # a96 right curly bracket
    assert _ZAPF_DINGBATS[0xA1] == "❡"  # a101 curved stem ornament
    assert _ZAPF_DINGBATS[0xB6] == "❶"  # a125 negative circled one
    assert _ZAPF_DINGBATS[0xFE] == "➾"  # a191 open-outline arrow
    # documented exceptions outside the Dingbats block
    assert _ZAPF_DINGBATS[0x25] == "☎"  # a4 telephone
    assert _ZAPF_DINGBATS[0x6C] == "●"  # a71 black circle
    assert _ZAPF_DINGBATS[0xAA] == "♥"  # a110 heart


def test_indirect_differences_only_suppresses_tex_fallback():
    # Differences with an unknown glyph name -> empty parse; the TeX
    # table must STILL be suppressed (custom encoding declared)
    assert (
        _font_base_encoding(
            b"/BaseFont /CMSY10 /Encoding 9 0 R",
            {9: b"<</Type /Encoding /Differences [1 /nosuchglyphname]>>"},
        )
        is None
    )
    # inline-dict form too
    assert (
        _font_base_encoding(
            b"/BaseFont /CMSY10 "
            b"/Encoding <</Differences [1 /nosuchglyphname]>>"
        )
        is None
    )
    # a plain /Type /Encoding dict (no Differences, no BaseEncoding)
    # still falls through to the table (r11 behavior preserved)
    assert (
        _font_base_encoding(
            b"/BaseFont /CMSY10 /Encoding 9 0 R", {9: b"<</Type /Encoding>>"}
        )
        is not None
    )


def test_inline_encoding_dict_balanced_nested():
    font = (
        b"/BaseFont /CMR10 /Encoding <</Foo <</Bar 1>> "
        b"/BaseEncoding /WinAnsiEncoding>> /Widths [1 2]"
    )
    enc = _inline_encoding_value(font)
    # the balanced value includes content past the nested >>
    assert enc is not None and b"/BaseEncoding" in enc
    assert enc.endswith(b"/BaseEncoding /WinAnsiEncoding>>")
    # so the standard-encoding suppression fires
    assert _font_base_encoding(font) is None
    # bare-name form and unterminated dict
    assert _inline_encoding_value(b"/Encoding /MacRomanEncoding") == (
        b"/MacRomanEncoding"
    )
    assert _inline_encoding_value(b"/Encoding <</Never closed") is None
    assert _inline_encoding_value(b"/Widths [1 2]") is None


def test_font_differences_sees_array_after_nested_dict():
    # nested dict BEFORE /Differences: the old non-greedy inline match
    # stopped at the first >> and never saw the array
    font = (
        b"/BaseFont /F1 /Encoding <</Meta <</X 1>> "
        b"/Differences [65 /bullet]>>"
    )
    got = _font_differences(font, {})
    assert got is not None
    width, table = got
    assert width == 1 and table[65] == "•"


def test_end_to_end_differences_only_cm_font_keeps_latin1():
    # end-to-end: CM-named font whose indirect encoding declares only
    # unknown Differences -> raw latin-1 passthrough, NOT OT1 remap
    enc = (
        b"7 0 obj\n<</Type /Encoding /Differences [1 /nosuchglyphname]>>\n"
        b"endobj\n"
    )
    p = _font_pdf(
        b"/Type /Font /Subtype /Type1 /BaseFont /ABCDEF+CMR10 "
        b"/Encoding 7 0 R",
        _ASCII_PROBE,
        extra=enc,
    )
    assert pdf_extract_text(p) == "a|b<c>d"


def test_font_resource_dict_balanced_inline_font_does_not_hide_refs():
    """Self-review r13: a /Font RESOURCE dict carrying an INLINE font
    dict used to end the non-greedy match at the inline dict's >>,
    dropping every ref declared after it — the resource dict is now
    matched balanced, so F2's ToUnicode still resolves."""
    cmap = (
        b"begincodespacerange <00> <FF> endcodespacerange\n"
        b"beginbfchar <61> <0041> endbfchar"
    )
    p = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<</Type /Page /Resources <</Font <<"
        b"/F1 <</Type /Font /Subtype /Type1 /BaseFont /Helvetica>> "
        b"/F2 5 0 R>>>>>>\nendobj\n"
        b"5 0 obj\n<</Type /Font /ToUnicode 7 0 R>>\nendobj\n"
        b"7 0 obj\n<</Length " + str(len(cmap)).encode()
        + b">>\nstream\n" + cmap + b"\nendstream\nendobj\n"
        b"2 0 obj\n<</Length 24>>\nstream\nBT /F2 10 Tf (a) Tj ET\nendstream\n"
        b"endobj\ntrailer\n<<>>\n%%EOF"
    )
    assert pdf_extract_text(p) == "A"  # F2's bfchar maps a -> A


# ---------------------------------------------------------------------------
# PDF: /Length-delimited bodies
# ---------------------------------------------------------------------------


def _pdf(dict_bytes: bytes, body: bytes, tail: bytes = b"") -> bytes:
    return (
        b"%PDF-1.4\n1 0 obj\n<<" + dict_bytes + b">>\nstream\n"
        + body + b"\nendstream\nendobj\n" + tail + b"trailer\n<<>>\n%%EOF"
    )


def test_pdf_flate_body_containing_endstream_token():
    """A FlateDecode body whose COMPRESSED bytes contain the literal
    token 'endstream' (guaranteed here via a stored-block zlib stream)
    used to be truncated at that token by the non-greedy scan — inflate
    failed and the text silently vanished. The direct /Length now
    delimits the body exactly."""
    content = b"BT (endstream inside compressed bytes) Tj ET"
    body = zlib.compress(content, 0)  # level 0 = stored blocks, literal bytes
    assert b"endstream" in body
    p = _pdf(
        b"/Length " + str(len(body)).encode() + b" /Filter /FlateDecode", body
    )
    assert pdf_extract_text(p) == "endstream inside compressed bytes"


def test_pdf_indirect_length_falls_back_to_scan():
    """/Length given as an indirect reference (`7 0 R`) can't delimit;
    the token scan still extracts filterless bodies."""
    p = _pdf(b"/Length 7 0 R", b"BT (indirect ok) Tj ET")
    assert pdf_extract_text(p) == "indirect ok"


def test_pdf_wrong_direct_length_falls_back_to_scan():
    """A direct /Length that does NOT land on an endstream keyword is
    treated as unreliable; the scan fallback still finds the body."""
    p = _pdf(b"/Length 99999", b"BT (bad length) Tj ET")
    assert pdf_extract_text(p) == "bad length"


def test_pdf_two_streams_after_length_delimited_one():
    """The scan must resume AFTER the /Length-delimited body, not
    mid-stream: a second text stream after the tricky one is found."""
    content = b"BT (first endstream-bearing) Tj ET"
    body = zlib.compress(content, 0)
    assert b"endstream" in body
    tail = (
        b"2 0 obj\n<</Length 21>>\nstream\nBT (second one) Tj ET\nendstream\n"
        b"endobj\n"
    )
    p = _pdf(
        b"/Length " + str(len(body)).encode() + b" /Filter /FlateDecode",
        body,
        tail=tail,
    )
    assert pdf_extract_text(p) == "first endstream-bearing\nsecond one"


# ---------------------------------------------------------------------------
# full PDF filter-chain coverage: LZW / ASCII85 / ASCIIHex / RunLength /
# chains
# ---------------------------------------------------------------------------


def _pdf_lzw_encode(data: bytes) -> bytes:
    """Forward PDF/TIFF LZW encoder written from §7.4.4 (earlyChange=1),
    independent of the decoder, for round-trip tests."""
    table = {bytes([i]): i for i in range(256)}
    next_code, code_size = 258, 9
    codes = [(256, 9)]
    w = b""
    for b in data:
        wk = w + bytes([b])
        if wk in table:
            w = wk
            continue
        codes.append((table[w], code_size))
        if next_code < 4096:
            table[wk] = next_code
            next_code += 1
            if next_code >= (1 << code_size) - 1 and code_size < 12:
                code_size += 1
        w = bytes([b])
    if w:
        codes.append((table[w], code_size))
    codes.append((257, code_size))
    bits = bitpos = 0
    out = bytearray()
    for code, size in codes:
        bits = (bits << size) | code
        bitpos += size
        while bitpos >= 8:
            out.append((bits >> (bitpos - 8)) & 0xFF)
            bitpos -= 8
    if bitpos:
        out.append((bits << (8 - bitpos)) & 0xFF)
    return bytes(out)


def test_pdf_lzw_known_vector_and_roundtrip():
    from debgpt7_8_with_vectordb_spark.sources.readers import _pdf_lzw_decode

    # hand-packed: clear, 'A', 258 ('AA'), 'A', EOD -> AAAA
    assert _pdf_lzw_decode(bytes((0x80, 0x10, 0x60, 0x44, 0x18, 0x08))) == b"AAAA"
    for blob in (
        b"BT (lzw text) Tj ET",
        b"AB" * 400,  # forces dictionary growth past 9 bits
        bytes(range(256)) * 5,
        b"",
    ):
        assert _pdf_lzw_decode(_pdf_lzw_encode(blob)) == blob


@pytest.mark.parametrize(
    "filt,encode",
    [
        (b"/LZWDecode", lambda s: _pdf_lzw_encode(s)),
        (
            b"/ASCII85Decode",
            lambda s: __import__("base64").a85encode(s) + b"~>",
        ),
        (b"/ASCIIHexDecode", lambda s: s.hex().encode() + b">"),
        (
            b"/RunLengthDecode",
            lambda s: b"".join(
                bytes((len(c) - 1,)) + c
                for c in (s[i : i + 128] for i in range(0, len(s), 128))
            )
            + bytes((128,)),
        ),
    ],
)
def test_pdf_single_filter_streams(filt, encode):
    content = b"BT (filter " + filt.strip(b"/") + b" ok) Tj ET"
    body = encode(content)
    p = _pdf(
        b"/Length " + str(len(body)).encode() + b" /Filter " + filt, body
    )
    assert pdf_extract_text(p) == f"filter {filt[1:].decode()} ok"


def test_pdf_chained_filters_in_order():
    """[/ASCII85Decode /FlateDecode]: undo A85 first, then inflate —
    array order is application order (§7.3.8)."""
    import base64

    content = b"BT (chained) Tj ET"
    body = base64.a85encode(zlib.compress(content)) + b"~>"
    p = _pdf(
        b"/Length " + str(len(body)).encode()
        + b" /Filter [/ASCII85Decode /FlateDecode]",
        body,
    )
    assert pdf_extract_text(p) == "chained"


def test_pdf_image_filter_skipped_and_predictors_undone():
    jpeg = (
        b"2 0 obj\n<</Length 4 /Filter /DCTDecode>>\nstream\n"
        b"\xff\xd8\xff\xe0\nendstream\nendobj\n"
    )
    p = _pdf(b"/Length 17", b"BT (real) Tj ET\r\n", tail=jpeg)
    assert pdf_extract_text(p) == "real"

    # PNG Up-predictor (12), correctly applied forward: row r stores
    # filter tag 2 + (row - prev_row); unpredict must reverse it
    content = b"BT (png-pred) Tj ET!!"  # len 21 = 3 rows of 7
    cols = 7
    rows = [content[i : i + cols] for i in range(0, len(content), cols)]
    prev = bytes(cols)
    predicted = bytearray()
    for row in rows:
        predicted.append(2)
        predicted += bytes((row[i] - prev[i]) & 0xFF for i in range(cols))
        prev = row
    body = zlib.compress(bytes(predicted))
    p2 = _pdf(
        b"/Length " + str(len(body)).encode()
        + b" /Filter /FlateDecode /DecodeParms <</Predictor 12 /Columns 7>>",
        body,
    )
    assert pdf_extract_text(p2) == "png-pred"

    # TIFF horizontal differencing (predictor 2)
    content = b"BT (tiff) Tj ET."  # len 16 = 2 rows of 8
    cols = 8
    out = bytearray()
    for r in range(0, len(content), cols):
        row = content[r : r + cols]
        out += bytes(
            (row[i] - (row[i - 1] if i else 0)) & 0xFF for i in range(cols)
        )
    body = zlib.compress(bytes(out))
    p3 = _pdf(
        b"/Length " + str(len(body)).encode()
        + b" /Filter /FlateDecode /DecodeParms <</Predictor 2 /Columns 8>>",
        body,
    )
    assert pdf_extract_text(p3) == "tiff"

    # a stream whose predictor'd data is NOT valid (garbage tag byte)
    # is skipped, not garbled
    body = zlib.compress(b"BT (pred) Tj ET")
    p4 = _pdf(
        b"/Length " + str(len(body)).encode()
        + b" /Filter /FlateDecode /DecodeParms <</Predictor 12 /Columns 4>>",
        body,
    )
    assert pdf_extract_text(p4) == ""


# ---------------------------------------------------------------------------
# ToUnicode CMaps: subset-font glyph codes mapped to real characters
# ---------------------------------------------------------------------------


def _tounicode_font_pdf(cmap: bytes, content: bytes, font_name: bytes = b"F1") -> bytes:
    """Minimal PDF with a page-resource font carrying a ToUnicode CMap
    (object graph resolved by scan, no xref needed)."""
    return (
        b"%PDF-1.4\n"
        b"1 0 obj\n<</Type /Page /Resources <</Font <</" + font_name
        + b" 5 0 R>>>>>>\nendobj\n"
        b"5 0 obj\n<</Type /Font /Subtype /Type0 /ToUnicode 7 0 R>>\nendobj\n"
        b"7 0 obj\n<</Length " + str(len(cmap)).encode() + b">>\nstream\n"
        + cmap + b"\nendstream\nendobj\n"
        b"2 0 obj\n<</Length " + str(len(content)).encode() + b">>\nstream\n"
        + content + b"\nendstream\nendobj\n"
        b"trailer\n<<>>\n%%EOF"
    )


CMAP_2BYTE = (
    b"/CIDInit /ProcSet findresource begin\n"
    b"begincmap\n"
    b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
    b"2 beginbfchar\n<0003> <0048>\n<0004> <0069>\nendbfchar\n"
    b"1 beginbfrange\n<0010> <0012> <0061>\nendbfrange\n"
    b"1 beginbfrange\n<0020> <0021> [<0058> <00590021>]\nendbfrange\n"
    b"endcmap\nend\n"
)


def test_pdf_tounicode_bfchar_and_bfrange():
    """Glyph codes 0003/0004 -> 'H'/'i'; range 0010-0012 -> 'a','b','c';
    array range 0020/0021 -> 'X' and a two-char mapping 'Y!'."""
    content = b"BT /F1 12 Tf <0003 0004 0010 0011 0012 0020 0021> Tj ET"
    p = _tounicode_font_pdf(CMAP_2BYTE, content)
    assert pdf_extract_text(p) == "HiabcXY!"


def test_pdf_tounicode_one_byte_codespace():
    cmap = (
        b"begincmap\n"
        b"1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
        b"1 beginbfchar\n<41> <0051>\nendbfchar\n"  # 'A' glyph -> 'Q'
        b"endcmap\n"
    )
    # literal string: byte 0x41 maps to Q, byte 0x42 unmapped -> latin-1 'B'
    p = _tounicode_font_pdf(cmap, b"BT /F1 10 Tf (AB) Tj ET")
    assert pdf_extract_text(p) == "QB"


def test_pdf_font_switch_mid_stream():
    """Only the ACTIVE font's CMap applies; switching to an unmapped
    font restores the default string decode."""
    content = (
        b"BT /F1 12 Tf <0003> Tj /F9 12 Tf (plain) Tj ET"
    )
    p = _tounicode_font_pdf(CMAP_2BYTE, content)
    assert pdf_extract_text(p) == "Hplain"


def test_pdf_without_tounicode_unchanged():
    """No /ToUnicode anywhere: the fast path (no object indexing) and
    the old string decode are untouched."""
    p = _pdf(b"/Length 32", b"BT /F1 9 Tf (unchanged text) Tj ET")
    assert pdf_extract_text(p) == "unchanged text"


def _objstm_pdf(cmap: bytes, content: bytes, n: bytes | None = None) -> bytes:
    """Modern (PDF 1.5+ xref-stream era) shape: the page dict and font
    dict live INSIDE a Flate-compressed /Type /ObjStm object stream —
    only the content stream and the ToUnicode CMap stream (streams
    cannot nest in an ObjStm, §7.5.7) are top-level objects."""
    import zlib as _z

    inner10 = b"<</Type /Page /Resources <</Font <</F1 11 0 R>>>>>>"
    inner11 = b"<</Type /Font /Subtype /Type0 /ToUnicode 7 0 R>>"
    off11 = len(inner10) + 1
    header = b"10 0 11 " + str(off11).encode()
    first = len(header) + 1
    body = _z.compress(header + b"\n" + inner10 + b"\n" + inner11)
    return (
        b"%PDF-1.5\n"
        b"3 0 obj\n<</Type /ObjStm /N " + (n or b"2") + b" /First "
        + str(first).encode() + b" /Length " + str(len(body)).encode()
        + b" /Filter /FlateDecode>>\nstream\n"
        + body + b"\nendstream\nendobj\n"
        b"7 0 obj\n<</Length " + str(len(cmap)).encode() + b">>\nstream\n"
        + cmap + b"\nendstream\nendobj\n"
        b"2 0 obj\n<</Length " + str(len(content)).encode() + b">>\nstream\n"
        + content + b"\nendstream\nendobj\n"
        b"trailer\n<<>>\n%%EOF"
    )


def test_pdf_objstm_font_resolution():
    """PDF 1.5 object streams (VERDICT parity vs pypdf): font + page
    dicts packed in a compressed ObjStm still resolve to their
    ToUnicode CMap — previously the /ToUnicode marker only existed
    compressed, the early-out fired, and subset-font text fell back to
    latin-1 mojibake."""
    content = b"BT /F1 12 Tf <0003 0004> Tj ET"
    p = _objstm_pdf(CMAP_2BYTE, content)
    assert pdf_extract_text(p) == "Hi"


def test_pdf_objstm_hostile_n_degrades():
    """A hostile /N cannot allocate unbounded slices: the expansion is
    skipped, and extraction degrades to the latin-1 fallback instead of
    crashing (glyph codes 0003/0004 surface as raw control chars, which
    the extractor renders as-is)."""
    content = b"BT /F1 12 Tf (plain) Tj ET"
    p = _objstm_pdf(CMAP_2BYTE, content, n=b"999999999")
    assert pdf_extract_text(p) == "plain"


def test_pdf_objstm_corrupt_stream_degrades():
    """An ObjStm whose Flate body is corrupt is skipped; top-level
    streams still extract."""
    good = _objstm_pdf(CMAP_2BYTE, b"BT (ok) Tj ET")
    corrupt = good.replace(b"stream\n\x78", b"stream\n\x00", 1)
    assert pdf_extract_text(corrupt) == "ok"


def _diff_font_pdf(encoding: bytes, content: bytes, indirect: bool = False) -> bytes:
    """Simple font with a custom /Encoding /Differences and NO
    /ToUnicode — the scanned-object shape pypdf decodes via the Adobe
    Glyph List."""
    if indirect:
        font = b"<</Type /Font /Subtype /Type1 /Encoding 8 0 R>>"
        enc_obj = b"8 0 obj\n<</Type /Encoding /Differences " + encoding + b">>\nendobj\n"
    else:
        font = (
            b"<</Type /Font /Subtype /Type1 /Encoding "
            b"<</Type /Encoding /Differences " + encoding + b">>>>"
        )
        enc_obj = b""
    return (
        b"%PDF-1.4\n"
        b"1 0 obj\n<</Type /Page /Resources <</Font <</F1 5 0 R>>>>>>\nendobj\n"
        b"5 0 obj\n" + font + b"\nendobj\n" + enc_obj +
        b"2 0 obj\n<</Length " + str(len(content)).encode() + b">>\nstream\n"
        + content + b"\nendstream\nendobj\n"
        b"trailer\n<<>>\n%%EOF"
    )


def test_pdf_differences_encoding_inline():
    """Codes 1..3 remapped via glyph names: table name (ampersand),
    single-char name (Z), uniXXXX form; unmapped bytes keep latin-1."""
    enc = b"[1 /ampersand /Z /uni20AC]"
    p = _diff_font_pdf(enc, b"BT /F1 9 Tf (\x01\x02\x03 ok) Tj ET")
    assert pdf_extract_text(p) == "&Z€ ok"


def test_pdf_differences_encoding_indirect_and_repositioning():
    """Indirect /Encoding object; integers reposition the code counter
    mid-array (PDF 1.7 §9.6.6.3); unknown subset names (g12) are
    skipped and keep the latin-1 fallback."""
    enc = b"[65 /bullet /g12 128 /emdash /quotedblleft]"
    # A(65)->bullet, B(66)->unknown g12 stays 'B', 0x80->emdash, 0x81->ldquo
    p = _diff_font_pdf(
        enc, b"BT /F1 9 Tf (AB\x80\x81) Tj ET", indirect=True
    )
    assert pdf_extract_text(p) == "•B—“"


def test_pdf_tounicode_wins_over_differences():
    """When a font has BOTH, ToUnicode takes precedence (it is the
    authoritative extraction table per the spec)."""
    cmap = (
        b"begincmap\n"
        b"1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
        b"1 beginbfchar\n<41> <0051>\nendbfchar\n"
        b"endcmap\n"
    )
    p = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<</Type /Page /Resources <</Font <</F1 5 0 R>>>>>>\nendobj\n"
        b"5 0 obj\n<</Type /Font /ToUnicode 7 0 R /Encoding "
        b"<</Differences [65 /bullet]>>>>\nendobj\n"
        b"7 0 obj\n<</Length " + str(len(cmap)).encode() + b">>\nstream\n"
        + cmap + b"\nendstream\nendobj\n"
        b"2 0 obj\n<</Length 24>>\nstream\nBT /F1 9 Tf (A) Tj ET\nendstream\nendobj\n"
        b"trailer\n<<>>\n%%EOF"
    )
    assert pdf_extract_text(p) == "Q"


def test_pdf_objstm_rewinding_offsets_cut_off():
    """Code-review r10 finding: ascending offsets are the byte bound —
    a hostile pair table that rewinds offsets (each slice ~ the whole
    decoded stream) is cut off at the first violation instead of
    multiplying allocations; extraction degrades gracefully."""
    import zlib as _z

    from debgpt7_8_with_vectordb_spark.sources.readers import (
        _pdf_object_index,
    )

    inner = b"<</Type /Page>>"
    # offsets: 0, big, 0, big, ... (rewinds after the second pair)
    header = b"10 0 11 16 12 0 13 16"
    first = len(header) + 1
    body = _z.compress(header + b"\n" + inner + b"\n" + inner)
    payload = (
        b"%PDF-1.5\n3 0 obj\n<</Type /ObjStm /N 4 /First "
        + str(first).encode() + b" /Length " + str(len(body)).encode()
        + b" /Filter /FlateDecode>>\nstream\n" + body
        + b"\nendstream\nendobj\ntrailer\n<<>>\n%%EOF"
    )
    objs, spaces = _pdf_object_index(payload)
    # pair 1 registers; pair 2's slice is invalidated by the rewinding
    # NEXT offset (start > stop); pair 3 rewinds -> expansion cut off
    assert 10 in objs
    assert 12 not in objs and 13 not in objs
    assert len(spaces) == 1


def test_differences_parser_properties():
    """Property: for ANY interleaving of code-setters and glyph names,
    the table equals the straightforward reference walk — integers set
    the counter, every name consumes one code, unknown names leave
    gaps (PDF 1.7 §9.6.6.3)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from debgpt7_8_with_vectordb_spark.sources.readers import (
        _glyph_to_char,
        _parse_differences,
    )

    tokens = st.lists(
        st.one_of(
            st.integers(min_value=0, max_value=255),
            st.sampled_from(
                ["A", "z", "ampersand", "bullet", "uni20AC", "g7",
                 "emdash", "nosuchglyph", "u1F600", "space"]
            ),
        ),
        max_size=24,
    )

    @settings(max_examples=300, deadline=None)
    @given(tokens)
    def check(toks):
        arr = b" ".join(
            str(t).encode() if isinstance(t, int) else b"/" + t.encode()
            for t in toks
        )
        got = _parse_differences(arr)
        want = {}
        code = 0
        for t in toks:
            if isinstance(t, int):
                code = t
            else:
                ch = _glyph_to_char(t.encode())
                if ch is not None:
                    want[code] = ch
                code += 1
        assert got == want

    check()
    # the algorithmic name forms
    assert _glyph_to_char(b"uni0041") == "A"
    assert _glyph_to_char(b"u1F600") == "😀"
    assert _glyph_to_char(b"Q") == "Q"
    assert _glyph_to_char(b"g42") is None  # subset glyph: no mapping
    assert _glyph_to_char(b"uniXYZW") is None
    assert _glyph_to_char(b"\xff\xfe") is None  # non-ascii name bytes


# ---------------------------------------------------------------------------
# /Predictor at every legal /BitsPerComponent: sub-byte TIFF differencing
# is sample-exact, PNG filters run byte-wise over the bit-padded stride,
# 16-bit TIFF adds word-wise
# ---------------------------------------------------------------------------


def _pack_bits(vals: list[int], bpc: int, stride: int) -> bytes:
    acc = 0
    for v in vals:
        acc = (acc << bpc) | v
    pad = stride * 8 - len(vals) * bpc
    return (acc << pad).to_bytes(stride, "big")


def test_pdf_tiff_predictor_subbyte_components():
    import random

    from debgpt7_8_with_vectordb_spark.sources.readers import _pdf_unpredict

    rng = random.Random(7)
    for bpc, colors, cols in ((4, 1, 11), (2, 3, 5), (1, 1, 19)):
        mask = (1 << bpc) - 1
        nsamp = cols * colors
        stride = (nsamp * bpc + 7) // 8  # rows byte-aligned (bit-padded)
        rows = [
            [rng.randrange(mask + 1) for _ in range(nsamp)] for _ in range(3)
        ]
        raw = b"".join(_pack_bits(r, bpc, stride) for r in rows)
        pred = bytearray()
        for r in rows:
            d = list(r)
            for s in range(nsamp - 1, colors - 1, -1):
                d[s] = (d[s] - d[s - colors]) & mask
            pred += _pack_bits(d, bpc, stride)
        parms = (
            b"<</Predictor 2 /Columns " + str(cols).encode()
            + b" /Colors " + str(colors).encode()
            + b" /BitsPerComponent " + str(bpc).encode() + b">>"
        )
        assert _pdf_unpredict(parms, bytes(pred)) == raw, (bpc, colors)


def test_pdf_tiff_predictor_16bit_components():
    import random

    from debgpt7_8_with_vectordb_spark.sources.readers import _pdf_unpredict

    rng = random.Random(11)
    cols, colors = 6, 2
    rows = [[rng.randrange(65536) for _ in range(cols * colors)] for _ in range(2)]
    raw = b"".join(
        b"".join(v.to_bytes(2, "big") for v in r) for r in rows
    )
    pred = bytearray()
    for r in rows:
        d = list(r)
        for s in range(len(d) - 1, colors - 1, -1):
            d[s] = (d[s] - d[s - colors]) & 0xFFFF
        pred += b"".join(v.to_bytes(2, "big") for v in d)
    parms = b"<</Predictor 2 /Columns 6 /Colors 2 /BitsPerComponent 16>>"
    assert _pdf_unpredict(parms, bytes(pred)) == raw


def test_pdf_png_predictor_subbyte_components():
    from debgpt7_8_with_vectordb_spark.sources.readers import _pdf_unpredict

    # bpc=1: PNG filtering is byte-wise with bpp=1 over the padded
    # stride (PNG §9.2); forward-apply Sub then Up and reverse
    raw_rows = [b"\xa5\x3c\x07", b"\x12\xff\x80"]  # stride 3 = ceil(19/8)
    pred = bytearray()
    prev = bytes(3)
    for row, tag in zip(raw_rows, (1, 2)):
        pred.append(tag)
        if tag == 1:  # Sub
            line = bytes(
                (row[i] - (row[i - 1] if i else 0)) & 0xFF for i in range(3)
            )
        else:  # Up
            line = bytes((row[i] - prev[i]) & 0xFF for i in range(3))
        pred += line
        prev = row
    parms = b"<</Predictor 15 /Columns 19 /Colors 1 /BitsPerComponent 1>>"
    assert _pdf_unpredict(parms, bytes(pred)) == b"".join(raw_rows)
    # 12-bit pixels (colors=3, bpc=4) on an odd stride are the one
    # honest remainder: not expressible, skipped rather than garbled
    parms = b"<</Predictor 15 /Columns 3 /Colors 3 /BitsPerComponent 4>>"
    assert _pdf_unpredict(parms, b"\x00\x00\x00\x00\x00\x00") is None


def test_pdf_subbyte_predictor_end_to_end():
    import zlib

    from debgpt7_8_with_vectordb_spark.sources.readers import pdf_extract_text

    # a content stream run through forward TIFF differencing at bpc=4
    # (each byte = two 4-bit samples) must extract after the reverse
    content = b"BT (sub-byte) Tj ET"  # 19 bytes -> pad to stride
    cols = 38  # 38 4-bit samples per row = 19 bytes, one row
    samples = []
    for b in content:
        samples += [b >> 4, b & 0xF]
    diff = list(samples)
    for s in range(len(diff) - 1, 0, -1):
        diff[s] = (diff[s] - diff[s - 1]) & 0xF
    row = _pack_bits(diff, 4, 19)
    body = zlib.compress(row)
    p = _pdf(
        b"/Length " + str(len(body)).encode()
        + b" /Filter /FlateDecode /DecodeParms <</Predictor 2 /Columns "
        + str(cols).encode() + b" /BitsPerComponent 4>>",
        body,
    )
    assert pdf_extract_text(p) == "sub-byte"


# ---------------------------------------------------------------------------
# Incremental updates: only the LIVE version of each object extracts
# ---------------------------------------------------------------------------


def test_pdf_incremental_update_supersedes_original():
    from debgpt7_8_with_vectordb_spark.sources.readers import (
        pdf_extract_text,
    )

    base = (
        b"%PDF-1.4\n" + _content_obj(1, 0, b"original")
        + b"trailer\n<<>>\nstartxref\n0\n%%EOF\n"
    )
    # without an update, the original extracts
    assert pdf_extract_text(base) == "original"
    # appended update: same object number, later position wins — the
    # stale original must NOT extract alongside it
    updated = base + (
        _content_obj(1, 0, b"revised")
        + b"trailer\n<<>>\nstartxref\n0\n%%EOF\n"
    )
    assert pdf_extract_text(updated) == "revised"
    # a reused number at a HIGHER generation supersedes regardless of
    # position ordering quirks
    gen_bump = base + (
        _content_obj(1, 1, b"gen1")
        + b"trailer\n<<>>\nstartxref\n0\n%%EOF\n"
    )
    assert pdf_extract_text(gen_bump) == "gen1"
    # distinct object numbers are unaffected: both extract, file order
    multi = (
        b"%PDF-1.4\n" + _content_obj(1, 0, b"one") + _content_obj(2, 0, b"two")
        + b"trailer\n<<>>\nstartxref\n0\n%%EOF\n"
        + _content_obj(1, 0, b"one-v2")
        + b"trailer\n<<>>\nstartxref\n0\n%%EOF\n"
    )
    assert pdf_extract_text(multi) == "two\none-v2"


def test_pdf_incremental_update_font_object_precedence():
    """The object index must also resolve /Font references to the LIVE
    font object: an appended update that replaces a font's /ToUnicode
    CMap changes how the glyph codes decode."""
    import zlib

    from debgpt7_8_with_vectordb_spark.sources.readers import (
        pdf_extract_text,
    )

    def cmap_obj(num: int, target: bytes) -> bytes:
        cm = (
            b"begincmap\n"
            b"1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
            b"1 beginbfchar\n<01> <00" + target
            + b">\nendbfchar\nendcmap\n"
        )
        body = zlib.compress(cm)
        return (
            str(num).encode() + b" 0 obj\n<</Length "
            + str(len(body)).encode()
            + b" /Filter /FlateDecode>>\nstream\n" + body
            + b"\nendstream\nendobj\n"
        )

    page = (
        b"3 0 obj\n<</Resources <</Font <</F1 4 0 R>>>>>>\nendobj\n"
        b"4 0 obj\n<</Type /Font /ToUnicode 5 0 R>>\nendobj\n"
    )
    content = b"BT /F1 Tf <01> Tj ET"
    stream = (
        b"6 0 obj\n<</Length " + str(len(content)).encode()
        + b">>\nstream\n" + content + b"\nendstream\nendobj\n"
    )
    base = (
        b"%PDF-1.4\n" + page + cmap_obj(5, b"41") + stream
        + b"trailer\n<<>>\nstartxref\n0\n%%EOF\n"
    )
    assert pdf_extract_text(base) == "A"  # <01> -> U+0041
    updated = base + cmap_obj(5, b"5A") + b"startxref\n0\n%%EOF\n"
    assert pdf_extract_text(updated) == "Z"  # live CMap maps to U+005A


# ---------------------------------------------------------------------------
# TeX Computer Modern base encodings: subset CM fonts without
# /ToUnicode or /Differences decode through the published TeX
# encodings — OMS (cmsy), OT1 (cmr family), OML (cmmi)
# ---------------------------------------------------------------------------


def _tex_font_pdf(basefont: bytes, content: bytes) -> bytes:
    return (
        b"%PDF-1.4\n"
        b"1 0 obj\n<</Type /Page /Resources <</Font <</F1 5 0 R>>>>>>\n"
        b"endobj\n"
        b"5 0 obj\n<</Type /Font /Subtype /Type1 /BaseFont /" + basefont
        + b">>\nendobj\n"
        b"2 0 obj\n<</Length " + str(len(content)).encode() + b">>\nstream\n"
        + content + b"\nendstream\nendobj\n"
        b"trailer\n<<>>\n%%EOF"
    )


def test_pdf_tex_base_encodings():
    # cmsy: code 15 is the itemize bullet (the libtasn1 case), 32/33
    # the arrows; subset prefix on the name is the common form
    p = _tex_font_pdf(
        b"KGFModU+CMSY10", b"BT /F1 10 Tf <0F2021> Tj ET"
    )
    assert pdf_extract_text(p) == "∙←→"
    # cmr (OT1): fi/fl ligatures at 12/13, em-dash at 124; plain ASCII
    # letters pass through the latin-1 fallback untouched
    p2 = _tex_font_pdf(b"ABCDEF+CMR10", b"BT /F1 10 Tf (\x0cne \x0day|abc) Tj ET")
    assert pdf_extract_text(p2) == "fine flay—abc"
    # cmmi (OML): Greek lowercase block starts at 11
    p3 = _tex_font_pdf(b"CMMI12", b"BT /F1 12 Tf <0B0C> Tj ET")
    assert pdf_extract_text(p3) == "αβ"
    # a ToUnicode CMap still wins over the base-encoding fallback
    cmap = (
        b"begincmap\n"
        b"1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
        b"1 beginbfchar\n<0F> <0051>\nendbfchar\n"
        b"endcmap\n"
    )
    p4 = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<</Type /Page /Resources <</Font <</F1 5 0 R>>>>>>\n"
        b"endobj\n"
        b"5 0 obj\n<</Type /Font /BaseFont /CMSY10 /ToUnicode 7 0 R>>\n"
        b"endobj\n"
        b"7 0 obj\n<</Length " + str(len(cmap)).encode() + b">>\nstream\n"
        + cmap + b"\nendstream\nendobj\n"
        b"2 0 obj\n<</Length 22>>\nstream\n"
        b"BT /F1 10 Tf <0F> Tj ET\nendstream\nendobj\n"
        b"trailer\n<<>>\n%%EOF"
    )
    assert pdf_extract_text(p4) == "Q"
    # non-CM fonts are untouched (no table, latin-1 fallback)
    p5 = _tex_font_pdf(b"Helvetica", b"BT /F1 10 Tf (plain) Tj ET")
    assert pdf_extract_text(p5) == "plain"


def test_pdf_tex_encoding_real_manual_bullets():
    """The 38 itemize bullets in the container's TeX-produced libtasn1
    manual are cmsy code 15 in an ObjStm-packed subset font without
    ToUnicode — they must surface as '∙', not raw control bytes."""
    import pathlib

    import pytest

    src = pathlib.Path("/usr/share/doc/libtasn1-doc/libtasn1.pdf")
    if not src.exists():
        pytest.skip("libtasn1 manual not in container")
    text = pdf_extract_text(src.read_bytes())
    assert text.count("∙") == 38
    assert "\x0f" not in text


def test_pdf_adobe_symbol_base_encoding():
    """Adobe Symbol (PDF 1.7 Annex D.5) without ToUnicode: Greek rides
    the latin letter slots; math slots map; StandardEncoding-coincident
    bytes fall through latin-1 untouched."""
    p = _tex_font_pdf(b"Symbol", b"BT /F1 10 Tf (abgd) Tj ET")
    assert pdf_extract_text(p) == "αβγδ"
    p2 = _tex_font_pdf(b"KGHIJK+Symbol", b"BT /F1 10 Tf (W) Tj <B7A5> Tj ET")
    assert pdf_extract_text(p2) == "Ω•∞"
    # a font merely CONTAINING 'Symbol' in a longer name is not matched
    p3 = _tex_font_pdf(b"MySymbolic-Sans", b"BT /F1 10 Tf (abgd) Tj ET")
    assert pdf_extract_text(p3) == "abgd"


def test_pdf_obj_pattern_inside_stream_body_is_not_a_header():
    """Compressed bytes can coincidentally spell 'N G obj'; with
    latest-wins incremental precedence such a match must NOT displace
    the real object or mark it superseded (the match is masked because
    it falls inside a stream body)."""
    import zlib

    decoy_content = b"\x80noise 1 0 obj <<>> garbage endobj noise\x80"
    decoy = zlib.compress(decoy_content, 0)  # stored blocks: literal bytes
    assert b"1 0 obj" in decoy
    p = (
        b"%PDF-1.4\n"
        + _content_obj(1, 0, b"real")
        + b"startxref\n0\n%%EOF\n"
        # appended revision carrying the decoy stream (object 9)
        + b"9 0 obj\n<</Length " + str(len(decoy)).encode()
        + b" /Filter /FlateDecode>>\nstream\n" + decoy
        + b"\nendstream\nendobj\n"
        + b"startxref\n0\n%%EOF\n"
    )
    assert pdf_extract_text(p) == "real"
