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
"""

import zlib

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
