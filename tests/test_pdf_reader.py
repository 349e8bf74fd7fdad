"""PDF font-resource scans (sources/readers.py): the balanced /Font
resource scan registers only refs that sit outside every nested
``<<...>>``, so an inline font dict's internals never shadow a real
resource ref of the same name."""

from debgpt7_8_with_vectordb_spark.sources.readers import (
    _nested_dict_spans,
    _pdf_font_cmaps,
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
