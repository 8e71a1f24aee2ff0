"""The pattern-based content-stream scanner against the per-byte reference
(``tests/pdf_reference.py``), plus the grammar it reads: TJ arrays,
marked-content dictionaries, literal-string escapes, and the trailer
keyword scan."""

import re

import pytest
from hypothesis import given, settings, strategies as st

from docling_api_spark.operators.pdf_extract import (PdfUnsupported,
                                                     _page_streams,
                                                     _tokenize,
                                                     _trailer_regions,
                                                     extract_pdf_rich)
from docling_api_spark.operators.pdf_write import content_stream, write_pdf
from fixture_corpus import FIXTURE_CLASSES
from pdf_reference import tokenize as reference_tokenize


def _pdf_with_stream(stream: bytes) -> bytes:
    """A one-page fixture PDF whose content stream is ``stream``."""
    base = write_pdf([[(72.0, 700.0, 11.0, ["placeholder"])]])
    old = content_stream([(72.0, 700.0, 11.0, ["placeholder"])])
    assert base.count(old) == 1
    return base.replace(b"/Length %d" % len(old),
                        b"/Length %d" % len(stream)).replace(old, stream)


def _seed_streams() -> list[bytes]:
    seeds = []
    for make in FIXTURE_CLASSES:
        if make.__name__.startswith("pdf_"):
            for i in (0, 1):
                seeds += [s for s, _, _ in _page_streams(make(i).content)]
    seeds += [
        content_stream([(72.0, 700.0, 11.0, ["esc \\ (paren) x", "two"]),
                        (306.0, 500.0, 20.0, ["Head"])]),
        content_stream([(72.0, 700.0, 11.0, ["hex line"])],
                       hex_strings=True),
        b"q 64 0 0 48 72 600 cm /Im1 Do Q BT /F1 11 Tf 72 540 Td"
        b" (caption) Tj ET",
        b"BT /F1 11 Tf 72 700 Td [(see [1]) -250 (more)] TJ"
        b" [(Wor) 40 (ld) -300 (again)] TJ ET",
        b"/P <</MCID 0>> BDC BT /F1 11 Tf 72 700 Td (x) Tj ET EMC"
        b" /Span <</ActualText (a>>b) /Alt <4142>>> BDC EMC",
        b"BT (a\\101\\18b\\9) Tj (c\\\r\nd\\\re\\\nf) Tj T* (g) ' ET",
        b"BT /F1 11 Tf 72 700 Td [(ab) 1 Tj",
    ]
    return seeds


_SEEDS = _seed_streams()
_ATOMS = [b"(", b")", b"\\", b"<", b">", b"<<", b">>", b"[", b"]", b" ",
          b"\n", b"\r", b"\r\n", b"\t", b"0", b"7", b"8", b"9", b"-250",
          b"1.5", b".", b"-", b"/", b"%", b"{", b"TJ", b"Tj", b"BT", b"ET",
          b"a"]


@st.composite
def _mutated_stream(draw):
    s = bytearray(draw(st.sampled_from(_SEEDS)))
    for _ in range(draw(st.integers(0, 6))):
        pos = draw(st.integers(0, len(s)))
        how = draw(st.sampled_from(("insert", "replace", "delete")))
        if how == "delete":
            del s[pos:pos + draw(st.integers(1, 3))]
        else:
            atom = draw(st.sampled_from(_ATOMS))
            s[pos:pos + (how == "replace")] = atom
    return bytes(s)


def _outcome(tokenize, stream: bytes):
    try:
        return list(tokenize(stream))
    except PdfUnsupported:
        return PdfUnsupported


def test_scanner_equals_reference_on_seed_streams():
    assert len(_SEEDS) > 20
    for s in _SEEDS:
        assert _tokenize(s) == list(reference_tokenize(s))


@settings(max_examples=1500, deadline=None)
@given(_mutated_stream())
def test_scanner_equals_reference_on_mutated_streams(stream):
    assert _outcome(_tokenize, stream) == \
        _outcome(reference_tokenize, stream)


def test_tj_kerning_gap_and_bracket_inside_string():
    """A TJ kern ≤ -180 thousandths reads as a word gap, a smaller one
    joins; a ``]`` inside a string does not end the array."""
    pdf = _pdf_with_stream(
        b"BT /F1 11 Tf 72 700 Td [(Wor) -179 (ld) -180 (see [1]) 120"
        b" (x)] TJ ET")
    assert extract_pdf_rich(pdf)[0] == "World see [1]x"
    pdf = _pdf_with_stream(
        b"BT /F1 11 Tf 72 700 Td [(see [1]) -250 (more)] TJ ET")
    assert extract_pdf_rich(pdf)[0] == "see [1] more"
    # an unterminated array runs to the end of the stream
    assert _tokenize(b"[(ab) 1 Tj") == [
        ("arr", [("str", b"ab"), ("num", 1.0), ("op", b"Tj")])]


def test_marked_content_dictionary_is_one_operand():
    """Tagged PDFs wrap text in ``/Tag <<…>> BDC … EMC``."""
    assert _tokenize(b"/P <</MCID 0>> BDC (x) Tj EMC") == [
        ("name", b"P"), ("dict", b"<</MCID 0>>"), ("op", b"BDC"),
        ("str", b"x"), ("op", b"Tj"), ("op", b"EMC")]
    nested = b"<</A <</B (>>) /C <3E>>> /D 1>>"
    assert _tokenize(nested + b" BDC") == [("dict", nested), ("op", b"BDC")]
    pdf = _pdf_with_stream(
        b"/P <</MCID 0>> BDC BT /F1 11 Tf 72 700 Td (x) Tj ET EMC")
    assert extract_pdf_rich(pdf)[0] == "x"
    with pytest.raises(PdfUnsupported):
        _tokenize(b"/P <</MCID 0 BDC")


@pytest.mark.parametrize("literal, value", [
    (rb"(\9)", b"9"),
    (rb"(a\18b)", b"a\x018b"),
    (rb"(\0053)", b"\x053"),
    (rb"(\q\))", b"q)"),
    (b"(a\\\r\nb)", b"ab"),
    (b"(a\\\rb)", b"ab"),
    (b"(a\\\nb)", b"ab"),
    (b"(a\r\nb)", b"a\r\nb"),
])
def test_literal_string_escapes(literal, value):
    """§7.3.4.2: only 0-7 are octal digits, any other escaped byte
    drops the backslash, and a backslash-newline (CR, LF or CR LF)
    is a line continuation."""
    assert _tokenize(literal + b" Tj") == [("str", value), ("op", b"Tj")]
    pdf = _pdf_with_stream(b"BT /F1 11 Tf 72 700 Td " + literal + b" Tj ET")
    md = extract_pdf_rich(pdf)[0]
    assert md == " ".join(value.decode("latin-1").split())


def _trailer_regions_regex(data: bytes) -> list[bytes]:
    return [data[m.end():m.end() + 2048] for m in re.finditer(
        rb"(?:^|[>\r\n])\s*trailer\s*(?=<<)", data)]


@settings(max_examples=500, deadline=None)
@given(st.lists(st.sampled_from(
    [b"trailer", b"<<", b"<", b">", b">>", b" ", b"\n", b"\r", b"\t",
     b"\f", b"\x0b", b"x", b"/Encrypt 1 0 R", b"tra", b"iler"]),
    max_size=14))
def test_trailer_scan_matches_anchored_regex(parts):
    data = b"".join(parts)
    assert _trailer_regions(data, {}) == _trailer_regions_regex(data)
