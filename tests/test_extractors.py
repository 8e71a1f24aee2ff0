"""Golden + property tests for the extractors (SURVEY.md §5.2 items 1/2/4)."""

import pytest
from hypothesis import given, settings, strategies as st

from docling_api_spark.config import ExtractConfig
from docling_api_spark.operators.convert import convert_one
from docling_api_spark.operators.html_extract import extract_html
from docling_api_spark.operators.md_adoc import normalize_markdown
from fixture_corpus import FIXTURE_CLASSES, make_url

CFG = ExtractConfig()


@pytest.mark.parametrize("cls", FIXTURE_CLASSES, ids=lambda c: c.__name__)
@pytest.mark.parametrize("i", [0, 1, 7, 42])
def test_fixture_golden(cls, i):
    fx = cls(i)
    r = convert_one(fx.content, make_url(fx.name, i, fx.ext), CFG)
    assert r["fmt"] == fx.fmt
    if fx.error:
        assert r["error"] == fx.error
        assert r["markdown"] is None
    else:
        assert r["error"] is None, r["error"]
        assert r["markdown"] is not None
    if fx.golden is not None:
        assert r["markdown"] == fx.golden  # byte-identical target
    if fx.images is not None:
        assert r["images"] == fx.images


def test_markdown_xor_error_invariant():
    # exactly one of {markdown, error} populated — service.py:83-88 contract
    for cls in FIXTURE_CLASSES:
        fx = cls(3)
        r = convert_one(fx.content, make_url(fx.name, 3, fx.ext), CFG)
        assert (r["markdown"] is None) != (r["error"] is None)


def test_placeholder_rewrite_first_occurrence_only():
    # service.py:61 — left-to-right, one at a time
    html = ('<html><body><img src="a.png"><p>mid</p>'
            '<img src="b.png"><img src="c.png"></body></html>')
    r = extract_html(html, CFG)
    assert "picture-1.png" in r.markdown
    assert "picture-2.png" in r.markdown
    assert "picture-3.png" in r.markdown
    assert "<!-- image -->" not in r.markdown
    assert r.markdown.index("picture-1.png") < r.markdown.index("picture-2.png")


def test_tables_as_images_not_rewritten():
    # service.py:53-56 quirk: table image recorded, markdown table kept
    cfg = ExtractConfig(extract_tables_as_images=True)
    html = ("<html><body><table><tr><th>a</th></tr><tr><td>1</td></tr>"
            "</table></body></html>")
    r = extract_html(html, cfg)
    assert "| a |" in r.markdown
    assert "table-1.png" not in r.markdown  # never substituted
    import base64

    from docling_api_spark.operators.png_write import table_png
    assert r.images == [{
        "type": "table", "filename": "table-1.png",
        # 2 rows x 1 col: the raster of the table's structure
        "image": base64.b64encode(table_png(2, 1)).decode()}]


def test_span_offsets_exact():
    fx = FIXTURE_CLASSES[1](5)  # headings+lists
    r = convert_one(fx.content, "https://x/f.html", CFG)
    md = r["markdown"]
    for s in r["spans"]:
        seg = md[s["start"]:s["end"]]
        assert seg == seg.strip("\n")
        assert len(seg) == s["end"] - s["start"]
    # spans tile the document with "\n\n" separators
    rebuilt = "\n\n".join(md[s["start"]:s["end"]] for s in r["spans"])
    assert rebuilt == md


def test_determinism_repeat_runs():
    for cls in FIXTURE_CLASSES:
        fx = cls(9)
        url = make_url(fx.name, 9, fx.ext)
        r1 = convert_one(fx.content, url, CFG)
        r2 = convert_one(fx.content, url, CFG)
        assert r1 == r2


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=2048))
def test_total_function_arbitrary_bytes(data):
    # raises_on_error=False semantics (service.py:80): never raises,
    # always markdown xor error
    r = convert_one(data, "https://fuzz.example/x.html", CFG)
    assert (r["markdown"] is None) != (r["error"] is None)


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)),
               max_size=1024))
def test_html_extract_never_raises_on_text(text):
    extract_html(text, CFG)


def test_pdf_multipage_two_column_reading_order():
    """Pages concatenate in order; within a page, blocks sort into
    column-major reading order (full left column before the right one) —
    the north_star's layout-block segmentation + reading-order sort."""
    from docling_api_spark.operators.pdf_extract import extract_pdf_rich
    from docling_api_spark.operators.pdf_write import write_pdf

    pdf = write_pdf([
        [(72.0, 720.0, 18.0, ["Page One Title"]),
         (72.0, 680.0, 11.0, ["p1 body"])],
        [(72.0, 720.0, 12.0, ["left col"]),
         (320.0, 720.0, 12.0, ["right col"]),
         (72.0, 680.0, 11.0, ["left lower"])],
    ], compress=True)
    assert extract_pdf_rich(pdf)[0] == ("## Page One Title\n\np1 body\n\n"
                                        "left col\n\nleft lower\n\nright col")


def test_pdf_flate_stream_ending_in_cr_byte():
    """r3 sweep find: ~1/256 Flate streams end in 0x0D and the old
    delimiter regex ate that byte as the \\r of '\\r?\\nendstream',
    truncating the stream. The reader must slice by /Length instead."""
    import zlib

    from docling_api_spark.operators.pdf_extract import extract_pdf_rich
    from docling_api_spark.operators.pdf_write import (content_stream,
                                                       write_pdf)

    hit = 0
    for i in range(800):  # i=199 etc. end in 0x0D with this content shape
        body = f"tail probe body {i} w{i * i % 9973}"
        blocks = [(72.0, 720.0, 18.0, [f"Probe {i}"]),
                  (72.0, 690.0, 11.0, [body])]
        if zlib.compress(content_stream(blocks), 6).endswith(b"\r"):
            hit += 1
        pdf = write_pdf([blocks], compress=True)
        assert extract_pdf_rich(pdf)[0] == f"## Probe {i}\n\n{body}", i
    assert hit > 0  # the hazardous byte pattern was actually exercised


def test_pdf_indirect_length_falls_back_to_delimiter():
    """r3 review find: an indirect '/Length 128 0 R' must NOT match a
    digit prefix via backtracking (slicing 12 bytes); it takes the
    delimiter-regex fallback. Direct /Length slices exactly."""
    from docling_api_spark.operators.pdf_extract import _stream_of

    payload = b"BT (x) Tj ET"
    assert _stream_of(b"<< /Length 128 0 R >>\nstream\n" + payload
                      + b"\nendstream") == payload
    assert _stream_of(b"<< /Length 128 3 R >>\nstream\n" + payload
                      + b"\nendstream") == payload
    assert _stream_of(b"<< /Length 12 >>\nstream\n" + payload
                      + b"\nendstream") == payload


def test_pdf_reader_robust_under_mutation():
    """Mutated/truncated PDF bytes terminate fast and fail only via the
    typed PdfUnsupported channel (or parse cleanly) — no hangs, no stray
    exceptions (poison-document safety at the reader level; convert_one
    adds the catch-all above it)."""
    import random
    import time

    from docling_api_spark.operators.pdf_extract import (PdfUnsupported,
                                                         extract_pdf_rich)
    from docling_api_spark.operators.pdf_write import write_pdf

    base = [write_pdf([[(72.0, 720.0, 18.0, [f"Doc {i}"]),
                        (72.0, 680.0, 11.0, ["hello world " * 10])]],
                      compress=bool(i % 2)) for i in range(2)]
    rng = random.Random(20260816)
    t0 = time.perf_counter()
    for _ in range(500):
        raw = bytearray(rng.choice(base))
        for _ in range(rng.randint(1, 12)):
            op = rng.random()
            if op < 0.4 and raw:
                raw[rng.randrange(len(raw))] = rng.randrange(256)
            elif op < 0.7 and raw:
                del raw[rng.randrange(len(raw))]
            else:
                raw.insert(rng.randrange(len(raw) + 1), rng.randrange(256))
        try:
            extract_pdf_rich(bytes(raw))
        except PdfUnsupported:
            pass
    for frac in (1, len(base[0]) // 3, len(base[0]) - 10):
        try:
            extract_pdf_rich(base[0][:frac])
        except PdfUnsupported:
            pass
    assert time.perf_counter() - t0 < 20


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=512))
def test_markdown_normalize_idempotent(text):
    once = normalize_markdown(text)
    assert normalize_markdown(once) == once


def test_pdf_string_escapes_roundtrip():
    """Literal-string escapes (backslash, parens, octal) survive the
    write→extract round trip byte-exactly (r4 grammar notch — the most
    common real-PDF string feature the scoped reader handles)."""
    from docling_api_spark.operators.pdf_extract import (_tokenize,
                                                         extract_pdf_rich)
    from docling_api_spark.operators.pdf_write import write_pdf
    tricky = r"(ref 14\0) and \ (nested (parens)) end"
    pdf = write_pdf([[(72.0, 700.0, 11.0, [tricky])]])
    assert extract_pdf_rich(pdf)[0] == tricky
    # octal escapes decode too (reader-side; the writer never emits them)
    toks = list(_tokenize(rb"(\051\134\050) Tj"))
    assert toks[0] == ("str", b")\\(")


def test_pdf_two_page_fixture_markdown_and_spans():
    """The doc_id%20==14 fixture class: page-2 blocks concatenate after
    page 1 in /Kids order and span offsets continue across the page
    boundary (hand-derived golden, independent of the SQL oracle)."""
    from docling_api_spark.operators.md_adoc import block_spans
    from docling_api_spark.operators.pdf_extract import extract_pdf_rich
    from docling_api_spark.operators.pdf_write import write_pdf
    p1 = [(72.0, 730.0, 24.0, ["Doc 14"]),
          (72.0, 690.0, 18.0, ["Section 0"]),
          (72.0, 655.0, 14.0, ["Part 2"]),
          (72.0, 620.0, 11.0, ["body text"])]
    p2 = [(72.0, 730.0, 14.0, ["Part 2 b"]),
          (72.0, 690.0, 11.0, ["(ref 14\\0)"])]
    md = extract_pdf_rich(write_pdf([p1, p2], compress=True))[0]
    assert md == ("# Doc 14\n\n## Section 0\n\n### Part 2\n\n"
                  "body text\n\n### Part 2 b\n\n(ref 14\\0)")
    spans = block_spans(md)
    assert [(s["start"], s["end"], s["kind"]) for s in spans] == [
        (0, 8, "heading"), (10, 22, "heading"), (24, 34, "heading"),
        (36, 45, "paragraph"), (47, 59, "heading"), (61, 71, "paragraph")]
    assert md[spans[4]["start"]:spans[4]["end"]] == "### Part 2 b"


def test_charset_decode_paths():
    """r4 html5-prescan decoding: declared cp1252 bytes that are WRONG
    under the fallback chain must decode per the declaration; the
    iso-8859-1 label remaps to windows-1252 (whatwg); BOMs win over
    declarations; undeclared invalid-utf8 falls back to latin-1."""
    from docling_api_spark.operators.convert import decode_html
    body = "<p>dash — euro € ok</p>"
    declared = ('<html><head><meta charset="windows-1252"></head><body>'
                + body + "</body></html>")
    assert "— euro €" in decode_html(declared.encode("cp1252"))
    # the whatwg label remap: iso-8859-1 label, cp1252-only bytes
    remap = ('<html><head><meta http-equiv="Content-Type" content='
             '"text/html; charset=iso-8859-1"></head><body>'
             + body + "</body></html>")
    assert "— euro €" in decode_html(remap.encode("cp1252"))
    # BOM wins; utf-16 both endians
    for enc in ("utf-16-le", "utf-16-be"):
        bom = b"\xff\xfe" if enc == "utf-16-le" else b"\xfe\xff"
        assert "é" in decode_html(bom + "<p>é</p>".encode(enc))
    assert decode_html("naïve".encode("latin-1")) == "naïve"
    # declared codec that cannot decode the bytes -> fallback, no raise
    lie = ('<html><head><meta charset="us-ascii"></head><body><p>'
           "naïve</p></body></html>").encode("latin-1")
    assert "naïve" in decode_html(lie)


def test_charset_utf16_label_means_utf8():
    """whatwg §13.2.3.2: a meta-declared utf-16 family label must be
    treated as utf-8 — the prescan can only read the label from
    ASCII-compatible bytes, so a visible utf-16 declaration is always
    wrong (r5 ADVICE fix: strict utf-16 decode of even-length ASCII
    HTML SUCCEEDS, silently producing CJK mojibake with no error row)."""
    from docling_api_spark.operators.convert import decode_html
    for label in ("utf-16", "utf-16le", "utf-16be", "UTF-16"):
        # even byte length on purpose: the old bug path decoded it
        page = (f'<meta charset="{label}"><p>plain ascii page ok</p>'
                "<i></i>")
        page = page + ("x" if len(page) % 2 else "")
        got = decode_html(page.encode("ascii"))
        assert "plain ascii page ok" in got, (label, got[:40])
        # utf-8 bytes under a utf-16 label decode as utf-8
        got8 = decode_html(
            f'<meta charset="{label}"><p>résumé</p>'.encode("utf-8"))
        assert "résumé" in got8
    # a REAL utf-16 page carries a BOM, which wins before the prescan
    assert "é" in decode_html(
        b"\xff\xfe" + '<meta charset="utf-16"><p>é</p>'.encode("utf-16-le"))


def test_charset_decode_property():
    """Property (seeded-random, 2000 cases): text drawn from the
    declared codec's repertoire survives encode→decode_html exactly;
    arbitrary byte blobs never raise."""
    import random

    from docling_api_spark.operators.convert import decode_html
    rng = random.Random(7)
    pools = {
        "utf-8": "abc éàü€— 日本語 0",
        "cp1252": "abc éàü€—‚ƒ„…†‡ˆ‰ 0",
        "latin-1": "abc éàüÿ÷ 0",
    }
    declared = {"utf-8": "utf-8", "cp1252": "windows-1252",
                "latin-1": "iso-8859-1"}
    for _ in range(2000):
        codec = rng.choice(list(pools))
        text = "".join(rng.choice(pools[codec]) for _ in range(40))
        html = (f'<html><head><meta charset="{declared[codec]}"></head>'
                f"<body><p>{text}</p></body></html>")
        got = decode_html(html.encode(codec))
        # iso-8859-1 label remaps to cp1252 (identical for latin-1's
        # repertoire), so the declared decode must reproduce the text
        assert text in got, (codec, text)
    for _ in range(2000):
        blob = bytes(rng.randrange(256)
                     for _ in range(rng.randrange(0, 300)))
        decode_html(blob)  # must never raise


def test_pdf15_objstm_xref_layout_invariant():
    """PDF 1.5 (ObjStm container + binary XRef stream) extracts byte-
    identically to the classic-xref layout for every compress combo —
    the markdown is a function of the page content only, never the
    file layout (r5 grammar notch; corpus class pdf_objstm_xref and
    the i%3==0 slice of the driver PDF corpus use this layout)."""
    from docling_api_spark.operators.pdf_extract import extract_pdf_rich
    from docling_api_spark.operators.pdf_write import write_pdf
    pages = [[(72.0, 730.0, 24.0, ["Spec 7"]),
              (72.0, 690.0, 18.0, ["Overview"]),
              (72.0, 620.0, 11.0, ["Body one.", "Body two."])],
             [(72.0, 730.0, 14.0, ["Part b"]),
              (72.0, 690.0, 11.0, ["(ref 7\\3)"])]]
    expect = extract_pdf_rich(write_pdf(pages))[0]
    assert "# Spec 7" in expect and "(ref 7\\3)" in expect
    for compress in (False, True):
        got = extract_pdf_rich(write_pdf(pages, compress=compress,
                                         xref_stream=True))[0]
        assert got == expect, compress
    # and the 1.5 file really is 1.5-shaped (no classic xref table)
    pdf15 = write_pdf(pages, xref_stream=True)
    assert pdf15.startswith(b"%PDF-1.5")
    assert b"/Type /ObjStm" in pdf15 and b"/Type /XRef" in pdf15
    assert b"\nxref\n" not in pdf15 and b"trailer" not in pdf15


def test_pdf_object_scan_survives_endobj_in_stream_payload():
    """A content stream whose PAYLOAD contains the bytes ``endobj`` /
    ``N 0 obj`` must not derail the object scan: the stream-aware
    scanner skips payloads by direct /Length before searching for the
    object end (the old non-greedy ``(.*?)endobj`` regex truncated the
    object here and silently extracted partial text)."""
    from docling_api_spark.operators.pdf_extract import extract_pdf_rich
    from docling_api_spark.operators.pdf_write import write_pdf
    tricky = "before endobj after 9 0 obj done"
    pdf = write_pdf([[(72.0, 700.0, 11.0, [tricky])]])
    assert extract_pdf_rich(pdf)[0] == tricky


def test_pdf15_reader_robust_under_mutation():
    """The ObjStm/XRef decode path fails only via PdfUnsupported (or
    parses cleanly) under byte mutation and truncation — same poison-
    document contract as the classic-layout mutation test."""
    import random
    import time

    from docling_api_spark.operators.pdf_extract import (PdfUnsupported,
                                                         extract_pdf_rich)
    from docling_api_spark.operators.pdf_write import write_pdf

    base = [write_pdf([[(72.0, 720.0, 18.0, [f"Doc {i}"]),
                        (72.0, 680.0, 11.0, ["hello world " * 10])]],
                      compress=bool(i % 2), xref_stream=True)
            for i in range(2)]
    rng = random.Random(20260817)
    t0 = time.perf_counter()
    for _ in range(500):
        raw = bytearray(rng.choice(base))
        for _ in range(rng.randint(1, 12)):
            op = rng.random()
            if op < 0.4 and raw:
                raw[rng.randrange(len(raw))] = rng.randrange(256)
            elif op < 0.7 and raw:
                del raw[rng.randrange(len(raw))]
            else:
                raw.insert(rng.randrange(len(raw) + 1), rng.randrange(256))
        try:
            extract_pdf_rich(bytes(raw))
        except PdfUnsupported:
            pass
    for frac in range(0, len(base[0]), 61):
        try:
            extract_pdf_rich(base[0][:frac])
        except PdfUnsupported:
            pass
    assert time.perf_counter() - t0 < 20


def test_pdf_hex_string_nonhex_is_typed_error():
    """Non-hex chars inside a <…> hex string are malformed per PDF
    32000 §7.3.4.3 and must surface as PdfUnsupported, not a stray
    ValueError escaping bytes.fromhex (r5 mutation-fuzz find)."""
    import pytest

    from docling_api_spark.operators.pdf_extract import (PdfUnsupported,
                                                         _tokenize)
    with pytest.raises(PdfUnsupported):
        list(_tokenize(b"<12g4> Tj"))


def test_pdf_incremental_update_last_definition_wins():
    """An appended incremental-save revision (§7.5.6) replaces a page's
    content; extraction must return the UPDATED text on every base
    layout, and the base bytes must be a strict prefix (the defining
    property of incremental save)."""
    from docling_api_spark.operators.pdf_extract import extract_pdf_rich
    from docling_api_spark.operators.pdf_write import (append_update,
                                                       write_pdf)
    stale = [(72.0, 730.0, 24.0, ["Doc 4 STALE"]),
             (72.0, 690.0, 11.0, ["pre-edit text"])]
    final = [(72.0, 730.0, 24.0, ["Doc 4"]),
             (72.0, 690.0, 11.0, ["post-edit text"])]
    p2 = [(72.0, 730.0, 14.0, ["Part b"]),
          (72.0, 690.0, 11.0, ["page two body"])]
    for xs in (False, True):
        for c in (False, True):
            base = write_pdf([stale, p2], compress=c, xref_stream=xs)
            upd = append_update(base, 0, final, compress=c)
            assert upd.startswith(base)
            assert extract_pdf_rich(base)[0].startswith("# Doc 4 STALE")
            got = extract_pdf_rich(upd)[0]
            assert got == ("# Doc 4\n\npost-edit text\n\n"
                           "### Part b\n\npage two body"), (xs, c, got)


def test_pdf_winansi_and_differences_encodings():
    """Font /Encoding handling (r5): /WinAnsiEncoding decodes the
    cp1252 0x80-0x9F band (€, curly quotes) a latin-1 reader turns to
    mojibake; a /Differences array over codes WITH base meanings
    (0xE9 é etc.) must win over the base map; glyph names outside the
    AGL subset scope out via PdfUnsupported."""
    import pytest

    from docling_api_spark.operators.pdf_extract import (PdfUnsupported,
                                                         _decode_winansi,
                                                         extract_pdf_rich)
    from docling_api_spark.operators.pdf_write import write_pdf
    txt = "Price: 42 € — “fair”, n’est-ce pas…"
    for c in (False, True):
        for xs in (False, True):
            pdf = write_pdf([[(72.0, 730.0, 24.0, ["Facture 9"]),
                              (72.0, 690.0, 11.0, [txt])]],
                            compress=c, xref_stream=xs,
                            font_encoding="winansi")
            assert extract_pdf_rich(pdf)[0] == f"# Facture 9\n\n{txt}", (c, xs)
    diff = {0xE9: "Euro", 0xEA: "quotedblleft", 0xEB: "quotedblright"}
    txt2 = "Total € is “large”"
    pdf = write_pdf([[(72.0, 690.0, 11.0, [txt2])]], font_encoding=diff)
    assert extract_pdf_rich(pdf)[0] == txt2
    # the table is load-bearing: base-winansi decode of the same bytes
    # yields the (wrong) base chars
    import re
    m = re.search(rb"stream\r?\n(.*?)\r?\nendstream", pdf, re.DOTALL)
    raw = re.search(rb"\((.*?)\) Tj", m.group(1), re.DOTALL).group(1)
    assert _decode_winansi(raw) == "Total é is êlargeë"
    # writer guard: base char at a remapped code is unencodable
    with pytest.raises(ValueError):
        write_pdf([[(72.0, 690.0, 11.0, ["café"])]], font_encoding=diff)
    # reader scope: unknown glyph name is a typed error
    bad = pdf.replace(b"/Euro", b"/Zyzzy")
    with pytest.raises(PdfUnsupported):
        extract_pdf_rich(bad)


def test_pdf_winansi_cp1252_holes_fall_back():
    """The five cp1252 holes (0x81 8D 8F 90 9D) decode via latin-1
    instead of crashing — real readers show .notdef, we keep the
    codepoint (total-function contract)."""
    from docling_api_spark.operators.pdf_extract import _decode_winansi
    assert _decode_winansi(bytes([0x81, 0x41, 0x9D])) == "\x81A\x9d"
    assert _decode_winansi("€œ".encode("cp1252")) == "€œ"


def test_pdf_tounicode_cmap():
    """/ToUnicode CMaps (r5): bfchar with UTF-16BE dsts (incl. a
    multi-char ligature expansion), bfrange with the last-byte
    increment rule, and CMap authority over the base encoding (the
    array bfrange form graduated from typed scope-out to SUPPORTED in
    notch 9 — see test_pdf_bfrange_array_form)."""
    import pytest

    from docling_api_spark.operators.pdf_extract import (PdfUnsupported,
                                                         _parse_cmap,
                                                         extract_pdf_rich)
    from docling_api_spark.operators.pdf_write import write_pdf
    tu = ("tounicode", {0x01: "é", 0x02: "€", 0x03: "ffi",
                        0x04: "“", 0x05: "”"})
    txt = "Office € caché “quoted” ffi"
    for c in (False, True):
        for xs in (False, True):
            pdf = write_pdf([[(72.0, 730.0, 24.0, ["CMap 1"]),
                              (72.0, 690.0, 11.0, [txt])]],
                            compress=c, xref_stream=xs, font_encoding=tu)
            assert extract_pdf_rich(pdf)[0] == f"# CMap 1\n\n{txt}", (c, xs)
    # the bytes on the wire are HEX STRINGS of control codes (what real
    # generators emit for subset fonts) — 'Office' collapses to
    # 'O\x03ce' via the ligature — so the CMap is load-bearing
    import re
    pdf = write_pdf([[(72.0, 690.0, 11.0, [txt])]], font_encoding=tu)
    m = re.search(rb"stream\r?\n(.*?)\r?\nendstream", pdf, re.DOTALL)
    hx = re.search(rb"<([0-9A-F]+)> Tj", m.group(1)).group(1)
    raw = bytes.fromhex(hx.decode("ascii"))
    assert raw.startswith(b"O\x03ce ")
    # bfrange: consecutive codes, incremented dst
    assert _parse_cmap(b"1 beginbfrange\n<41> <43> <00E9>\nendbfrange") \
        == {0x41: "é", 0x42: "ê", 0x43: "ë"}
    assert _parse_cmap(
        b"beginbfrange\n<41> <42> [<00E9> <00EA>]\nendbfrange") \
        == {0x41: "é", 0x42: "ê"}
    # writer guard: codes must be control bytes
    with pytest.raises(ValueError):
        write_pdf([[(72.0, 690.0, 11.0, ["x"])]],
                  font_encoding=("tounicode", {0x41: "€"}))


def test_pdf_cid_identity_h_font():
    """Type0/Identity-H (r5): 2-byte codes are glyph ids with NO base
    encoding — ToUnicode is the only route to text (9.10.2). ASCII
    rides the identity bfrange; extras live at codes ≥0x1000. Unmapped
    CIDs, odd-length CID strings, non-Identity-H encodings, and Type0
    without ToUnicode all scope out via the typed channel."""
    import re

    import pytest

    from docling_api_spark.operators.pdf_extract import (PdfUnsupported,
                                                         extract_pdf_rich)
    from docling_api_spark.operators.pdf_write import write_pdf
    cid = ("cid", {0x1001: "€", 0x1002: "“", 0x1003: "”",
                   0x1004: "é", 0x1005: "ffi"})
    txt = "Office report: caché “sum 42 €” ffi done"
    for c in (False, True):
        for xs in (False, True):
            pdf = write_pdf([[(72.0, 730.0, 24.0, ["CID 1"]),
                              (72.0, 690.0, 11.0, [txt])]],
                            compress=c, xref_stream=xs, font_encoding=cid)
            assert extract_pdf_rich(pdf)[0] == f"# CID 1\n\n{txt}", (c, xs)
    # wire: 4 hex digits per glyph; 'A b €' -> 0041 0062 0020 1001
    pdf = write_pdf([[(72.0, 690.0, 11.0, ["Ab €"])]], font_encoding=cid)
    m = re.search(rb"stream\r?\n(.*?)\r?\nendstream", pdf, re.DOTALL)
    assert re.search(rb"<([0-9A-F]+)> Tj", m.group(1)).group(1) \
        == b"0041006200201001"
    # unmapped CID is a typed error, not mojibake
    with pytest.raises(PdfUnsupported):
        extract_pdf_rich(pdf.replace(b"<0041", b"<9941"))
    # vertical/other CID encodings scope out
    with pytest.raises(PdfUnsupported):
        extract_pdf_rich(pdf.replace(b"/Identity-H", b"/Identity-V"))
    # writer guard: custom codes must stay out of the identity range
    with pytest.raises(ValueError):
        write_pdf([[(72.0, 690.0, 11.0, ["x"])]],
                  font_encoding=("cid", {0x41: "€"}))


def test_pdf_split_contents_layout_invariant():
    """Array /Contents (r5 notch 6): the page content split across k
    separately-compressed streams extracts byte-identically to the
    single-stream layout for every (k, compress, xref_stream) combo —
    §7.8.2 says the page content is the concatenation, so markdown is
    a function of the content only, never the stream packaging."""
    import itertools
    import re

    from docling_api_spark.operators.pdf_extract import extract_pdf_rich
    from docling_api_spark.operators.pdf_write import write_pdf
    pages = [[(72.0, 730.0, 24.0, ["Split 7"]),
              (72.0, 690.0, 11.0, ["Body line one.", "and line two."]),
              (72.0, 620.0, 11.0, ["(ref 7\\3) closing."])]]
    expect = extract_pdf_rich(write_pdf(pages))[0]
    assert "# Split 7" in expect and "(ref 7\\3)" in expect
    for k, comp, xs in itertools.product((2, 3, 5), (False, True),
                                         (False, True)):
        pdf = write_pdf(pages, compress=comp, xref_stream=xs,
                        split_contents=k)
        assert extract_pdf_rich(pdf)[0] == expect, (k, comp, xs)
    # the file really carries an ARRAY with k refs
    pdf = write_pdf(pages, split_contents=3)
    m = re.search(rb"/Contents \[([^\]]+)\]", pdf)
    assert m and len(re.findall(rb"\d+ 0 R", m.group(1))) == 3


def test_pdf_split_state_crosses_stream_boundary():
    """The split places BT and the text state in one stream and later
    Tj operands in another — a reader that tokenizes the array's
    streams individually (resetting state per stream) loses text; the
    concatenate-then-tokenize rule recovers everything."""
    import re

    from docling_api_spark.operators.pdf_extract import extract_pdf_rich
    from docling_api_spark.operators.pdf_write import write_pdf
    pages = [[(72.0, 730.0, 24.0, ["Heading line"]),
              (72.0, 690.0, 11.0, ["aa " * 30]),
              (72.0, 650.0, 11.0, ["bb " * 30])]]
    pdf = write_pdf(pages, split_contents=4)
    refs = re.search(rb"/Contents \[([^\]]+)\]", pdf).group(1)
    n_streams = len(re.findall(rb"\d+ 0 R", refs))
    assert n_streams >= 3
    chunks = [m.group(1) for m in re.finditer(
        rb"stream\r?\n(.*?)\r?\nendstream", pdf, re.DOTALL)]
    # BT opens in the first chunk only; later chunks carry naked Tj ops
    assert b"BT" in chunks[0] and b"ET" not in chunks[0]
    assert any(b"Tj" in c and b"BT" not in c for c in chunks[1:])
    got = extract_pdf_rich(pdf)[0]
    assert "Heading line" in got and "aa aa" in got and "bb bb" in got


def test_pdf_nested_tree_inherits_resources():
    """Nested page tree (r5 notch 6): /Resources declared ONLY on the
    root /Pages node must reach the leaves (§7.7.3.4) — the fixture
    font is WinAnsi, so a non-inheriting reader (falling back to the
    latin-1 default) would decode € / curly quotes as mojibake, and a
    flat-Kids reader would find no pages at all."""
    import itertools
    import re

    from docling_api_spark.operators.pdf_extract import extract_pdf_rich
    from docling_api_spark.operators.pdf_write import write_pdf
    txt = "Synthèse — “total 42 €”"
    pages = [[(72.0, 730.0, 24.0, ["Dossier 9"]),
              (72.0, 690.0, 12.0, [txt])],
             [(72.0, 730.0, 16.0, ["Annexe"]),
              (72.0, 690.0, 12.0, ["Corps deux."])]]
    expect = extract_pdf_rich(write_pdf(pages, font_encoding="winansi"))[0]
    assert "€" in expect and "## Annexe" in expect
    for comp, xs, k in itertools.product((False, True), (False, True),
                                         (1, 3)):
        pdf = write_pdf(pages, compress=comp, xref_stream=xs,
                        split_contents=k, nested_kids=True,
                        font_encoding="winansi")
        assert extract_pdf_rich(pdf)[0] == expect, (comp, xs, k)
    # shape: intermediate /Pages nodes exist; leaf dicts carry NO
    # /Resources (inheritance is load-bearing, not decorative)
    pdf = write_pdf(pages, nested_kids=True, font_encoding="winansi")
    nodes = re.findall(rb"<< /Type /Pages /Parent[^>]*>>", pdf)
    assert len(nodes) == 2
    leaves = re.findall(rb"<< /Type /Page /Parent[^>]*?>>", pdf)
    assert leaves and all(b"/Resources" not in l for l in leaves)
    assert pdf.count(b"/Resources") == 1  # root only


def test_pdf_page_tree_cycle_and_depth_are_typed():
    """A self-referencing /Pages node and a runaway-deep tree scope
    out via PdfUnsupported — never an infinite loop or recursion
    crash (poison-document contract for the r5 tree walk)."""
    import pytest

    from docling_api_spark.operators.pdf_extract import (PdfUnsupported,
                                                         extract_pdf_rich)

    def obj(n, body):
        return f"{n} 0 obj\n{body}\nendobj\n".encode()

    cyc = (b"%PDF-1.4\n"
           + obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
           + obj(2, "<< /Type /Pages /Kids [2 0 R] /Count 1 >>")
           + b"%%EOF\n")
    with pytest.raises(PdfUnsupported, match="cycle"):
        extract_pdf_rich(cyc)
    deep = bytearray(b"%PDF-1.4\n")
    deep += obj(1, "<< /Type /Catalog /Pages 2 0 R >>")
    n_nodes = 80
    for k in range(2, 2 + n_nodes):
        deep += obj(k, f"<< /Type /Pages /Kids [{k + 1} 0 R] /Count 1 >>")
    deep += obj(2 + n_nodes, "<< /Type /Page /Parent 81 0 R >>")
    with pytest.raises(PdfUnsupported, match="deep"):
        extract_pdf_rich(bytes(deep))


def test_pdf_split_tree_reader_robust_under_mutation():
    """Same poison-document contract as the classic and 1.5 mutation
    tests, over the split-contents + nested-tree layout."""
    import random
    import time

    from docling_api_spark.operators.pdf_extract import (PdfUnsupported,
                                                         extract_pdf_rich)
    from docling_api_spark.operators.pdf_write import write_pdf

    base = [write_pdf([[(72.0, 720.0, 18.0, [f"Doc {i}"]),
                        (72.0, 680.0, 11.0, ["hello world " * 10])],
                       [(72.0, 680.0, 11.0, ["page two body"])]],
                      compress=bool(i % 2), xref_stream=bool(i // 2),
                      split_contents=3, nested_kids=True,
                      font_encoding="winansi")
            for i in range(4)]
    rng = random.Random(20260818)
    t0 = time.perf_counter()
    for _ in range(500):
        raw = bytearray(rng.choice(base))
        for _ in range(rng.randint(1, 12)):
            op = rng.random()
            if op < 0.4 and raw:
                raw[rng.randrange(len(raw))] = rng.randrange(256)
            elif op < 0.7 and raw:
                del raw[rng.randrange(len(raw))]
            else:
                raw.insert(rng.randrange(len(raw) + 1), rng.randrange(256))
        try:
            extract_pdf_rich(bytes(raw))
        except PdfUnsupported:
            pass
    for frac in range(0, len(base[0]), 61):
        try:
            extract_pdf_rich(base[0][:frac])
        except PdfUnsupported:
            pass
    assert time.perf_counter() - t0 < 20


def test_pdf_filter_chains():
    """Stream filters beyond Flate (r5 notch 7): ASCIIHexDecode ('>'
    EOD, odd-digit pad), ASCII85Decode ('~>' EOD, optional PostScript
    '<~' prefix), and the §7.4 filter ARRAY [/ASCII85Decode
    /FlateDecode] applied in array order. Layout-invariant; malformed
    payloads and unknown filters scope out typed."""
    import itertools

    import pytest

    from docling_api_spark.operators.pdf_extract import (PdfUnsupported,
                                                         extract_pdf_rich)
    from docling_api_spark.operators.pdf_write import write_pdf
    pages = [[(72.0, 730.0, 24.0, ["Archive 3"]),
              (72.0, 690.0, 11.0, ["Filtered body.", "(ref 3\\3)"])]]
    expect = extract_pdf_rich(write_pdf(pages))[0]
    for filt, xs, k, nk in itertools.product(
            ("ahx", "a85", "a85+flate"), (False, True), (1, 3),
            (False, True)):
        pdf = write_pdf(pages, xref_stream=xs, split_contents=k,
                        nested_kids=nk, stream_filter=filt)
        assert extract_pdf_rich(pdf)[0] == expect, (filt, xs, k, nk)
    # wire shapes
    assert b"/Filter /ASCIIHexDecode" in write_pdf(
        pages, stream_filter="ahx")
    a85 = write_pdf(pages, stream_filter="a85")
    assert b"/Filter /ASCII85Decode" in a85 and b"~>" in a85
    chain = write_pdf(pages, stream_filter="a85+flate")
    assert b"/Filter [/ASCII85Decode /FlateDecode]" in chain
    # ascii-hex: odd digit count pads a trailing 0 per §7.4.2;
    # whitespace inside the coded data is ignored
    ahx = write_pdf(pages, stream_filter="ahx")
    import re
    m = re.search(rb"stream\r?\n([0-9A-F]+)>", ahx)
    assert m is not None
    # corrupt ascii85 payload → typed, not a stray ValueError
    bad = a85.replace(b"~>", b"\x00\x01~>", 1)
    with pytest.raises(PdfUnsupported):
        extract_pdf_rich(bad)
    # a filter label LYING about the payload coding → typed (LZW
    # graduated to supported in notch 9; plain text declared as LZW
    # now fails inside the decoder, not at the name gate)
    lzw = write_pdf(pages).replace(
        b"<< /Length", b"<< /Filter /LZWDecode /Length", 1)
    with pytest.raises(PdfUnsupported, match="lzw"):
        extract_pdf_rich(lzw)


def test_pdf_filter_chain_reader_robust_under_mutation():
    """Poison-document contract over the filtered layouts (ahx / a85 /
    a85+flate × classic/1.5)."""
    import random
    import time

    from docling_api_spark.operators.pdf_extract import (PdfUnsupported,
                                                         extract_pdf_rich)
    from docling_api_spark.operators.pdf_write import write_pdf

    base = [write_pdf([[(72.0, 720.0, 18.0, [f"Doc {i}"]),
                        (72.0, 680.0, 11.0, ["hello world " * 10])]],
                      xref_stream=bool(i % 2),
                      stream_filter=("ahx", "a85", "a85+flate",
                                     "lzw")[i % 4])
            for i in range(8)]
    rng = random.Random(20260819)
    t0 = time.perf_counter()
    for _ in range(500):
        raw = bytearray(rng.choice(base))
        for _ in range(rng.randint(1, 12)):
            op = rng.random()
            if op < 0.4 and raw:
                raw[rng.randrange(len(raw))] = rng.randrange(256)
            elif op < 0.7 and raw:
                del raw[rng.randrange(len(raw))]
            else:
                raw.insert(rng.randrange(len(raw) + 1), rng.randrange(256))
        try:
            extract_pdf_rich(bytes(raw))
        except PdfUnsupported:
            pass
    assert time.perf_counter() - t0 < 20


# ------------------------- notch 8: RC4 standard-security encryption

def test_rc4_known_vector():
    """External anchor for the RC4 primitive: the classic public test
    vector key='Key', plaintext='Plaintext' → BBF316E8D940AF0AD3."""
    from docling_api_spark.operators.pdf_crypt import rc4
    assert rc4(b"Key", b"Plaintext").hex() == "bbf316e8d940af0ad3"
    # symmetric: decrypt == encrypt
    assert rc4(b"Key", rc4(b"Key", b"round trip")) == b"round trip"


def test_pdf_rc4_encryption_layout_invariant():
    """Empty-user-password RC4 files (R2 40-bit and R3 128-bit) must
    extract byte-identically to their unencrypted twins on every
    layout combination — classic/1.5, plain/Flate, split-contents
    tree, ASCII filter chains — and the ciphertext really is
    ciphertext (the plaintext marker is absent from the file)."""
    from docling_api_spark.operators.pdf_extract import extract_pdf_rich
    from docling_api_spark.operators.pdf_write import write_pdf
    pages = [[(72.0, 730.0, 24.0, ["Doc E"]),
              (72.0, 690.0, 11.0, ["MARKER7 body (with) \\ escapes"])],
             [(72.0, 730.0, 14.0, ["Part b"]),
              (72.0, 690.0, 11.0, ["page two"])]]
    expect = extract_pdf_rich(write_pdf(pages))[0]
    assert "MARKER7" in expect
    combos = [
        dict(),
        dict(compress=True),
        dict(xref_stream=True),
        dict(compress=True, xref_stream=True),
        dict(split_contents=3, nested_kids=True),
        dict(stream_filter="a85+flate"),
    ]
    for r in (2, 3):
        for kw in combos:
            enc = write_pdf(pages, encrypt_r=r, **kw)
            assert b"/Encrypt" in enc and b"/ID [<" in enc
            assert b"MARKER7" not in enc, (r, kw)
            assert extract_pdf_rich(enc)[0] == expect, (r, kw)


def test_pdf_rc4_literal_string_o_u():
    """Real files carry /O and /U as escaped LITERAL strings as often
    as hex; the reader must decode both wire forms. Rewrites the
    writer's hex values into octal-escaped literals (the reader is
    scan-based, so the stale xref offsets this shifts are harmless —
    as they are for any incrementally-edited real file)."""
    import re

    from docling_api_spark.operators.pdf_extract import extract_pdf_rich
    from docling_api_spark.operators.pdf_write import write_pdf

    def to_literal(hexs: bytes) -> bytes:
        raw = bytes.fromhex(hexs.decode())
        out = bytearray(b"(")
        for b in raw:
            out += b"\\%03o" % b
        return bytes(out + b")")

    pdf = write_pdf([[(72.0, 730.0, 24.0, ["Lit"]),
                      (72.0, 690.0, 11.0, ["literal o u strings"])]],
                    compress=True, encrypt_r=3)
    expect = extract_pdf_rich(pdf)[0]
    lit = re.sub(rb"/O <([0-9a-f]+)>",
                 lambda m: b"/O " + to_literal(m.group(1)), pdf)
    lit = re.sub(rb"/U <([0-9a-f]+)>",
                 lambda m: b"/U " + to_literal(m.group(1)), lit)
    assert lit != pdf
    assert extract_pdf_rich(lit)[0] == expect


def test_pdf_password_and_aes_and_tamper_are_typed():
    """A REAL user password, an AES (V4/R4) dict, and a tampered /U
    must each scope out via PdfUnsupported — never extract garbage
    (the /U verification is what stands between a wrong key and
    silent mojibake)."""
    import re

    import pytest

    from docling_api_spark.operators.pdf_extract import (PdfUnsupported,
                                                         extract_pdf_rich)
    from docling_api_spark.operators.pdf_write import write_pdf
    pages = [[(72.0, 730.0, 24.0, ["Locked"]),
              (72.0, 690.0, 11.0, ["secret"])]]
    with pytest.raises(PdfUnsupported, match="password"):
        extract_pdf_rich(write_pdf(pages, encrypt_r=3,
                                   encrypt_user_pwd=b"hunter2"))
    enc = write_pdf(pages, encrypt_r=3)
    with pytest.raises(PdfUnsupported, match="V4"):
        extract_pdf_rich(enc.replace(b"/V 2 /R 3", b"/V 4 /R 4"))
    with pytest.raises(PdfUnsupported, match="password"):
        extract_pdf_rich(re.sub(rb"/U <[0-9a-f]{8}", b"/U <deadbeef", enc))


def test_pdf_rc4_reader_robust_under_mutation():
    """Same poison-document contract as every other layout class:
    encrypted bases under byte mutation/truncation either parse or
    fail via PdfUnsupported, bounded time, no hangs."""
    import random
    import time

    from docling_api_spark.operators.pdf_extract import (PdfUnsupported,
                                                         extract_pdf_rich)
    from docling_api_spark.operators.pdf_write import write_pdf

    base = [write_pdf([[(72.0, 720.0, 18.0, [f"Doc {i}"]),
                        (72.0, 680.0, 11.0, ["hello world " * 10])]],
                      compress=bool(i % 2), xref_stream=bool(i % 3 == 0),
                      encrypt_r=2 + i % 2)
            for i in range(4)]
    rng = random.Random(20260820)
    t0 = time.perf_counter()
    for _ in range(500):
        raw = bytearray(rng.choice(base))
        for _ in range(rng.randint(1, 12)):
            op = rng.random()
            if op < 0.4 and raw:
                raw[rng.randrange(len(raw))] = rng.randrange(256)
            elif op < 0.7 and raw:
                del raw[rng.randrange(len(raw))]
            else:
                raw.insert(rng.randrange(len(raw) + 1), rng.randrange(256))
        try:
            extract_pdf_rich(bytes(raw))
        except PdfUnsupported:
            pass
    for frac in range(0, len(base[0]), 61):
        try:
            extract_pdf_rich(base[0][:frac])
        except PdfUnsupported:
            pass
    assert time.perf_counter() - t0 < 20


# --------------------- notch 9: LZWDecode + array-form bfrange

def test_lzw_round_trip_and_vectors():
    """The §7.4.4 LZW pair: decoder anchored by hand-packed code
    sequences derived from first principles (clear, literals, table
    refs, the KwKwK case), then a property sweep over random and
    repetitive inputs that crosses every code-width boundary and the
    4095-entry clear."""
    import random

    from docling_api_spark.operators.pdf_extract import _lzw_decode
    from docling_api_spark.operators.pdf_write import _lzw_encode

    def pack(codes, width=9):
        buf = nbits = 0
        out = bytearray()
        for c in codes:
            buf = (buf << width) | c
            nbits += width
            while nbits >= 8:
                out.append((buf >> (nbits - 8)) & 0xFF)
                nbits -= 8
        if nbits:
            out.append((buf << (8 - nbits)) & 0xFF)
        return bytes(out)

    # clear, 'A', 'B', table[258]=AB, 'A', EOD
    assert _lzw_decode(pack([256, 65, 66, 258, 65, 257])) == b"ABABA"
    # KwKwK: code == next table entry
    assert _lzw_decode(pack([256, 65, 258, 257])) == b"AAA"
    rng = random.Random(99)
    cases = [b"", b"A", bytes(range(256)) * 2,
             b"the quick brown fox " * 4000,          # 12-bit + clear
             bytes(rng.randrange(256) for _ in range(100000))]
    for _ in range(300):
        cases.append(bytes(rng.randrange(256)
                           for _ in range(rng.randrange(0, 1500))))
    for _ in range(200):
        unit = bytes(rng.randrange(65, 70)
                     for _ in range(rng.randrange(1, 9)))
        cases.append(unit * rng.randrange(1, 400))
    for c in cases:
        assert _lzw_decode(_lzw_encode(c)) == c, len(c)


def test_pdf_lzw_stream_layout_invariant():
    """/LZWDecode content streams extract byte-identically to plain —
    including under 1.5 layout and RC4 encryption (filters and crypto
    compose: decrypt, THEN defilter)."""
    from docling_api_spark.operators.pdf_extract import extract_pdf_rich
    from docling_api_spark.operators.pdf_write import write_pdf
    pages = [[(72.0, 730.0, 24.0, ["LZ"]),
              (72.0, 690.0, 11.0, ["lzw body (with) \\ escapes",
                                   "line two of the paragraph"])]]
    expect = extract_pdf_rich(write_pdf(pages))[0]
    for kw in (dict(), dict(xref_stream=True),
               dict(encrypt_r=3), dict(xref_stream=True, encrypt_r=2)):
        got = extract_pdf_rich(write_pdf(pages, stream_filter="lzw", **kw))[0]
        assert got == expect, kw


def test_pdf_bfrange_array_form():
    """Array-form bfrange (§9.10.3) decodes identically to the bfchar
    form for the same mapping — incl. multi-char ligature dsts and a
    mapping split across consecutive-run boundaries — and malformed
    arrays (length mismatch, unterminated) scope out typed."""
    import pytest

    from docling_api_spark.operators.pdf_extract import (PdfUnsupported,
                                                         _parse_cmap,
                                                         extract_pdf_rich)
    from docling_api_spark.operators.pdf_write import write_pdf
    pages = [[(72.0, 730.0, 24.0, ["T"]),
              (72.0, 690.0, 11.0, ["x € y “q” z ffi."])]]
    m = {0x01: "€", 0x02: "“", 0x03: "”", 0x07: "ffi"}  # two runs
    a = extract_pdf_rich(write_pdf(pages, font_encoding=("tounicode", m)))[0]
    arr_pdf = write_pdf(pages, font_encoding=("tounicode_arr", m))
    assert b"beginbfrange" in arr_pdf and b"beginbfchar" not in arr_pdf
    assert extract_pdf_rich(arr_pdf)[0] == a
    # direct CMap-parser checks
    ok = _parse_cmap(b"1 beginbfrange\n<01> <03> [<20AC> <201C> <201D>]"
                     b"\nendbfrange")
    assert ok == {1: "€", 2: "“", 3: "”"}
    with pytest.raises(PdfUnsupported, match="length mismatch"):
        _parse_cmap(b"1 beginbfrange\n<01> <03> [<20AC>]\nendbfrange")
    with pytest.raises(PdfUnsupported, match="unterminated"):
        _parse_cmap(b"1 beginbfrange\n<01> <02> [<20AC> <201C>"
                    b"\nendbfrange")


def test_rle_round_trip_and_layout_invariance():
    """§7.4.5 RunLengthDecode: spec hand vector (literal + repeat +
    EOD), round-trip property over repeat-heavy and random inputs,
    layout invariance incl. under encryption, and typed truncation."""
    import random

    import pytest

    from docling_api_spark.operators.pdf_extract import (PdfUnsupported,
                                                         _rle_decode,
                                                         extract_pdf_rich)
    from docling_api_spark.operators.pdf_write import (_rle_encode,
                                                       write_pdf)
    assert _rle_decode(bytes([0x01, 0x41, 0x42, 0xFD, 0x43, 0x80])) \
        == b"ABCCCC"
    rng = random.Random(11)
    for _ in range(500):
        d = bytes(rng.randrange(4) for _ in range(rng.randrange(0, 800)))
        assert _rle_decode(_rle_encode(d)) == d
    with pytest.raises(PdfUnsupported, match="truncated"):
        _rle_decode(bytes([0x05, 0x41]))      # literal run cut short
    with pytest.raises(PdfUnsupported, match="truncated"):
        _rle_decode(bytes([0xFD]))            # repeat run missing byte
    pages = [[(72.0, 730.0, 24.0, ["R"]),
              (72.0, 690.0, 11.0, ["rle body (x) \\ y"])]]
    expect = extract_pdf_rich(write_pdf(pages))[0]
    for kw in (dict(), dict(xref_stream=True), dict(encrypt_r=2)):
        assert extract_pdf_rich(
            write_pdf(pages, stream_filter="rle", **kw))[0] == expect, kw


def test_pdf_crypt_review_regressions():
    """r5 code-review finds, pinned: (1) unsigned /P wire form must
    decrypt (struct.error crash); (2) '<>' empty bfrange hex token
    fails typed, not raw ValueError; (3) '/Encrypt N 0 R' INSIDE page
    text must not reject an unencrypted document (trailer-anchored
    scan); (4) a literal-string /ID decrypts identically to hex."""
    import re

    import pytest

    from docling_api_spark.operators.pdf_extract import (PdfUnsupported,
                                                         _parse_cmap,
                                                         extract_pdf_rich)
    from docling_api_spark.operators.pdf_write import write_pdf

    pages = [[(72.0, 730.0, 24.0, ["Doc P"]),
              (72.0, 690.0, 11.0, ["payload text here"])]]
    expect = extract_pdf_rich(write_pdf(pages))[0]
    # (1) unsigned /P: -44 == 4294967252 as a 32-bit pattern
    enc = write_pdf(pages, encrypt_r=3, compress=True)
    unsigned = enc.replace(b"/P -44", b"/P 4294967252")
    assert unsigned != enc
    assert extract_pdf_rich(unsigned)[0] == expect
    # (2) empty hex token in bfrange → typed
    with pytest.raises(PdfUnsupported, match="empty bfrange"):
        _parse_cmap(b"1 beginbfrange\n<> <42> <0041>\nendbfrange")
    # (3) page TEXT mentioning /Encrypt stays extractable (plain
    # stream so the bytes are visible in the file)
    chatty = [[(72.0, 730.0, 24.0, ["Spec notes"]),
               (72.0, 690.0, 11.0, ["see /Encrypt 1 0 R and /Encrypt"])]]
    got = extract_pdf_rich(write_pdf(chatty))[0]
    assert "/Encrypt 1 0 R" in got
    # (4) /ID as escaped literal strings instead of hex
    m = re.search(rb"/ID \[<([0-9a-f]+)> <([0-9a-f]+)>\]", enc)
    assert m is not None
    raw = bytes.fromhex(m.group(1).decode())
    lit = bytes(b"(") + b"".join(b"\\%03o" % b for b in raw) + b")"
    enc_lit = enc.replace(m.group(0), b"/ID [" + lit + b" " + lit + b"]")
    assert enc_lit != enc
    assert extract_pdf_rich(enc_lit)[0] == expect


# --------------------- notch 10: V4 crypt filters (AES-128 / AESV2)

def test_aes_known_answer_vectors():
    """AES is anchored to the PUBLISHED vectors: FIPS-197 Appendix C.1
    and Appendix B block encrypt/decrypt, through the reference core's
    block functions and through the shipped CBC with a zero IV (one
    block of CBC is ECB), and the SP 800-38A F.2.1 CBC-AES128 first
    block."""
    import crypt_reference as R

    from docling_api_spark.operators import pdf_crypt as C
    for key, pt, ct in (
            ("000102030405060708090a0b0c0d0e0f",
             "00112233445566778899aabbccddeeff",
             "69c4e0d86a7b0430d8cdb78070b4c55a"),
            ("2b7e151628aed2a6abf7158809cf4f3c",
             "3243f6a8885a308d313198a2e0370734",
             "3925841d02dc09fbdc118597196a0b32")):
        key, pt, ct = map(bytes.fromhex, (key, pt, ct))
        assert R.encrypt_block(R.expand_key(key), pt) == ct
        assert R.decrypt_block(R.expand_key(key), ct) == pt
        assert C._cbc_nopad(key, bytes(16), pt, encrypt=True) == ct
        assert C._cbc_nopad(key, bytes(16), ct, encrypt=False) == pt
    key2 = bytes.fromhex("2b7e151628aed2a6abf7158809cf4f3c")
    iv = bytes.fromhex("000102030405060708090a0b0c0d0e0f")
    p3 = bytes.fromhex("6bc1bee22e409f96e93d7e117393172a")
    for enc in (C.aes_cbc_encrypt(key2, iv, p3), R.cbc_encrypt(key2, iv, p3)):
        assert enc[16:32].hex() == "7649abac8119b246cee98e9b12e9197d"
    # CBC round-trip property incl. empty payload
    import random
    rng = random.Random(13)
    for _ in range(200):
        d = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 300)))
        k = bytes(rng.randrange(256) for _ in range(16))
        v = bytes(rng.randrange(256) for _ in range(16))
        assert C.aes_cbc_decrypt(k, C.aes_cbc_encrypt(k, v, d)) == d


def test_aes_rejects_a_key_of_the_wrong_length():
    """Every AES entry point raises AesError, not OpenSSL's ValueError,
    for a key that is not 16, 24 or 32 bytes."""
    import pytest

    from docling_api_spark.operators import pdf_crypt as C
    for n in (0, 5, 10, 15, 17, 31, 33):
        key = bytes(n)
        for call in (lambda: C.aes_cbc_decrypt(key, bytes(32)),
                     lambda: C.aes_cbc_encrypt(key, bytes(16), b"x"),
                     lambda: C._cbc_nopad(key, bytes(16), bytes(16), True),
                     lambda: C.perms_check(key, bytes(16), -4)):
            with pytest.raises(C.AesError, match="key length"):
                call()
    for n in (16, 24, 32):
        key = bytes(range(n))
        assert C.aes_cbc_decrypt(
            key, C.aes_cbc_encrypt(key, bytes(16), b"ok")) == b"ok"


def test_aesv2_file_with_a_40_bit_key_is_typed_unsupported():
    """An AESV2 file whose encrypt dict says /Length 40, with a /U that
    matches the 5-byte file key, derives 10-byte object keys; that is
    pdf_unsupported_feature, not parse_error."""
    import re

    from docling_api_spark.operators import pdf_crypt as C
    from docling_api_spark.operators.pdf_extract import _dict_string
    from docling_api_spark.operators.pdf_write import write_pdf
    enc = write_pdf([[(72.0, 730.0, 24.0, ["Doc A"]),
                      (72.0, 690.0, 11.0, ["aes body"])]], encrypt_r=4)
    # same byte length, so every xref offset still holds
    enc = enc.replace(b"/V 4 /R 4 /Length 128", b"/V 4 /R 4 /Length 40 ")
    edict = enc[enc.index(b"/Filter /Standard"):]
    p = int(re.search(rb"/P (-?\d+)", edict).group(1))
    id0 = bytes.fromhex(
        re.search(rb"/ID \[<([0-9a-f]+)>", enc).group(1).decode())
    key = C.file_key(b"", _dict_string(edict, b"O"), p, id0, 4, 5)
    u = _dict_string(edict, b"U")
    enc = enc.replace(u.hex().encode(), C.u_value(key, id0, 4).hex().encode())
    r = convert_one(enc, "https://x/doc.pdf", CFG)
    assert r["markdown"] is None
    assert r["error"] == "pdf_unsupported_feature"


def test_pdf_aesv2_layout_invariant_and_scopeouts():
    """Empty-password AESV2 files extract byte-identically to their
    unencrypted twins on every layout (incl. ObjStm containers, whose
    /Length must track the SHRUNK decrypted payload); /CFM /V2 (RC4
    behind V4 crypt filters) also reads; AES-256 and wrong passwords
    scope out typed."""
    import pytest

    from docling_api_spark.operators.pdf_extract import (PdfUnsupported,
                                                         extract_pdf_rich)
    from docling_api_spark.operators.pdf_write import write_pdf
    pages = [[(72.0, 730.0, 24.0, ["Doc A"]),
              (72.0, 690.0, 11.0, ["aes body (x) \\ y", "line two"])],
             [(72.0, 730.0, 14.0, ["Part b"]),
              (72.0, 690.0, 11.0, ["page two"])]]
    expect = extract_pdf_rich(write_pdf(pages))[0]
    combos = [dict(), dict(compress=True), dict(xref_stream=True),
              dict(compress=True, xref_stream=True),
              dict(split_contents=3, nested_kids=True),
              dict(stream_filter="lzw")]
    for kw in combos:
        enc = write_pdf(pages, encrypt_r=4, **kw)
        assert b"/CFM /AESV2" in enc
        assert b"aes body" not in enc, kw
        assert extract_pdf_rich(enc)[0] == expect, kw
    # V4 with /CFM /V2 = RC4-128 behind crypt filters: ciphertext is
    # the plain V2 RC4 wire format, only the dict differs
    rc4v4 = write_pdf(pages, encrypt_r=3).replace(
        b"/V 2 /R 3 /Length 128",
        b"/V 4 /R 4 /Length 128 /CF << /StdCF << /CFM /V2 >> >> "
        b"/StmF /StdCF /StrF /StdCF")
    # note: R changed 3->4 alters nothing in the key derivation path
    # (both take the r>=3 branches), so the stored /O//U stay valid
    assert extract_pdf_rich(rc4v4)[0] == expect
    enc = write_pdf(pages, encrypt_r=4)
    with pytest.raises(PdfUnsupported, match="crypt filter"):
        extract_pdf_rich(enc.replace(b"/CFM /AESV2", b"/CFM /AESV3"))
    with pytest.raises(PdfUnsupported, match="password"):
        extract_pdf_rich(write_pdf(pages, encrypt_r=4,
                                   encrypt_user_pwd=b"pw"))


def test_pdf_aes_reader_robust_under_mutation():
    """Poison-document contract over AES bases: mutations either parse
    or fail typed (AesError is mapped, never escapes raw)."""
    import random
    import time

    from docling_api_spark.operators.pdf_extract import (PdfUnsupported,
                                                         extract_pdf_rich)
    from docling_api_spark.operators.pdf_write import write_pdf
    base = [write_pdf([[(72.0, 720.0, 18.0, [f"Doc {i}"]),
                        (72.0, 680.0, 11.0, ["hello world " * 10])]],
                      compress=bool(i % 2), xref_stream=bool(i % 3 == 0),
                      encrypt_r=4)
            for i in range(4)]
    rng = random.Random(20260821)
    t0 = time.perf_counter()
    for _ in range(400):
        raw = bytearray(rng.choice(base))
        for _ in range(rng.randint(1, 12)):
            op = rng.random()
            if op < 0.4 and raw:
                raw[rng.randrange(len(raw))] = rng.randrange(256)
            elif op < 0.7 and raw:
                del raw[rng.randrange(len(raw))]
            else:
                raw.insert(rng.randrange(len(raw) + 1), rng.randrange(256))
        try:
            extract_pdf_rich(bytes(raw))
        except PdfUnsupported:
            pass
    for frac in range(0, len(base[0]), 61):
        try:
            extract_pdf_rich(base[0][:frac])
        except PdfUnsupported:
            pass
    assert time.perf_counter() - t0 < 30


def test_pdf_r5_advice_regressions():
    """r5 ADVICE finds, pinned: (1) when two ObjStm containers define
    the same object number the LATER container wins (incremental
    update re-packing — setdefault made the stale first body win);
    (2) V1 encryption ignores a bogus in-dict /Length (spec fixes V1
    at 40 bits) and still extracts; (3) an uncompressed page whose
    TEXT contains 'trailer' near '/Encrypt' stays extractable (the
    trailer keyword scan is anchored to line-start + '<<')."""
    import zlib

    from docling_api_spark.operators.pdf_extract import (_expand_objstm,
                                                         extract_pdf_rich)
    from docling_api_spark.operators.pdf_write import write_pdf

    # (1) two ObjStm containers defining object 5: later wins
    def objstm(body: bytes) -> bytes:
        header = b"5 0 "
        payload = header + body
        z = zlib.compress(payload, 6)
        return (b"<< /Type /ObjStm /N 1 /First %d /Filter /FlateDecode"
                b" /Length %d >>\nstream\n" % (len(header), len(z))
                + z + b"\nendstream")
    objs = {10: objstm(b"<< /Old 1 >>"), 11: objstm(b"<< /New 2 >>")}
    out = _expand_objstm(objs)
    assert out[5] == b"<< /New 2 >>"
    # ... but a TOP-LEVEL definition still beats any container
    objs2 = {5: b"<< /Top 3 >>", 10: objstm(b"<< /Old 1 >>")}
    assert _expand_objstm(objs2)[5] == b"<< /Top 3 >>"

    # (2) V1 with a bogus /Length 128 — reader forces 40 bits
    pages = [[(72.0, 730.0, 24.0, ["Doc V1"]),
              (72.0, 690.0, 11.0, ["forty bit body"])]]
    expect = extract_pdf_rich(write_pdf(pages))[0]
    enc = write_pdf(pages, encrypt_r=2)
    bogus = enc.replace(b"/V 1 /R 2 /Length 40", b"/V 1 /R 2 /Length 128")
    assert bogus != enc
    assert extract_pdf_rich(bogus)[0] == expect

    # (3) page text with a line-leading 'trailer' near '/Encrypt'
    chatty = [[(72.0, 730.0, 24.0, ["Spec notes"]),
               (72.0, 690.0, 11.0,
                ["trailer keyword here", "see /Encrypt 9 0 R denied"])]]
    # plain streams — bytes visible
    got = extract_pdf_rich(write_pdf(chatty))[0]
    assert "trailer keyword here" in got and "/Encrypt 9 0 R" in got


# --------------- notch 11b: V5 / AESV3 (AES-256, SHA-2 handler)

def test_aes256_known_answer_vector():
    """The Nk=8 key schedule is anchored to FIPS-197 Appendix C.3, in
    the reference core and in the shipped path (zero-IV one-block CBC)."""
    import crypt_reference as R

    from docling_api_spark.operators import pdf_crypt as C
    key = bytes.fromhex("000102030405060708090a0b0c0d0e0f"
                        "101112131415161718191a1b1c1d1e1f")
    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    ct = bytes.fromhex("8ea2b7ca516745bfeafc49904b496089")
    assert R.encrypt_block(R.expand_key(key), pt) == ct
    assert R.decrypt_block(R.expand_key(key), ct) == pt
    assert C._cbc_nopad(key, bytes(16), pt, encrypt=True) == ct
    assert C._cbc_nopad(key, bytes(16), ct, encrypt=False) == pt


def test_v5_handler_math_roundtrip():
    """Writer/reader pair over the §7.6.4 algorithms: /U //UE wrap and
    recover the file key for the EMPTY password under both R5
    (one-SHA-256) and R6 (hardened 2.B); a wrong password fails
    closed; /Perms seals and verifies."""
    import hashlib

    from docling_api_spark.operators import pdf_crypt as C
    fk = hashlib.sha256(b"some-file-key").digest()
    for r in (5, 6):
        u, ue = C.v5_values(fk, b"", b"validsal", b"keysalt!", r)
        assert len(u) == 48 and len(ue) == 32
        assert C.v5_check_user_password(b"", u, ue, r) == fk
        assert C.v5_check_user_password(b"wrong", u, ue, r) is None
        # R5 and R6 must NOT produce the same /U (different hash paths)
    u5, _ = C.v5_values(fk, b"", b"validsal", b"keysalt!", 5)
    u6, _ = C.v5_values(fk, b"", b"validsal", b"keysalt!", 6)
    assert u5 != u6
    pm = C.perms_value(fk, -44)
    assert C.perms_check(fk, pm, -44)
    assert not C.perms_check(fk, pm, -4)          # /P mismatch
    assert not C.perms_check(fk, b"\x00" * 16, -44)  # broken seal


def test_pdf_aesv3_layout_invariant_and_scopeouts():
    """Empty-password V5/AESV3 files (R5 and R6) extract
    byte-identically to their unencrypted twins on every layout; a
    real password, a tampered /U, and a tampered /Perms each scope
    out typed."""
    import re

    import pytest

    from docling_api_spark.operators.pdf_extract import (PdfUnsupported,
                                                         extract_pdf_rich)
    from docling_api_spark.operators.pdf_write import write_pdf
    pages = [[(72.0, 730.0, 24.0, ["Doc V5"]),
              (72.0, 690.0, 11.0, ["aes two fifty six (x) \\ y"])],
             [(72.0, 730.0, 14.0, ["Part b"]),
              (72.0, 690.0, 11.0, ["page two"])]]
    expect = extract_pdf_rich(write_pdf(pages))[0]
    for r in (5, 6):
        for kw in (dict(), dict(compress=True), dict(xref_stream=True),
                   dict(compress=True, xref_stream=True),
                   dict(split_contents=3, nested_kids=True)):
            enc = write_pdf(pages, encrypt_r=r, **kw)
            assert b"/CFM /AESV3" in enc and b"/UE <" in enc
            assert b"aes two" not in enc, (r, kw)
            assert extract_pdf_rich(enc)[0] == expect, (r, kw)
    with pytest.raises(PdfUnsupported, match="password"):
        extract_pdf_rich(write_pdf(pages, encrypt_r=6,
                                   encrypt_user_pwd=b"hunter2"))
    enc = write_pdf(pages, encrypt_r=6)
    with pytest.raises(PdfUnsupported, match="password"):
        extract_pdf_rich(re.sub(rb"/U <[0-9a-f]{8}", b"/U <deadbeef", enc))
    with pytest.raises(PdfUnsupported, match="Perms"):
        extract_pdf_rich(re.sub(rb"/Perms <[0-9a-f]{8}",
                                b"/Perms <deadbeef", enc))
    with pytest.raises(PdfUnsupported, match="crypt filter"):
        extract_pdf_rich(enc.replace(b"/CFM /AESV3", b"/CFM /AESV4"))


def test_pdf_aesv3_reader_robust_under_mutation():
    """Poison-document contract over V5 bases: mutations either parse
    or fail typed (AesError mapped, never raw)."""
    import random
    import time

    from docling_api_spark.operators.pdf_extract import (PdfUnsupported,
                                                         extract_pdf_rich)
    from docling_api_spark.operators.pdf_write import write_pdf
    base = [write_pdf([[(72.0, 720.0, 18.0, [f"Doc {i}"]),
                        (72.0, 680.0, 11.0, ["hello world " * 10])]],
                      compress=bool(i % 2), xref_stream=bool(i % 3 == 0),
                      encrypt_r=5 + i % 2)
            for i in range(4)]
    rng = random.Random(20260817)
    t0 = time.perf_counter()
    for _ in range(300):
        raw = bytearray(rng.choice(base))
        for _ in range(rng.randint(1, 12)):
            op = rng.random()
            if op < 0.4 and raw:
                raw[rng.randrange(len(raw))] = rng.randrange(256)
            elif op < 0.7 and raw:
                del raw[rng.randrange(len(raw))]
            else:
                raw.insert(rng.randrange(len(raw) + 1), rng.randrange(256))
        try:
            extract_pdf_rich(bytes(raw))
        except PdfUnsupported:
            pass
    for frac in range(0, len(base[0]), 61):
        try:
            extract_pdf_rich(base[0][:frac])
        except PdfUnsupported:
            pass
    assert time.perf_counter() - t0 < 60


# --------------- notch 11a: embedded images (PDF XObjects + DOCX blips)

def test_jpeg_codec_roundtrip_and_scopeouts():
    """Baseline grayscale JPEG pair: encode→decode within tolerance on
    smooth signals, exact dims, deterministic; color/progressive/
    restart streams scope out as ValueError."""
    import random

    import pytest

    from docling_api_spark.operators.jpeg_codec import (
        decode_gray_jpeg, encode_gray_jpeg)
    from docling_api_spark.operators.multimodal import parse_image_header
    rng = random.Random(3)
    for (w, h) in [(8, 8), (16, 12), (17, 9), (1, 1), (5, 30), (23, 23)]:
        px = bytes(((x * 3 + y * 5) % 256)
                   for y in range(h) for x in range(w))
        data = encode_gray_jpeg(w, h, px)
        dw, dh, out = decode_gray_jpeg(data)
        assert (dw, dh) == (w, h)
        assert parse_image_header(data) == ("jpeg", w, h)
        assert max(abs(a - b) for a, b in zip(px, out)) <= 24
        assert encode_gray_jpeg(w, h, px) == data  # deterministic
    base = encode_gray_jpeg(8, 8, bytes(64))
    with pytest.raises(ValueError, match="SOF|grayscale"):
        decode_gray_jpeg(base.replace(b"\xff\xc0", b"\xff\xc2"))
    # mutation robustness: ValueError or success, never anything else
    for _ in range(300):
        raw = bytearray(base)
        for _ in range(rng.randint(1, 6)):
            raw[rng.randrange(len(raw))] = rng.randrange(256)
        try:
            decode_gray_jpeg(bytes(raw))
        except ValueError:
            pass


def test_pdf_embedded_images_manifest():
    """Painted image XObjects (Flate exact, DCT within tolerance)
    surface as picture-N.png manifest entries in READING order with
    the first-remaining-placeholder markdown rewrite, across layouts
    and encryption; non-grayscale scopes out typed."""
    import base64

    import pytest

    from docling_api_spark.operators.pdf_extract import (PdfUnsupported,
                                                         extract_pdf_rich)
    from docling_api_spark.operators.pdf_write import write_pdf
    from docling_api_spark.operators.png_write import read_png_gray
    px1 = bytes(((x * 7 + y * 3) % 256)
                for y in range(12) for x in range(20))
    px2 = bytes([200]) * (16 * 10)
    pages = [[(72.0, 730.0, 24.0, ["Doc Img"]),
              (72.0, 690.0, 11.0, ["before image text"]),
              (72.0, 500.0, 11.0, ["after image text"])]]
    imgs = [[(72.0, 620.0, 20, 12, px1, "flate"),
             (72.0, 560.0, 16, 10, px2, "dct")]]
    for kw in (dict(), dict(compress=True), dict(xref_stream=True),
               dict(encrypt_r=4), dict(encrypt_r=6)):
        pdf = write_pdf(pages, images=imgs, **kw)
        md, out = extract_pdf_rich(pdf)
        assert [im["filename"] for im in out] == ["picture-1.png",
                                                  "picture-2.png"], kw
        w, h, p = read_png_gray(base64.b64decode(out[0]["image"]))
        assert (w, h, p) == (20, 12, px1), kw     # flate: exact
        w2, h2, p2 = read_png_gray(base64.b64decode(out[1]["image"]))
        assert (w2, h2) == (16, 10), kw
        assert max(abs(a - b) for a, b in zip(p2, px2)) <= 3, kw
        assert (md.index("before image") < md.index("picture-1.png")
                < md.index("picture-2.png") < md.index("after image")), md
    with pytest.raises(PdfUnsupported, match="grayscale"):
        extract_pdf_rich(write_pdf(pages, images=imgs)
                         .replace(b"/DeviceGray", b"/DeviceRGB "))
    with pytest.raises(PdfUnsupported, match="mask"):
        extract_pdf_rich(write_pdf(pages, images=imgs)
                         .replace(b"/BitsPerComponent 8 /Filter /FlateDecode",
                                  b"/BitsPerComponent 8 /SMask 9 0 R "
                                  b"/Filter /FlateDecode", 1))


def test_docx_embedded_images_manifest():
    """DOCX a:blip drawings resolve through the document rels to their
    word/media parts: payload = the stored PNG verbatim, placeholder
    rewrite in document order; an unresolvable rel raises (→
    parse_error channel)."""
    import base64

    import pytest

    from docling_api_spark.operators.ooxml import extract_docx_rich
    from docling_api_spark.operators.ooxml_write import write_docx
    from docling_api_spark.operators.png_write import picture_png
    png1, png2 = picture_png("t-a.png"), picture_png("t-b.png")
    docx = write_docx("Doc 7", "body text", ["one", "two"],
                      [["k", "v"]], images=[png1, png2])
    md, imgs = extract_docx_rich(docx)
    assert [im["filename"] for im in imgs] == ["picture-1.png",
                                               "picture-2.png"]
    assert base64.b64decode(imgs[0]["image"]) == png1
    assert base64.b64decode(imgs[1]["image"]) == png2
    assert md.index("body text") < md.index("picture-1.png") \
        < md.index("picture-2.png") < md.index("- one")
    # image-free docs are unchanged by the rich path
    md0, imgs0 = extract_docx_rich(
        write_docx("Doc 7", "body text", ["one"], [["k", "v"]]))
    assert imgs0 == [] and "picture" not in md0
    # broken rel → loud, not a silent drop (re-zip with the rels
    # entry renamed — the zip payload is deflated, a byte replace on
    # the container would be a no-op)
    import io
    import zipfile
    src = zipfile.ZipFile(io.BytesIO(docx))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as out_zf:
        for name in src.namelist():
            data = src.read(name)
            if name.endswith("document.xml.rels"):
                data = data.replace(b'Id="rId1"', b'Id="rIdX"')
            out_zf.writestr(name, data)
    with pytest.raises(ValueError, match="unresolved"):
        extract_docx_rich(buf.getvalue())


def test_pptx_embedded_images_manifest():
    """PPTX p:pic shapes resolve through slide rels to ppt/media parts
    — same manifest + rewrite contract as HTML/PDF/DOCX; slide order
    defines picture numbering across slides."""
    import base64

    from docling_api_spark.operators.ooxml import extract_pptx_rich
    from docling_api_spark.operators.ooxml_write import write_pptx
    from docling_api_spark.operators.png_write import picture_png
    png1, png2 = picture_png("ps1.png"), picture_png("ps2.png")
    pptx = write_pptx([("Doc 9", [(0, "body point")]),
                       ("Summary 9", [(0, "p1"), (1, "p2")])],
                      images=[[png1], [png2]])
    md, imgs = extract_pptx_rich(pptx)
    assert [im["filename"] for im in imgs] == ["picture-1.png",
                                               "picture-2.png"]
    assert base64.b64decode(imgs[0]["image"]) == png1
    assert base64.b64decode(imgs[1]["image"]) == png2
    assert (md.index("## Doc 9") < md.index("picture-1.png")
            < md.index("## Summary 9") < md.index("picture-2.png"))
    md0, i0 = extract_pptx_rich(write_pptx([("Doc 9", [(0, "x")])]))
    assert i0 == [] and "picture" not in md0


def test_pdf_form_xobjects():
    """/Subtype /Form XObjects (r6): text painted through cm/Do is
    recursively extracted and offset by the paint translate —
    markdown-identical to the inline-text twin across classic, tree,
    encrypted and filtered layouts; form-in-form beyond the depth
    guard and a non-identity /Matrix scope out typed."""
    import pytest

    from docling_api_spark.operators.pdf_extract import (PdfUnsupported,
                                                         extract_pdf_rich)
    from docling_api_spark.operators.pdf_write import write_pdf
    pages = [[(72.0, 730.0, 24.0, ["Doc F"]),
              (72.0, 620.0, 11.0, ["body para text"])]]
    expect = extract_pdf_rich(write_pdf(
        [[(72.0, 730.0, 24.0, ["Doc F"]),
          (72.0, 655.0, 14.0, ["Part 2"]),
          (72.0, 620.0, 11.0, ["body para text"])]]))[0]
    combos = [dict(), dict(compress=True), dict(xref_stream=True),
              dict(split_contents=3), dict(encrypt_r=4),
              dict(encrypt_r=6), dict(stream_filter="lzw")]
    # form-space coords + paint offset must compose
    for kw in combos:
        pdf = write_pdf(pages, forms=[[(0.0, 655.0,
                                        [(72.0, 0.0, 14.0, ["Part 2"])])]],
                        **kw)
        assert extract_pdf_rich(pdf)[0] == expect, kw
    # non-identity /Matrix scopes out typed
    pdf = write_pdf(pages, forms=[[(0.0, 655.0,
                                    [(72.0, 0.0, 14.0, ["Part 2"])])]])
    bad = pdf.replace(b"/Matrix [1 0 0 1 0 0]", b"/Matrix [2 0 0 2 0 0]")
    assert bad != pdf
    with pytest.raises(PdfUnsupported, match="Matrix"):
        extract_pdf_rich(bad)
    # nested tree + forms is a writer-side error, not silent
    with pytest.raises(ValueError, match="nested"):
        write_pdf([pages[0], pages[0]], nested_kids=True,
                  forms=[[(0.0, 0.0, [(72.0, 655.0, 14.0, ["x"])])]])


def test_pdf_image_predictors():
    """/DecodeParms PNG predictors (10-15) and TIFF horizontal
    differencing (2) on Flate image XObjects decode to the exact
    raster; a /Columns that disagrees with /Width scopes out typed
    (the silent-garble alternative is forbidden)."""
    import base64
    import random

    import pytest

    from docling_api_spark.operators.pdf_extract import (PdfUnsupported,
                                                         extract_pdf_rich)
    from docling_api_spark.operators.pdf_write import write_pdf
    from docling_api_spark.operators.png_write import (filter_rows_up,
                                                       read_png_gray,
                                                       unfilter_rows)
    rng = random.Random(9)
    px = bytes(rng.randrange(256) for _ in range(20 * 12))
    pages = [[(72.0, 730.0, 24.0, ["Doc P"])]]
    for kw in (dict(), dict(compress=True), dict(xref_stream=True),
               dict(encrypt_r=6), dict(split_contents=3)):
        pdf = write_pdf(pages,
                        images=[[(72.0, 600.0, 20, 12, px, "flate-png")]],
                        **kw)
        assert b"/Predictor 15" in pdf or kw.get("encrypt_r"), kw
        _, imgs = extract_pdf_rich(pdf)
        w, h, p = read_png_gray(base64.b64decode(imgs[0]["image"]))
        assert (w, h, p) == (20, 12, px), kw
    # all five PNG row-filter types round-trip through the unfilter
    for w, h in [(1, 1), (7, 3), (16, 12)]:
        raster = bytes(rng.randrange(256) for _ in range(w * h))
        assert unfilter_rows(filter_rows_up(raster, w), w) == raster
    bad = write_pdf(pages,
                    images=[[(72.0, 600.0, 20, 12, px, "flate-png")]]
                    ).replace(b"/Columns 20", b"/Columns 19")
    with pytest.raises(PdfUnsupported, match="Columns"):
        extract_pdf_rich(bad)


def test_crypt_matches_pure_python_reference():
    """The shipped AES (OpenSSL through ``cryptography``) is
    byte-identical to the spec-shaped reference in
    ``tests/crypt_reference.py`` on every entry point the handlers use:
    CBC nopad in both directions (Algorithm 2.B, the /UE //OE wrap), the
    IV-prefixed PKCS#5 wire format, the one-block ECB /Perms seal and
    check, and the Algorithm 2.B hash for R5 and R6, over AES-128 and
    AES-256 keys and data sizes 16-4096. RC4 likewise for every key
    length 1-16, native or pure loop."""
    import random

    import crypt_reference as R

    from docling_api_spark.operators import pdf_crypt as C

    def rand(n):
        return bytes(rnd.randrange(256) for _ in range(n))

    rnd = random.Random(42)
    for klen in (16, 32):
        for dlen in (16, 64, 1024, 4096):
            key, iv, data = rand(klen), rand(16), rand(dlen)
            for encrypt in (True, False):
                assert C._cbc_nopad(key, iv, data, encrypt) == \
                    R.cbc_nopad(key, iv, data, encrypt)
            msg = data[:dlen - 3]
            wire = C.aes_cbc_encrypt(key, iv, msg)
            assert wire == R.cbc_encrypt(key, iv, msg)
            assert C.aes_cbc_decrypt(key, wire) == msg
        fkey = rand(klen)
        for p in (-4, -3904, 0xFFFFF0C0):
            seal = C.perms_value(fkey, p, tail=b"id0")
            assert seal == R.perms_value(fkey, p, tail=b"id0")
            assert C.perms_check(fkey, seal, p)
            assert R.perms_check(fkey, seal, p)
            assert not C.perms_check(fkey, seal, p + 1)
    # fresh salts: the shipped hash_2b's memo cannot answer these
    for r in (5, 6):
        for pwd, udata in ((b"", b""), (b"owner", rand(48))):
            salt = rand(8)
            assert C.hash_2b(pwd, salt, udata, r) == \
                R.hash_2b(pwd, salt, udata, r)
    # RC4 runs natively for the key lengths the provider accepts (the
    # 5- and 16-byte PDF keys among them), the pure loop for the rest
    assert C._native_rc4 is not None
    assert {5, 16} <= {k for k in range(1, 17)
                       if k * 8 in C._RC4_KEY_BITS}
    for klen in range(1, 17):
        for dlen in (0, 1, 16, 1000):
            key, data = rand(klen), rand(dlen)
            assert C.rc4(key, data) == R.rc4(key, data)
    assert C.rc4(b"Key", b"Plaintext") == bytes.fromhex("bbf316e8d940af0ad3")


def test_docx_mixed_text_image_paragraph_keeps_text():
    """r7 (r6 ADVICE low #1): a w:p carrying BOTH an a:blip and run
    text must keep the text after the image placeholder instead of
    silently dropping it."""
    import io
    import re
    import zipfile

    from docling_api_spark.operators.ooxml import extract_docx_rich
    from docling_api_spark.operators.ooxml_write import write_docx
    from docling_api_spark.operators.png_write import picture_png

    docx = write_docx("Doc 1", "body text", [], [],
                      images=[picture_png("mix.png")])
    # splice run text into the image paragraph (fixture writer emits
    # image-only paragraphs)
    src = zipfile.ZipFile(io.BytesIO(docx))
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as out:
        for name in src.namelist():
            data = src.read(name)
            if name == "word/document.xml":
                xml = data.decode()
                m = re.search(r"<w:p>(?:(?!</w:p>).)*a:blip(?:(?!</w:p>).)*</w:p>", xml)
                assert m, xml[:500]
                para = m.group(0)
                mixed = para.replace(
                    "</w:p>",
                    "<w:r><w:t>caption text</w:t></w:r></w:p>")
                xml = xml.replace(para, mixed)
                data = xml.encode()
            out.writestr(name, data)
    md, imgs = extract_docx_rich(buf.getvalue())
    assert len(imgs) == 1
    assert "caption text" in md
    assert md.index("picture-1.png") < md.index("caption text")


def test_ooxml_offshape_rel_targets_resolve_or_fail_typed():
    """r7 (r6 ADVICE low #3): absolute ('/word/media/x') and
    dot-relative rel targets normalize instead of double-prefixing;
    a target naming no stored part raises the typed unresolved error,
    never a bare KeyError."""
    import io
    import zipfile

    import pytest

    from docling_api_spark.operators.ooxml import extract_docx_rich
    from docling_api_spark.operators.ooxml_write import write_docx
    from docling_api_spark.operators.png_write import picture_png

    docx = write_docx("Doc 2", "body", [], [],
                      images=[picture_png("abs.png")])

    def rewrite_target(new_target: str) -> bytes:
        src = zipfile.ZipFile(io.BytesIO(docx))
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as out:
            for name in src.namelist():
                data = src.read(name)
                if name.endswith("document.xml.rels"):
                    xml = data.decode()
                    import re
                    xml = re.sub(r'Target="[^"]*media/image1[^"]*"',
                                 f'Target="{new_target}"', xml)
                    data = xml.encode()
                out.writestr(name, data)
        return buf.getvalue()

    base = extract_docx_rich(docx)
    # absolute form of the same part resolves identically
    md_abs, imgs_abs = extract_docx_rich(
        rewrite_target("/word/media/image1.png"))
    assert (md_abs, [i["image"] for i in imgs_abs]) == \
        (base[0], [i["image"] for i in base[1]])
    # dot-relative form resolves identically
    md_rel, imgs_rel = extract_docx_rich(
        rewrite_target("./media/image1.png"))
    assert md_rel == base[0]
    # missing part: typed, never KeyError
    with pytest.raises(ValueError, match="unresolved image part"):
        extract_docx_rich(rewrite_target("media/nope.png"))
