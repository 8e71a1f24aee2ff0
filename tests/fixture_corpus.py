"""Deterministic synthetic corpus — FIXTURES.md §3 document classes.

Every fixture is a pure function of its integer index (seeded, no wall
clock, no randomness beyond a seeded PRNG for the unsupported-bytes class),
in the authoritative input-table shape
``(url, warc_ts, html, text, lang)`` (BASELINE.json input_hint).

Golden markdown strings are **hand-derived from the serializer spec**
(html_extract module docstring), not produced by running the engine —
avoiding tautological tests (SURVEY.md §5.2, FIXTURES.md §2). Classes whose
exact output is not a golden target (broken_html, huge_page) carry
``golden=None`` and are checked for total-function behavior only.
"""

from __future__ import annotations

import datetime
import random
import zipfile
import io
from dataclasses import dataclass

from docling_api_spark.operators.pdf_write import append_update, write_pdf

EPOCH = datetime.datetime(2025, 1, 1, 0, 0, 0)  # FIXTURES.md §1, never wall clock
LANGS = ("en", "fr", "de", "es", "it", "pt")     # reference OCR set, service.py:37


@dataclass
class Fixture:
    name: str
    content: bytes
    ext: str                      # url extension ('' → no extension)
    fmt: str | None               # expected sniffed format
    golden: str | None            # expected markdown (byte-identical) or None
    error: str | None = None      # expected failure code
    images: list | None = None    # expected images manifest or None = don't check


# --------------------------------------------------------------------- HTML

def html_minimal(i: int) -> Fixture:
    content = (
        f"<!DOCTYPE html><html><head><title>t</title></head><body>"
        f"<h1>Doc {i}</h1><p>First paragraph of document {i}.</p>"
        f"<p>Second paragraph.</p></body></html>"
    ).encode()
    golden = (f"# Doc {i}\n\nFirst paragraph of document {i}."
              f"\n\nSecond paragraph.")
    return Fixture("html_minimal", content, "html", "html", golden)


def html_headings_lists(i: int) -> Fixture:
    content = (
        f"<html><body><h1>Title {i}</h1><h2>Section</h2><h3>Sub</h3>"
        f"<p>Intro with <b>bold</b>, <i>italic</i> and <code>mono</code>.</p>"
        f"<ul><li>alpha</li><li>beta<ul><li>beta.one</li></ul></li></ul>"
        f"<ol><li>first</li><li>second</li></ol>"
        f"</body></html>"
    ).encode()
    golden = (
        f"# Title {i}\n\n## Section\n\n### Sub\n\n"
        "Intro with **bold**, *italic* and `mono`.\n\n"
        "- alpha\n- beta\n  - beta.one\n\n"
        "1. first\n1. second"
    )
    return Fixture("html_headings_lists", content, "html", "html", golden)


def html_links_images(i: int) -> Fixture:
    content = (
        f"<html><body><p>See <a href=\"https://example.com/{i}\">site {i}</a>"
        f" for details.</p><img src=\"img-{i}.png\" alt=\"x\">"
        f"<p>After the image.</p></body></html>"
    ).encode()
    import base64

    from docling_api_spark.operators.png_write import picture_png
    # the expected payload is the INDEPENDENT encoder call on the ref —
    # not the engine's own output (the codec itself is golden-tested
    # against hand-built byte fixtures in test_png.py)
    b64 = base64.b64encode(picture_png(f"img-{i}.png")).decode()
    golden = (
        f"See [site {i}](https://example.com/{i}) for details."
        "\n\npicture-1.png\n\nAfter the image."
    )
    images = [{"type": "picture", "filename": "picture-1.png", "image": b64}]
    return Fixture("html_links_images", content, "html", "html", golden,
                   images=images)


def html_table(i: int) -> Fixture:
    if i % 2 == 0:
        content = (
            "<html><body><h2>Data</h2>"
            "<table><thead><tr><th>name</th><th>value</th></tr></thead>"
            f"<tbody><tr><td>a</td><td>{i}</td></tr>"
            f"<tr><td>b</td><td>{i + 1}</td></tr></tbody></table>"
            "</body></html>"
        ).encode()
        golden = (
            "## Data\n\n"
            "| name | value |\n| --- | --- |\n"
            f"| a | {i} |\n| b | {i + 1} |"
        )
    else:
        # colspan variant — expanded with empty cells
        content = (
            "<html><body>"
            "<table><tr><th colspan=\"2\">wide</th><th>c</th></tr>"
            f"<tr><td>x</td><td>y</td><td>{i}</td></tr></table>"
            "</body></html>"
        ).encode()
        golden = (
            "| wide |  | c |\n| --- | --- | --- |\n"
            f"| x | y | {i} |"
        )
    return Fixture("html_table", content, "html", "html", golden)


def html_boilerplate(i: int) -> Fixture:
    content = (
        "<html><head><script>var x=1;</script><style>.a{color:red}</style>"
        "</head><body>"
        "<nav><a href=\"/home\">Home</a> <a href=\"/about\">About</a></nav>"
        "<header><h1>Site Header</h1></header>"
        "<div><a href=\"/p1\">promoted link one</a> "
        "<a href=\"/p2\">promoted link two</a> "
        "<a href=\"/p3\">promoted link three</a></div>"
        f"<main><h1>Article {i}</h1>"
        f"<p>The article body for document {i} carries the actual content "
        "that extraction must keep, with enough text to dominate the page "
        "by density.</p></main>"
        "<aside>Related stories</aside>"
        "<footer>Copyright</footer></body></html>"
    ).encode()
    golden = (
        f"# Article {i}\n\n"
        f"The article body for document {i} carries the actual content "
        "that extraction must keep, with enough text to dominate the page "
        "by density."
    )
    return Fixture("html_boilerplate", content, "html", "html", golden)


def html_entities_whitespace(i: int) -> Fixture:
    content = (
        "<html><body><!-- a comment -->"
        f"<p>Fish &amp; chips   cost &#163;{i}.\n\n   Caf&eacute; time.</p>"
        "<p>&lt;tag&gt; literal</p>"
        "</body></html>"
    ).encode()
    golden = (f"Fish & chips cost £{i}. Café time."
              "\n\n<tag> literal")
    return Fixture("html_entities_whitespace", content, "html", "html", golden)


def xhtml_decl(i: int) -> Fixture:
    content = (
        "<?xml version=\"1.0\" encoding=\"UTF-8\"?>"
        "<!DOCTYPE html PUBLIC \"-//W3C//DTD XHTML 1.0 Strict//EN\" "
        "\"http://www.w3.org/TR/xhtml1/DTD/xhtml1-strict.dtd\">"
        "<html xmlns=\"http://www.w3.org/1999/xhtml\"><body>"
        f"<h1>XHTML {i}</h1><p>Strict document.</p></body></html>"
    ).encode()
    golden = f"# XHTML {i}\n\nStrict document."
    # no extension: forces the detect_html_xhtml content probe (utils.py:66-68)
    return Fixture("xhtml_decl", content, "", "html", golden)


def html_no_doctype_fragment(i: int) -> Fixture:
    content = (f"<body><p>Fragment {i} without a doctype.</p>"
               "</body>").encode()
    golden = f"Fragment {i} without a doctype."
    # no extension: forces the <body> regex branch (utils.py:70-71)
    return Fixture("html_no_doctype_fragment", content, "", "html", golden)


# ------------------------------------------------------------------- others

def md_passthrough(i: int) -> Fixture:
    content = (
        f"# Readme {i}   \n\n\n"
        "Some text with trailing spaces.   \n"
        "Another line.\n\n\n\n"
        "- item one\n- item two\n"
    ).encode()
    golden = (
        f"# Readme {i}\n\n"
        "Some text with trailing spaces.\nAnother line.\n\n"
        "- item one\n- item two"
    )
    return Fixture("md_passthrough", content, "md", "md", golden)


def asciidoc_basic(i: int) -> Fixture:
    content = (
        f"= Guide {i}\n\nIntro paragraph.\n\n== Usage\n\n"
        "* point one\n** nested point\n* point two\n\n. step one\n. step two\n"
    ).encode()
    golden = (
        f"# Guide {i}\n\nIntro paragraph.\n\n## Usage\n\n"
        "- point one\n  - nested point\n- point two\n\n1. step one\n1. step two"
    )
    return Fixture("asciidoc_basic", content, "adoc", "asciidoc", golden)


def pdf_text_simple(i: int) -> Fixture:
    pages = [[
        (72, 720, 24, [f"Report {i}"]),
        (72, 680, 12, ["This report covers the first topic", "in two lines."]),
        (72, 620, 12, ["A closing paragraph."]),
    ]]
    content = write_pdf(pages, compress=(i % 2 == 1))
    golden = (f"# Report {i}\n\n"
              "This report covers the first topic in two lines.\n\n"
              "A closing paragraph.")
    return Fixture("pdf_text_simple", content, "pdf", "pdf", golden)


def pdf_text_multipage(i: int) -> Fixture:
    p1 = [(72, 720, 24, [f"Manual {i}"]),
          (72, 680, 12, ["Page one body."])]
    p2 = [(72, 720, 16, ["Appendix"]),
          (72, 690, 12, ["Page two body."])]
    content = write_pdf([p1, p2], compress=True)
    golden = (f"# Manual {i}\n\nPage one body.\n\n"
              "## Appendix\n\nPage two body.")
    return Fixture("pdf_text_multipage", content, "pdf", "pdf", golden)


def pdf_heading_levels(i: int) -> Fixture:
    """Tf size-driven heading hierarchy (r3 widening): one fixture walks
    all three levels — 24 → h1, 18 → h2, 14 → h3, 11 → paragraph."""
    pages = [[
        (72, 730, 24, [f"Spec {i}"]),
        (72, 690, 18, ["Overview"]),
        (72, 655, 14, ["Details"]),
        (72, 620, 11, ["Body line one.", "Body line two."]),
    ]]
    content = write_pdf(pages, compress=(i % 2 == 0))
    golden = (f"# Spec {i}\n\n## Overview\n\n### Details\n\n"
              "Body line one. Body line two.")
    return Fixture("pdf_heading_levels", content, "pdf", "pdf", golden)


def pdf_objstm_xref(i: int) -> Fixture:
    """PDF 1.5 layout (r5 grammar notch): every dict-only object
    (catalog, page tree, font, page dicts) Flate-packed into a
    ``/Type /ObjStm`` container plus a binary ``/Type /XRef``
    cross-reference stream — the layout real Common-Crawl PDFs
    near-universally use (the reference reads it via docling-parse,
    poetry.lock:503-504). Alternates plain/Flate content streams so
    both combine with the 1.5 container layout."""
    pages = [[
        (72, 730, 24, [f"Bulletin {i}"]),
        (72, 690, 12, ["Modern layout body line one,", "and line two."]),
        (72, 640, 12, ["A closing note."]),
    ]]
    content = write_pdf(pages, compress=(i % 2 == 0), xref_stream=True)
    golden = (f"# Bulletin {i}\n\n"
              "Modern layout body line one, and line two.\n\n"
              "A closing note.")
    return Fixture("pdf_objstm_xref", content, "pdf", "pdf", golden)


def pdf_incremental_update(i: int) -> Fixture:
    """Incremental-save revision (r5, PDF 32000 §7.5.6): base document
    plus an appended update section replacing page 0's content stream,
    chained via /Prev — how Acrobat/signing tools/most editors save
    changes. Extraction must return the UPDATED text; a first-
    definition-wins reader silently extracts the stale pre-edit body.
    Cycles all four base layouts (classic/1.5 × plain/Flate)."""
    stale = [(72, 730, 24, [f"Notice {i}"]),
             (72, 690, 12, ["Stale pre-edit body."])]
    final = [(72, 730, 24, [f"Notice {i}"]),
             (72, 690, 12, ["Revised body, second save."])]
    base = write_pdf([stale], compress=(i % 2 == 0),
                     xref_stream=(i % 4 < 2))
    content = append_update(base, 0, final, compress=(i % 2 == 1))
    golden = f"# Notice {i}\n\nRevised body, second save."
    return Fixture("pdf_incremental_update", content, "pdf", "pdf", golden)


def pdf_winansi(i: int) -> Fixture:
    """/WinAnsiEncoding font (r5): string bytes are cp1252, carrying
    chars latin-1 lacks (€, curly quotes, ellipsis) — the dominant
    single-byte encoding in real Western-European PDFs. A latin-1-only
    reader yields mojibake for the 0x80-0x9F band."""
    txt = f"Facture {i % 50} — total “{i % 9} €”, c’est fini…"
    pages = [[
        (72, 730, 24, [f"Facture {i}"]),
        (72, 690, 12, [txt]),
    ]]
    content = write_pdf(pages, compress=(i % 2 == 0),
                        xref_stream=(i % 4 < 2), font_encoding="winansi")
    golden = f"# Facture {i}\n\n{txt}"
    return Fixture("pdf_winansi", content, "pdf", "pdf", golden)


_DIFF_MAP = {0xE9: "Euro", 0xEA: "quotedblleft", 0xEB: "quotedblright",
             0xEC: "emdash"}


def pdf_differences(i: int) -> Fixture:
    """/Differences font encoding (r5): codes 0xE9-0xEC — which HAVE
    base cp1252 meanings (é ê ë ì) — are remapped to Euro/quotes/emdash
    glyph names, so a reader that ignores the Differences array decodes
    visibly wrong chars (the embedded-subset-font pattern real PDF
    generators emit)."""
    txt = f"Quote {i % 9}: “sum {i % 50} €” — done"
    pages = [[
        (72, 730, 24, [f"Rapport {i}"]),
        (72, 690, 12, [txt]),
    ]]
    content = write_pdf(pages, compress=(i % 2 == 1),
                        xref_stream=(i % 4 >= 2), font_encoding=_DIFF_MAP)
    golden = f"# Rapport {i}\n\n{txt}"
    return Fixture("pdf_differences", content, "pdf", "pdf", golden)


def pdf_tounicode(i: int) -> Fixture:
    """/ToUnicode CMap font (r5): string bytes are arbitrary control
    codes only the embedded CMap (§9.10.3 bfchar, UTF-16BE dsts, incl.
    a multi-char ligature) can recover — the embedded-subset-font
    pattern ubiquitous in generator-produced real PDFs. Without the
    CMap the text is literal control-code garbage."""
    tu = ("tounicode", {0x01: "é", 0x02: "€", 0x03: "ffi",
                        0x04: "“", 0x05: "”"})
    txt = f"Office memo {i % 9}: caché “sum {i % 50} €” ffi"
    pages = [[
        (72, 730, 24, [f"Memo {i}"]),
        (72, 690, 12, [txt]),
    ]]
    content = write_pdf(pages, compress=(i % 2 == 0),
                        xref_stream=(i % 4 >= 2), font_encoding=tu)
    golden = f"# Memo {i}\n\n{txt}"
    return Fixture("pdf_tounicode", content, "pdf", "pdf", golden)


def pdf_cid_identity(i: int) -> Fixture:
    """Type0/Identity-H CID font (r5): TWO-byte codes are glyph ids
    with no base encoding at all — the dominant text model in real
    generator-produced PDFs (every embedded TrueType/OpenType subset).
    ASCII rides the identity bfrange; € / curly quotes / the ffi
    ligature live at codes ≥ 0x1000 recoverable only through the
    2-byte ToUnicode CMap. Hex-string operands, 4 hex digits/glyph."""
    cid = ("cid", {0x1001: "€", 0x1002: "“", 0x1003: "”",
                   0x1004: "é", 0x1005: "ffi"})
    txt = f"Office file {i % 9}: caché “sum {i % 50} €” ffi"
    pages = [[
        (72, 730, 24, [f"File {i}"]),
        (72, 690, 12, [txt]),
    ]]
    content = write_pdf(pages, compress=(i % 2 == 1),
                        xref_stream=(i % 4 < 2), font_encoding=cid)
    golden = f"# File {i}\n\n{txt}"
    return Fixture("pdf_cid_identity", content, "pdf", "pdf", golden)


def pdf_split_tree(i: int) -> Fixture:
    """Array /Contents + nested page tree (r5 notch 6): each page's
    content is split across MULTIPLE streams referenced by
    ``/Contents [c1 0 R …]`` (§7.8.2 — BT/ET and the text state cross
    the stream boundaries, so a reader that tokenizes streams
    individually loses state), and the page tree has intermediate
    ``/Pages`` nodes with ``/Resources`` declared ONLY on the root
    (§7.7.3.4 inheritance). WinAnsi font makes both failure modes
    text-visible: a flat-Kids reader extracts nothing, a
    non-inheriting reader decodes € and curly quotes as mojibake.
    Cycles split counts 2-4 and all four base layouts."""
    txt = f"Synthèse {i % 9} — “total {i % 50} €”"
    p1 = [(72, 730, 24, [f"Dossier {i}"]),
          (72, 690, 12, [txt, "Ligne deux."])]
    p2 = [(72, 730, 16, ["Annexe"]),
          (72, 690, 12, ["Corps de page deux."])]
    content = write_pdf([p1, p2], compress=(i % 2 == 0),
                        xref_stream=(i % 4 < 2),
                        split_contents=2 + i % 3, nested_kids=True,
                        font_encoding="winansi")
    golden = (f"# Dossier {i}\n\n{txt} Ligne deux.\n\n"
              "## Annexe\n\nCorps de page deux.")
    return Fixture("pdf_split_tree", content, "pdf", "pdf", golden)


def pdf_filter_chains(i: int) -> Fixture:
    """Stream filters beyond Flate (r5 notch 7): /ASCIIHexDecode
    ('>' EOD, odd-digit pad), /ASCII85Decode ('~>' EOD), and the §7.4
    filter ARRAY ``[/ASCII85Decode /FlateDecode]`` applied in order —
    ascii85 transport coding wrapped around Flate, the chain
    PostScript-derived real PDFs carry. A Flate-only reader scopes
    every one of these out (or worse, inflates garbage)."""
    filt = ("ahx", "a85", "a85+flate")[i % 3]
    pages = [[
        (72, 730, 24, [f"Archive {i}"]),
        (72, 690, 12, ["Filtered body line one,", "and line two."]),
        (72, 640, 12, [f"(ref {i}\\{i % 7}) closing."]),
    ]]
    content = write_pdf(pages, xref_stream=(i % 4 < 2),
                        stream_filter=filt)
    golden = (f"# Archive {i}\n\n"
              "Filtered body line one, and line two.\n\n"
              f"(ref {i}\\{i % 7}) closing.")
    return Fixture("pdf_filter_chains", content, "pdf", "pdf", golden)


def pdf_two_column(i: int) -> Fixture:
    pages = [[
        (72, 720, 24, [f"Paper {i}"]),
        (72, 680, 12, ["Left column first line.", "Left column second line."]),
        (330, 680, 12, ["Right column first line.", "Right column second line."]),
    ]]
    content = write_pdf(pages)
    golden = (f"# Paper {i}\n\n"
              "Left column first line. Left column second line.\n\n"
              "Right column first line. Right column second line.")
    return Fixture("pdf_two_column", content, "pdf", "pdf", golden)


_DOCX_DOC_XML = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
<w:body>
<w:p><w:pPr><w:pStyle w:val="Heading1"/></w:pPr><w:r><w:t>Memo {i}</w:t></w:r></w:p>
<w:p><w:r><w:t>Plain paragraph with </w:t></w:r><w:r><w:rPr><w:b/></w:rPr><w:t>bold</w:t></w:r><w:r><w:t> text.</w:t></w:r></w:p>
<w:p><w:pPr><w:numPr><w:ilvl w:val="0"/></w:numPr></w:pPr><w:r><w:t>bullet a</w:t></w:r></w:p>
<w:p><w:pPr><w:numPr><w:ilvl w:val="0"/></w:numPr></w:pPr><w:r><w:t>bullet b</w:t></w:r></w:p>
<w:tbl>
<w:tr><w:tc><w:p><w:r><w:t>k</w:t></w:r></w:p></w:tc><w:tc><w:p><w:r><w:t>v</w:t></w:r></w:p></w:tc></w:tr>
<w:tr><w:tc><w:p><w:r><w:t>size</w:t></w:r></w:p></w:tc><w:tc><w:p><w:r><w:t>{i}</w:t></w:r></w:p></w:tc></w:tr>
</w:tbl>
</w:body></w:document>"""


def _make_zip(entries: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in sorted(entries.items()):
            zi = zipfile.ZipInfo(name, date_time=(2025, 1, 1, 0, 0, 0))
            zf.writestr(zi, data)
    return buf.getvalue()


def docx_basic(i: int) -> Fixture:
    content = _make_zip({
        "[Content_Types].xml": b"<Types/>",
        "word/document.xml": _DOCX_DOC_XML.replace("{i}", str(i)).encode(),
    })
    golden = (
        f"# Memo {i}\n\nPlain paragraph with **bold** text.\n\n"
        "- bullet a\n- bullet b\n\n"
        f"| k | v |\n| --- | --- |\n| size | {i} |"
    )
    return Fixture("docx_basic", content, "docx", "docx", golden)


_PPTX_SLIDE_XML = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
<p:sld xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"
 xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main">
<p:cSld><p:spTree>
<p:sp><p:nvSpPr><p:nvPr><p:ph type="title"/></p:nvPr></p:nvSpPr>
<p:txBody><a:p><a:r><a:t>Slide {n} of deck {i}</a:t></a:r></a:p></p:txBody></p:sp>
<p:sp><p:nvSpPr><p:nvPr><p:ph type="body"/></p:nvPr></p:nvSpPr>
<p:txBody><a:p><a:r><a:t>point one</a:t></a:r></a:p>
<a:p><a:pPr lvl="1"/><a:r><a:t>sub point</a:t></a:r></a:p></p:txBody></p:sp>
</p:spTree></p:cSld></p:sld>"""


def pptx_basic(i: int) -> Fixture:
    content = _make_zip({
        "[Content_Types].xml": b"<Types/>",
        "ppt/presentation.xml": b"<p/>",
        "ppt/slides/slide1.xml": _PPTX_SLIDE_XML.replace("{i}", str(i))
        .replace("{n}", "1").encode(),
        "ppt/slides/slide2.xml": _PPTX_SLIDE_XML.replace("{i}", str(i))
        .replace("{n}", "2").encode(),
    })
    golden = (
        f"## Slide 1 of deck {i}\n\n- point one\n  - sub point\n\n"
        f"## Slide 2 of deck {i}\n\n- point one\n  - sub point"
    )
    return Fixture("pptx_basic", content, "pptx", "pptx", golden)


def image_png_stub(i: int) -> Fixture:
    content = b"\x89PNG\r\n\x1a\n" + bytes([i % 256]) * 32
    return Fixture("image_png_stub", content, "png", "image", None,
                   error="ocr_not_supported")


def unsupported_bin(i: int) -> Fixture:
    rng = random.Random(42 + i)
    content = b"\x00\x01" + bytes(rng.randrange(256) for _ in range(64))
    return Fixture("unsupported_bin", content, "bin", None, None,
                   error="unsupported_format")


def broken_html(i: int) -> Fixture:
    content = (f"<html><body><h1>Broken {i}<p>unclosed <b>tags"
               "<table><tr><td>cell").encode()
    return Fixture("broken_html", content, "html", "html", None)


def huge_page(i: int) -> Fixture:
    para = f"Sentence {i} repeated for bulk. " * 40
    body = "".join(f"<p>{para}</p>" for _ in range(400))
    content = f"<html><body><h1>Huge {i}</h1>{body}</body></html>".encode()
    return Fixture("huge_page", content, "html", "html", None)


FIXTURE_CLASSES = [
    html_minimal, html_headings_lists, html_links_images, html_table,
    html_boilerplate, html_entities_whitespace, xhtml_decl,
    html_no_doctype_fragment, md_passthrough, asciidoc_basic,
    pdf_text_simple, pdf_text_multipage, pdf_two_column,
    pdf_heading_levels, pdf_objstm_xref, pdf_incremental_update,
    pdf_winansi, pdf_differences, pdf_tounicode, pdf_cid_identity,
    pdf_split_tree, pdf_filter_chains,
    docx_basic, pptx_basic, image_png_stub, unsupported_bin, broken_html,
]


def make_url(cls_name: str, i: int, ext: str) -> str:
    suffix = f".{ext}" if ext else ""
    return f"https://site{i % 97}.example/{cls_name}/{i}{suffix}"


def make_corpus(n_rows: int, classes=None, dup_fraction: int = 16):
    """→ list of input-table rows cycling the fixture classes. Every
    ``dup_fraction``-th row is a duplicate url with a later ``warc_ts``
    (dedup-window tests, FIXTURES.md §1)."""
    classes = classes or FIXTURE_CLASSES
    rows = []
    for i in range(n_rows):
        fx = classes[i % len(classes)](i)
        url = make_url(fx.name, i, fx.ext)
        ts = EPOCH + datetime.timedelta(seconds=i)
        rows.append((url, ts, fx.content, "", LANGS[i % len(LANGS)]))
        if dup_fraction and i % dup_fraction == dup_fraction - 1:
            rows.append((url, ts + datetime.timedelta(seconds=100000),
                         fx.content, "", LANGS[i % len(LANGS)]))
    return rows


def corpus_df(spark, n_rows: int, classes=None, dup_fraction: int = 16):
    from docling_api_spark.schemas import PAGES_SCHEMA
    return spark.createDataFrame(
        make_corpus(n_rows, classes, dup_fraction), schema=PAGES_SCHEMA)
