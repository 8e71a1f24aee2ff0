"""Table-driven sniffer tests mirroring utils.py:60-105 semantics."""

from docling_api_spark.functions.sniffer import (
    ASCIIDOC, DOCX, HTML, IMAGE, MD, PDF, PPTX, detect_format,
    detect_html_xhtml, format_from_extension)
from docling_api_spark.operators.convert import CONVERTERS
from docling_api_spark.operators.pdf_write import write_pdf
from fixture_corpus import docx_basic, pptx_basic


def test_magic_pdf():
    assert detect_format(b"%PDF-1.4 junk", "https://x/doc") == "pdf"


def test_magic_images():
    assert detect_format(b"\x89PNG\r\n\x1a\nxx", "u") == "image"
    assert detect_format(b"\xff\xd8\xff\xe0xx", "u") == "image"
    assert detect_format(b"GIF89ax", "u") == "image"
    assert detect_format(b"MM\x00*rest", "u") == "image"


def test_magic_beats_extension():
    # content magic wins over a lying extension (guess_format order,
    # utils.py:80-85)
    pdf = write_pdf([[(72, 720, 12, ["x"])]])
    assert detect_format(pdf, "https://x/fake.html") == "pdf"


def test_ooxml_zip_discrimination():
    assert detect_format(docx_basic(1).content, "https://x/f") == "docx"
    assert detect_format(pptx_basic(1).content, "https://x/f") == "pptx"


def test_extension_fallback():
    assert format_from_extension("https://a/b/readme.md") == "md"
    assert format_from_extension("https://a/b/guide.ADOC") == "asciidoc"
    assert format_from_extension("https://a/b/page.htm?q=1#frag") == "html"
    assert format_from_extension("https://a/b/noext") is None
    assert detect_format(b"plain words", "https://a/notes.md") == "md"


def test_html_content_heuristic():
    assert detect_html_xhtml(b"<!DOCTYPE html><html>") == "text/html"
    assert detect_html_xhtml(b"  <body><p>x</p>") == "text/html"
    assert detect_html_xhtml(
        b'<?xml version="1.0"?><html xmlns="http://www.w3.org/1999/xhtml">'
    ) == "application/xhtml+xml"
    # XML comment stripped before probing (utils.py:63-65)
    assert detect_html_xhtml(b"<!-- c --><html>") == "text/html"
    assert detect_html_xhtml(b"just some text") is None


def test_html_heuristic_ascii_ignore_decode():
    # reference decodes ascii-ignore FIRST (utils.py:61): non-ASCII bytes
    # vanish, so a UTF-8 BOM / any non-ASCII prefix before <html> still
    # sniffs as html (r3 advice fix; the r2 byte-level match regressed this)
    assert detect_html_xhtml(b"\xef\xbb\xbf<html><body>x") == "text/html"
    assert detect_html_xhtml(b"\xc3\xa9\xc2\xa0<head>") == "text/html"
    assert detect_format(b"\xef\xbb\xbf<html>hi", "https://a/page") == "html"
    # the dropped bytes do NOT create a match that wasn't there
    assert detect_html_xhtml(b"\xffplain text") is None
    # BOM before an xml decl: xhtml probe still fires
    assert detect_html_xhtml(
        b'\xef\xbb\xbf<?xml version="1.0"?><html xmlns="x/xhtml">'
    ) == "application/xhtml+xml"


def test_html_heuristic_is_anchored():
    # reference uses re.match on the comment-stripped, lstripped content
    # (utils.py:71): an html tag MID-prefix is plain text, not html
    # (r1 verdict drift item, aligned in r2)
    assert detect_html_xhtml(b"some text then <html>") is None
    assert detect_format(b"some text then <html>", "https://a/page") is None
    # but comments + whitespace before the tag are stripped first
    assert detect_html_xhtml(b"  <!-- x --> \t<head>") == "text/html"


def test_extension_map_is_reference_subset():
    # mime_from_extension (utils.py:92-101) maps ONLY asciidoc/html/md:
    # binary formats rely on magic, so a '.pdf' url with non-PDF bytes is
    # rejected rather than attempted (r1 verdict drift item)
    assert format_from_extension("https://a/file.pdf") is None
    assert format_from_extension("https://a/file.docx") is None
    assert format_from_extension("https://a/file.pptx") is None
    assert format_from_extension("https://a/file.png") is None
    # FormatToExtensions[MD] is ['md'] only (utils.py:29): '.markdown' is
    # NOT accepted by the reference (r3 advice fix)
    assert format_from_extension("https://a/file.markdown") is None
    assert detect_format(b"plain words", "https://a/file.markdown") is None
    assert detect_format(b"not a pdf at all", "https://a/file.pdf") is None
    # real PDF bytes still detected regardless of extension (magic)
    pdf = write_pdf([[(72, 720, 12, ["x"])]])
    assert detect_format(pdf, "https://a/file.pdf") == "pdf"


def test_plaintext_falls_through_to_none():
    # utils.py:87-89: text/plain default → unsupported
    assert detect_format(b"no structure at all", "https://a/file.txt") is None


def test_empty_is_none():
    assert detect_format(b"", "https://a/file.html") is None


def test_every_sniffed_format_has_a_converter():
    # the reference's InputFormat taxonomy (utils.py:8-15) is the key set
    # of the converter table: a format the sniffer returns must convert
    assert {DOCX, PPTX, HTML, IMAGE, PDF, ASCIIDOC, MD} == set(CONVERTERS)
