"""The core map: document bytes → (markdown ⊕ error) rows, Arrow-vectorized.

This is the Spark-native re-expression of the reference's conversion engine:
``DoclingDocumentConversion.convert`` / ``convert_batch``
(``service.py:68-88``, ``service.py:90-118``) become ONE ``mapInArrow``
operator — Spark's partition iterator *is* the batch (the reference pipelines
a list through ``convert_all``, ``service.py:101-104``; we pipeline Arrow
record batches through a generator). Key semantics preserved:

- ``raises_on_error=False`` (``service.py:80,103``): extraction is a total
  function; every input row yields exactly one output row with markdown XOR
  a failure code (``service.py:83-88``) — the job never dies on a poison
  document;
- format gate as error rows, not drops (``utils.py:104-105`` + SURVEY A3);
- one table, ``CONVERTERS``, keyed by the sniffed ``InputFormat``
  (``utils.py:8-15``), picks each converter and its failure codes;
- unlike the reference, which constructs its converter **per request**
  (``service.py:76-78`` — models reloaded every call), all our extractor
  state is module-level and built once per Python worker process
  (``spark.python.worker.reuse`` keeps it warm) — SURVEY A8.

No per-row Python UDFs anywhere: this module is invoked via
``df.mapInArrow(make_convert_fn(cfg), RESULT_DDL)``. Batches stay in Arrow
on both sides of the Python boundary: no pandas frames are built, and the
pass-through columns (``url``, ``warc_ts``, ``lang``, ``partition_id``) are
returned as the input arrays.
"""

from __future__ import annotations

import re
import time

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql.pandas.types import to_arrow_type

from ..config import ExtractConfig
from ..functions.sniffer import (ASCIIDOC, DOCX, HTML, IMAGE, MD, PDF, PPTX,
                                 detect_format)
from ..schemas import RESULT_SCHEMA
from .html_extract import extract_html
from .md_adoc import asciidoc_to_markdown, block_spans, normalize_markdown
from .ooxml import extract_docx_rich, extract_pptx_rich
from .pdf_extract import PdfUnsupported, extract_pdf_rich

#: Arrow type of every result column, in result order — derived from the
#: one Spark result schema
_RESULT_TYPES = {f.name: to_arrow_type(f.dataType)
                 for f in RESULT_SCHEMA.fields}
#: result columns taken from ``convert_one``'s dict (plus its timing);
#: ``url``/``warc_ts``/``lang``/``partition_id`` pass through from the input
_CONVERTED = ("fmt", "markdown", "images", "spans", "error", "parse_ms")


def _decode_text(content: bytes) -> str:
    """utf-8 with latin-1 fallback — deterministic, never raises."""
    try:
        return content.decode("utf-8")
    except UnicodeDecodeError:
        return content.decode("latin-1")


#: html5-prescan charset sniff window (whatwg: first 1024 bytes)
_CHARSET_RX = re.compile(
    rb"<meta[^>]+charset\s*=\s*[\"']?([a-zA-Z0-9_\-]+)", re.IGNORECASE)

#: declared-label → python codec for the charsets a crawl actually sees
#: (whatwg: the 'latin-1' family of labels all mean windows-1252; the
#: utf-16 family of labels means utf-8 — §13.2.3.2 step "If charset is
#: a UTF-16 encoding, set charset to UTF-8": the prescan only ever sees
#: the label through ASCII-compatible bytes, so a visible utf-16
#: declaration is by construction wrong. r5 ADVICE fix: the old mapping
#: decoded even-length ASCII HTML as CJK mojibake with no error row.)
_CHARSET_ALIASES = {
    "utf-8": "utf-8", "utf8": "utf-8",
    "iso-8859-1": "cp1252", "latin-1": "cp1252", "latin1": "cp1252",
    "windows-1252": "cp1252", "cp1252": "cp1252",
    "us-ascii": "ascii",
    "utf-16": "utf-8", "utf-16le": "utf-8", "utf-16be": "utf-8",
}


def decode_html(content: bytes) -> str:
    """HTML byte-stream decoding per the real crawl contract (r4): BOM
    first, then the html5 prescan for a ``<meta charset=..>`` /
    ``http-equiv`` declaration in the first 1024 bytes (whatwg §13.2.3.2
    — incl. the iso-8859-1→windows-1252 label remap), then the utf-8 →
    latin-1 fallback chain. Deterministic, never raises (undecodable
    byte under the declared codec → the fallback chain, mirroring
    browser error-recovery)."""
    if content[:3] == b"\xef\xbb\xbf":
        return content[3:].decode("utf-8", "replace")
    if content[:2] == b"\xff\xfe":
        return content.decode("utf-16-le", "replace").lstrip("﻿")
    if content[:2] == b"\xfe\xff":
        return content.decode("utf-16-be", "replace").lstrip("﻿")
    m = _CHARSET_RX.search(content[:1024])
    if m:
        codec = _CHARSET_ALIASES.get(
            m.group(1).decode("ascii", "ignore").lower())
        if codec:
            try:
                return content.decode(codec)
            except (UnicodeDecodeError, ValueError):
                pass
    return _decode_text(content)


def _html(content: bytes, cfg: ExtractConfig):
    res = extract_html(decode_html(content), cfg)
    return res.markdown, res.images, res.spans


def _text(to_md):
    return lambda content, cfg: (to_md(_decode_text(content)), None, None)


def _rich(extract):
    return lambda content, cfg: (*extract(content), None)


def _ocr(content: bytes, cfg: ExtractConfig):
    from .ocr import ocr_image   # only workers that meet an image load OCR
    return ocr_image(content), None, None


#: sniffed format → (run, errors). ``run(content, cfg)`` gives (markdown,
#: images, spans); convert_one fills None images with [] and None spans
#: with per-block spans (one C7 offset contract). ``errors`` maps the
#: exceptions a format expects to its failure code (OCR raises ValueError
#: on all but machine-rendered text); any other exception is parse_error.
CONVERTERS = {
    HTML: (_html, {}),
    MD: (_text(normalize_markdown), {}),
    ASCIIDOC: (_text(asciidoc_to_markdown), {}),
    PDF: (_rich(extract_pdf_rich),
          {PdfUnsupported: "pdf_unsupported_feature"}),
    DOCX: (_rich(extract_docx_rich), {}),
    PPTX: (_rich(extract_pptx_rich), {}),
    IMAGE: (_ocr, {ValueError: "ocr_not_supported"}),
}


def _error_row(fmt, error: str, spans=None) -> dict:
    return dict(fmt=fmt, markdown=None, images=None, spans=spans, error=error)


def convert_one(content, url: str, cfg: ExtractConfig) -> dict:
    """Pure per-document conversion. Returns a dict with keys
    fmt/markdown/images/spans/error — exactly one of markdown/error set."""
    if not content:
        return _error_row(None, "empty_document")
    content = bytes(content)
    fmt = detect_format(content, url)
    if fmt is None:
        return _error_row(None, "unsupported_format")
    run, errors = CONVERTERS[fmt]
    try:
        markdown, images, spans = run(content, cfg)
    except Exception as exc:
        return _error_row(fmt, next((code for cls, code in errors.items()
                                     if isinstance(exc, cls)), "parse_error"))
    if not markdown:   # an empty HTML page keeps its serializer's spans: []
        return _error_row(fmt, "empty_document", spans)
    return {"fmt": fmt, "markdown": markdown,
            "images": [] if images is None else images,
            "spans": block_spans(markdown) if spans is None else spans,
            "error": None}


def _byte_length(arr: pa.Array) -> pa.Array:
    """Byte length of each binary/utf-8 value as int64; NULL counts 0."""
    return pc.binary_length(arr).fill_null(0).cast(pa.int64())


def make_convert_fn(cfg: ExtractConfig):
    """Build the mapInArrow function. The returned generator maps an
    iterator of input ``pyarrow.RecordBatch``es to result batches — one in
    flight at a time (memory bound per SURVEY.md §7.3). The pass-through
    columns go back as the input arrays, untouched; ``parse_ms`` is each
    document's own ``convert_one`` time."""

    def convert_partition(batches):
        for batch in batches:
            html = batch.column("html")
            rows = []
            for content, url in zip(html.to_pylist(),
                                    batch.column("url").to_pylist()):
                t0 = time.perf_counter()
                r = convert_one(content, url, cfg)
                r["parse_ms"] = (time.perf_counter() - t0) * 1000.0
                rows.append(r)
            computed = {name: pa.array([r[name] for r in rows],
                                       _RESULT_TYPES[name])
                        for name in _CONVERTED}
            computed["bytes_in"] = _byte_length(html)
            computed["bytes_out"] = _byte_length(computed["markdown"])
            yield pa.RecordBatch.from_arrays(
                [computed[name] if name in computed else batch.column(name)
                 for name in _RESULT_TYPES], names=list(_RESULT_TYPES))

    return convert_partition
