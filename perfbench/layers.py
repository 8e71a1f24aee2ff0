"""Per-layer timings: a serial, in-process loop over materialized rows that
calls each layer's public function inside a span."""

from __future__ import annotations

import pyarrow.parquet as pq

from docling_api_spark.config import ExtractConfig
from docling_api_spark.functions.sniffer import detect_format
from docling_api_spark.operators import convert, html_extract, md_adoc
from docling_api_spark.operators import ocr, ooxml, pdf_extract

from .trace import Tracer

FMTS = ("html", "md", "asciidoc", "pdf", "docx", "pptx", "image", "none")
ERRORS = ("empty_document", "unsupported_format", "pdf_unsupported_feature",
          "ocr_not_supported", "parse_error")

#: span name -> per-layer metric reporting its mean duration in µs
LAYER_SPANS = {
    "sniffer.detect": "sniffer.detect_us",
    "convert.decode": "convert.decode_us",
    "html_extract.parse": "html_extract.parse_us",
    "md_adoc.normalize": "md_adoc.normalize_us",
    "md_adoc.spans": "md_adoc.spans_us",
    "pdf_extract.plain": "pdf_extract.plain_us",
    "pdf_extract.encrypted": "pdf_extract.encrypted_us",
    "pdf_extract.image": "pdf_extract.image_us",
    "ooxml.docx": "ooxml.docx_us",
    "ooxml.pptx": "ooxml.pptx_us",
    "ocr.png": "ocr.png_us",
    "ocr.jpeg": "ocr.jpeg_us",
}


def read_rows(files: list[str]) -> list[tuple[str, bytes]]:
    rows = []
    for f in files:
        t = pq.read_table(f, columns=["url", "html"])
        rows += zip(t["url"].to_pylist(), t["html"].to_pylist())
    return rows


def _mean_us(xs: list[float]) -> float:
    return 1e6 * sum(xs) / len(xs) if xs else 0.0


def layer_functions(rows, tracer) -> dict[str, float]:
    """Time each layer's public function once per applicable row."""
    cfg = ExtractConfig()
    for url, content in rows:
        if not content:
            continue
        with tracer.span("sniffer.detect"):
            fmt = detect_format(content, url)
        if fmt == "html":
            with tracer.span("convert.decode"):
                text = convert.decode_html(content)
            with tracer.span("html_extract.parse"):
                html_extract.parse_html(text)
            with tracer.span("html_extract.extract"):
                html_extract.extract_html(text, cfg)
        elif fmt == "md":
            with tracer.span("md_adoc.normalize"):
                md = md_adoc.normalize_markdown(convert._decode_text(content))
            with tracer.span("md_adoc.spans"):
                md_adoc.block_spans(md)
        elif fmt == "pdf":
            kind = ("encrypted" if b"/Encrypt" in content else
                    "image" if b"/Subtype /Image" in content else "plain")
            with tracer.span(f"pdf_extract.{kind}"):
                try:
                    pdf_extract.extract_pdf_rich(content)
                except pdf_extract.PdfUnsupported:
                    pass
        elif fmt in ("docx", "pptx"):
            fn = (ooxml.extract_docx_rich if fmt == "docx"
                  else ooxml.extract_pptx_rich)
            with tracer.span(f"ooxml.{fmt}"):
                try:
                    fn(content)
                except Exception:  # broken-corpus containers fail typed
                    pass
        elif fmt == "image":
            kind = "png" if content[:4] == b"\x89PNG" else "jpeg"
            with tracer.span(f"ocr.{kind}"):
                try:
                    ocr.ocr_image(content)
                except ValueError:
                    pass
    out = {metric: _mean_us(tracer.durations(name))
           for name, metric in LAYER_SPANS.items()}
    out["html_extract.serialize_us"] = max(0.0, _mean_us(tracer.durations(
        "html_extract.extract")) - out["html_extract.parse_us"])
    return out


def convert_loop(rows, tracer) -> dict[str, float]:
    """``convert_one`` over every row of one pass slice: per-document
    latency, per-format and per-error counts, bytes and total CPU."""
    cfg = ExtractConfig()
    fmts = dict.fromkeys(FMTS, 0)
    errs = dict.fromkeys(ERRORS, 0)
    useful = b_in = b_out = 0
    for url, content in rows:
        with tracer.span("convert.convert_one"):
            r = convert.convert_one(content, url, cfg)
        # a format or code not listed here is not a BENCHMARK.json metric
        fmt = r["fmt"] or "none"
        if fmt in fmts:
            fmts[fmt] += 1
        if r["error"] in errs:
            errs[r["error"]] += 1
        if r["markdown"] is not None:
            useful += 1
            b_out += len(r["markdown"].encode("utf-8"))
        b_in += len(content or b"")
    lat = sorted(tracer.durations("convert.convert_one"))
    n = len(lat)
    out = {
        "convert.cpu_s": sum(lat),
        "convert.doc_samples": n,
        "convert.doc_us_p50": 1e6 * lat[n // 2] if n else 0.0,
        "convert.doc_us_p99": 1e6 * lat[min(n - 1, int(n * 0.99))] if n
        else 0.0,
        "convert.useful_ratio": useful / n if n else 0.0,
        "convert.bytes_in_mb": b_in / 1e6,
        "convert.bytes_out_mb": b_out / 1e6,
    }
    out.update({f"convert.docs.{k}": v for k, v in fmts.items()})
    out.update({f"convert.errors.{k}": v for k, v in errs.items()})
    return out


def empty_metrics() -> dict[str, float]:
    """Every serial-loop metric at 0, for workloads without pages."""
    out = dict.fromkeys(LAYER_SPANS.values(), 0.0)
    out["html_extract.serialize_us"] = 0.0
    out.update(convert_loop([], Tracer(enabled=False)))
    return out
