"""The converter table: each format's ``errors`` map decides the failure
code of an exception its converter raises, and empty markdown from any
converter is an ``empty_document`` row."""

import pytest

from docling_api_spark.config import ExtractConfig
from docling_api_spark.functions.sniffer import IMAGE, PDF
from docling_api_spark.operators.convert import CONVERTERS, convert_one
from docling_api_spark.operators.pdf_extract import PdfUnsupported
from docling_api_spark.schemas import FAILURE_CODES
from fixture_corpus import FIXTURE_CLASSES, make_url

CFG = ExtractConfig()
#: one fixture per format, the first class of the corpus that sniffs to it
SAMPLES = {}
for _cls in FIXTURE_CLASSES:
    _fx = _cls(1)
    SAMPLES.setdefault(_fx.fmt, (_fx.content, make_url(_fx.name, 1, _fx.ext)))

#: the only (format, exception) pairs with their own code; any other
#: exception a converter raises is parse_error
TYPED = {(IMAGE, ValueError): "ocr_not_supported",
         (PDF, PdfUnsupported): "pdf_unsupported_feature"}


def _patch_run(monkeypatch, fmt, run):
    monkeypatch.setitem(CONVERTERS, fmt, (run, CONVERTERS[fmt][1]))


def _null_row(row, fmt, error):
    assert row == {"fmt": fmt, "markdown": None, "images": None,
                   "spans": None, "error": error}


def test_error_codes_are_failure_codes():
    assert {code for _, errors in CONVERTERS.values()
            for code in errors.values()} <= set(FAILURE_CODES)


@pytest.mark.parametrize("exc", [ValueError, PdfUnsupported, RuntimeError])
@pytest.mark.parametrize("fmt", sorted(CONVERTERS))
def test_exception_maps_to_the_formats_code(monkeypatch, fmt, exc):
    content, url = SAMPLES[fmt]

    def run(content, cfg):
        raise exc("boom")

    _patch_run(monkeypatch, fmt, run)
    _null_row(convert_one(content, url, CFG), fmt,
              TYPED.get((fmt, exc), "parse_error"))


@pytest.mark.parametrize("fmt", sorted(CONVERTERS))
def test_empty_markdown_is_empty_document(monkeypatch, fmt):
    content, url = SAMPLES[fmt]
    _patch_run(monkeypatch, fmt,
               lambda content, cfg: ("", [{"type": "picture"}], None))
    _null_row(convert_one(content, url, CFG), fmt, "empty_document")

