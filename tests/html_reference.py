"""Differential reference for the fast HTML tokenizer: the stdlib
``html.parser`` driving the engine's own tree builder. About 3x slower
than ``html_extract.parse_html`` (it tracks source positions and
re-scans per construct), so it is a test oracle, not shipped code."""

from html.parser import HTMLParser

from docling_api_spark.operators.html_extract import Node, _TreeBuilder


class _StdlibTreeBuilder(_TreeBuilder, HTMLParser):
    def __init__(self):
        _TreeBuilder.__init__(self)
        HTMLParser.__init__(self, convert_charrefs=True)


def parse_html_stdlib(text: str) -> Node:
    tb = _StdlibTreeBuilder()
    tb.feed(text)
    tb.close()
    return tb.root
