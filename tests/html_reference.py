"""Differential references for the HTML extractor, kept out of the package:

- ``parse_html_stdlib``: the stdlib ``html.parser`` driving the engine's
  own tree builder. About 3x slower than ``html_extract.parse_html`` (it
  tracks source positions and re-scans per construct).
- ``pick_root_two_walk`` / ``text_stats_walk``: root selection and text
  stats by walking the finished tree, the way the extractor did before the
  builder recorded them; the fused values must match these walks."""

import re
from html.parser import HTMLParser

from docling_api_spark.operators.html_extract import (DROP_TAGS, Document,
                                                      Node, _TreeBuilder)

_WS_RX = re.compile(r"\s+")


class _StdlibTreeBuilder(_TreeBuilder, HTMLParser):
    def __init__(self):
        _TreeBuilder.__init__(self)
        HTMLParser.__init__(self, convert_charrefs=True)


def parse_html_stdlib(text: str) -> Document:
    tb = _StdlibTreeBuilder()
    tb.feed(text)
    tb.close()
    return tb.finish()


def elements(node: Node) -> list[Node]:
    """Every element under ``node`` (itself included), in document order."""
    found = []
    stack = [node]
    while stack:
        n = stack.pop()
        found.append(n)
        # reversed → document order when popping
        stack.extend(c for c in reversed(n.children) if isinstance(c, Node))
    return found


def text_stats_walk(node: Node) -> tuple[int, int]:
    """(total_chars, link_chars) of collapsed text, excluding DROP_TAGS."""
    total = 0
    link = 0
    stack = [(node, False)]
    while stack:
        n, in_link = stack.pop()
        if isinstance(n, str):
            t = len(_WS_RX.sub(" ", n).strip())
            total += t
            if in_link:
                link += t
            continue
        if n.tag in DROP_TAGS:
            continue
        child_in_link = in_link or n.tag == "a"
        for c in n.children:
            stack.append((c, child_in_link))
    return total, link


def pick_root_two_walk(root: Node) -> Node:
    """The ``<main>``/``<article>`` with the most text (first wins ties),
    else the first ``<body>``, else ``root`` — by walking the tree."""
    every = elements(root)
    mains = [n for n in every if n.tag in ("main", "article")]
    if mains:
        best = None
        best_len = -1
        for m in mains:  # document order; strict > keeps the first on ties
            total, _ = text_stats_walk(m)
            if total > best_len:
                best, best_len = m, total
        return best
    bodies = [n for n in every if n.tag == "body"]
    if bodies:
        return bodies[0]
    return root
