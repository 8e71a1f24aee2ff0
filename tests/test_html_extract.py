"""The HTML extractor's fused build: root choice and text stats recorded by
the tree builder (checked against the two-walk reference), the DROP-region
prefix memo, whitespace collapsing, and the colspan bound."""

import re
import time

import pytest
from hypothesis import given, settings, strategies as st

from docling_api_spark.config import ExtractConfig
from docling_api_spark.operators import html_extract as hx
from html_reference import (elements, parse_html_stdlib, pick_root_two_walk,
                            text_stats_walk)
from test_fast_parser_differential import (ADVERSARIAL, HTML_CLASSES,
                                           _extract_with, _soup_atoms)

CFG = ExtractConfig(num_partitions=8)


@pytest.fixture
def fresh_skip_cache(monkeypatch):
    """An empty DROP-region memo for one test; the worker's is restored."""
    monkeypatch.setattr(hx, "_SKIP_CACHE", {})
    monkeypatch.setattr(hx, "_SKIP_INDEX", {})
    return hx._SKIP_CACHE


def _assert_matches_walk(tree):
    assert hx._pick_root(tree) is pick_root_two_walk(tree)
    for n in elements(tree):
        assert (n.chars, n.link_chars) == text_stats_walk(n), n.tag


def _assert_both_trees(text: str):
    _assert_matches_walk(hx.parse_html(text))
    try:
        ref = parse_html_stdlib(text)
    except (AssertionError, NotImplementedError):
        return  # html.parser itself raises on some marked-section junk
    _assert_matches_walk(ref)


# ------------------------------------------------- root choice and stats

@pytest.mark.parametrize("cls", HTML_CLASSES, ids=lambda f: f.__name__)
def test_root_and_stats_match_walk_fixtures(cls):
    for i in (0, 1, 7, 12, 30):
        _assert_both_trees(cls(i).content.decode("utf-8", "replace"))


@pytest.mark.parametrize("snippet", ADVERSARIAL)
def test_root_and_stats_match_walk_adversarial(snippet):
    _assert_both_trees(snippet)


@settings(max_examples=300, deadline=None)
@given(st.lists(_soup_atoms, min_size=0, max_size=40))
def test_root_and_stats_match_walk_soup(atoms):
    _assert_both_trees("".join(atoms))


ROOT_CASES = [
    # equal-length mains: the first in document order wins
    ("<body><main><p>abc</p></main><main><p>xyz</p></main></body>", "abc"),
    # a main inside a DROP region is still a candidate (the skip aborts)
    ("<body><nav><main>inside nav</main></nav><p>after</p></body>",
     "inside nav"),
    # nested article/main: the outer holds the inner's text too
    ("<body><article>outer <main>inner text</main></article></body>",
     "outer\n\ninner text"),
    ("<body><main>m <article>the longer article</article></main>"
     "<article>short</article></body>", "m\n\nthe longer article"),
    # nested <a>: the inner link's text counts once, as link text
    ("<body><div><a href=x>aaaa<a href=y>bbbb</a></a>cc</div><p>k</p>"
     "</body>", "k"),
    ("<body><div>cccccccc<a href=x>aa<a href=y>bb</a></a></div></body>",
     "cccccccc[aa[bb](y)](x)"),
    # a main left open at EOF is closed and measured there
    ("<body><main><p>unclosed main", "unclosed main"),
    ("<body><main></main><main><p>second, unclosed", "second, unclosed"),
    # no candidate: the first body, else the whole tree
    ("<body><p>b1</p></body><body><p>b2</p></body>", "b1"),
    ("<p>no body</p>", "no body"),
]


@pytest.mark.parametrize("page,markdown", ROOT_CASES)
def test_root_choice_pinned(page, markdown):
    _assert_both_trees(page)
    assert hx.extract_html(page, CFG).markdown == markdown


def test_stats_exclude_drop_and_count_links():
    tree = hx.parse_html("<body><div>ab <a>cd <b>e</b></a><script>x</script>"
                         "<nav><a>zz</a></nav></div></body>")
    div = tree.body.children[0]
    assert (div.chars, div.link_chars) == (5, 3)


# ------------------------------------------------ DROP-region prefix memo

PREFIX = "".join(f"<a href='/l{i}'>link {i}</a>" for i in range(8))
assert len(PREFIX) > hx._SKIP_KEY_CHARS


def _extract(page: str) -> str:
    return hx.extract_html(page, CFG).markdown


def _reference(page: str) -> str:
    return _extract_with(parse_html_stdlib, page.encode()).markdown


def _count_skip_scans(monkeypatch) -> list:
    calls = []
    real = hx._try_skip_subtree

    def counting(text, pos, tag):
        calls.append(tag)
        return real(text, pos, tag)
    monkeypatch.setattr(hx, "_try_skip_subtree", counting)
    return calls


def test_cached_region_followed_by_any_tail(fresh_skip_cache, monkeypatch):
    _extract(f"<body><nav>{PREFIX}</nav><p>warm</p></body>")
    assert len(fresh_skip_cache) == 1
    scans = _count_skip_scans(monkeypatch)
    for tail in ("", "<", "</body>", "<p>x", "</nav>", "&amp; t", "<p a='",
                 f"<nav>{PREFIX}</nav>", "<main>m</main>", "<!-- c"):
        page = f"<body><nav>{PREFIX}</nav>{tail}"
        scans.clear()
        assert _extract(page) == _reference(page), tail
        assert scans == [], tail  # the region was never re-scanned


def test_shared_prefix_diverging_later_is_not_skipped(fresh_skip_cache,
                                                     monkeypatch):
    _extract(f"<body><nav>{PREFIX}</nav><p>warm</p></body>")
    # same first 64+ characters, then a main inside the nav: the region
    # must be built (the main becomes the root), not skipped as cached
    page = f"<body><nav>{PREFIX}<main>inner</main></nav><p>after</p></body>"
    assert _extract(page) == _reference(page) == "inner"
    # a longer, still skippable region is cached beside the first one
    longer = f"<body><nav>{PREFIX}<a>more</a></nav><p>keep</p></body>"
    assert _extract(longer) == _reference(longer) == "keep"
    key = ("nav", PREFIX[:hx._SKIP_KEY_CHARS])
    assert hx._SKIP_INDEX[key] == [f"{PREFIX}</nav>",
                                   f"{PREFIX}<a>more</a></nav>"]
    scans = _count_skip_scans(monkeypatch)
    first = f"<body><nav>{PREFIX}</nav><p>again</p></body>"
    assert _extract(first) == _reference(first) == "again"
    assert _extract(longer) == "keep"
    assert scans == []  # both variants hit


def test_variants_under_one_key(fresh_skip_cache, monkeypatch):
    # a nav that differs only past the prefix (the current section marked
    # active): each variant is validated once, then all of them hit
    def page(i):
        return f"<body><nav>{PREFIX}<a class=s{i}>s</a></nav><p>k</p></body>"
    n = hx._SKIP_KEY_REGIONS
    for i in range(n):
        _extract(page(i))
    scans = _count_skip_scans(monkeypatch)
    for i in reversed(range(n)):
        assert _extract(page(i)) == _reference(page(i)) == "k"
    assert scans == []
    # one more variant evicts the key's oldest, and nothing else
    _extract(f"<body><aside>{PREFIX}</aside><p>k</p></body>")
    _extract(page(n))
    key = ("nav", PREFIX[:hx._SKIP_KEY_CHARS])
    assert len(hx._SKIP_INDEX[key]) == n
    assert len(fresh_skip_cache) == n + 1
    scans.clear()
    _extract(page(0))
    assert scans == ["nav"]
    _extract(f"<body><aside>{PREFIX}</aside><p>k</p></body>")
    assert scans == ["nav"]


def test_same_region_text_under_another_drop_tag(fresh_skip_cache):
    _extract(f"<body><nav>{PREFIX}</nav><p>warm</p></body>")
    # "PREFIX</nav>" closes nothing open inside an <aside>: the aside is
    # built, its text stays in the (dropped) aside, not at body level
    page = f"<body><aside>{PREFIX}</nav>tail</aside><p>keep</p></body>"
    assert _extract(page) == _reference(page) == "keep"
    assert ("aside", PREFIX[:hx._SKIP_KEY_CHARS]) not in hx._SKIP_INDEX


def test_skip_cache_evicts_oldest(fresh_skip_cache, monkeypatch):
    def region(i):
        return f"{i:04d}" + "x" * hx._SKIP_KEY_CHARS
    n = hx._SKIP_CACHE_MAX + 1
    for i in range(n):
        _extract(f"<body><nav>{region(i)}</nav><p>k</p></body>")
        assert len(fresh_skip_cache) <= hx._SKIP_CACHE_MAX
    keys = list(fresh_skip_cache)
    assert len(keys) == len(hx._SKIP_INDEX) == hx._SKIP_CACHE_MAX
    assert ("nav", region(0)[:hx._SKIP_KEY_CHARS]) not in hx._SKIP_INDEX
    assert keys[-1] == (("nav", region(n - 1)[:hx._SKIP_KEY_CHARS]),
                        region(n - 1) + "</nav>")
    scans = _count_skip_scans(monkeypatch)
    _extract(f"<body><nav>{region(n - 1)}</nav><p>k</p></body>")
    assert scans == []  # region 513 was cached


# --------------------------------------------------- whitespace and tables

_WS_ATOMS = st.sampled_from(
    [" ", "  ", "\t", "\n", "\r\n", "\x0b", "\x0c", "\x1c", "\x1f", "\x85",
     "\xa0", " ", " ", " ", " ", "　", "​",
     "\x00", "a", "b c", "é", "­"])


@given(st.lists(_WS_ATOMS, max_size=12).map("".join))
def test_collapse_ws_is_the_regex(s):
    assert hx._collapse_ws(s) == re.sub(r"\s+", " ", s)
    lines = [re.sub(r"\s+", " ", ln).strip() for ln in s.split("\n")]
    assert hx._collapse(s) == "\n".join(ln for ln in lines if ln)


def test_pre_keeps_raw_text_and_counts_collapsed():
    page = "<body><main><pre>  a\n\tb  </pre></main></body>"
    tree = hx.parse_html(page)
    assert tree.mains[0].chars == len("a b")
    assert hx.extract_html(page, CFG).markdown == "```\n  a\n\tb  \n```"


def test_colspan_is_bounded():
    t0 = time.perf_counter()
    md = hx.extract_html("<table><tr><td colspan=1000000000>x",
                         CFG).markdown
    assert time.perf_counter() - t0 < 1.0
    header = md.split("\n")[0]
    assert header.count("|") == hx.MAX_COLSPAN + 1
    assert header.startswith("| x |")


def test_colspan_small_values_unchanged():
    md = hx.extract_html(
        "<table><tr><th colspan=\"2\">w</th><th colspan=0>z</th></tr>"
        "<tr><td colspan=-3>a</td><td colspan=x>b</td></tr></table>",
        CFG).markdown
    assert md == "| w |  | z |\n| --- | --- | --- |\n| a | b |  |"
