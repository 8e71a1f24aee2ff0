"""Differential test: the fast single-pass HTML tokenizer must produce the
same extraction output as the stdlib html.parser reference on every HTML
fixture class and on adversarial inputs."""

import pytest

from docling_api_spark.config import ExtractConfig
from docling_api_spark.operators import html_extract as hx
from fixture_corpus import FIXTURE_CLASSES, huge_page
from html_reference import parse_html_stdlib

CFG = ExtractConfig(num_partitions=8)

HTML_CLASSES = [f for f in FIXTURE_CLASSES
                if f.__name__.startswith(("html", "xhtml", "broken"))]

ADVERSARIAL = [
    "a < b and c > d with no tags",
    "<p>unterminated <!-- comment swallows",
    "<p>one<script>var x = '<p>not a tag</p>';</script><p>two</p>",
    "<style>p { content: '</div>'; }</style><p>after</p>",
    '<p title="a>b">quoted gt in attr</p>',
    "<p>&amp;lt; double-escaped &#38; numeric &#x26; hex</p>",
    "<P><B>UPPERCASE TAGS</B></P>",
    "<p/><br/><img src='x'/>",
    "<ul><li>one<li>two<li>three</ul>",
    "<a href=/relative/path>unquoted attr</a>",
    "<p>emoji \U0001f600 and café</p>",
    "<div><p>block implies close<div>nested",
    "",
    "<",
    "<!DOCTYPE html><!-- c --><?pi ?><![CDATA[x]]><p>rest</p>",
    # code-review findings (round 1): each of these diverged or hung once
    "<a href=https://x.com/>link text</a>",
    "<script src=https://cdn.x.com/a.js/>var x;</script><p>after</p>",
    "<body><script>var s = \"<!--\";</script><p>hi after script</p></body>",
    "<div><nav>ad</div>Important content</nav><p>more</p>",
    "<p>one<script>code</scripty> leaked </script></p><p>two</p>",
    "<script>x</ script><p>in or out?</p>",
    "<body><p>tail</p></p",
    "<form><input type=text/><div></form><p>after</p>",
    # DROP-subtree scan-skip hazards
    "<nav><a href='/x'>boiler</a></nav><p>keep</p>",
    "<nav><script>var s='</nav>';</script><a>ad</a></nav><p>keep</p>",
    "<header><!-- </header> --><h1>still boiler</h1></header><p>keep</p>",
    "<nav><nav>inner</nav>outer</nav><p>keep</p>",
    "<form><div></form><p>after mismatched form</p>",
    "<aside>unclosed aside swallows<p>this",
    "<p>a<nav/>self-closing drop</p>",
    "<svg><rect width='5'/><circle/></svg><p>keep</p>",
    # round-2 advisor finding: a nested same-name tag whose unquoted attr
    # value ends in '/' is NOT self-closing (HTML5) — the skip path must
    # classify it as the tree path does or the region ends at the wrong
    # close tag and boilerplate text leaks
    "<body><nav><nav a=b/></nav>LEAK?</nav><p>keep</p></body>",
    "<nav><aside x=1/>inner</aside>boiler</nav><p>keep</p>",
    "<nav><nav/>genuinely self-closing</nav><p>keep</p>",
    "<header><form action=/submit/>f</form>h</header><p>keep</p>",
    # a junk attr before '/>' (' =', '-aaxb=\n') IS self-closing to
    # html.parser: a hand-written skip-path classifier once disagreed
    # both ways, dropping real text and leaking boilerplate
    "<body><nav><nav =/>x</nav>leak text</nav><p>after</p></body>",
    "<body><form><form -aaxb=\n/>x</form>mid text</form><p>after</p></body>",
    # round-2 soak finds: stdlib-exact hard-tag classification + the
    # DROP-skip scanner must consume `<!...>` declarations atomically
    # (a bogus comment swallows a literal close tag)
    '<p/=">',                      # junk-quote attr name IS a start tag
    '<a b=">x',                    # unterminated quoted value: incomplete
    '<a b="&amp;>x',               # incomplete flush is charref-converted
    '<p a "&amp;">x',              # junk attr names absorbed, tag stands
    "<form><!</form><",            # decl swallows </form>; '<' stays inside
    "<form><! &amp; </form>x</form>tail",
    "<nav><!</nav>LEAK</nav><p>keep</p>",
    "<nav><?pi </nav>still boiler</nav><p>keep</p>",
    "<nav>1 < 2 text</nav><p>keep</p>",   # stray '<' is data inside a region
    # text-node segmentation must not affect stats: stdlib flushes a
    # stray '<' as its own data node; at the link-density threshold a
    # per-node collapse flipped the container drop (fixed by coalescing
    # adjacent text nodes in the tree builder)
    "<div>< 2<a>&bogus;<n>",
    '<p ="q>r">tail',              # '=' starts a junk NAME: tag ends at first '>'
    '<p/=">">',
    "<nav><nav =''></nav>v",       # possessive tag name: no chars donated
    "<nav><nav =''s=''></nav>/",   # to a false attr pair in the skip regex
    "<nav ='a>b'>boiler</nav><p>keep</p>",
    # char-fuzz finds: stdlib closes comments at '--' ws* '>' and marked
    # sections by keyword ( ']' ws* ']' ws* '>' for cdata-class, ']' ws*
    # '>' for if-class); an unclosable section flushes via the
    # incomplete rule
    "<!---- >after",
    "<!--x--\t>y",
    "<![CDATA[] ]>k",
    "<![CDATA[]\n]>k",
    "<![CDATA]>k",
    "<![cdata x] ]>k",
    "<![include a]]>k",
    "<![if x] >k",
    # r3 advice fix: ':' is NOT a declname char ([a-zA-Z][-_.a-zA-Z0-9]*)
    # — stdlib reads '<![if:x]>' as an if-class section named 'if'
    "a<![if:x]>hidden]>b",
    "a<![cdata:q]>mid]]>b",
    "<nav><![if:</nav>]>boiler</nav><p>keep</p>",
    "<![endif:]>t",
    "<nav><![CDATA[</nav>] ]>boiler</nav><p>keep</p>",
    # a root-candidate tag INSIDE a DROP region must abort the skip:
    # _pick_root can choose it as the extraction root
    "<nav><body>Z</nav>",
    "<nav><main>content</main></nav><p>after</p>",
    "<header><article>a</article></header>tail",
    "<nav><body/></nav>x",
    # NUL immediately after a tag name fails stdlib's attr-name
    # lookbehind: the whole construct is junk-flushed, not a tag
    "<t\x00>",
    "<nav\x00>z</nav>",
    "<p \x00>k",         # ...but NUL after whitespace IS an attr name
    # close-tag names resolve via the STRICT stdlib pattern first:
    # trailing unicode whitespace is ignorable, not part of the name
    "<td><a>c </td\u2028>&",
    "<nav>b</nav\u2028><p>keep</p>",
    # comment close is unicode-\s tolerant (stdlib _commentclose)
    "<!---- >after",
]


def _extract_with(parser, content: bytes):
    orig = hx.parse_html
    hx.parse_html = parser
    try:
        return hx.extract_html(content.decode("utf-8", "replace"), CFG)
    finally:
        hx.parse_html = orig


@pytest.mark.parametrize("cls", HTML_CLASSES, ids=lambda f: f.__name__)
def test_fixture_classes_identical(cls):
    for i in (0, 1, 7, 12, 30):
        content = cls(i).content
        fast = _extract_with(hx.parse_html, content)
        ref = _extract_with(parse_html_stdlib, content)
        assert fast == ref, (cls.__name__, i)


def test_huge_page_identical():
    content = huge_page(3).content
    assert _extract_with(hx.parse_html, content) == \
        _extract_with(parse_html_stdlib, content)


@pytest.mark.parametrize("snippet", ADVERSARIAL)
def test_adversarial_identical(snippet):
    content = snippet.encode()
    fast = _extract_with(hx.parse_html, content)
    ref = _extract_with(parse_html_stdlib, content)
    assert fast == ref, snippet


from hypothesis import given, settings, strategies as st

_soup_atoms = st.sampled_from([
    "<p>", "</p>", "<div>", "</div>", "<b>", "</b>", "<nav>", "</nav>",
    "<header>", "</header>", "<form>", "</form>", "<svg>", "</svg>",
    "<script>", "</script>", "</scripty>", "</ script>", "</script foo>",
    "<script src=x/>", "<script/>", '<script src="x"/>', "<style/>",
    "<style>", "</style>", "<table>", "</table>", "<tr>", "<td>", "</td>",
    "<pre>", "</pre>", "<blockquote>", "</blockquote>", "<ol>", "<ul>",
    "<li>", "</ul>", "<hr>", "<h1>", "</h1>", "<a href='/x'>", "</a>",
    "<a href=https://x.com/>", "<img src=y>", "<img src=y/>", "<br/>",
    "<!--", "-->", "<!-- c -->", "<![CDATA[x]]>", "<![CDATA[", "<![if x]>",
    "<!DOCTYPE html>", "<?pi?>", "<?", "<!", '"', "'", "=", "/", "/>",
    "text ", "< ", ">", "</td", "<p", "&amp;", "&#65;", "&bogus;", "&",
    "<input type=text/>", "<select>", "</select>", "café  ",
    "<P ALIGN=CENTER>", "<p class='a b'>", '<p data-x="1>2">', '="q>r"',
    "<p =x>", "<a href=>", "</>", "</ >", "<p<p>", "<nav<x>", "<p/>",
    "<nav a=b/>", "<nav/>", "<aside x=1/>", "</aside>", "<form action=/s/>",
    '<p/=">', '<a b=">', "<!", "<! x >", "<?x", '<p a "q">', "< 2 ",
    # stdlib tolerant-regex stressors (r2): junk names, multi-=, quotes
    # in unquoted values, commas, backticks, attr-less slashes
    '<p a=b"c">', '<p a==b>', '="x"', "<p 'j'>", '<div a=">">', "`,",
    '<a href="/x" class="y">', "<p a = 'v'>", "<p a/ b>", "<p a=b,c>",
    '</div a=">">', "<nav ='a>b'>", "<p =>",
    "\x00", "\u2028", "</td\u2028>", "<body>", "<main>", "</body>", "<!----",
    "<![if:x]>", "<![cdata:", "]>", ":",
])


@settings(max_examples=300, deadline=None)
@given(st.lists(_soup_atoms, min_size=0, max_size=40))
def test_random_soup_identical(atoms):
    content = "".join(atoms).encode()
    fast = _extract_with(hx.parse_html, content)  # total: must never raise
    try:
        ref = _extract_with(parse_html_stdlib, content)
    except (AssertionError, NotImplementedError):
        # html.parser ITSELF crashes on some marked-section junk
        # (unknown keyword -> _markupbase AssertionError; unnameable
        # section -> ParserBase.error NotImplementedError). The reference
        # is undefined there; production wraps any parser exception into
        # an error row (convert_one), and the fast parser must simply
        # not crash — asserted above.
        return
    assert fast == ref
