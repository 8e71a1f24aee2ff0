"""Differential fuzzer for the fast HTML tokenizer vs the stdlib
reference — the harness that found every round-2 parser bug (quote
pairing, bogus-comment swallowing, possessive-name backtracking, unicode
comment closes, marked-section keyword classes, NUL tag names,
root-candidate tags inside DROP regions).

Two generators:
- soup mode: sequences of construct atoms (the hypothesis test's atom
  list, read from tests/test_fast_parser_differential.py);
- char mode: sequences from a char/fragment alphabet including NUL,
  U+2028, and root-candidate tags — finds boundary bugs atom soup can't.

Inputs where html.parser ITSELF raises (marked-section junk) are
skipped: the reference is undefined there and production wraps parser
exceptions into error rows.

Usage:
    python tools/fuzz_parser.py [n_per_seed] [n_seeds]   # default 5000 x 20
Exits 1 and prints MINIMIZED repros on divergence.
"""
import os
import random
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

from docling_api_spark.config import ExtractConfig  # noqa: E402
from docling_api_spark.operators import html_extract as hx  # noqa: E402
from html_reference import parse_html_stdlib  # noqa: E402

CFG = ExtractConfig(num_partitions=8)

CHAR_ALPHA = [
    '<', '>', '&', '"', "'", '=', '/', '!', '?', 'a', 'p', 'nav', 'script',
    'style', 'form', 'header', ' ', '\n', '\t', 'x', ';', '[', ']', '-',
    'CDATA', '--', 'amp', '#65', '<p>', '</p>', '<nav>', '</nav>', '<!--',
    '-->', '<![CDATA[', ']]>', 'if', '\x00', 'é', ' ', 'Z',
    '<meta charset=utf-8>', '<body>', '</body>', '<main>', '</main>',
    '<article>', '<body/>', '<table>', '<tr>', '<td>', '</table>',
    '<pre>', '</pre>', '&#x26;', '&lt;', ':', '<![if:', '<![cdata:',
    '<nav><nav ', '<form><form ', ' =/>', '=\n/>', '</form>',
]


def _extract(parser, s: str):
    orig = hx.parse_html
    hx.parse_html = parser
    try:
        return hx.extract_html(s, CFG)
    finally:
        hx.parse_html = orig


def diverges(s: str):
    fast = _extract(hx.parse_html, s)  # must never raise (total function)
    try:
        ref = _extract(parse_html_stdlib, s)
    except (AssertionError, NotImplementedError):
        return False  # stdlib itself crashes: reference undefined
    return fast != ref


def minimize(s: str) -> str:
    changed = True
    while changed:
        changed = False
        chunk = max(1, len(s) // 16)
        while chunk >= 1:
            i = 0
            while i < len(s):
                t = s[:i] + s[i + chunk:]
                if diverges(t):
                    s = t
                    changed = True
                else:
                    i += chunk
            chunk //= 2
    return s


def soup_atoms() -> list:
    src = open(os.path.join(ROOT, "tests",
                            "test_fast_parser_differential.py")).read()
    m = re.search(r"_soup_atoms = st\.sampled_from\(\[(.*?)\]\)", src, re.S)
    return eval("[" + m.group(1) + "]")  # noqa: S307 — our own test file


def run(alpha, n_per_seed: int, n_seeds: int, label: str) -> int:
    bad = 0
    for seed in range(n_seeds):
        rng = random.Random(seed * 31337 + 1)
        for _ in range(n_per_seed):
            s = "".join(rng.choice(alpha)
                        for _ in range(rng.randint(0, 60)))
            if diverges(s):
                bad += 1
                print(f"[{label}] DIVERGENCE (minimized): "
                      f"{minimize(s)!r}", flush=True)
                if bad >= 5:
                    return bad
    print(f"[{label}] {n_seeds * n_per_seed} examples, "
          f"{bad} divergences", flush=True)
    return bad


def main():
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
    seeds = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    total = run(CHAR_ALPHA, n, seeds, "char")
    total += run(soup_atoms(), n, seeds, "soup")
    sys.exit(1 if total else 0)


if __name__ == "__main__":
    main()
