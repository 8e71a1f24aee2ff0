"""OCR tests: identity round-trip over the charset, glyph
distinctness (the property template matching relies on), and honest
rejection of images the recognizer does not support."""

import random

import pytest
from hypothesis import given, settings, strategies as st

from docling_api_spark.config import ExtractConfig
from docling_api_spark.operators import ocr, png_write
from docling_api_spark.operators.convert import convert_one
import ocr_reference
from jpeg_reference import scalar_idct

CFG = ExtractConfig()


def test_font_glyphs_distinct_and_well_formed():
    seen = {}
    for ch, bits in ocr.FONT.items():
        assert len(bits) == ocr.GLYPH_H
        assert all(0 <= row < (1 << ocr.GLYPH_W) for row in bits)
        assert bits not in seen, f"{ch!r} collides with {seen[bits]!r}"
        seen[bits] = ch


def test_render_ocr_identity_full_charset():
    text = "abcdefghijklmnopqrstuvwxyz 0123456789"
    assert ocr.ocr_png(ocr.render_text_png(text)) == text


@pytest.mark.parametrize("text", [
    "", " ", "a", "scan 42 the fast key order sort",
    "0", "9 9  9", "zz z",
])
def test_render_ocr_roundtrip_cases(text):
    assert ocr.ocr_png(ocr.render_text_png(text)) == text.rstrip()


def test_unsupported_chars_raise():
    with pytest.raises(ValueError):
        ocr.render_text_png("Hello!")


def test_non_raster_png_rejected():
    # an arbitrary (non-text-grid) PNG must raise, not garble
    blob = png_write.picture_png("some-ref")
    with pytest.raises(ValueError):
        ocr.ocr_png(blob)


def test_pipeline_ocrs_scan_and_rejects_photo():
    scan = ocr.render_text_png("scan 7 real text")
    r = convert_one(scan, "https://x/7.png", CFG)
    assert r["error"] is None and r["fmt"] == "image"
    assert r["markdown"] == "scan 7 real text"
    photo = png_write.picture_png("photo")    # not a text raster
    r2 = convert_one(photo, "https://x/p.png", CFG)
    assert r2["error"] == "ocr_not_supported"
    # non-PNG image formats keep the typed failure too
    r3 = convert_one(b"GIF89a" + b"\x00" * 20, "https://x/g.gif", CFG)
    assert r3["error"] == "ocr_not_supported"


def test_blank_scan_is_empty_document():
    """A raster whose OCR text is empty is an ``empty_document`` row:
    NULL markdown, images and spans, like every error row."""
    for text in (" ", "   \n \n"):
        r = convert_one(ocr.render_text_png(text), "https://x/b.png", CFG)
        assert r == {"fmt": "image", "markdown": None, "images": None,
                     "spans": None, "error": "empty_document"}


def test_ink_in_spacing_row_rejected():
    """A raster whose glyph rows match the font but which carries ink in
    the spacing row beneath the glyphs (or the outer margins) is a
    FOREIGN image and must raise, not decode (r3 ADVICE)."""
    w, h, px = png_write.read_png_gray(ocr.render_text_png("ab"))
    for flip in [(1 + ocr.GLYPH_H) * w + 2,   # spacing row under glyphs
                 3,                            # top margin
                 (h - 1) * w + 3,              # bottom margin
                 2 * w,                        # left margin
                 2 * w + w - 1]:               # right margin
        bad = bytearray(px)
        bad[flip] = 0
        with pytest.raises(ValueError):
            ocr.ocr_png(png_write.write_png_gray(w, h, bytes(bad)))


@pytest.mark.parametrize("text", [
    "scan 42\nthe fast key order sort\nlang en",
    "a\n\nb",
    "multi line\nwith  spaces ",
    "\nleading blank",
])
def test_multiline_roundtrip(text):
    """r4: row segmentation — an n-line scan round-trips with each line
    rstripped and trailing blank lines dropped."""
    expect = "\n".join(ln.rstrip() for ln in text.split("\n"))
    while expect.endswith("\n"):
        expect = expect[:-1]
    assert ocr.ocr_png(ocr.render_text_png(text)) == expect


def test_multiline_pipeline_markdown():
    scan = ocr.render_text_png("scan 7\nreal text\nlang en")
    r = convert_one(scan, "https://x/7.png", CFG)
    assert r["error"] is None
    assert r["markdown"] == "scan 7\nreal text\nlang en"


def test_ocr_jpeg_scan_roundtrip():
    """JPEG scans (r6): the from-spec baseline codec + binarize-at-128
    recover the exact text of a machine-rendered raster; junk JPEG
    bytes and photographic noise fail typed (ValueError), never
    garble."""
    import random

    import pytest

    from docling_api_spark.operators.jpeg_codec import encode_gray_jpeg
    from docling_api_spark.operators.ocr import ocr_image, render_text_png
    from docling_api_spark.operators.png_write import read_png_gray
    text = "scan 42\nhello world of spark\nlang en"
    png = render_text_png(text)
    assert ocr_image(png) == text            # png path unchanged
    w, h, px = read_png_gray(png)
    assert ocr_image(encode_gray_jpeg(w, h, px)) == text
    with pytest.raises(ValueError):
        ocr_image(b"\xff\xd8\xff" + b"junk")
    rng = random.Random(4)
    noise = bytes(rng.randrange(256) for _ in range(64 * 64))
    with pytest.raises(ValueError):
        ocr_image(encode_gray_jpeg(64, 64, noise))


def _random_block(rnd: random.Random, dc_only: bool) -> list[int]:
    b = [0] * 64
    b[0] = rnd.randrange(-1024, 1024)
    if not dc_only:
        for _ in range(rnd.randrange(1, 20)):
            b[rnd.randrange(1, 64)] = rnd.randrange(-1024, 1024)
    return b


def test_idct_batch_bit_identical_to_scalar():
    """r7: decode_gray_jpeg batches the IDCT through numpy. Every block
    must produce exactly the scalar IDCT's pixels — including DC-only
    blocks (distinct fast-path formula), sparse blocks (skip-zero
    branches), and extreme coefficients, in one large batch and in
    batches of 1-300 blocks that mix DC-only and AC blocks."""
    from docling_api_spark.operators.jpeg_codec import _idct_batch

    rnd = random.Random(1234)
    blocks = [[0] * 64,                       # all-zero (DC-only, dq0=0)
              [1000] + [0] * 63,              # DC-only positive
              [-1000] + [0] * 63,             # DC-only negative
              [0, 1] + [0] * 62]              # AC-only
    for _ in range(200):
        b = [0] * 64
        for _ in range(rnd.randrange(1, 20)):
            b[rnd.randrange(64)] = rnd.randrange(-1024, 1024)
        blocks.append(b)
    qt = [max(1, (i * 7) % 32) for i in range(64)]
    got = _idct_batch(blocks, qt)
    for i, b in enumerate(blocks):
        assert list(got[i]) == scalar_idct(b, qt), i
    # batches of 1-4 blocks (an embedded image's usual size) and of up
    # to 300 (a scan's), each mixing DC-only and AC blocks
    sizes = [1 + t % 4 for t in range(100)] + [
        rnd.randrange(5, 301) for _ in range(20)]
    for trial, n in enumerate(sizes):
        share = rnd.random()
        batch = [_random_block(rnd, rnd.random() < share) for _ in range(n)]
        qt = [rnd.randrange(1, 100) for _ in range(64)]
        got = _idct_batch(batch, qt)
        assert got.shape == (n, 64)
        for i, b in enumerate(batch):
            assert list(got[i]) == scalar_idct(b, qt), (trial, i)


def test_zigzag_matches_spec_literal():
    """r7 (r6 ADVICE, high): _ZIGZAG must equal the canonical T.81
    Figure A.6 zig-zag sequence, pinned LITERALLY so a generator-logic
    slip (the r6 transposition) can never pass again. An external
    baseline JPEG's coefficients are ordered by this table; the
    transposed variant decoded every 8x8 block flipped about the
    diagonal."""
    from docling_api_spark.operators.jpeg_codec import _ZIGZAG

    spec = [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ]
    assert _ZIGZAG == spec


def test_jpeg_roundtrip_unchanged_by_zigzag_fix():
    """Encode→decode round-trips must reproduce pixels exactly (the
    table is shared by both sides, so the fixture corpora's oracle
    outputs are unchanged by the conformance fix)."""
    from docling_api_spark.operators.jpeg_codec import (
        decode_gray_jpeg, encode_gray_jpeg)

    w, h = 40, 24
    px = bytes((x * 7 + y * 13) % 256 for y in range(h) for x in range(w))
    w2, h2, out = decode_gray_jpeg(encode_gray_jpeg(w, h, px))
    assert (w2, h2) == (w, h)
    # lossy codec: decoded pixels close to the source, deterministic
    assert len(out) == len(px)
    assert max(abs(a - b) for a, b in zip(out, px)) < 48


def _grid_outcome(fn, w, h, px):
    try:
        return fn(w, h, px)
    except ValueError:
        return ValueError


_TEXTS = ["scan 42\nthe fast key order sort\nlang en", "a", " ",
          "abcdefghijklmnopqrstuvwxyz 0123456789", "x\n\n", "\n 9 \nq"]


def test_recognize_grid_equals_scalar_on_rendered_pages():
    for text in _TEXTS:
        w, h, px = png_write.read_png_gray(ocr.render_text_png(text))
        got = ocr._recognize_grid(w, h, px)
        assert got == ocr_reference.recognize_grid(w, h, px)
        assert got == ocr.ocr_png(ocr.render_text_png(text))


@settings(max_examples=400, deadline=None)
@given(st.sampled_from(_TEXTS + ["scan 7\nreal text\nlang de"]),
       st.lists(st.tuples(st.floats(0, 1, exclude_max=True),
                          st.sampled_from((0, 255, 127, 128, 1))),
                min_size=1, max_size=4))
def test_recognize_grid_equals_scalar_on_flipped_pixels(text, flips):
    """Any pixel set to ink, paper or grey: the packed-key recognizer
    returns the per-pixel reference's string, or raises ValueError
    where the reference does."""
    w, h, px = png_write.read_png_gray(ocr.render_text_png(text))
    bad = bytearray(px)
    for where, value in flips:
        bad[int(where * len(bad))] = value
    bad = bytes(bad)
    assert _grid_outcome(ocr._recognize_grid, w, h, bad) == \
        _grid_outcome(ocr_reference.recognize_grid, w, h, bad)
