"""Per-pixel reference glyph-grid recognizer for the differential OCR tests.

This is the engine's original scalar ``_recognize_grid`` loop, kept as
the reference the vectorized recognizer in ``operators/ocr.py`` must
equal: the same string, or a ValueError on both sides. It checks the
raster geometry, the white outer margins and spacing rows, then reads
each cell's glyph as a tuple of row bitmaps and its spacing column one
pixel at a time.
"""

from __future__ import annotations

from docling_api_spark.operators.ocr import (_GLYPH_TO_CHAR, CELL_H, CELL_W,
                                             GLYPH_H, GLYPH_W)


def recognize_grid(w: int, h: int, px: bytes) -> str:
    """The glyph grid of a ``w`` x ``h`` 8-bit raster, read pixel by
    pixel; raises ValueError wherever ``ocr._recognize_grid`` must."""
    if h < 2 + CELL_H or (h - 2) % CELL_H != 0 \
            or w < 2 + CELL_W or (w - 2) % CELL_W != 0:
        raise ValueError("not a text-raster geometry")
    n_lines = (h - 2) // CELL_H
    # the 1 px outer margins and each line's spacing row beneath its
    # glyphs must be all white — without this, a foreign raster with
    # ink there whose glyph rows happen to match font bitmaps would
    # decode to text instead of raising (ADVICE r3)
    for x in range(w):
        if px[x] != 255 or px[(h - 1) * w + x] != 255:
            raise ValueError("ink in margin")
        for ln in range(n_lines):
            if px[(1 + ln * CELL_H + GLYPH_H) * w + x] != 255:
                raise ValueError("ink in spacing row")
    for y in range(h):
        if px[y * w] != 255 or px[y * w + w - 1] != 255:
            raise ValueError("ink in side margin")
    n = (w - 2) // CELL_W
    out_lines = []
    for ln in range(n_lines):
        y0 = 1 + ln * CELL_H
        out = []
        for i in range(n):
            x0 = 1 + i * CELL_W
            bits = tuple(
                sum(1 << (GLYPH_W - 1 - gx) for gx in range(GLYPH_W)
                    if px[(y0 + gy) * w + x0 + gx] == 0)
                for gy in range(GLYPH_H))
            ch = _GLYPH_TO_CHAR.get(bits)
            if ch is None:
                raise ValueError(f"unrecognized glyph in cell {ln}:{i}")
            # spacing columns must be blank, else it's not our font
            for gy in range(CELL_H):
                if px[(y0 + gy) * w + x0 + GLYPH_W] != 255:
                    raise ValueError("ink in spacing column")
            out.append(ch)
        out_lines.append("".join(out).rstrip())
    # trailing all-blank lines are rendering artifacts, not text
    while out_lines and out_lines[-1] == "":
        out_lines.pop()
    return "\n".join(out_lines)
