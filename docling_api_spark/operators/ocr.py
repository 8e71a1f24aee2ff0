"""From-scratch OCR for machine-rendered text images — the sandbox-honest
counterpart of the reference's easyocr IMAGE path (``utils.py:31``,
``service.py:37``: scanned page → text).

No torch/easyocr exists in the target env, so general photographic OCR
stays a typed error (``ocr_not_supported``). What CAN be real here is
the full pipeline shape for machine-generated scans: a 5×7 bitmap-font
rasterizer (:func:`render_text_png`, building on the from-scratch PNG
codec) and a template-matching recognizer (:func:`ocr_png`) that
segments the glyph grid and reads the text back. Render→OCR is an exact
identity on the supported charset (a-z, 0-9, space), so extraction over
IMAGE inputs is oracle-checkable end-to-end: the driver reconstructs the
expected text from the generation rule in SQL while Spark actually
decodes pixels.

Glyph grid: each cell is (GLYPH_W+1) × (GLYPH_H+1) px — 5×7 glyph plus
1 px spacing — on a 1 px white margin all around. Black-on-white,
8-bit grayscale; multi-line pages stack one cell-row per text line
(r4 — row segmentation is (h-2) div CELL_H, each line's spacing row
validated white).
"""

from __future__ import annotations

import numpy as np

from .png_write import read_png_gray, write_png_gray

GLYPH_W, GLYPH_H = 5, 7

#: classic 5x7 dot-matrix shapes; '#' = ink. Distinct by construction
#: (verified by test) so template matching is unambiguous.
_FONT_ROWS = {
    "a": (".###.", "#...#", "#...#", "#####", "#...#", "#...#", "#...#"),
    "b": ("####.", "#...#", "#...#", "####.", "#...#", "#...#", "####."),
    "c": (".###.", "#...#", "#....", "#....", "#....", "#...#", ".###."),
    "d": ("####.", "#...#", "#...#", "#...#", "#...#", "#...#", "####."),
    "e": ("#####", "#....", "#....", "####.", "#....", "#....", "#####"),
    "f": ("#####", "#....", "#....", "####.", "#....", "#....", "#...."),
    "g": (".###.", "#...#", "#....", "#.###", "#...#", "#...#", ".###."),
    "h": ("#...#", "#...#", "#...#", "#####", "#...#", "#...#", "#...#"),
    "i": (".###.", "..#..", "..#..", "..#..", "..#..", "..#..", ".###."),
    "j": ("..###", "...#.", "...#.", "...#.", "...#.", "#..#.", ".##.."),
    "k": ("#...#", "#..#.", "#.#..", "##...", "#.#..", "#..#.", "#...#"),
    "l": ("#....", "#....", "#....", "#....", "#....", "#....", "#####"),
    "m": ("#...#", "##.##", "#.#.#", "#.#.#", "#...#", "#...#", "#...#"),
    "n": ("#...#", "##..#", "#.#.#", "#..##", "#...#", "#...#", "#...#"),
    "o": (".###.", "#...#", "#...#", "#...#", "#...#", "#...#", ".###."),
    "p": ("####.", "#...#", "#...#", "####.", "#....", "#....", "#...."),
    "q": (".###.", "#...#", "#...#", "#...#", "#.#.#", "#..#.", ".##.#"),
    "r": ("####.", "#...#", "#...#", "####.", "#.#..", "#..#.", "#...#"),
    "s": (".####", "#....", "#....", ".###.", "....#", "....#", "####."),
    "t": ("#####", "..#..", "..#..", "..#..", "..#..", "..#..", "..#.."),
    "u": ("#...#", "#...#", "#...#", "#...#", "#...#", "#...#", ".###."),
    "v": ("#...#", "#...#", "#...#", "#...#", "#...#", ".#.#.", "..#.."),
    "w": ("#...#", "#...#", "#...#", "#.#.#", "#.#.#", "##.##", "#...#"),
    "x": ("#...#", ".#.#.", "..#..", "..#..", "..#..", ".#.#.", "#...#"),
    "y": ("#...#", "#...#", ".#.#.", "..#..", "..#..", "..#..", "..#.."),
    "z": ("#####", "....#", "...#.", "..#..", ".#...", "#....", "#####"),
    "0": (".###.", "#...#", "#..##", "#.#.#", "##..#", "#...#", ".###."),
    "1": ("..#..", ".##..", "..#..", "..#..", "..#..", "..#..", ".###."),
    "2": (".###.", "#...#", "....#", "...#.", "..#..", ".#...", "#####"),
    "3": (".###.", "#...#", "....#", "..##.", "....#", "#...#", ".###."),
    "4": ("...#.", "..##.", ".#.#.", "#..#.", "#####", "...#.", "...#."),
    "5": ("#####", "#....", "####.", "....#", "....#", "#...#", ".###."),
    "6": (".###.", "#....", "#....", "####.", "#...#", "#...#", ".###."),
    "7": ("#####", "....#", "...#.", "..#..", ".#...", ".#...", ".#..."),
    "8": (".###.", "#...#", "#...#", ".###.", "#...#", "#...#", ".###."),
    "9": (".###.", "#...#", "#...#", ".####", "....#", "....#", ".###."),
    " ": (".....", ".....", ".....", ".....", ".....", ".....", "....."),
}

#: glyph bitmap (tuple of GLYPH_H ints, bit GLYPH_W-1..0) per char
FONT = {
    ch: tuple(
        sum(1 << (GLYPH_W - 1 - x) for x in range(GLYPH_W)
            if rows[y][x] == "#")
        for y in range(GLYPH_H))
    for ch, rows in _FONT_ROWS.items()
}
_GLYPH_TO_CHAR = {bits: ch for ch, bits in FONT.items()}

CELL_W, CELL_H = GLYPH_W + 1, GLYPH_H + 1    # glyph + 1px spacing
CHARSET = frozenset(FONT)


def _pack(bits: tuple[int, ...]) -> int:
    """A glyph bitmap's rows as one int, row 0 in the highest bits."""
    key = 0
    for row in bits:
        key = key << GLYPH_W | row
    return key


#: the same map as _GLYPH_TO_CHAR, keyed by the packed bitmap
_PACKED_TO_CHAR = {_pack(bits): ch for bits, ch in _GLYPH_TO_CHAR.items()}
#: bit weight of each of a cell's GLYPH_H * GLYPH_W pixels in its key
_CELL_WEIGHTS = np.left_shift(1, np.arange(GLYPH_H * GLYPH_W - 1, -1, -1,
                                           dtype=np.int64))


def render_text_png(text: str) -> bytes:
    """Rasterize supported-charset text — one or more lines separated by
    ``\\n`` (r4: multi-line, the minimal honest step from "label" to
    "page"; the reference's easyocr path reads whole pages,
    ``service.py:37``): 1 px white margin, each line a row of
    (CELL_W x CELL_H) cells, black glyphs on white. Deterministic
    (delegates to the deterministic PNG encoder)."""
    lines = text.split("\n")
    bad = set(text) - CHARSET - {"\n"}
    if bad:
        raise ValueError(f"unsupported chars: {sorted(bad)!r}")
    w = 2 + max(1, max(len(ln) for ln in lines)) * CELL_W
    h = 2 + len(lines) * CELL_H
    px = bytearray(b"\xff" * (w * h))
    for ln_no, line in enumerate(lines):
        y0 = 1 + ln_no * CELL_H
        for i, ch in enumerate(line):
            bits = FONT[ch]
            x0 = 1 + i * CELL_W
            for gy in range(GLYPH_H):
                for gx in range(GLYPH_W):
                    if bits[gy] >> (GLYPH_W - 1 - gx) & 1:
                        px[(y0 + gy) * w + x0 + gx] = 0
    return write_png_gray(w, h, bytes(px))


def ocr_image(data: bytes) -> str:
    """Container-dispatching OCR (r6): PNG rasters match exactly;
    JPEG scans (the container real scanners emit) decode through the
    from-spec baseline codec and are BINARIZED at 128 before grid
    matching — the fixture rasters are bilevel, so compression
    ringing (measured ≤ ~30 grey levels) cannot flip a pixel across
    the threshold. Anything else raises ValueError → the typed
    ``ocr_not_supported`` row."""
    if data.startswith(b"\xff\xd8\xff"):
        from .jpeg_codec import decode_gray_jpeg
        w, h, px = decode_gray_jpeg(data)
        # r7: numpy binarize (exact: same per-byte threshold the old
        # generator expression applied)
        arr = np.frombuffer(px, dtype=np.uint8)
        px = np.where(arr < 128, 0, 255).astype(np.uint8).tobytes()
        return _recognize_grid(w, h, px)
    return ocr_png(data)


def ocr_png(data: bytes) -> str:
    """Recognize text from a :func:`render_text_png` raster: verify the
    grid geometry, re-read each cell's bitmap, template-match against
    the font. Raises ValueError for images this recognizer does not
    support (the caller maps that to the typed ``ocr_not_supported``
    row — a photographic scan is NOT silently garbled)."""
    try:
        w, h, px = read_png_gray(data)
    except Exception as exc:
        # malformed chunk lengths / zlib garbage — same verdict as a
        # structurally foreign PNG: this recognizer cannot read it
        raise ValueError(f"undecodable PNG: {exc}") from exc
    return _recognize_grid(w, h, px)


def _recognize_grid(w: int, h: int, px: bytes) -> str:
    """Read the glyph grid of a ``w`` x ``h`` 8-bit raster. The 1 px
    outer margins, each line's spacing row beneath its glyphs and each
    cell's spacing column must be all white — without this, a foreign
    raster with ink there whose glyph rows happen to match font bitmaps
    would decode to text instead of raising (ADVICE r3). Each cell's 35
    glyph pixels pack into one int, the ``_PACKED_TO_CHAR`` key; a cell
    no glyph matches raises ValueError, as does every failed check."""
    if h < 2 + CELL_H or (h - 2) % CELL_H != 0 \
            or w < 2 + CELL_W or (w - 2) % CELL_W != 0:
        raise ValueError("not a text-raster geometry")
    arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w)
    n_lines = (h - 2) // CELL_H
    n = (w - 2) // CELL_W
    if not ((arr[0] == 255).all() and (arr[-1] == 255).all()
            and (arr[:, 0] == 255).all() and (arr[:, -1] == 255).all()):
        raise ValueError("ink in margin")
    if not (arr[GLYPH_H + 1::CELL_H] == 255).all():
        raise ValueError("ink in spacing row")
    core = arr[1:1 + n_lines * CELL_H, 1:1 + n * CELL_W] \
        .reshape(n_lines, CELL_H, n, CELL_W)
    if not (core[:, :, :, GLYPH_W:] == 255).all():
        raise ValueError("ink in spacing column")
    # [line, cell, glyph row, glyph column] → one key per cell, first
    # pixel in the highest bit
    ink = (core[:, :GLYPH_H, :, :GLYPH_W] == 0) \
        .transpose(0, 2, 1, 3).reshape(n_lines * n, GLYPH_H * GLYPH_W)
    chars = list(map(_PACKED_TO_CHAR.get, (ink @ _CELL_WEIGHTS).tolist()))
    if None in chars:
        raise ValueError("unrecognized glyph")
    out_lines = ["".join(chars[i:i + n]).rstrip()
                 for i in range(0, len(chars), n)]
    # trailing all-blank lines are rendering artifacts, not text
    while out_lines and out_lines[-1] == "":
        out_lines.pop()
    return "\n".join(out_lines)
