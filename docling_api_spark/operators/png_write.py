"""Minimal from-scratch PNG codec (stdlib zlib + struct only) — gives
the image manifest REAL, decodable PNG payloads where the reference uses
PIL (``service.py:51,63``: table/picture → PNG → base64).

Scope honest to the sandbox: no font rendering, so a *picture* payload
is a deterministic md5-textured grayscale image whose dimensions derive
from the source ref (SQL-recomputable, so the driver oracle verifies
them from the base64 bytes), and a *table* payload is an actual
rasterization of the table's structure — white cells, black gridlines,
one cell per (row, column). Encoder output is byte-deterministic (fixed
zlib level, filter 0 everywhere), pinned by golden tests; the matching
decoder below round-trips pixels for those tests.
"""

from __future__ import annotations

import hashlib
import struct
import zlib

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF))


def write_png_gray(width: int, height: int, pixels: bytes) -> bytes:
    """8-bit grayscale PNG; ``pixels`` is row-major, len == w*h. Filter
    type 0 on every scanline; zlib level 9 (deterministic)."""
    assert len(pixels) == width * height
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + pixels[y * width:(y + 1) * width]
        for y in range(height))
    return (_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(raw, 9))
            + _chunk(b"IEND", b""))


def read_png_gray(data: bytes) -> tuple[int, int, bytes]:
    """Decode a PNG produced by :func:`write_png_gray` (8-bit gray,
    filter 0). Raises ValueError on anything else."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG")
    pos, w, h, idat = 8, 0, 0, []
    while pos < len(data):
        (ln,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", payload[:10])
            if (depth, ctype) != (8, 0):
                raise ValueError("unsupported PNG shape")
        elif tag == b"IDAT":
            idat.append(payload)
        pos += 12 + ln
    raw = zlib.decompress(b"".join(idat))
    out = bytearray()
    stride = w + 1
    for y in range(h):
        row = raw[y * stride:(y + 1) * stride]
        if row[0] != 0:
            raise ValueError("unsupported filter")
        out += row[1:]
    return w, h, bytes(out)


# ------------------------------------------------- payload generators

def picture_dims(ref: str) -> tuple[int, int]:
    """Dimensions derived from the first md5 hex digits of the ref —
    the SAME arithmetic the SQL oracle runs (textsql.md5_int contract:
    int(md5(ref)[:8], 16)), so both engines can predict them from the
    generation rule."""
    w = 16 + int(hashlib.md5(ref.encode()).hexdigest()[:8], 16) % 16
    h = 12 + int(hashlib.md5(("h" + ref).encode()).hexdigest()[:8],
                 16) % 12
    return w, h


def picture_png(ref: str) -> bytes:
    """Deterministic md5-textured stand-in for the rasterized picture:
    the digest stream tiles the pixel grid, so every ref gets a unique,
    reproducible image."""
    w, h = picture_dims(ref)
    digest = hashlib.md5(ref.encode()).digest()
    n = w * h
    reps = (n + len(digest) - 1) // len(digest)
    return write_png_gray(w, h, (digest * reps)[:n])


#: table raster geometry: interior cell size in px (plus 1px gridlines)
CELL_W, CELL_H = 8, 6


def table_png(n_rows: int, n_cols: int) -> bytes:
    """An actual rasterization of the table STRUCTURE: white cells,
    black 1-px gridlines — one cell per (row, column) of the extracted
    table, dimensions ``cols*(CELL_W+1)+1`` × ``rows*(CELL_H+1)+1``."""
    w = n_cols * (CELL_W + 1) + 1
    h = n_rows * (CELL_H + 1) + 1
    px = bytearray()
    for y in range(h):
        for x in range(w):
            on_grid = (x % (CELL_W + 1) == 0) or (y % (CELL_H + 1) == 0)
            px.append(0 if on_grid else 255)
    return write_png_gray(w, h, bytes(px))


def table_dims(n_rows: int, n_cols: int) -> tuple[int, int]:
    return n_cols * (CELL_W + 1) + 1, n_rows * (CELL_H + 1) + 1


def unfilter_rows(raw: bytes, rowbytes: int) -> bytes:
    """PNG row UN-filtering for 8-bit single-channel data (bpp=1):
    each stored row = filter-type byte + ``rowbytes`` data bytes;
    types 0-4 (None/Sub/Up/Average/Paeth) per the PNG spec §6 — also
    exactly the PDF /DecodeParms PNG-predictor wire format (ISO 32000
    §7.4.4.4 delegates to PNG). Raises ValueError on a bad type or a
    short buffer (callers map it typed)."""
    stride = rowbytes + 1
    if len(raw) < stride or len(raw) % stride:
        raise ValueError(f"predictor data not row-aligned "
                         f"({len(raw)} vs stride {stride})")
    out = bytearray()
    prev = bytes(rowbytes)
    for off in range(0, len(raw), stride):
        ft = raw[off]
        row = bytearray(raw[off + 1:off + stride])
        if ft == 0:
            pass
        elif ft == 1:      # Sub
            for i in range(1, rowbytes):
                row[i] = (row[i] + row[i - 1]) & 0xFF
        elif ft == 2:      # Up
            for i in range(rowbytes):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:      # Average
            for i in range(rowbytes):
                left = row[i - 1] if i else 0
                row[i] = (row[i] + (left + prev[i]) // 2) & 0xFF
        elif ft == 4:      # Paeth
            for i in range(rowbytes):
                a = row[i - 1] if i else 0
                b = prev[i]
                c = prev[i - 1] if i else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (
                    b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ft}")
        out += row
        prev = row
    return bytes(out)


def filter_rows_up(pixels: bytes, rowbytes: int) -> bytes:
    """The writer half: encode rows with the Up (type 2) filter — what
    real PDF writers emit under /Predictor 15 for smooth rasters."""
    out = bytearray()
    prev = bytes(rowbytes)
    for off in range(0, len(pixels), rowbytes):
        row = pixels[off:off + rowbytes]
        out.append(2)
        out += bytes((x - p) & 0xFF for x, p in zip(row, prev))
        prev = row
    return bytes(out)
