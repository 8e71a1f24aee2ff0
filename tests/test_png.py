"""PNG codec tests: hand-built byte golden for the encoder, round-trip,
and end-to-end pixel verification of the pipeline's image payloads."""

import base64
import struct
import zlib

from docling_api_spark.operators import png_write as P
from docling_api_spark.operators.convert import convert_one
from docling_api_spark.config import ExtractConfig


def test_encoder_bytes_golden_handbuilt():
    # 2x2 gray image built by hand, chunk by chunk — NOT via the encoder
    px = bytes([0, 85, 170, 255])
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    raw = b"\x00" + px[0:2] + b"\x00" + px[2:4]

    def chunk(tag, payload):
        return (struct.pack(">I", len(payload)) + tag + payload
                + struct.pack(">I", zlib.crc32(tag + payload)))

    expected = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(raw, 9))
                + chunk(b"IEND", b""))
    assert P.write_png_gray(2, 2, px) == expected


def test_roundtrip_and_determinism():
    w, h = 13, 7
    px = bytes((x * 31 + 7) % 256 for x in range(w * h))
    data = P.write_png_gray(w, h, px)
    assert P.read_png_gray(data) == (w, h, px)
    assert P.write_png_gray(w, h, px) == data     # byte-deterministic


def test_many_idat_chunks_read_in_linear_time():
    """A PNG may split its zlib stream over any number of IDAT chunks;
    the reader joins them once, so 40,000 chunks give the pixels of the
    one-chunk file in a fraction of a second (≈0.04 s on a 4-vCPU host;
    concatenating chunk by chunk took ≈1.3 s). Concatenation stays linear
    in the chunk count at a fixed file size, so a ratio against fewer
    chunks would not tell the two apart: the bound is absolute, on the
    best of three reads, with a wide margin."""
    import random
    import time

    w, h = 1000, 1000
    px = random.Random(8).randbytes(w * h)       # incompressible
    one = P.write_png_gray(w, h, px)
    ihdr_end = 8 + 12 + 13
    (ln,) = struct.unpack(">I", one[ihdr_end:ihdr_end + 4])
    stream = one[ihdr_end + 8:ihdr_end + 8 + ln]
    step = max(1, len(stream) // 40_000)
    chunks = b"".join(
        struct.pack(">I", len(part)) + b"IDAT" + part
        + struct.pack(">I", zlib.crc32(b"IDAT" + part))
        for part in (stream[i:i + step]
                     for i in range(0, len(stream), step)))
    many = one[:ihdr_end] + chunks + one[ihdr_end + 12 + ln:]
    assert many.count(b"IDAT") >= 40_000
    assert P.read_png_gray(many) == (w, h, px)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        P.read_png_gray(many)
        best = min(best, time.perf_counter() - t0)
    assert best < 0.5, best


def test_picture_png_dims_and_texture():
    ref = "img-5.png"
    data = P.picture_png(ref)
    w, h, px = P.read_png_gray(data)
    assert (w, h) == P.picture_dims(ref)
    assert 16 <= w < 32 and 12 <= h < 24
    import hashlib
    digest = hashlib.md5(ref.encode()).digest()
    assert px[:16] == digest                       # md5 texture tiling
    # different refs give different images
    assert P.picture_png("img-6.png") != data


def test_table_png_gridlines():
    data = P.table_png(3, 2)
    w, h, px = P.read_png_gray(data)
    assert (w, h) == P.table_dims(3, 2) == (19, 22)
    for y in range(h):
        for x in range(w):
            expected = 0 if (x % 9 == 0 or y % 7 == 0) else 255
            assert px[y * w + x] == expected


def test_pipeline_payloads_decode():
    # end-to-end: the engine's manifest payloads are valid PNGs whose
    # pixels match the independent generators
    html = ("<html><body><img src=\"pic-a.png\">"
            "<table><tr><th>k</th></tr><tr><td>v</td></tr></table>"
            "</body></html>").encode()
    cfg = ExtractConfig(extract_tables_as_images=True)
    r = convert_one(html, "https://x/t.html", cfg)
    imgs = {i["type"]: i for i in r["images"]}
    pic = base64.b64decode(imgs["picture"]["image"])
    assert pic == P.picture_png("pic-a.png")
    tbl = base64.b64decode(imgs["table"]["image"])
    assert tbl == P.table_png(2, 1)
    P.read_png_gray(pic)
    P.read_png_gray(tbl)
