"""The table-driven JPEG decoder against the per-symbol reference
(``tests/jpeg_reference.py``): equal pixels, or ValueError on both sides,
over pool-style scans, noise images, PDF-embedded DCT images, hand-built
Huffman tables with long codes, and byte mutations of all of them. Also
the decode-table memo bound and the block-count bound on the frame
size."""

import random
import struct
import time
import tracemalloc

import pytest
from hypothesis import given, settings, strategies as st

from docling_api_spark.config import ExtractConfig
from docling_api_spark.operators import jpeg_codec as J
from docling_api_spark.operators.convert import convert_one
from docling_api_spark.operators.ocr import render_text_png
from docling_api_spark.operators.pdf_write import image_xobject, write_pdf
from docling_api_spark.operators.png_write import read_png_gray
from jpeg_reference import (canonical_tables, decode_gray_jpeg as
                            reference_decode, encode_with_tables)

CFG = ExtractConfig()


def _scan_jpeg(text: str) -> bytes:
    """A JPEG scan the way the pool renders one."""
    return J.encode_gray_jpeg(*read_png_gray(render_text_png(text)))


def _dct_payload(w: int, h: int, px: bytes) -> bytes:
    """The JPEG carried by a /DCTDecode image XObject."""
    body = image_xobject(w, h, px, "dct")
    start = body.index(b"\nstream\n") + len(b"\nstream\n")
    return body[start:body.index(b"\nendstream")]


def _long_code_tables(rng: random.Random):
    """Canonical tables whose codes run past 8 bits: DC codes of 4-16
    bits, AC codes of 9-16 bits with EOB anywhere from 2 to 16 bits, so
    code plus magnitude often exceeds 16 bits."""
    dc = {s: rng.randint(4, 16) for s in range(12)}
    ac_syms = [(r << 4) | s for r in range(16) for s in range(1, 11)] + [0xF0]
    ac = {s: rng.randint(9, 16) for s in ac_syms}
    ac[0x00] = rng.randint(2, 16)
    return canonical_tables(dc), canonical_tables(ac)


def _noise(rng: random.Random, w: int, h: int) -> bytes:
    return bytes(rng.randrange(256) for _ in range(w * h))


def _seed_jpegs() -> list[bytes]:
    rng = random.Random(9)
    seeds = [_scan_jpeg("scan 7\nthe fast key\nlang en"),
             _scan_jpeg("scan 12\n0123456789 abc\nlang de"),
             _scan_jpeg("a")]
    # noise: large magnitudes, whose code and magnitude exceed 16 bits
    seeds += [J.encode_gray_jpeg(w, h, _noise(rng, w, h))
              for w, h in ((16, 16), (24, 8), (9, 17))]
    # PDF-embedded DCT images, as the pool draws them: a gradient and a
    # flat block (DC-only)
    for i in (3, 10):
        w1, h1 = 16 + i % 13, 12 + i % 9
        seeds.append(_dct_payload(w1, h1, bytes(
            (x * 3 + y * 5 + i) % 256 for y in range(h1) for x in range(w1))))
        w2, h2 = 8 + i % 8, 8 + i % 5
        seeds.append(_dct_payload(w2, h2, bytes([(i * 7) % 256]) * (w2 * h2)))
    for k in range(4):
        dc, ac = _long_code_tables(rng)
        w, h = (16, 16) if k % 2 else (24, 10)
        px = _noise(rng, w, h) if k < 2 else bytes(
            (x * 9 + y * 4) % 256 for y in range(h) for x in range(w))
        seeds.append(encode_with_tables(w, h, px, dc, ac))
    return seeds


_SEEDS = _seed_jpegs()


def _outcome(decode, data: bytes):
    try:
        return decode(data)
    except ValueError:
        return ValueError


def test_decoder_equals_reference_on_seeds():
    for data in _SEEDS:
        got = J.decode_gray_jpeg(data)
        assert got == reference_decode(data)


def test_long_codes_take_the_extra_magnitude_path():
    """A hand-built DHT with every AC code at 16 bits and every DC code at
    9 bits: each AC coefficient's code plus magnitude exceeds 16 bits, as
    does each DC difference of 8 or more magnitude bits, so they decode
    through the window's extra-bits read."""
    dc = canonical_tables({s: 9 for s in range(12)})
    ac = canonical_tables({s: 16 for s in [0x00, 0xF0] + [
        (r << 4) | s for r in range(16) for s in range(1, 11)]})
    table = J._dec_table(*ac, True)
    assert all(e[3] for e in table if e[1] > 0)
    assert {e[3] for e in J._dec_table(*dc, False)} == {0, 8, 9, 10, 11}
    rng = random.Random(5)
    for w, h in ((8, 8), (16, 24), (33, 9)):
        px = _noise(rng, w, h)
        data = encode_with_tables(w, h, px, dc, ac)
        assert J.decode_gray_jpeg(data) == reference_decode(data)
        # same coefficients as the writer's generated tables code
        assert J.decode_gray_jpeg(data) == J.decode_gray_jpeg(
            J.encode_gray_jpeg(w, h, px))


@st.composite
def _mutated_jpeg(draw):
    data = bytearray(draw(st.sampled_from(_SEEDS)))
    scan = data.index(b"\xff\xda")
    for _ in range(draw(st.integers(1, 6))):
        # half the edits land in the entropy-coded data
        lo = min(scan, len(data)) if draw(st.booleans()) else 0
        pos = draw(st.integers(lo, len(data)))
        how = draw(st.sampled_from(("replace", "insert", "delete",
                                    "truncate")))
        if how == "truncate":
            del data[pos:]
        elif how == "delete":
            del data[pos:pos + draw(st.integers(1, 4))]
        else:
            byte = draw(st.sampled_from((0x00, 0xFF, 0x80, 0x01, 0x3F))
                        | st.integers(0, 255))
            data[pos:pos + (how == "replace")] = bytes([byte])
    return bytes(data)


@settings(max_examples=600, deadline=None)
@given(_mutated_jpeg())
def test_decoder_equals_reference_on_mutations(data):
    assert _outcome(J.decode_gray_jpeg, data) == \
        _outcome(reference_decode, data)


def test_decode_table_memo_is_bounded():
    """Each distinct (class, BITS, HUFFVAL) builds one table; after 100
    distinct DHTs the memo holds at most its bound, and a repeated DHT
    is served from it."""
    rng = random.Random(11)
    _, ac = _long_code_tables(rng)
    for _ in range(100):
        dc = canonical_tables({s: rng.randint(4, 16) for s in range(12)})
        data = encode_with_tables(8, 8, _noise(rng, 8, 8), dc, ac)
        assert J.decode_gray_jpeg(data) == reference_decode(data)
        assert len(J._DEC_TABLES) <= J._DEC_TABLES_MAX
    assert J._dec_table(*dc, False) is J._dec_table(*dc, False)
    assert J._dec_table(*ac, True) is not J._dec_table(*ac, False)


def test_corrupt_unused_table_still_raises():
    """Huffman counts are checked when the DHT is read, whether or not
    the scan selects the table."""
    base = J.encode_gray_jpeg(8, 8, bytes(64))
    sos = base.index(b"\xff\xda")
    overfull = (b"\xff\xc4" + struct.pack(">H", 2 + 17 + 3)
                + b"\x03" + bytes([3]) + bytes(15) + b"\x00\x01\x02")
    with pytest.raises(ValueError, match="overfull"):
        J.decode_gray_jpeg(base[:sos] + overfull + base[sos:])
    with pytest.raises(ValueError):
        reference_decode(base[:sos] + overfull + base[sos:])


def test_many_distinct_tables_hold_only_the_selected_pair():
    """A DHT carries a 4-bit class and a 4-bit slot, so one file may
    define 256 tables. Here 254 distinct tables, none of them the scan's
    pair, each have 32 five-bit codes of magnitude 11: built, every one
    would be a 65536-slot table of distinct entries (megabytes each).
    Only their counts are checked, so the row comes back typed with a
    small allocation peak."""
    base = J.encode_gray_jpeg(8, 8, bytes(64))
    sos = base.index(b"\xff\xda")
    tables = b"".join(
        bytes([(tc << 4) | th, 0, 0, 0, 0, 32]) + bytes(11)
        + bytes([11] * 31) + bytes([tc * 16 + th])
        for tc in range(16) for th in range(16)
        if (tc, th) not in ((0, 0), (1, 0)))
    dht = b"\xff\xc4" + struct.pack(">H", 2 + len(tables)) + tables
    data = base[:sos] + dht + base[sos:]
    assert J.decode_gray_jpeg(data) == reference_decode(data)
    convert_one(base, "https://x/warm.jpg", CFG)
    row, peak = _peak(lambda: convert_one(data, "https://x/dht.jpg", CFG))
    assert row == convert_one(base, "https://x/dht.jpg", CFG)
    assert row["error"] == "ocr_not_supported"
    assert peak < 1 << 20, peak


def _huge_sof(data: bytes) -> bytes:
    """``data`` with its SOF0 frame declaring 65535 x 65535 pixels."""
    sof = data.index(b"\xff\xc0")
    return (data[:sof + 5] + struct.pack(">HH", 65535, 65535)
            + data[sof + 9:])


def _peak(fn):
    """``fn()`` and the peak of its traced allocations."""
    tracemalloc.start()
    try:
        return fn(), tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()


def _best_secs(fn, repeats: int = 5) -> float:
    """The fastest of ``repeats`` timed calls: the least disturbed by
    other processes sharing the cores."""
    best = float("inf")
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def test_huge_sof_is_rejected_before_allocating():
    """A ~160-byte JPEG declaring 65535² pixels (67M blocks) cannot hold
    2 bits per block, so it is truncated: a typed row with nothing sized
    by block count, no slower than converting the 8x8 image it came from
    (decoding it block by block would take minutes)."""
    small = J.encode_gray_jpeg(8, 8, bytes(range(64)))
    assert len(small) < 400
    huge = _huge_sof(small)
    with pytest.raises(ValueError, match="truncated"):
        J.decode_gray_jpeg(huge)
    convert_one(small, "https://x/warm.jpg", CFG)
    row, peak = _peak(lambda: convert_one(huge, "https://x/big.jpg", CFG))
    assert row["error"] == "ocr_not_supported" and row["markdown"] is None
    assert peak < 1 << 20, peak
    secs = _best_secs(lambda: convert_one(huge, "https://x/big.jpg", CFG))
    ref = _best_secs(lambda: convert_one(small, "https://x/warm.jpg", CFG))
    assert secs < 10 * ref, (secs, ref)


def test_huge_sof_in_pdf_dct_image_is_typed():
    pages = [[(72.0, 730.0, 12.0, ["huge image"])]]
    pdf = write_pdf(pages, images=[[(72.0, 600.0, 16, 10, bytes(160),
                                     "dct")]])
    assert convert_one(pdf, "https://x/ok.pdf", CFG)["error"] is None
    jpeg = _dct_payload(16, 10, bytes(160))
    assert pdf.count(jpeg) == 1
    bad = pdf.replace(jpeg, _huge_sof(jpeg))
    row, peak = _peak(lambda: convert_one(bad, "https://x/big.pdf", CFG))
    assert row["error"] == "pdf_unsupported_feature"
    assert peak < 1 << 20, peak
    secs = _best_secs(lambda: convert_one(bad, "https://x/big.pdf", CFG))
    ref = _best_secs(lambda: convert_one(pdf, "https://x/ok.pdf", CFG))
    assert secs < 10 * ref, (secs, ref)
