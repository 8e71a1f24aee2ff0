"""Baseline-sequential grayscale JPEG codec (ITU-T T.81), stdlib-only.

Why it exists: PDF image XObjects carry /Filter /DCTDecode payloads —
plain JPEG files — and the reference surfaces embedded pictures from
any format via docling's pypdfium2/PIL rasterization
(``/root/reference/document_converter/service.py:48-64``,
``poetry.lock:437``). Neither PIL nor any JPEG library exists in this
environment, so the scoped reader decodes the baseline grayscale
subset from the public spec directly — the same capability posture as
the from-scratch PNG writer (:mod:`.png_write`) and AES
(:mod:`.pdf_crypt`).

Scope (the fixture-writer grammar, a strict subset of baseline JPEG):
- SOF0 (baseline sequential DCT), 8-bit, ONE component (grayscale),
  1x1 sampling; anything else — progressive, color, 12-bit, restart
  intervals — raises ``ValueError`` (callers map it to the typed
  error channel).
- Huffman and quantization tables are read from the stream's own
  DHT/DQT segments (as any decoder must), so the decoder is not tied
  to the writer's choices. The WRITER emits GENERATED canonical
  tables — every symbol at one code length with the all-1-bits code
  unused (T.81 §C.2 requires reserving it) — rather than transcribing
  the Annex K "typical" tables: any table set the DHT declares is
  equally valid JPEG, and generating them keeps this module
  transcription-free.
- DCT math is the T.81 §A.3 orthonormal definition with a precomputed
  cosine table; encode quantizes with round-half-away, decode clamps
  to [0, 255]. The pair round-trips within a small tolerance
  (property-tested); decode(encode(x)) is deterministic, which is
  what the driver oracle's geometry gate and the golden pixel tests
  rely on.
"""

from __future__ import annotations

import math
import struct
from array import array

#: quantization table, generated (not transcribed): mild frequency
#: rolloff — flat enough that fixture gradients survive recognizably,
#: sloped enough that the quantizer actually does work in tests
_QTABLE = [1 + u + v for v in range(8) for u in range(8)]

#: zig-zag scan order (T.81 Figure A.6) — generated from the definition:
#: walk anti-diagonals, alternating direction. r7 (r6 ADVICE, high):
#: the direction test was inverted, producing the TRANSPOSE of the
#: canonical order ([0,8,1,...] instead of [0,1,8,...]) — in-repo
#: round-trips were self-consistent (encoder and decoder share this
#: table), but any EXTERNALLY-encoded baseline JPEG decoded with every
#: 8x8 block transposed. Fixed (odd diagonals descend in x); pinned
#: against the literal spec table in test_ocr.py. Fixture corpora are
#: unaffected: the permutation cancels in encode→decode round-trips,
#: so every oracle-gated pixel/text output is unchanged.
def _make_zigzag() -> list[int]:
    order = []
    for s in range(15):
        rng = range(s + 1)
        for i in (reversed(rng) if s % 2 else rng):
            x, y = i, s - i
            if x < 8 and y < 8:
                order.append(y * 8 + x)
    return order


_ZIGZAG = _make_zigzag()
#: natural position → zig-zag index
_UNZIGZAG = [_ZIGZAG.index(p) for p in range(64)]

#: cos((2x+1)·u·π/16) table
_COS = [[math.cos((2 * x + 1) * u * math.pi / 16) for x in range(8)]
        for u in range(8)]
_C = [1 / math.sqrt(2)] + [1.0] * 7


def _fdct_quant(block: list[int]) -> list[int]:
    """8x8 spatial block (level-shifted ints) → zig-zag quantized
    coefficients. Separable (rows then columns): 2x8x8x8 multiplies
    per block instead of the naive 8^4 — same math, just factored."""
    # tmp[u][y] = sum_x f(x,y) cos(u,x)
    tmp = [[0.0] * 8 for _ in range(8)]
    for y in range(8):
        row = block[y * 8:y * 8 + 8]
        for u in range(8):
            cu = _COS[u]
            tmp[u][y] = (row[0] * cu[0] + row[1] * cu[1]
                         + row[2] * cu[2] + row[3] * cu[3]
                         + row[4] * cu[4] + row[5] * cu[5]
                         + row[6] * cu[6] + row[7] * cu[7])
    out = [0] * 64
    for v in range(8):
        cv = _COS[v]
        for u in range(8):
            tu = tmp[u]
            s = (tu[0] * cv[0] + tu[1] * cv[1] + tu[2] * cv[2]
                 + tu[3] * cv[3] + tu[4] * cv[4] + tu[5] * cv[5]
                 + tu[6] * cv[6] + tu[7] * cv[7])
            f = s * _C[u] * _C[v] / 4.0
            q = _QTABLE[v * 8 + u]
            out[v * 8 + u] = int(math.floor(abs(f) / q + 0.5)) * \
                (1 if f >= 0 else -1)
    return [out[i] for i in _ZIGZAG]


# ------------------------------------------------ generated Huffman

def _canonical(vals: list[int]) -> tuple[list[int], list[int]]:
    """(BITS[1..16], HUFFVAL) with every symbol at one code length
    ℓ = ceil(log2(n + 1)) — the +1 keeps the all-1-bits code of
    length ℓ unassigned (§C.2)."""
    ell = max(1, math.ceil(math.log2(len(vals) + 1)))
    bits = [0] * 16
    bits[ell - 1] = len(vals)
    return bits, list(vals)


#: DC categories 0..11; AC symbols are (run<<4)|ssss — EOB (0x00),
#: runs 0..15 × magnitudes 1..10, and ZRL (0xF0): 162 values, NOT a
#: contiguous range
_DC_BITS, _DC_VALS = _canonical(list(range(12)))
_AC_BITS, _AC_VALS = _canonical(
    [0x00] + [(r << 4) | s for r in range(16) for s in range(1, 11)]
    + [0xF0])


def _enc_table(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length), canonical assignment (§C.2)."""
    out = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_ENC = _enc_table(_DC_BITS, _DC_VALS)
_AC_ENC = {(v >> 4, v & 15): cl for v, cl in
           _enc_table(_AC_BITS, _AC_VALS).items()}


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int):
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:          # byte stuffing (§B.1.1.5)
                self.out.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def flush(self):
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # 1-fill (§B.1.1.5)


def _category(v: int) -> int:
    return abs(v).bit_length()


def encode_gray_jpeg(width: int, height: int, pixels: bytes) -> bytes:
    """8-bit grayscale raster (row-major, len == width*height) →
    baseline JPEG bytes. Deterministic."""
    if len(pixels) != width * height or not width or not height:
        raise ValueError("jpeg: pixel buffer does not match dimensions")
    bw = _BitWriter()
    prev_dc = 0
    for by in range(0, height, 8):
        for bx in range(0, width, 8):
            block = []
            for y in range(8):
                sy = min(by + y, height - 1)   # edge replication
                for x in range(8):
                    sx = min(bx + x, width - 1)
                    block.append(pixels[sy * width + sx] - 128)
            coefs = _fdct_quant(block)
            diff = coefs[0] - prev_dc
            prev_dc = coefs[0]
            ssss = _category(diff)
            c, ln = _DC_ENC[ssss]
            bw.put(c, ln)
            if ssss:
                bw.put(diff if diff > 0 else diff + (1 << ssss) - 1, ssss)
            run = 0
            last_nz = max((k for k in range(1, 64) if coefs[k]), default=0)
            for k in range(1, last_nz + 1):
                if coefs[k] == 0:
                    run += 1
                    continue
                while run >= 16:
                    c, ln = _AC_ENC[(15, 0)]   # ZRL
                    bw.put(c, ln)
                    run -= 16
                v = coefs[k]
                ssss = _category(v)
                c, ln = _AC_ENC[(run, ssss)]
                bw.put(c, ln)
                bw.put(v if v > 0 else v + (1 << ssss) - 1, ssss)
                run = 0
            if last_nz < 63:
                c, ln = _AC_ENC[(0, 0)]        # EOB
                bw.put(c, ln)
    bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    dqt = seg(0xFFDB, b"\x00" + bytes(_QTABLE[_ZIGZAG[k]]
                                      for k in range(64)))
    sof = seg(0xFFC0, struct.pack(">BHHB", 8, height, width, 1)
              + b"\x01\x11\x00")
    dht = (seg(0xFFC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))
           + seg(0xFFC4, b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS)))
    sos = seg(0xFFDA, b"\x01\x01\x00" + b"\x00\x3f\x00")
    return (b"\xff\xd8" + dqt + sof + dht + sos
            + bytes(bw.out) + b"\xff\xd9")


# ---------------------------------------------------------- decoder

def _destuff(scan: bytes) -> bytes:
    """Entropy-coded scan bytes with the 0xFF00 → 0xFF stuffing undone,
    once, up front (per-bit stuffing checks were the decoder's dominant
    cost). A 0xFF followed by anything but 0x00 inside the scan is a
    marker (RST/DNL) — outside the scoped grammar, typed."""
    i = scan.find(b"\xff")
    while i != -1:
        if i == len(scan) - 1:
            break              # dangling 0xFF at the very end: pad
        if scan[i + 1] != 0x00:
            raise ValueError(f"jpeg: marker 0xFF{scan[i + 1]:02X} in scan")
        i = scan.find(b"\xff", i + 2)
    return scan.replace(b"\xff\x00", b"\xff")


#: steps of a decode-table entry that are not an AC coefficient's run+1
_EOB, _ZRL, _BAD_AC, _BAD_DC, _BAD_CODE = 0, -1, -2, -3, -4
_STEP_ERRORS = {_BAD_AC: "jpeg: bad AC symbol",
                _BAD_DC: "jpeg: DC category out of range",
                _BAD_CODE: "jpeg: invalid Huffman code"}
_NO_CODE = (0, _BAD_CODE, 0, 0)

#: decode tables memoized per worker by (class, BITS, HUFFVAL): pool images
#: (scans and DCT-coded PDF images alike) carry the writer's two generated
#: tables, so a worker builds each once. A full memo evicts its oldest
#: table. One table is a 65536-slot list whose entry tuples are shared
#: across the slots of a code: ≈1 MB for each generated table, ≈7 MB for
#: a table whose short codes carry long magnitudes (every slot distinct),
#: so the bound of 4 (two scans' worth) caps the memo near 28 MB.
_DEC_TABLES: dict[tuple[int, bytes, bytes], list] = {}
_DEC_TABLES_MAX = 4

#: blocks decoded and transformed per chunk: bounds the int64 coefficient
#: array and the IDCT's float temporaries at 4 MB each
_CHUNK_BLOCKS = 8192


def _extend(v: int, size: int) -> int:
    """``size`` magnitude bits → signed value (T.81 §F.2.2.1 EXTEND)."""
    return v if v >= 1 << (size - 1) else v - (1 << size) + 1


def _dec_table(bits: list[int], vals: list[int], ac: bool) -> list:
    """DHT → the memoized 65536-slot decode table, indexed by the next 16
    stream bits. Each slot is ``(consumed, step, value, extra)``:

    - ``consumed``: bits of the code, plus its magnitude bits when code and
      magnitude fit in 16; ``value`` is then the extended coefficient (DC:
      the difference). Otherwise ``extra`` magnitude bits follow the code
      and the decoder reads them from its window.
    - ``step``: for AC, run+1 of a coefficient, ``_EOB`` or ``_ZRL``; for
      DC, 0. ``_BAD_AC`` (zero size, run other than 15), ``_BAD_DC``
      (category above 11) and ``_BAD_CODE`` (no code has this prefix:
      the shared ``_NO_CODE`` slot) raise when decoded.

    Only the two tables a scan selects are built, after SOS; every DHT
    has passed ``_check_dht`` when it was read."""
    key = (int(ac), bytes(bits), bytes(vals))
    table = _DEC_TABLES.get(key)
    if table is None:
        table = _build_dec_table(bits, vals, ac)
        if len(_DEC_TABLES) >= _DEC_TABLES_MAX:
            del _DEC_TABLES[next(iter(_DEC_TABLES))]
        _DEC_TABLES[key] = table
    return table


def _check_dht(bits: list[int]) -> None:
    """Raise on counts that no canonical code can have, at DHT parse time,
    whether or not a scan selects the table. Only the 16 counts are
    walked: the 65536-slot tables are built for the scan's selected pair
    alone, so a file of many distinct DHTs holds no more than two."""
    code = 0
    for ln in range(1, 17):
        code += bits[ln - 1]
        if code > (1 << ln):
            # corrupt counts: canonical codes overflow the code space at
            # this length (found by mutation fuzz)
            raise ValueError("jpeg: overfull Huffman table")
        code <<= 1


def _build_dec_table(bits: list[int], vals: list[int], ac: bool) -> list:
    table = [_NO_CODE] * 65536
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            sym = vals[k]
            if not ac:
                size, step = (sym, 0) if sym <= 11 else (0, _BAD_DC)
            elif sym & 15:
                size, step = sym & 15, (sym >> 4) + 1
            else:
                size, step = 0, (_EOB if sym == 0 else
                                 _ZRL if sym == 0xF0 else _BAD_AC)
            base = code << (16 - ln)
            span = 1 << (16 - ln)
            if size and ln + size <= 16:
                # one entry per magnitude, in magnitude-bit order: the
                # extended values -(2^size - 1)..-half, then half..2^size-1
                half = 1 << (size - 1)
                ents = [(ln + size, step, v, 0) for v in
                        [*range(1 - 2 * half, 1 - half),
                         *range(half, 2 * half)]]
                sub = span >> size
                table[base:base + span] = ents if sub == 1 else [
                    e for e in ents for _ in range(sub)]
            else:
                table[base:base + span] = [(ln, step, 0, size)] * span
            code += 1
            k += 1
        code <<= 1
    return table


def _windows(sdata: bytes) -> list[int]:
    """The 64 stream bits that start at each 32-bit word boundary, for
    every bit offset up to ``8 * len(sdata)``, zero past the end: one list
    index fetches any symbol's code and magnitude bits (at most 31 + 16 +
    15 bits into the window). Per word rather than per byte, a quarter as
    many Python ints are built."""
    import numpy as np
    nwin = (len(sdata) >> 2) + 1
    words = np.frombuffer(sdata + bytes(4 * nwin + 4 - len(sdata)),
                          dtype=">u4").astype(np.uint64)
    return ((words[:-1] << np.uint64(32)) | words[1:]).tolist()


def _decode_blocks(co, nblk: int, win: list[int], bp: int, dc: int,
                   dc_t: list, ac_t: list) -> tuple[int, int]:
    """Entropy-decode ``nblk`` blocks from bit ``bp`` into the zeroed
    zig-zag coefficient array ``co``; returns the new bit position and DC
    predictor. A fetch past the last window raises IndexError: the scan
    has then consumed padding, so it is truncated."""
    for last in range(63, 64 * nblk, 64):
        j = last - 63                          # the block's DC slot
        w = win[bp >> 5]
        sh = bp & 31
        n, step, val, extra = dc_t[(w >> (48 - sh)) & 0xFFFF]
        if step:
            raise ValueError(_STEP_ERRORS[step])
        bp += n
        if extra:
            val = _extend((w >> (64 - sh - n - extra)) & ((1 << extra) - 1),
                          extra)
            bp += extra
        dc += val
        co[j] = dc
        while j < last:                  # j: the slot of the last coefficient
            w = win[bp >> 5]
            sh = bp & 31
            n, step, val, extra = ac_t[(w >> (48 - sh)) & 0xFFFF]
            bp += n
            if step > 0:
                if extra:
                    val = _extend(
                        (w >> (64 - sh - n - extra)) & ((1 << extra) - 1),
                        extra)
                    bp += extra
                j += step
                if j > last:
                    raise ValueError("jpeg: AC run overflow")
                co[j] = val
            elif step == _EOB:
                break
            elif step == _ZRL:
                j += 16
            else:
                raise ValueError(_STEP_ERRORS[step])
    return bp, dc


def _idct_batch(coefs, qtable):
    """zig-zag quantized coefficients (N, 64) + the stream's quant
    table → N 8x8 spatial blocks (clamped 0..255), vectorized across
    blocks (r7, guide §4.2: a per-block scalar IDCT was ~45% of JPEG
    decode in the OCR path).

    The block axis is innermost: pass 1 works on ``[v, u, n]`` into
    ``[u, y, n]``, pass 2 on ``[u, y, n]`` into ``[y, x, n]``, so each of
    the 16 multiply-add fold steps runs over contiguous runs of N blocks.

    Exactness argument: every output element's float op sequence is the
    per-block scalar T.81 IDCT's, vectorized across blocks and across
    the plane — dequantization is int64 (exact); pass 1 adds, for v =
    0..7 in order, the term ``(_C[v]*F(u,v))*_COS[v][y]`` to a
    +0.0-seeded ``tmp[u, y]``, and pass 2 adds, for u = 0..7 in order,
    ``(_C[u]*tmp[u, y])*_COS[u][x]`` to a +0.0-seeded ``s[y, x]``. The
    layout changes which elements share a numpy call, never the order
    of one element's multiplies and adds. The scalar loop's
    skip-zero-term branches are ±0.0-neutral (adding a ±0.0 term to a
    +0.0-seeded sum never changes it), and DC-only blocks keep their
    DISTINCT formula ``dq0/8.0`` (not bit-equal to the general path's
    ``((C0·dq0)·1·C0)/4``). Pinned bit-identical to the scalar
    reference in ``tests/test_ocr.py`` over random and fuzzed blocks."""
    import numpy as np
    a = np.asarray(coefs, dtype=np.int64)                # (N, 64) zig-zag
    nblk = len(a)
    qt = np.asarray(qtable, dtype=np.int64)
    # natural-order dequantized coefficients, block axis last: [v*8+u, n]
    dq = a.T[_UNZIGZAG] * qt[:, None]
    dc_only = ~a[:, 1:].any(axis=1)
    dqf = dq.astype(np.float64).reshape(8, 8, nblk)      # [v, u, n]
    cos = np.asarray(_COS)[:, None, :, None]             # [v][1, y, 1]
    cvec = np.asarray(_C)[:, None, None]
    prod = np.empty((8, 8, nblk))
    # pass 1: tmp[u, y, n] folds (_C[v]*F[v, u, n]) * _COS[v][y] over v
    cf = dqf * cvec
    tmp = np.zeros((8, 8, nblk))
    for v in range(8):
        np.multiply(cf[v, :, None, :], cos[v], out=prod)
        tmp += prod
    # pass 2: s[y, x, n] folds (_C[u]*tmp[u, y, n]) * _COS[u][x] over u
    ct = tmp * cvec
    s = np.zeros((8, 8, nblk))
    for u in range(8):
        np.multiply(ct[u, :, None, :], cos[u], out=prod)
        s += prod
    s /= 4.0
    s += 128.5
    out = np.floor(s).astype(np.int64).reshape(64, nblk)
    np.clip(out, 0, 255, out=out)
    if dc_only.any():
        val = np.floor(dqf[0, 0, dc_only] / 8.0 + 128.5).astype(np.int64)
        np.clip(val, 0, 255, out=val)
        out[:, dc_only] = val
    return out.T.astype(np.uint8)


def decode_gray_jpeg(data: bytes) -> tuple[int, int, bytes]:
    """Baseline grayscale JPEG → (width, height, row-major pixels).
    Raises ValueError outside the scoped grammar (progressive, color,
    restart intervals, malformed segments)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI")
    pos = 2
    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], tuple[list[int], list[int]]] = {}
    width = height = 0
    qsel = 0
    dc_sel = ac_sel = 0
    while True:
        if pos + 4 > len(data):
            raise ValueError("jpeg: truncated segments")
        if data[pos] != 0xFF:
            raise ValueError("jpeg: bad marker alignment")
        marker = data[pos + 1]
        if marker == 0xD9:
            raise ValueError("jpeg: EOI before SOS")
        ln = struct.unpack(">H", data[pos + 2:pos + 4])[0]
        body = data[pos + 4:pos + 2 + ln]
        if len(body) != ln - 2:
            raise ValueError("jpeg: truncated segment body")
        pos += 2 + ln
        if marker == 0xDB:                       # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                if pq != 0:
                    raise ValueError("jpeg: 16-bit quant table")
                zz = list(body[i + 1:i + 65])
                if len(zz) != 64:
                    raise ValueError("jpeg: short quant table")
                t = [0] * 64
                for k, p in enumerate(_ZIGZAG):
                    t[p] = zz[k]
                qtables[tq] = t
                i += 65
        elif marker == 0xC4:                     # DHT
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 15
                bits = list(body[i + 1:i + 17])
                n = sum(bits)
                vals = list(body[i + 17:i + 17 + n])
                if len(bits) != 16 or len(vals) != n:
                    raise ValueError("jpeg: short DHT")
                _check_dht(bits)
                htables[(tc, th)] = bits, vals
                i += 17 + n
        elif marker == 0xC0:                     # SOF0 baseline
            prec, height, width, ncomp = struct.unpack(">BHHB", body[:6])
            if prec != 8 or ncomp != 1:
                raise ValueError("jpeg: only 8-bit grayscale supported")
            if body[7] != 0x11:
                raise ValueError("jpeg: subsampling unsupported")
            qsel = body[8]
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("jpeg: non-baseline SOF")
        elif marker == 0xDD:                     # DRI
            raise ValueError("jpeg: restart intervals unsupported")
        elif marker == 0xDA:                     # SOS
            if body[0] != 1:
                raise ValueError("jpeg: multi-component scan")
            dc_sel, ac_sel = body[2] >> 4, body[2] & 15
            break
        # APPn / COM / others: skipped
    if not width or not height:
        raise ValueError("jpeg: SOS before SOF")
    if (0, dc_sel) not in htables or (1, ac_sel) not in htables:
        raise ValueError("jpeg: missing Huffman table")
    if qsel not in qtables:
        raise ValueError("jpeg: missing quant table")
    qt = qtables[qsel]
    # entropy data runs to the EOI marker
    end = data.rfind(b"\xff\xd9")
    if end < pos:
        raise ValueError("jpeg: missing EOI")
    bw_blocks = (width + 7) // 8
    bh_blocks = (height + 7) // 8
    nblk = bw_blocks * bh_blocks
    sdata = _destuff(data[pos:end])
    nbits = 8 * len(sdata)
    # Every block spends at least 2 bits (a DC code and at least one AC
    # code), so a frame with more blocks than that would consume padding:
    # a truncated stream, rejected before anything is sized by block count.
    if 2 * nblk > nbits:
        raise ValueError("jpeg: entropy data truncated")
    # Bits past the end read as zero; peeked-but-unconsumed padding is
    # fine, consumed padding is a truncated stream (a fetch past the last
    # window, or the exact check after the loop — the silent-garble
    # alternative is forbidden). Each chunk of blocks goes through the
    # vectorized _idct_batch as soon as it is decoded (bounded memory,
    # bit-identical pixels).
    import numpy as np
    dc_t = _dec_table(*htables[(0, dc_sel)], False)
    ac_t = _dec_table(*htables[(1, ac_sel)], True)
    win = _windows(sdata)
    pix = np.empty((nblk, 64), dtype=np.uint8)
    bp = dc = 0
    for c0 in range(0, nblk, _CHUNK_BLOCKS):
        m = min(_CHUNK_BLOCKS, nblk - c0)
        co = array("q", bytes(512 * m))
        try:
            bp, dc = _decode_blocks(co, m, win, bp, dc, dc_t, ac_t)
        except IndexError:
            raise ValueError("jpeg: entropy data truncated") from None
        pix[c0:c0 + m] = _idct_batch(
            np.frombuffer(co, dtype=np.int64).reshape(m, 64), qt)
    if bp > nbits:                                # consumed padding bits
        raise ValueError("jpeg: entropy data truncated")
    padded = (pix.reshape(bh_blocks, bw_blocks, 8, 8)
              .transpose(0, 2, 1, 3).reshape(bh_blocks * 8, bw_blocks * 8))
    return width, height, padded[:height, :width].tobytes()
