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


def _dec_table(bits: list[int], vals: list[int]):
    """DHT → (lut, long): ``lut`` resolves codes of ≤ 8 bits in ONE
    8-bit-prefix lookup (every suffix filled); longer codes fall back
    to the (length, code) dict."""
    lut: list[tuple[int, int] | None] = [None] * 256
    long: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            if k >= len(vals):
                raise ValueError("jpeg: DHT counts exceed values")
            if code >= (1 << ln):
                # corrupt counts: canonical codes overflow the code
                # space at this length (found by mutation fuzz)
                raise ValueError("jpeg: overfull Huffman table")
            if ln <= 8:
                base = code << (8 - ln)
                for suffix in range(1 << (8 - ln)):
                    lut[base | suffix] = (vals[k], ln)
            else:
                long[(ln, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return lut, long


def _idct_batch(coefs, qtable):
    """zig-zag quantized coefficients (N, 64) + the stream's quant
    table → N 8x8 spatial blocks (clamped 0..255), vectorized across
    blocks (r7, guide §4.2: a per-block scalar IDCT was ~45% of JPEG
    decode in the OCR path).

    Each pass is a fold over whole ``(N, 8, 8)`` planes: eight
    multiply-adds per pass, whatever the block count.

    Exactness argument: every output element's float op sequence is the
    per-block scalar T.81 IDCT's, vectorized across blocks and across
    the plane — dequantization is int64 (exact); pass 1 adds, for v =
    0..7 in order, the term ``(_C[v]*F(u,v))*_COS[v][y]`` to a
    +0.0-seeded ``tmp[u, y]``, and pass 2 adds, for u = 0..7 in order,
    ``(_C[u]*tmp[u, y])*_COS[u][x]`` to a +0.0-seeded ``s[y, x]``. A
    plane fold changes which elements share a numpy call, never the
    order of one element's multiplies and adds. The scalar loop's
    skip-zero-term branches are ±0.0-neutral (adding a ±0.0 term to a
    +0.0-seeded sum never changes it), and DC-only blocks keep their
    DISTINCT formula ``dq0/8.0`` (not bit-equal to the general path's
    ``((C0·dq0)·1·C0)/4``). Pinned bit-identical to the scalar
    reference in ``tests/test_ocr.py`` over random and fuzzed blocks."""
    import numpy as np
    nblk = len(coefs)
    a = np.asarray(coefs, dtype=np.int64)                # (N, 64)
    qt = np.asarray(qtable, dtype=np.int64)
    zig = np.asarray(_ZIGZAG)
    dq = np.zeros((nblk, 64), dtype=np.int64)
    dq[:, zig] = a * qt[zig][None, :]
    dc_only = (a[:, 1:] == 0).all(axis=1)
    dqf = dq.astype(np.float64)
    cosr = np.asarray(_COS)                              # (v, y)
    cvec = np.asarray(_C)[None, :, None]
    # pass 1: tmp[n, u, y] folds (_C[v]*F[n, v, u]) * _COS[v][y] over v
    cf = dqf.reshape(nblk, 8, 8) * cvec                  # [n, v, u]
    tmp = np.zeros((nblk, 8, 8))
    for v in range(8):
        tmp += cf[:, v, :, None] * cosr[v]
    # pass 2: s[n, y, x] folds (_C[u]*tmp[n, u, y]) * _COS[u][x] over u
    ct = tmp * cvec                                      # [n, u, y]
    s = np.zeros((nblk, 8, 8))
    for u in range(8):
        s += ct[:, u, :, None] * cosr[u]
    out = np.floor(s / 4.0 + 128.5).astype(np.int64).reshape(nblk, 64)
    np.clip(out, 0, 255, out=out)
    if dc_only.any():
        val = np.floor(dqf[dc_only, 0] / 8.0 + 128.5).astype(np.int64)
        np.clip(val, 0, 255, out=val)
        out[dc_only] = val[:, None]
    return out.astype(np.uint8)


def decode_gray_jpeg(data: bytes) -> tuple[int, int, bytes]:
    """Baseline grayscale JPEG → (width, height, row-major pixels).
    Raises ValueError outside the scoped grammar (progressive, color,
    restart intervals, malformed segments)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI")
    pos = 2
    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], dict] = {}
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
                htables[(tc, th)] = _dec_table(bits, vals)
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
    dc_t, ac_t = htables[(0, dc_sel)], htables[(1, ac_sel)]
    qt = qtables[qsel]
    # entropy data runs to the EOI marker
    end = data.rfind(b"\xff\xd9")
    if end < pos:
        raise ValueError("jpeg: missing EOI")
    bw_blocks = (width + 7) // 8
    bh_blocks = (height + 7) // 8
    # r7 hot loop (guide §1.2 step 2 — per-task work): per-symbol
    # bit-reader method calls were ~half of decode time; the reader
    # state lives in plain locals here with the fill/peek/consume steps
    # inlined. Reads past the end see zero padding; peeked-but-unconsumed
    # padding is fine, consumed padding is a truncated stream (checked
    # exactly after the loop — the silent-garble alternative is
    # forbidden). Blocks go through the vectorized _idct_batch one
    # block-row at a time (bounded memory, bit-identical pixels).
    import numpy as np
    sdata = _destuff(data[pos:end])
    slen = len(sdata)
    acc = nb = sp = 0
    dc_lut, dc_long = dc_t
    ac_lut, ac_long = ac_t
    all_coefs = []
    prev_dc = 0
    for by in range(bh_blocks):
        for bx in range(bw_blocks):
            coefs = [0] * 64
            # ---- DC symbol: 8-bit-prefix LUT, else the long-code dict
            while nb < 16:
                acc = (acc << 8) | (sdata[sp] if sp < slen else 0)
                sp += 1
                nb += 8
            word = (acc >> (nb - 16)) & 0xFFFF
            hit = dc_lut[word >> 8]
            if hit is not None:
                ssss, ln = hit
                nb -= ln
                acc &= (1 << nb) - 1
            else:
                code = word >> 8
                for ln in range(9, 17):
                    code = (code << 1) | ((word >> (16 - ln)) & 1)
                    if (ln, code) in dc_long:
                        ssss = dc_long[(ln, code)]
                        nb -= ln
                        acc &= (1 << nb) - 1
                        break
                else:
                    raise ValueError("jpeg: invalid Huffman code")
            if ssss > 11:
                raise ValueError("jpeg: DC category out of range")
            if ssss:
                while nb < ssss:
                    acc = (acc << 8) | (sdata[sp] if sp < slen else 0)
                    sp += 1
                    nb += 8
                nb -= ssss
                v = (acc >> nb) & ((1 << ssss) - 1)
                acc &= (1 << nb) - 1
                prev_dc += v if v >= (1 << (ssss - 1)) \
                    else v - (1 << ssss) + 1
            coefs[0] = prev_dc
            k = 1
            while k < 64:
                # ---- AC symbol: 8-bit-prefix LUT, else the long-code dict
                while nb < 16:
                    acc = (acc << 8) | (sdata[sp] if sp < slen else 0)
                    sp += 1
                    nb += 8
                word = (acc >> (nb - 16)) & 0xFFFF
                hit = ac_lut[word >> 8]
                if hit is not None:
                    sym, ln = hit
                    nb -= ln
                    acc &= (1 << nb) - 1
                else:
                    code = word >> 8
                    for ln in range(9, 17):
                        code = (code << 1) | ((word >> (16 - ln)) & 1)
                        if (ln, code) in ac_long:
                            sym = ac_long[(ln, code)]
                            nb -= ln
                            acc &= (1 << nb) - 1
                            break
                    else:
                        raise ValueError("jpeg: invalid Huffman code")
                if sym == 0x00:                  # EOB
                    break
                run, ssss = sym >> 4, sym & 15
                if ssss == 0:
                    if run != 15:
                        raise ValueError("jpeg: bad AC symbol")
                    k += 16                      # ZRL
                    continue
                k += run
                if k > 63:
                    raise ValueError("jpeg: AC run overflow")
                while nb < ssss:
                    acc = (acc << 8) | (sdata[sp] if sp < slen else 0)
                    sp += 1
                    nb += 8
                nb -= ssss
                v = (acc >> nb) & ((1 << ssss) - 1)
                acc &= (1 << nb) - 1
                coefs[k] = v if v >= (1 << (ssss - 1)) \
                    else v - (1 << ssss) + 1
                k += 1
            all_coefs.append(coefs)
    if (sp - slen) * 8 > nb:                      # consumed padding bits
        raise ValueError("jpeg: entropy data truncated")
    nblk = bw_blocks * bh_blocks
    pix = np.empty((nblk, 64), dtype=np.uint8)
    for i0 in range(0, nblk, 65536):              # bound the int64 temps
        pix[i0:i0 + 65536] = _idct_batch(all_coefs[i0:i0 + 65536], qt)
    padded = (pix.reshape(bh_blocks, bw_blocks, 8, 8)
              .transpose(0, 2, 1, 3).reshape(bh_blocks * 8, bw_blocks * 8))
    return width, height, padded[:height, :width].tobytes()


def jpeg_dimensions(data: bytes) -> tuple[int, int]:
    """(width, height) from the SOF header without decoding — the
    cheap metadata path (multimodal.media_metadata pattern)."""
    pos = 2
    if data[:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI")
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("jpeg: bad marker alignment")
        marker = data[pos + 1]
        ln = struct.unpack(">H", data[pos + 2:pos + 4])[0]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            _, h, w, _ = struct.unpack(">BHHB", data[pos + 4:pos + 10])
            return w, h
        pos += 2 + ln
    raise ValueError("jpeg: no SOF segment")
