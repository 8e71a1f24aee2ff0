"""Per-symbol reference JPEG decoder for the differential tests.

This is the engine's original ``decode_gray_jpeg`` entropy loop, kept as
the reference the table-driven decoder in ``operators/jpeg_codec.py``
must equal pixel for pixel, or raise ValueError wherever it raises. It
resolves each Huffman symbol from an 8-bit-prefix lookup table with a
(length, code) dict for longer codes, reads the magnitude bits one
symbol at a time, keeps one coefficient list per block, and runs the
per-block scalar T.81 IDCT. Besides the decoder, it holds an encoder
that takes any canonical Huffman tables, so the tests can reach code
lengths the engine's writer never emits.
"""

from __future__ import annotations

import math
import struct

from docling_api_spark.operators.jpeg_codec import (_C, _COS, _QTABLE,
                                                    _ZIGZAG, _BitWriter,
                                                    _category, _destuff,
                                                    _enc_table, _fdct_quant)


def scalar_idct(coefs: list[int], qtable: list[int]) -> list[int]:
    """Per-block scalar T.81 IDCT: zig-zag quantized coefficients + the
    quant table → 8x8 spatial block (clamped 0..255). DC-only blocks
    skip the transform, and the separable pass skips all-zero
    coefficient columns — the branches _idct_batch must match bit for
    bit."""
    dq = [0.0] * 64
    nonzero = False
    for k, pos in enumerate(_ZIGZAG):
        c = coefs[k]
        if c:
            dq[pos] = c * qtable[pos]
            if k:
                nonzero = True
    if not nonzero:                      # DC-only: f(x,y) = F00/8
        val = int(math.floor(dq[0] / 8.0 + 128.5))
        val = 0 if val < 0 else 255 if val > 255 else val
        return [val] * 64
    # tmp[u][y] = sum_v C(v) F(u,v) cos(v,y)
    tmp = [[0.0] * 8 for _ in range(8)]
    for u in range(8):
        col = [dq[v * 8 + u] for v in range(8)]
        if not any(col):
            continue
        for y in range(8):
            s = 0.0
            for v in range(8):
                c = col[v]
                if c:
                    s += _C[v] * c * _COS[v][y]
            tmp[u][y] = s
    out = []
    for y in range(8):
        for x in range(8):
            s = 0.0
            for u in range(8):
                t = tmp[u][y]
                if t:
                    s += _C[u] * t * _COS[u][x]
            val = int(math.floor(s / 4.0 + 128.5))
            out.append(0 if val < 0 else 255 if val > 255 else val)
    return out


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


def decode_gray_jpeg(data: bytes) -> tuple[int, int, bytes]:
    """Baseline grayscale JPEG → (width, height, row-major pixels), or
    ValueError."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI")
    pos = 2
    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], tuple] = {}
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
    if not width or not height:
        raise ValueError("jpeg: SOS before SOF")
    if (0, dc_sel) not in htables or (1, ac_sel) not in htables:
        raise ValueError("jpeg: missing Huffman table")
    if qsel not in qtables:
        raise ValueError("jpeg: missing quant table")
    dc_t, ac_t = htables[(0, dc_sel)], htables[(1, ac_sel)]
    qt = qtables[qsel]
    end = data.rfind(b"\xff\xd9")
    if end < pos:
        raise ValueError("jpeg: missing EOI")
    bw_blocks = (width + 7) // 8
    bh_blocks = (height + 7) // 8
    # The reader state lives in plain locals. Reads past the end see
    # zero padding; consumed padding is a truncated stream (checked
    # exactly after the loop).
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
    stride = bw_blocks * 8
    padded = bytearray(stride * bh_blocks * 8)
    for b, coefs in enumerate(all_coefs):
        by, bx = divmod(b, bw_blocks)
        block = scalar_idct(coefs, qt)
        for y in range(8):
            row = (by * 8 + y) * stride + bx * 8
            padded[row:row + 8] = bytes(block[y * 8:y * 8 + 8])
    return width, height, b"".join(
        bytes(padded[y * stride:y * stride + width]) for y in range(height))


def canonical_tables(lengths: dict[int, int]) -> tuple[list[int], list[int]]:
    """(BITS, HUFFVAL) giving each symbol its code length in ``lengths``
    (symbol → 1..16), symbols of one length in ascending order."""
    bits = [0] * 16
    for ln in lengths.values():
        bits[ln - 1] += 1
    vals = sorted(lengths, key=lambda s: (lengths[s], s))
    return bits, vals


def encode_with_tables(width: int, height: int, pixels: bytes,
                       dc: tuple[list[int], list[int]],
                       ac: tuple[list[int], list[int]]) -> bytes:
    """The engine writer's baseline JPEG, entropy-coded with the given
    canonical (BITS, HUFFVAL) tables instead of its generated ones. The
    AC table must hold EOB, ZRL and every (run, size) the image needs."""
    dc_enc = _enc_table(*dc)
    ac_enc = _enc_table(*ac)
    bw = _BitWriter()
    prev_dc = 0
    for by in range(0, height, 8):
        for bx in range(0, width, 8):
            block = []
            for y in range(8):
                sy = min(by + y, height - 1)
                for x in range(8):
                    sx = min(bx + x, width - 1)
                    block.append(pixels[sy * width + sx] - 128)
            coefs = _fdct_quant(block)
            diff = coefs[0] - prev_dc
            prev_dc = coefs[0]
            ssss = _category(diff)
            bw.put(*dc_enc[ssss])
            if ssss:
                bw.put(diff if diff > 0 else diff + (1 << ssss) - 1, ssss)
            run = 0
            last_nz = max((k for k in range(1, 64) if coefs[k]), default=0)
            for k in range(1, last_nz + 1):
                if coefs[k] == 0:
                    run += 1
                    continue
                while run >= 16:
                    bw.put(*ac_enc[0xF0])
                    run -= 16
                v = coefs[k]
                ssss = _category(v)
                bw.put(*ac_enc[(run << 4) | ssss])
                bw.put(v if v > 0 else v + (1 << ssss) - 1, ssss)
                run = 0
            if last_nz < 63:
                bw.put(*ac_enc[0x00])
    bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return struct.pack(">HH", marker, len(payload) + 2) + payload

    dqt = seg(0xFFDB, b"\x00" + bytes(_QTABLE[_ZIGZAG[k]]
                                      for k in range(64)))
    sof = seg(0xFFC0, struct.pack(">BHHB", 8, height, width, 1)
              + b"\x01\x11\x00")
    dht = (seg(0xFFC4, b"\x00" + bytes(dc[0]) + bytes(dc[1]))
           + seg(0xFFC4, b"\x10" + bytes(ac[0]) + bytes(ac[1])))
    sos = seg(0xFFDA, b"\x01\x01\x00" + b"\x00\x3f\x00")
    return (b"\xff\xd8" + dqt + sof + dht + sos
            + bytes(bw.out) + b"\xff\xd9")
