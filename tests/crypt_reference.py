"""Spec-shaped reference AES and RC4 for the differential crypto tests.

This is the engine's original pure-Python FIPS-197 core, kept as the
reference that ``operators/pdf_crypt.py`` (which runs AES through the
OpenSSL-backed ``cryptography`` package) must equal byte for byte. The
S-box is GENERATED from the GF(2^8) multiplicative inverse + affine
transform definition rather than transcribed, the key schedule covers
Nk=4 (AES-128) and Nk=8 (AES-256), and the block functions are anchored
to the published known-answer vectors (FIPS-197 Appendix B, C.1, C.3)
by the tests. On top of the block core sit the forms the PDF security
handlers use: raw CBC (SP 800-38A) without padding, the §7.6.2 AESV2
wire format (leading IV + PKCS#5 padding), the one-block ECB /Perms
seal of Algorithm 10, and the Algorithm 2.B password hash (no memo).
RC4 is the plain KSA + PRGA loop for every key length.
"""

from __future__ import annotations

import hashlib
import struct


def gf_mul(a: int, b: int) -> int:
    p = 0
    for _ in range(8):
        if b & 1:
            p ^= a
        hi = a & 0x80
        a = (a << 1) & 0xFF
        if hi:
            a ^= 0x1B
        b >>= 1
    return p


def gf_inv(x: int) -> int:
    if x == 0:
        return 0
    for y in range(1, 256):
        if gf_mul(x, y) == 1:
            return y
    raise AssertionError


def make_sbox() -> bytes:
    out = bytearray(256)
    for i in range(256):
        c = gf_inv(i)
        x = c
        for _ in range(4):
            c = ((c << 1) | (c >> 7)) & 0xFF
            x ^= c
        out[i] = x ^ 0x63
    return bytes(out)


SBOX = make_sbox()
INV_SBOX = bytes(SBOX.index(i) for i in range(256))
RCON = [0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36]

#: GF(2^8) multiplication tables for the (Inv)MixColumns coefficients
MUL = {c: bytes(gf_mul(c, x) for x in range(256))
       for c in (2, 3, 9, 11, 13, 14)}

#: ShiftRows as a flat SOURCE-index permutation over the column-major
#: state (state[r + 4c]): output[r + 4c] = input[r + 4*((c + r) % 4)]
SHIFT = [(i % 4) + 4 * (((i // 4) + (i % 4)) % 4) for i in range(16)]
INV_SHIFT = [SHIFT.index(i) for i in range(16)]


def expand_key(key: bytes) -> list[list[int]]:
    """FIPS-197 §5.2 key schedule for AES-128 (Nk=4 → 11 round keys)
    and AES-256 (Nk=8 → 15 round keys; the extra SubWord at
    i % Nk == 4 is the only 256-specific step)."""
    nk = len(key) // 4
    if nk not in (4, 8) or len(key) % 4:
        raise ValueError(f"bad AES key length {len(key)}")
    nr = nk + 6
    words = [list(key[i:i + 4]) for i in range(0, 4 * nk, 4)]
    for i in range(nk, 4 * (nr + 1)):
        w = list(words[i - 1])
        if i % nk == 0:
            w = w[1:] + w[:1]
            w = [SBOX[b] for b in w]
            w[0] ^= RCON[i // nk - 1]
        elif nk == 8 and i % nk == 4:
            w = [SBOX[b] for b in w]
        words.append([a ^ b for a, b in zip(words[i - nk], w)])
    return [sum(words[4 * i:4 * i + 4], []) for i in range(nr + 1)]


def encrypt_block(rk: list[list[int]], block: bytes) -> bytes:
    nr = len(rk) - 1
    s = [b ^ k for b, k in zip(block, rk[0])]
    m2, m3 = MUL[2], MUL[3]
    for rnd in range(1, nr):
        s = [SBOX[s[SHIFT[i]]] for i in range(16)]
        t = []
        for c in range(0, 16, 4):
            a0, a1, a2, a3 = s[c], s[c + 1], s[c + 2], s[c + 3]
            t += [m2[a0] ^ m3[a1] ^ a2 ^ a3,
                  a0 ^ m2[a1] ^ m3[a2] ^ a3,
                  a0 ^ a1 ^ m2[a2] ^ m3[a3],
                  m3[a0] ^ a1 ^ a2 ^ m2[a3]]
        s = [x ^ k for x, k in zip(t, rk[rnd])]
    s = [SBOX[s[SHIFT[i]]] for i in range(16)]
    return bytes(x ^ k for x, k in zip(s, rk[nr]))


def decrypt_block(rk: list[list[int]], block: bytes) -> bytes:
    nr = len(rk) - 1
    s = [b ^ k for b, k in zip(block, rk[nr])]
    m9, m11, m13, m14 = MUL[9], MUL[11], MUL[13], MUL[14]
    for rnd in range(nr - 1, 0, -1):
        s = [INV_SBOX[s[INV_SHIFT[i]]] for i in range(16)]
        s = [x ^ k for x, k in zip(s, rk[rnd])]
        t = []
        for c in range(0, 16, 4):
            a0, a1, a2, a3 = s[c], s[c + 1], s[c + 2], s[c + 3]
            t += [m14[a0] ^ m11[a1] ^ m13[a2] ^ m9[a3],
                  m9[a0] ^ m14[a1] ^ m11[a2] ^ m13[a3],
                  m13[a0] ^ m9[a1] ^ m14[a2] ^ m11[a3],
                  m11[a0] ^ m13[a1] ^ m9[a2] ^ m14[a3]]
        s = t
    s = [INV_SBOX[s[INV_SHIFT[i]]] for i in range(16)]
    return bytes(x ^ k for x, k in zip(s, rk[0]))


def cbc_nopad(key: bytes, iv: bytes, data: bytes, encrypt: bool) -> bytes:
    """SP 800-38A CBC over 16-aligned ``data``; IV not in the output."""
    if len(data) % 16:
        raise ValueError(f"CBC needs 16-aligned input, got {len(data)}")
    rk = expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = data[i:i + 16]
        if encrypt:
            prev = encrypt_block(rk, bytes(a ^ b for a, b in zip(blk, prev)))
            out += prev
        else:
            out += bytes(a ^ b for a, b in zip(decrypt_block(rk, blk), prev))
            prev = blk
    return bytes(out)


def cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """The §7.6.2 AESV2 wire format: IV, then CBC of PKCS#5-padded data."""
    padlen = 16 - len(data) % 16
    return iv + cbc_nopad(key, iv, data + bytes([padlen]) * padlen, True)


def cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """Inverse of :func:`cbc_encrypt`; raises ValueError on a bad length
    or bad padding."""
    if len(data) < 32 or len(data) % 16:
        raise ValueError(f"bad AES payload length {len(data)}")
    out = cbc_nopad(key, data[:16], data[16:], False)
    padlen = out[-1]
    if not 1 <= padlen <= 16 or out[-padlen:] != bytes([padlen]) * padlen:
        raise ValueError("bad AES padding")
    return out[:-padlen]


def perms_value(file_key: bytes, p: int, tail: bytes = b"seed") -> bytes:
    """Algorithm 10: P (4 LE), 0xFFFFFFFF, 'T', 'adb', 4 free bytes,
    one ECB block under the file key."""
    blk = (struct.pack("<I", p & 0xFFFFFFFF) + b"\xff\xff\xff\xff"
           + b"T" + b"adb" + hashlib.md5(tail).digest()[:4])
    return encrypt_block(expand_key(file_key), blk)


def perms_check(file_key: bytes, perms: bytes, p: int) -> bool:
    """Algorithm 13: the decrypted block carries 'adb' and the /P bytes."""
    if len(perms) < 16:
        return False
    blk = decrypt_block(expand_key(file_key), perms[:16])
    return (blk[9:12] == b"adb"
            and blk[:4] == struct.pack("<I", p & 0xFFFFFFFF))


def hash_2b(password: bytes, salt: bytes, udata: bytes, r: int) -> bytes:
    """ISO 32000-2 §7.6.4.3.4 Algorithm 2.B (R6), or one SHA-256 (R5)."""
    k = hashlib.sha256(password + salt + udata).digest()
    if r == 5:
        return k
    i = 0
    while True:
        k1 = (password + k + udata) * 64
        e = cbc_nopad(k[:16], k[16:32], k1, True)
        k = (hashlib.sha256, hashlib.sha384,
             hashlib.sha512)[int.from_bytes(e[:16], "big") % 3](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def rc4(key: bytes, data: bytes) -> bytes:
    """Plain RC4 (KSA + PRGA), any key length from 1 to 256 bytes."""
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray()
    i = j = 0
    for c in data:
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out.append(c ^ s[(s[i] + s[j]) & 0xFF])
    return bytes(out)
