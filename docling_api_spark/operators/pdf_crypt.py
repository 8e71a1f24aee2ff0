"""PDF standard security handler math (ISO 32000-1 §7.6.2-7.6.3).

RC4 ("V1/V2") encryption with the STANDARD handler is the scheme the
legacy half of the real web-PDF corpus carries, and the overwhelming
majority of those files are "encrypted" with an EMPTY user password —
permissions-only protection where the document opens without a prompt.
Everything needed to read them is public spec math on stdlib md5:

- Algorithm 2  — file encryption key from the (empty) user password,
  /O, /P, and the first document ID.
- Algorithm 3  — the /O (owner) value, RC4 of the padded user password
  under a key derived from the owner password.
- Algorithms 4/5 — the /U (user) value for R2 / R3; recomputing it from
  the derived key and comparing against the stored /U is how a reader
  PROVES the empty password is correct before trusting any decrypted
  byte (a wrong password fails here, typed — never silent mojibake).
- Per-object keys — md5(key + objnum[0:3 LE] + gen[0:2 LE]) truncated
  to min(n+5, 16) (§7.6.2 Algorithm 1 step b-c).

The reference reads encrypted PDFs through docling's pypdfium2 backend
(/root/reference/poetry.lock:437); this module re-derives the open
spec math so the scoped reader handles the same files stdlib-only.

AES ("V4" crypt filters with /CFM /AESV2 — the modern empty-password
default, notch 10) runs through the OpenSSL-backed ``cryptography``
package, a declared dependency: AES-CBC (SP 800-38A) for streams and the
/UE //OE wrap, one-block ECB for /Perms. AESV2 per-object keys append
the spec's 'sAlT' bytes; the wire format is leading IV + PKCS#5
padding. The spec-shaped FIPS-197 core that the tests check this module
against — S-box generated from the GF(2^8) inverse + affine definition,
both key schedules, block encrypt/decrypt — lives in
``tests/crypt_reference.py``, anchored there to the published
known-answer vectors (Appendix B/C.1/C.3, F.2.1).

AES-256 ("V5" with /CFM /AESV3 — notch 11b, the CURRENT standard
scheme) adds the ISO 32000-2 §7.6.4 SHA-2 handler: the 32-byte file
key is wrapped in /UE //OE and recovered through the hardened
Algorithm 2.B hash (R6) or its one-SHA-256 R5 predecessor; /Perms is
the AES-ECB-sealed permissions block. Real (non-empty) passwords
stay a typed scope-out — a crawl has no password source.
"""

from __future__ import annotations

import hashlib
import os
import struct

from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

# RC4 goes through the provider's decrepit ``ARC4`` for the key lengths
# it accepts, which include the 5-, 10- and 16-byte keys of 40- and
# 128-bit files. OpenSSL rejects 6-, 9- and 11-15-byte keys, which
# 48-120-bit files use, so those keep the pure loop in :func:`rc4`; so
# does every length when ARC4 is missing or does not reproduce an
# RFC 6229 keystream.
try:
    from cryptography.hazmat.decrepit.ciphers.algorithms import ARC4

    _RC4_KEY_BITS = ARC4.key_sizes

    def _native_rc4(key: bytes, data: bytes) -> bytes:
        return Cipher(ARC4(key), None).encryptor().update(data)

    if _native_rc4(bytes([1, 2, 3, 4, 5]), bytes(8)) != \
            bytes.fromhex("b2396305f03dc027"):
        _native_rc4 = None
except Exception:                           # no ARC4 in this provider
    _native_rc4 = None


def _cipher(key: bytes, iv: bytes | None) -> Cipher:
    """AES under ``key``: CBC with ``iv``, or ECB when ``iv`` is None.
    A key that is not 16, 24 or 32 bytes raises :class:`AesError`."""
    if len(key) not in (16, 24, 32):
        raise AesError(f"bad AES key length {len(key)}")
    return Cipher(algorithms.AES(key),
                  modes.ECB() if iv is None else modes.CBC(iv))


#: §7.6.3.3 — the 32-byte password padding string (spec Table 21 bytes)
PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def rc4(key: bytes, data: bytes) -> bytes:
    """Plain RC4 (KSA + PRGA). Symmetric: encrypt == decrypt. Runs
    natively when the provider accepts the key length."""
    if _native_rc4 is not None and len(key) * 8 in _RC4_KEY_BITS:
        return _native_rc4(key, data)
    s = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % klen]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, c in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = c ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def _pad(pwd: bytes) -> bytes:
    return (pwd + PAD)[:32]


def file_key(user_pwd: bytes, o_value: bytes, p: int, id0: bytes,
             r: int, n: int) -> bytes:
    """Algorithm 2: the n-byte file encryption key."""
    # /P is "a 32-bit signed integer, stored little-endian" — but real
    # legacy writers emit it in BOTH numeric forms (-44 and its
    # unsigned alias 4294967252), so mask to the 32-bit pattern rather
    # than trusting the sign (review find: struct.pack('<i', ...)
    # raised raw struct.error on the unsigned form)
    h = hashlib.md5(
        _pad(user_pwd) + o_value[:32] + struct.pack("<I", p & 0xFFFFFFFF)
        + id0).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:n]).digest()
    return h[:n]


def o_value(owner_pwd: bytes, user_pwd: bytes, r: int, n: int) -> bytes:
    """Algorithm 3: the 32-byte /O entry."""
    h = hashlib.md5(_pad(owner_pwd or user_pwd)).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h).digest()
    key = h[:n]
    o = rc4(key, _pad(user_pwd))
    if r >= 3:
        for i in range(1, 20):
            o = rc4(bytes(b ^ i for b in key), o)
    return o


def u_value(key: bytes, id0: bytes, r: int) -> bytes:
    """Algorithm 4 (R2) / Algorithm 5 (R3): the 32-byte /U entry.
    R3 comparisons use only the first 16 bytes; the trailing 16 are
    'arbitrary padding' per spec — zeroed here for determinism."""
    if r == 2:
        return rc4(key, PAD)
    u = rc4(key, hashlib.md5(PAD + id0).digest())
    for i in range(1, 20):
        u = rc4(bytes(b ^ i for b in key), u)
    return u + b"\x00" * 16


def check_user_password(user_pwd: bytes, o: bytes, u: bytes, p: int,
                        id0: bytes, r: int, n: int) -> bytes | None:
    """Derive the file key for ``user_pwd`` and verify it against the
    stored /U (Algorithm 6). Returns the key, or None on mismatch —
    the caller treats None as password-protected and scopes out typed."""
    key = file_key(user_pwd, o, p, id0, r, n)
    expect = u_value(key, id0, r)
    ok = expect[:16] == u[:16] if r >= 3 else expect == u[:32]
    return key if ok else None


def object_key(key: bytes, num: int, gen: int) -> bytes:
    """Algorithm 1 step b-c: the per-object RC4 key."""
    h = hashlib.md5(
        key + num.to_bytes(4, "little")[:3]
        + gen.to_bytes(4, "little")[:2]).digest()
    return h[:min(len(key) + 5, 16)]


# ------------------------- AES-128-CBC (FIPS-197 / SP 800-38A) ------

class AesError(Exception):
    """Malformed AES input (bad key length, payload length or padding)
    — callers map it to the typed PdfUnsupported channel."""


def aes_cbc_encrypt(key: bytes, iv: bytes, data: bytes) -> bytes:
    """AES-128-CBC with PKCS#5 padding, IV prepended — the §7.6.2
    AESV2 wire format."""
    padlen = 16 - len(data) % 16
    data = data + bytes([padlen]) * padlen
    enc = _cipher(key, iv).encryptor()
    return iv + enc.update(data) + enc.finalize()


def aes_cbc_decrypt(key: bytes, data: bytes) -> bytes:
    """Inverse of :func:`aes_cbc_encrypt`: IV is the leading block,
    PKCS#5 padding validated and stripped."""
    if len(data) < 32 or len(data) % 16:
        raise AesError(f"bad AES payload length {len(data)}")
    dec = _cipher(key, data[:16]).decryptor()
    out = dec.update(data[16:]) + dec.finalize()
    padlen = out[-1]
    if not 1 <= padlen <= 16 or out[-padlen:] != bytes([padlen]) * padlen:
        raise AesError("bad AES padding")
    return out[:-padlen]


def object_key_aes(key: bytes, num: int, gen: int) -> bytes:
    """AESV2 per-object key: the RC4 derivation plus the spec's
    constant salt bytes 0x73416C54 ('sAlT', §7.6.2 Algorithm 1b)."""
    h = hashlib.md5(
        key + num.to_bytes(4, "little")[:3]
        + gen.to_bytes(4, "little")[:2] + b"sAlT").digest()
    return h[:min(len(key) + 5, 16)]


# --------------- AES-256 / V5 / AESV3 (ISO 32000-2 §7.6.4, notch 11b)
#
# The SHA-2 security handler: /U and /O are 48 bytes
# (hash[32] || validation_salt[8] || key_salt[8]); the 32-byte FILE key
# is recovered by decrypting /UE (or /OE) with an intermediate key
# hashed from the password and the key salt. Revision 5 (Adobe's
# deprecated original) hashes with one SHA-256; revision 6 (the ISO
# standard) uses the hardened Algorithm 2.B loop below. AESV3 content
# encryption uses the FILE key directly for every object (no per-object
# derivation — §7.6.2 note) in the same IV-prefixed CBC wire format.


def _cbc_nopad(key: bytes, iv: bytes, data: bytes,
               encrypt: bool) -> bytes:
    """Raw AES-CBC, no padding, explicit IV, IV not prepended — the
    form Algorithm 2.B and the /UE //OE wrapping use."""
    if len(data) % 16:
        raise AesError(f"nopad CBC needs 16-aligned input, got {len(data)}")
    c = _cipher(key, iv)
    op = c.encryptor() if encrypt else c.decryptor()
    return op.update(data) + op.finalize()


#: memo for the DELIBERATELY-expensive 2.B hash (a password-hardening
#: KDF: ≈2 ms/call, 8,000+ native AES block encrypts). Keyed on
#: the full crypto input, so it is a plain cache, not an approximation:
#: re-reading the same file (warm bench runs, retries, a corpus that
#: repeats one byte-identical document — the error-taxonomy fixture
#: repeats each of its two V5 classes hundreds of times) hashes once
#: per worker process. UNIQUE files (distinct salts) still pay full
#: price — BASELINE.md/PLANS.md document that per-file cost for the
#: 100-TB reader. Bounded: cleared at 4096 entries (~300 KB).
#:
#: SPARK_GRAFT_KDF_MEMO=0 disables it (read at worker import; local
#: mode inherits the driver env). The SCALING benchmark sets this:
#: the memo is PER-WORKER, so best-of-2 at local[2] re-reads every
#: encrypted file through 2 workers (run 2 fully memo-warm) while
#: local[8] spreads the same files over 8 workers (run 2 ~1/8 warm) —
#: the ratio would compare a warm numerator against a cold
#: denominator (measured: 0.734 best pair, an artifact). Cold
#: per-file crypto is also what a real cluster does on unique files,
#: and it is embarrassingly parallel.
_HASH2B_CACHE: dict = {}
_KDF_MEMO = os.environ.get("SPARK_GRAFT_KDF_MEMO", "1") != "0"


def hash_2b(password: bytes, salt: bytes, udata: bytes, r: int) -> bytes:
    """§7.6.4.3.4 Algorithm 2.B (R6) / the one-SHA-256 R5 form.

    R6: K = SHA-256(pwd||salt||udata); then rounds of
    K1 = (pwd||K||udata)×64, E = AES-128-CBC(K[:16], iv=K[16:32], K1),
    K = SHA-{256,384,512}(E) picked by (first 16 bytes of E as a
    number) mod 3 ≡ sum(E[:16]) mod 3 (256 ≡ 1 mod 3); at least 64
    rounds, stopping once round ≥ 64 and E[-1] ≤ round − 32.
    Returns the first 32 bytes of K."""
    ck = (password, salt, udata, r)
    hit = _HASH2B_CACHE.get(ck) if _KDF_MEMO else None
    if hit is not None:
        return hit
    k = hashlib.sha256(password + salt + udata).digest()
    if r != 5:
        i = 0
        while True:
            k1 = (password + k + udata) * 64
            e = _cbc_nopad(k[:16], k[16:32], k1, encrypt=True)
            mod = sum(e[:16]) % 3
            k = (hashlib.sha256, hashlib.sha384,
                 hashlib.sha512)[mod](e).digest()
            i += 1
            if i >= 64 and e[-1] <= i - 32:
                k = k[:32]
                break
    if _KDF_MEMO:
        if len(_HASH2B_CACHE) >= 4096:
            _HASH2B_CACHE.clear()
        _HASH2B_CACHE[ck] = k
    return k


def v5_values(file_key: bytes, user_pwd: bytes, vsalt: bytes,
              ksalt: bytes, r: int, udata: bytes = b"") -> tuple[bytes, bytes]:
    """Writer half (Algorithms 8/9): the 48-byte /U (or /O when
    ``udata`` carries the /U value) and the 32-byte /UE (or /OE) for
    ``file_key`` under ``user_pwd`` and the two 8-byte salts."""
    uhash = hash_2b(user_pwd, vsalt, udata, r)
    inter = hash_2b(user_pwd, ksalt, udata, r)
    ue = _cbc_nopad(inter, b"\x00" * 16, file_key, encrypt=True)
    return uhash + vsalt + ksalt, ue


def v5_check_user_password(user_pwd: bytes, u: bytes, ue: bytes,
                           r: int) -> bytes | None:
    """Reader half (Algorithms 11/2.A steps a-e for the USER password):
    validate ``user_pwd`` against the stored 48-byte /U; on match,
    decrypt /UE with the key-salt intermediate hash and return the
    32-byte file key. None on mismatch — caller scopes out typed."""
    if len(u) < 48 or len(ue) < 32:
        return None
    vsalt, ksalt = u[32:40], u[40:48]
    if hash_2b(user_pwd, vsalt, b"", r) != u[:32]:
        return None
    inter = hash_2b(user_pwd, ksalt, b"", r)
    return _cbc_nopad(inter, b"\x00" * 16, ue[:32], encrypt=False)


def perms_value(file_key: bytes, p: int, tail: bytes = b"seed") -> bytes:
    """§7.6.4.4.2 Algorithm 10: the 16-byte /Perms block — P (4 LE),
    0xFFFFFFFF, 'T' (EncryptMetadata), 'adb', 4 free bytes — AES-256
    ECB-encrypted (one block) with the file key."""
    blk = (struct.pack("<I", p & 0xFFFFFFFF) + b"\xff\xff\xff\xff"
           + b"T" + b"adb" + hashlib.md5(tail).digest()[:4])
    enc = _cipher(file_key, None).encryptor()
    return enc.update(blk) + enc.finalize()


def perms_check(file_key: bytes, perms: bytes, p: int) -> bool:
    """Algorithm 13: decrypt /Perms (ECB, one block) and verify the
    'adb' magic and the /P pattern."""
    if len(perms) < 16:
        return False
    dec = _cipher(file_key, None).decryptor()
    blk = dec.update(perms[:16]) + dec.finalize()
    return (blk[9:12] == b"adb"
            and blk[:4] == struct.pack("<I", p & 0xFFFFFFFF))


def stream_object_key(key: bytes, kind: str, num: int) -> bytes:
    """The per-stream key for ALL supported schemes: RC4 → Algorithm 1
    md5 derivation; AESV2 (16-byte file key) → the same plus 'sAlT';
    AESV3 (32-byte file key) → the file key itself, unchanged for
    every object."""
    if kind == "aes":
        return key if len(key) == 32 else object_key_aes(key, num, 0)
    return object_key(key, num, 0)
