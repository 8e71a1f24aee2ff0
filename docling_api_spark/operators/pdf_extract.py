"""Scoped PDF → Markdown: pure-Python content-stream text extraction.

The reference supports PDF (``utils.py:28``) via docling's pypdfium2 +
docling-parse backends and torch layout models (``poetry.lock:437,446,
494-501``). None of those exist in this environment, so per SURVEY.md §7.1
M4 the PDF capability is **scoped**: a deterministic reader for the fixture
grammar produced by :mod:`.pdf_write` —

- classic xref-less object scan (``N 0 obj … endobj``), stream-aware:
  payloads with a direct ``/Length`` are skipped by length so binary
  Flate bytes containing ``endobj`` cannot corrupt the scan;
- PDF 1.5 layout (r5): ``/Type /ObjStm`` containers are decompressed
  and their packed dict-only objects joined into the object table —
  the layout real Common-Crawl PDFs near-universally use (binary
  ``/Type /XRef`` streams are tolerated as ordinary stream objects;
  the scan does not need the cross-reference table);
- incremental-update revisions (r5): appended §7.5.6 update sections
  resolve last-definition-wins, so edited/re-saved documents extract
  the post-edit text;
- font encodings (r5): default latin-1; ``/WinAnsiEncoding`` (cp1252,
  the dominant real-PDF single-byte encoding; the five holes fall back
  per byte); encoding dicts with ``/Differences`` glyph-name remaps
  over an AGL subset (unknown glyph names scope out); ``/ToUnicode``
  CMaps for one-byte codes (bfchar incl. multi-char ligature dsts,
  scalar bfrange — the embedded-subset-font pattern where only the
  CMap recovers text; array-form bfrange scopes out); Type0/Identity-H
  composite fonts (r5) — TWO-byte glyph-id codes with no base
  encoding, decoded solely through a 2-byte-codespace ToUnicode CMap
  (the dominant real-PDF text model; Identity-V and other CID
  encodings scope out);
- page tree (r5 notch 6): ``/Type /Catalog`` → ``/Pages`` → ``/Kids``,
  flat or NESTED (§7.7.3.2 — intermediate ``/Pages`` nodes walked
  depth-first in /Kids order; cycle/depth guards scope out typed);
  ``/Resources`` inherits from the nearest ancestor per §7.7.3.4, so
  fonts declared once on the root node reach every leaf;
- content streams: plain, ``/FlateDecode``, ``/ASCIIHexDecode``,
  ``/ASCII85Decode``, ``/LZWDecode`` and ``/RunLengthDecode``
  (notch 9 — the pre-Flate codings of the oldest web-PDF slice;
  LZW EarlyChange=1), or a §7.4 /Filter ARRAY chain of these;
  ``/Contents`` scalar ref
  or ARRAY (§7.8.2 — the array's streams are concatenated with
  whitespace BEFORE tokenization: BT/ET and text state cross stream
  boundaries in real writer output);
- text operators: ``BT ET Tf Td TD TL T* Tm Tj TJ '``; other operators
  (marked content ``BDC``/``EMC`` included) are read and ignored;
- literal ``(…)`` strings with §7.3.4.2 escapes, ``<…>`` hex strings
  and inline ``<<…>>`` dictionaries, scanned one pattern match per
  token (:func:`_tokenize`);
- layout: items carry ``(page, x, y, font_size)``; reading order =
  ``(page, column, -y, x)`` with a two-column split at x = width/2;
  blocks segmented by y-gap > 1.5 × leading;
- headings by Tf font size (the size-driven hierarchy reference-class
  PDFs carry): ≥20 → ``#``, ≥16 → ``##``, ≥13 → ``###``, else paragraph.

- encryption (r5 notches 8/10, r6 notch 11b): standard-security files
  with an EMPTY user password — the permissions-only protection the
  real web-PDF corpus overwhelmingly carries — decrypt via the spec
  math in :mod:`.pdf_crypt`: RC4 (V1/V2, R2/R3), V4 crypt filters with
  /CFM /AESV2 (AES-128-CBC, FIPS-197 implemented from the spec and
  vector-anchored) or /CFM /V2 (RC4-128 behind crypt filters), AND V5
  with /CFM /AESV3 (AES-256 under the ISO 32000-2 §7.6.4 SHA-2
  handler, both the deprecated R5 and the hardened-2.B R6 revisions —
  the CURRENT standard scheme). The key is /U-verified (classic
  Algorithm 6 or the 2.A/2.B hash) before any byte is trusted and a
  present /Perms block must pass its 'adb' seal; /O, /U and /ID parse
  in both hex and escaped-literal wire forms; a real password or a
  non-Standard handler scopes out typed.

Everything outside this grammar (non-AESV3 V5 filters, other stream
filters, image-only pages) raises
:class:`PdfUnsupported` → the caller maps it to the
``pdf_unsupported_feature`` failure-code row — mirroring how the reference
converts docling failures into error rows (``service.py:83-85``).
"""

from __future__ import annotations

import re
import zlib

_OBJ_START_RX = re.compile(rb"(\d+)\s+0\s+obj\b")
_STREAM_RX = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.DOTALL)
_REF_RX = re.compile(rb"/(\w+)\s+(\d+)\s+0\s+R")
_KIDS_RX = re.compile(rb"/Kids\s*\[((?:\s*\d+\s+0\s+R)+)\s*\]")
_NUM_REF_RX = re.compile(rb"(\d+)\s+0\s+R")


class PdfUnsupported(Exception):
    """Input is a real PDF but outside the scoped fixture grammar."""


_OBJSTM_N_RX = re.compile(rb"/N\s+(\d+)")
_OBJSTM_FIRST_RX = re.compile(rb"/First\s+(\d+)")
_OBJSTM_TYPE_RX = re.compile(rb"/Type\s*/ObjStm")


def _scan_objects(data: bytes) -> dict[int, bytes]:
    """Top-level object scan (no ObjStm expansion — see
    :func:`_expand_objstm`; :func:`_page_streams` interposes
    decryption between the two steps when a trailer carries
    ``/Encrypt``).

    Stream-aware: when an object carries a stream with a direct
    ``/Length``, the payload is skipped by length BEFORE the closing
    ``endobj`` is searched — the old non-greedy ``(.*?)endobj`` regex
    truncated any object whose compressed payload happened to contain
    the 6 bytes ``endobj`` (possible for Flate content streams, near
    certain for large ObjStm/XRef streams at corpus scale). A trailing
    object with no ``endobj`` (truncated file) is dropped, matching the
    old regex's behavior under the mutation-fuzz contract."""
    objs: dict[int, bytes] = {}
    pos = 0
    while True:
        m = _OBJ_START_RX.search(data, pos)
        if m is None:
            break
        body_start = m.end()
        em = data.find(b"endobj", body_start)
        sm = _STREAM_START_RX.search(data, body_start)
        if sm is not None and (em < 0 or sm.start() < em):
            lm = _LENGTH_RX.search(data, body_start, sm.start())
            after = sm.end() + (int(lm.group(1)) if lm else 0)
            em = data.find(b"endobj", after)
        if em < 0:
            break
        objs[int(m.group(1))] = data[body_start:em]
        pos = em + 6
    return objs


def _expand_objstm(objs: dict[int, bytes]) -> dict[int, bytes]:
    # PDF 1.5: unpack /Type /ObjStm containers (dict-only objects,
    # Flate-packed; header = N pairs of "objnum offset", bodies start
    # at /First). Top-level definitions win on a clash — in-spec files
    # never clash, and the top-level object is the one a classic
    # reader would have seen. When TWO ObjStm containers define the
    # same object number (an incremental update re-packing a dict
    # object), the LATER container wins (r6, ADVICE r5: setdefault
    # made the FIRST win — stale text, opposite of the reader's
    # last-definition-wins rule; objs preserves scan order = file
    # order for first definitions, so iterating containers in dict
    # order approximates file-position order).
    from_stm: set[int] = set()
    for body in [b for b in objs.values() if _OBJSTM_TYPE_RX.search(b)]:
        nm = _OBJSTM_N_RX.search(body)
        fm = _OBJSTM_FIRST_RX.search(body)
        payload = _stream_of(body)
        if nm is None or fm is None or payload is None:
            raise PdfUnsupported("malformed /ObjStm dict")
        count, first = int(nm.group(1)), int(fm.group(1))
        if first > len(payload):
            raise PdfUnsupported("/First beyond objstm payload")
        try:
            nums = [int(t) for t in payload[:first].split()]
        except ValueError as e:
            raise PdfUnsupported(f"bad objstm header: {e}") from e
        if len(nums) < 2 * count:
            raise PdfUnsupported("short objstm header")
        pairs = [(nums[2 * k], nums[2 * k + 1]) for k in range(count)]
        for k, (onum, ooff) in enumerate(pairs):
            start = first + ooff
            end = first + pairs[k + 1][1] if k + 1 < count else len(payload)
            if not 0 <= start <= end <= len(payload):
                raise PdfUnsupported("objstm offsets out of range")
            if onum in objs and onum not in from_stm:
                continue  # top-level definition wins
            objs[onum] = payload[start:end].strip()
            from_stm.add(onum)
    return objs


_STREAM_START_RX = re.compile(rb"stream\r?\n")
#: direct /Length only. (?![0-9]) pins the number end so backtracking
#: cannot shrink '128' to '12' to dodge the indirect-ref lookahead
#: (r3 review find); any generation number counts as indirect.
_LENGTH_RX = re.compile(rb"/Length\s+(\d+)(?![0-9])(?!\s+\d+\s+R)")


#: /Filter value: a single name or an ARRAY of names applied in order
#: (§7.4 — e.g. [/ASCII85Decode /FlateDecode]: a85 transport coding
#: wrapped around Flate compression, common in PostScript-derived PDFs)
_FILTER_RX = re.compile(rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)")
_FILTER_NAME_RX = re.compile(rb"/([A-Za-z0-9]+)")


#: the LZW table after a clear: the 256 single bytes, then the clear and
#: EOD codes' placeholders
_LZW_BASE = [bytes([i]) for i in range(256)] + [b"", b""]


def _lzw_decode(raw: bytes) -> bytes:
    """§7.4.4 LZWDecode (EarlyChange=1, the spec default and the only
    value legacy writers emit): MSB-first variable-width codes 9→12
    bits, 256=clear, 257=EOD, new entries from 258; the code width
    grows one entry EARLY (when the next assignable code reaches
    2^width - 1). LZW is the pre-Flate compression the oldest slice of
    the real web-PDF corpus carries (PDF 1.0/1.1 writers, TIFF-derived
    tooling). Pure stdlib; any malformed code scopes out typed."""
    out = bytearray()
    entries: list[bytes] = []
    width = 9
    prev: bytes | None = None

    def clear():
        nonlocal entries, width, prev
        entries = _LZW_BASE.copy()
        width = 9
        prev = None

    clear()
    buf = nbits = 0
    for byte in raw:
        buf = (buf << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (buf >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                clear()
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                if code >= len(entries):
                    raise PdfUnsupported("lzw: bad first code")
                seq = entries[code]
            elif code < len(entries):
                seq = entries[code]
                entries.append(prev + seq[:1])
            elif code == len(entries):     # the KwKwK case
                seq = prev + prev[:1]
                entries.append(seq)
            else:
                raise PdfUnsupported("lzw: code beyond table")
            out += seq
            prev = seq
            # EarlyChange=1: widen when the NEXT assignable code hits
            # 2^width - 1 (entry 511 → 10 bits, 1023 → 11, 2047 → 12)
            if len(entries) + 1 >= (1 << width) and width < 12:
                width += 1
    # missing EOD: tolerated (truncation-robust), matching the
    # delimiter-fallback spirit of the stream scanner
    return bytes(out)


def _rle_decode(raw: bytes) -> bytes:
    """§7.4.5 RunLengthDecode: length byte L ≤ 127 → copy the next
    L+1 bytes literally; L ≥ 129 → repeat the next byte 257−L times;
    L = 128 → EOD. Truncation mid-run scopes out typed."""
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        ln = raw[i]
        if ln == 128:
            return bytes(out)
        if ln < 128:
            if i + 1 + ln + 1 > n:
                raise PdfUnsupported("rle: truncated literal run")
            out += raw[i + 1:i + 2 + ln]
            i += 2 + ln
        else:
            if i + 1 >= n:
                raise PdfUnsupported("rle: truncated repeat run")
            out += raw[i + 1:i + 2] * (257 - ln)
            i += 2
    # missing EOD tolerated, matching the other filters' truncation
    # posture
    return bytes(out)


def _apply_filter(name: bytes, raw: bytes) -> bytes:
    if name == b"LZWDecode":
        return _lzw_decode(raw)
    if name == b"RunLengthDecode":
        return _rle_decode(raw)
    if name == b"FlateDecode":
        try:
            return zlib.decompress(raw)
        except zlib.error as e:
            raise PdfUnsupported(f"bad flate stream: {e}") from e
    if name == b"ASCIIHexDecode":
        # §7.4.2: whitespace ignored, '>' is EOD, odd digit count
        # implies a trailing 0
        hx = re.sub(rb"\s", b"", raw)
        end = hx.find(b">")
        if end >= 0:
            hx = hx[:end]
        if len(hx) % 2:
            hx += b"0"
        try:
            return bytes.fromhex(hx.decode("ascii"))
        except (ValueError, UnicodeDecodeError) as e:
            raise PdfUnsupported(f"bad ascii-hex stream: {e}") from e
    if name == b"ASCII85Decode":
        # §7.4.3: whitespace ignored, '~>' is EOD; a leading '<~'
        # (PostScript framing some writers emit) is tolerated
        body = re.sub(rb"\s", b"", raw)
        if body.startswith(b"<~"):
            body = body[2:]
        end = body.find(b"~>")
        if end >= 0:
            body = body[:end]
        import base64
        try:
            return base64.a85decode(body)
        except ValueError as e:
            raise PdfUnsupported(f"bad ascii85 stream: {e}") from e
    raise PdfUnsupported(
        f"unsupported stream filter: {name.decode('latin-1')}")


def _stream_of(obj: bytes) -> bytes | None:
    """Stream payload of an object. Sliced by /Length when the dict
    carries a direct one (the spec's rule — an r3 sweep find: binary
    Flate data ending in 0x0D loses that byte to the ``\\r?\\n
    endstream`` regex, truncating 1-in-~256 compressed streams);
    delimiter-regex fallback only for indirect /Length refs. Filters
    (r5 notch 7): the /Filter entry — a single name or an array
    applied in ORDER per §7.4 — over Flate / ASCIIHex / ASCII85;
    anything else scopes out typed."""
    lm = _LENGTH_RX.search(obj)
    sm = _STREAM_START_RX.search(obj)
    if lm and sm:
        raw = obj[sm.end():sm.end() + int(lm.group(1))]
        dict_part = obj[:sm.start()]
    else:
        m = _STREAM_RX.search(obj)
        if m is None:
            return None
        raw = m.group(1)
        sm2 = _STREAM_START_RX.search(obj)
        dict_part = obj[:sm2.start()] if sm2 else obj
    fm = _FILTER_RX.search(dict_part)
    if fm is not None:
        for name in _FILTER_NAME_RX.findall(fm.group(1)):
            raw = _apply_filter(name, raw)
        return raw
    if b"/Filter" in dict_part:
        raise PdfUnsupported("unsupported stream filter")
    return raw


# ---------------- standard security handler (RC4, notch 8) ----------------

_ENCRYPT_REF_RX = re.compile(rb"/Encrypt\s+(\d+)\s+\d+\s+R")
_ENC_V_RX = re.compile(rb"/V\s+(\d+)")
_ENC_R_RX = re.compile(rb"/R\s+(\d+)")
_ENC_LEN_RX = re.compile(rb"/Length\s+(\d+)")
_ENC_P_RX = re.compile(rb"/P\s+(-?\d+)")
_XREF_TYPE_RX = re.compile(rb"/Type\s*/XRef")


def _hex_string(body: bytes) -> bytes:
    """The bytes of a ``<…>`` hex string's ``body`` (§7.3.4.3):
    whitespace is ignored and an odd digit count implies a trailing 0;
    any other non-hex byte is malformed, typed."""
    hx = re.sub(rb"\s", b"", body)
    if len(hx) % 2:
        hx += b"0"
    try:
        return bytes.fromhex(hx.decode("ascii"))
    except ValueError as e:
        raise PdfUnsupported(f"bad hex string: {e}") from e


def _hex_string_at(data: bytes, i: int) -> tuple[bytes, int]:
    """Decode the hex string opened by the ``<`` at ``data[i]`` →
    ``(value, index after its '>')``."""
    end = data.find(b">", i)
    if end < 0:
        raise PdfUnsupported("unterminated hex string")
    return _hex_string(data[i + 1:end]), end + 1


#: the bytes a literal string's decoder stops at
_LITERAL_SPECIAL_RX = re.compile(rb"[()\\]")
_OCTAL = b"01234567"


def _literal_string(data: bytes, i: int) -> tuple[bytes, int]:
    """Decode the literal ``(…)`` string opened at ``data[i]`` (§7.3.4.2)
    → ``(value, end)``, ``end`` the index after its closing paren, or
    -1 when the data ends first (``value`` is then what was read).

    Balanced parens nest; after a backslash, a Table 3 escape maps to
    its byte, 1-3 octal digits (0-7 only) give one byte, an end of line
    (CR, LF or CR LF) is dropped with the backslash, and any other
    byte is kept while the backslash is dropped. A backslash that ends
    the data is kept."""
    out = bytearray()
    depth, i = 1, i + 1
    n = len(data)
    search = _LITERAL_SPECIAL_RX.search
    while True:
        m = search(data, i)
        if m is None:
            out += data[i:]
            return bytes(out), -1
        j = m.start()
        out += data[i:j]
        c = data[j]
        if c == 0x5C:                       # backslash
            e = data[j + 1:j + 2]
            if not e:
                out.append(c)
                return bytes(out), -1
            if e in _ESCAPES:
                out += _ESCAPES[e]
                i = j + 2
            elif e in _OCTAL:
                k = j + 2
                while k < j + 4 and k < n and data[k] in _OCTAL:
                    k += 1
                out.append(int(data[j + 1:k], 8) & 0xFF)
                i = k
            elif e == b"\r":
                i = j + 3 if data[j + 2:j + 3] == b"\n" else j + 2
            elif e == b"\n":
                i = j + 2
            else:
                out += e
                i = j + 2
        elif c == 0x28:
            depth += 1
            out.append(c)
            i = j + 1
        else:
            depth -= 1
            if depth == 0:
                return bytes(out), j + 1
            out.append(c)
            i = j + 1


def _pdf_string_at(data: bytes, i: int) -> bytes:
    """Decode the PDF string object starting at ``data[i]`` — hex
    ``<…>`` or literal ``(…)`` (:func:`_literal_string`). Encrypt-dict
    /O, /U and trailer /ID values arrive in either wire form in real
    files; the content-stream scanner shares both decoders."""
    if data[i:i + 1] == b"<":
        return _hex_string_at(data, i)[0]
    if data[i:i + 1] != b"(":
        raise PdfUnsupported("expected string value")
    value, end = _literal_string(data, i)
    if end < 0:
        raise PdfUnsupported("unterminated literal string")
    return value


def _dict_string(body: bytes, key: bytes) -> bytes:
    m = re.search(rb"/" + key + rb"\s*", body)
    if m is None:
        raise PdfUnsupported(
            f"encrypt dict missing /{key.decode('latin-1')}")
    return _pdf_string_at(body, m.end())


#: what ``\s`` matches in a bytes pattern
_WHITESPACE = b" \t\n\r\f\v"
_TRAILER_OPEN_RX = re.compile(rb"\s*(?=<<)")


def _trailer_regions(data: bytes, objs: dict[int, bytes]) -> list[bytes]:
    """The byte regions where trailer entries (/Encrypt, /ID) may
    legitimately live: after each ``trailer`` keyword (classic layout;
    2 KiB is generous — both entries sit within the first ~200 bytes)
    and the DICT part of each /Type /XRef stream object (PDF 1.5
    layout). Scanning only these regions — instead of the whole file —
    keeps an unencrypted page whose TEXT mentions '/Encrypt 1 0 R'
    from being rejected (review find: the whole-file scan turned such
    valid documents into error rows)."""
    regions = []
    # the keyword is anchored: line start (or '>>'-end of the previous
    # object) + whitespace + 'trailer' + whitespace + '<<' — every
    # classic writer's shape. A bare 'trailer' inside an uncompressed
    # content stream's TEXT no longer matches (r6, ADVICE r5: the
    # unanchored scan turned a valid page mentioning 'trailer' near
    # '/Encrypt' into an unsupported-layout error row). The literal is
    # found first and its context checked around it: the region starts
    # where ``(?:^|[>\r\n])\s*trailer\s*(?=<<)`` would end a match.
    t = data.find(b"trailer")
    while t >= 0:
        q = t
        while q and data[q - 1] in _WHITESPACE:
            q -= 1
        if (q == 0 or data[q - 1] == 0x3E or b"\n" in data[q:t]
                or b"\r" in data[q:t]):
            m = _TRAILER_OPEN_RX.match(data, t + 7)
            if m is not None:
                regions.append(data[m.end():m.end() + 2048])
        t = data.find(b"trailer", t + 7)
    for body in objs.values():
        sm = _STREAM_START_RX.search(body)
        dict_part = body[:sm.start()] if sm else body
        if _XREF_TYPE_RX.search(dict_part):
            regions.append(dict_part)
    return regions


def _encryption_key(data: bytes, objs: dict[int, bytes]):
    """→ None (unencrypted) or ``(file_key, encrypt_obj_id)``.

    The LAST ``/Encrypt N 0 R`` across the trailer regions is operative
    (trailers come last; incremental updates append newer ones). The
    empty user password is derived per §7.6.3.3 Algorithm 2 and PROVEN
    against the stored /U before any decrypted byte is trusted — a real
    password, a non-Standard handler, or AES (V≥4 / R≥4) scopes out
    typed, never silent mojibake. V1 (40-bit) and V2 (up to 128-bit)
    RC4 both read; /ID parses in both hex and literal wire forms;
    dict-level strings outside streams are not consumed by this grammar
    and pass through undecrypted."""
    from . import pdf_crypt as C

    regions = _trailer_regions(data, objs)
    refs = [m for reg in regions for m in _ENCRYPT_REF_RX.findall(reg)]
    if not refs:
        if any(b"/Encrypt" in reg for reg in regions):
            raise PdfUnsupported("unsupported /Encrypt layout")
        return None
    enc_id = int(refs[-1])
    body = objs.get(enc_id)
    if body is None:
        raise PdfUnsupported("missing encrypt dict")
    if re.search(rb"/Filter\s*/Standard", body) is None:
        raise PdfUnsupported("non-standard security handler")
    v = int(m.group(1)) if (m := _ENC_V_RX.search(body)) else 0
    r = int(m.group(1)) if (m := _ENC_R_RX.search(body)) else 0
    kind = "rc4"
    if v == 5 and r in (5, 6):
        # V5 with /CFM /AESV3 (notch 11b): AES-256 under the SHA-2
        # handler (ISO 32000-2 §7.6.4 — the CURRENT standard scheme;
        # R5 is Adobe's deprecated one-SHA-256 predecessor). The empty
        # user password is validated against the 48-byte /U before the
        # file key is unwrapped from /UE; when /Perms is present its
        # 'adb' seal and /P pattern must verify — a mismatch means a
        # tampered or corrupt file, typed, never silently trusted.
        if re.search(rb"/StmF\s*/StdCF", body) is None:
            raise PdfUnsupported("V5 encryption without /StmF /StdCF")
        if re.search(rb"/CFM\s*/AESV3", body) is None:
            raise PdfUnsupported("unsupported V5 crypt filter method")
        pm = _ENC_P_RX.search(body)
        if pm is None:
            raise PdfUnsupported("encrypt dict missing /P")
        u = _dict_string(body, b"U")
        ue = _dict_string(body, b"UE")
        if len(u) < 48 or len(ue) < 32:
            raise PdfUnsupported("short /U or /UE value")
        key = C.v5_check_user_password(b"", u, ue, r)
        if key is None:
            raise PdfUnsupported("password-protected pdf")
        if re.search(rb"/Perms\s*[<(]", body) is not None:
            perms = _dict_string(body, b"Perms")
            if not C.perms_check(key, perms, int(pm.group(1))):
                raise PdfUnsupported("malformed /Perms block")
        return key, enc_id, "aes"
    if v == 4 and r == 4:
        # V4 crypt filters (notch 10): /StdCF with /CFM /AESV2
        # (AES-128-CBC) or /CFM /V2 (RC4-128 via crypt filters); both
        # stream and string filters must point at /StdCF.
        if re.search(rb"/StmF\s*/StdCF", body) is None:
            raise PdfUnsupported("V4 encryption without /StmF /StdCF")
        if re.search(rb"/CFM\s*/AESV2", body) is not None:
            kind = "aes"
        elif re.search(rb"/CFM\s*/V2", body) is not None:
            kind = "rc4"
        else:
            raise PdfUnsupported("unsupported V4 crypt filter method")
    elif v == 4 or v == 5:
        raise PdfUnsupported(f"unsupported encryption V{v} R{r}")
    elif v not in (1, 2) or r not in (2, 3):
        raise PdfUnsupported(f"unsupported encryption V{v} R{r}")
    # the V4 dict carries TWO /Length entries (file key bits at the
    # top level, crypt-filter key BYTES inside /CF) in writer-dependent
    # order — pick the plausible key-bits value rather than the first
    lens = [int(x) for x in _ENC_LEN_RX.findall(body)]
    cands = [x for x in lens if x % 8 == 0 and 40 <= x <= 128]
    if lens and not cands and v != 4:
        raise PdfUnsupported(f"bad key length {lens[0]}")
    bits = max(cands) if cands else (128 if v == 4 else 40)
    if v == 1:
        # §7.6.1 Table 20: V1 fixes the key at 40 bits — an in-dict
        # /Length is ignored (r6, ADVICE r5: trusting a bogus
        # /Length 128 derived the wrong key and misclassified an
        # extractable file as password-protected)
        bits = 40
    pm = _ENC_P_RX.search(body)
    if pm is None:
        raise PdfUnsupported("encrypt dict missing /P")
    o = _dict_string(body, b"O")
    u = _dict_string(body, b"U")
    if len(o) < 32 or len(u) < 16:
        raise PdfUnsupported("short /O or /U value")
    # /ID: both wire forms occur in real files (review find: hex-only
    # parsing misrejected literal-ID files as password-protected);
    # the LAST occurrence across the trailer regions is operative
    id0 = b""
    for reg in regions:
        for m in re.finditer(rb"/ID\s*\[\s*", reg):
            id0 = _pdf_string_at(reg, m.end())
    key = C.check_user_password(b"", o, u, int(pm.group(1)), id0, r,
                                bits // 8)
    if key is None:
        raise PdfUnsupported("password-protected pdf")
    return key, enc_id, kind


def _decrypt_objects(objs: dict[int, bytes], key: bytes,
                     enc_id: int, kind: str = "rc4") -> dict[int, bytes]:
    """Decrypt every top-level stream payload in place (per-object
    keys, §7.6.2 Algorithm 1) — RC4 (length-preserving) or AESV2
    (AES-128-CBC: leading IV + PKCS#5 padding strip SHRINK the
    payload, so the dict's direct /Length is patched to match). Runs
    BEFORE ObjStm expansion (the container payload is what is
    encrypted, its packed objects are not separately encrypted). The
    Encrypt dict itself and /Type /XRef streams are exempt per
    §7.5.8.2."""
    from . import pdf_crypt as C

    out: dict[int, bytes] = {}
    for num, body in objs.items():
        sm = _STREAM_START_RX.search(body)
        if num == enc_id or sm is None or _XREF_TYPE_RX.search(
                body[:sm.start()]):
            out[num] = body
            continue
        lm = _LENGTH_RX.search(body, 0, sm.start())
        if lm is not None:
            start = sm.end()
            end = start + int(lm.group(1))
        else:
            m = _STREAM_RX.search(body)
            if m is None:
                out[num] = body
                continue
            start, end = m.start(1), m.end(1)
        if kind == "aes":
            # AESV2 (16-byte key) derives per-object keys; AESV3
            # (32-byte key, notch 11b) uses the file key for every
            # object — stream_object_key picks by key length
            try:
                dec = C.aes_cbc_decrypt(C.stream_object_key(key, "aes", num),
                                        body[start:end])
            except C.AesError as e:
                raise PdfUnsupported(f"aes stream: {e}") from e
            if lm is not None:
                # patch exactly the direct /Length the scan used — the
                # plaintext is shorter than the stored IV+padded form
                head = (body[:lm.start()] + b"/Length %d" % len(dec)
                        + body[lm.end():start])
            else:
                head = body[:start]
            out[num] = head + dec + body[end:]
        else:
            dec = C.rc4(C.object_key(key, num, 0), body[start:end])
            out[num] = body[:start] + dec + body[end:]
    return out


_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


#: bytes that end a name or an operator (§7.2.2 whitespace as this
#: grammar reads it, plus the delimiters)
_DELIMS = rb" \t\r\n()<>\[\]{}/%"

#: one content-stream token per match, after any whitespace and stray
#: closing delimiters (these start no token). Plain literal strings
#: (no backslash, no nested parens) and plain hex strings are matched
#: whole; ``slow`` hands a literal string with escapes or nested
#: parens, a ``<<`` dictionary, a hex string with whitespace or junk,
#: and every array to :func:`_tokenize`'s scalar branches.
_TOKEN_RX = re.compile(
    rb"[ \t\r\n)>\]{}%]*(?:"
    rb"(?P<num>[-+.0-9]+)"
    rb"|(?P<op>[^-+.0-9" + _DELIMS + rb"][^" + _DELIMS + rb"]*)"
    rb"|/(?P<name>[^" + _DELIMS + rb"]*)"
    rb"|\((?P<str>[^()\\]*)\)"
    rb"|<(?P<hex>[0-9A-Fa-f]*)>"
    rb"|(?P<slow>[(<\[]))")
_ARRAY_SPECIAL_RX = re.compile(rb"[(\]]")


def _array_end(stream: bytes, i: int) -> int:
    """Index of the ``]`` closing the array opened at ``stream[i]``:
    the first one outside a literal string, or ``len(stream)``."""
    search = _ARRAY_SPECIAL_RX.search
    j = i + 1
    while True:
        m = search(stream, j)
        if m is None:
            return len(stream)
        if stream[m.start()] == 0x5D:
            return m.start()
        j = _literal_string(stream, m.start())[1]
        if j < 0:
            return len(stream)


def _dict_end(stream: bytes, i: int) -> int:
    """Index after the ``>>`` closing the ``<<`` dictionary opened at
    ``stream[i]`` (marked-content properties, §14.6.2). Dictionaries
    nest; literal and hex strings inside are skipped whole, so a ``>``
    in them closes nothing."""
    depth, n = 0, len(stream)
    while i < n:
        if stream.startswith(b"<<", i):
            depth += 1
            i += 2
        elif stream.startswith(b">>", i):
            depth -= 1
            i += 2
            if depth == 0:
                return i
        elif stream[i] == 0x28:
            i = _literal_string(stream, i)[1]
            if i < 0:
                break
        elif stream[i] == 0x3C:
            i = stream.find(b">", i)
            if i < 0:
                break
            i += 1
        else:
            i += 1
    raise PdfUnsupported("unterminated dictionary")


def _tokenize(stream: bytes) -> list[tuple]:
    """Content stream → ``[('str', bytes) | ('num', float) | ('op',
    bytes) | ('name', bytes) | ('arr', list) | ('dict', bytes)]``.

    Each token is one :data:`_TOKEN_RX` match. The scalar branches read
    what the pattern leaves to them: a literal string with escapes or
    nested parens (:func:`_literal_string`; unterminated, it runs to the
    end of the stream), a balanced ``<<…>>`` dictionary kept as raw
    bytes, a hex string with whitespace or a non-hex byte
    (:func:`_hex_string_at`), and an array. An array ends at its first
    ``]`` outside a literal string, or at the end of the stream; its
    inside is tokenized on its own, so nested arrays do not nest. A
    number run that is not a number is skipped."""
    toks: list[tuple] = []
    append = toks.append
    match = _TOKEN_RX.match
    pos = 0
    while True:
        m = match(stream, pos)
        if m is None:
            return toks
        kind = m.lastgroup
        pos = m.end()
        if kind == "op" or kind == "name" or kind == "str":
            append((kind, m.group(kind)))
        elif kind == "num":
            try:
                append(("num", float(m.group(kind))))
            except ValueError:
                pass    # corrupt number ('+', '.', '1.2.3'): junk
        elif kind == "hex":
            append(("str", _hex_string(m.group(kind))))
        else:
            i = pos - 1
            c = stream[i]
            if c == 0x28:                       # '('
                value, pos = _literal_string(stream, i)
                if pos < 0:
                    pos = len(stream)
                append(("str", value))
            elif c == 0x5B:                     # '['
                j = _array_end(stream, i)
                append(("arr", _tokenize(stream[i + 1:j])))
                pos = j + 1
            elif stream.startswith(b"<<", i):
                pos = _dict_end(stream, i)
                append(("dict", stream[i:pos]))
            else:                               # '<' hex string
                value, pos = _hex_string_at(stream, i)
                append(("str", value))


_MAX_FORM_DEPTH = 8


def _extract_items(stream: bytes, page_no: int,
                   decode=None, xobjects=None,
                   form_depth: int = 0) -> list[tuple]:
    """→ [(page, x, y, size, payload)] where payload is text or a
    :class:`_PdfImage`. Walks the :func:`_tokenize` list once: operand
    tokens stack up, each operator reads the stack and clears it.
    ``decode`` maps string-operand bytes to text
    per the page font's /Encoding (default latin-1); ``xobjects``
    resolves ``Do`` operand names to images (r6 notch 11a). The
    graphics state tracked for images is the q/Q-scoped ``cm``
    translate+scale — the raster-painting idiom ``q w 0 0 h x y cm
    /Im1 Do Q``; full CTM composition is out of grammar."""
    if decode is None:
        decode = _decode_latin1
    items: list[tuple] = []
    stack: list = []
    x = y = 0.0
    lx = ly = 0.0  # line start (Td/TD are relative to line start)
    size = 12.0
    leading = 12.0
    in_text = False
    ctm = (1.0, 1.0, 0.0, 0.0)       # (a, d, e, f) of the last cm
    gs_stack: list[tuple] = []
    for tok in _tokenize(stream):
        if tok[0] != "op":
            stack.append(tok)
            continue
        op = tok[1]
        if op == b"q":
            gs_stack.append(ctm)
            if len(gs_stack) > 256:
                raise PdfUnsupported("graphics state stack too deep")
        elif op == b"Q":
            if gs_stack:
                ctm = gs_stack.pop()
        elif op == b"cm":
            if len(stack) >= 6:
                nums = [s[1] for s in stack[-6:] if s[0] == "num"]
                if len(nums) == 6:
                    ctm = (nums[0], nums[3], nums[4], nums[5])
        elif op == b"Do":
            if xobjects is not None and stack and stack[-1][0] == "name":
                xo = xobjects(stack[-1][1])
                if isinstance(xo, _PdfImage):
                    a, d, e, f = ctm
                    # top of the painted rect: cm translate is the
                    # BOTTOM-left, height = the d scale
                    items.append((page_no, e, f + d, 0.0, xo))
                elif isinstance(xo, _PdfForm):
                    # r6: recurse into the form's content stream and
                    # offset its items by the paint translate — the
                    # letterhead pattern; a reader that ignores Form
                    # XObjects silently LOSES this text
                    if form_depth >= _MAX_FORM_DEPTH:
                        raise PdfUnsupported("form nesting too deep")
                    a, d, e, f = ctm
                    for (pg, ix, iy, isz, payload) in _extract_items(
                            xo.stream, page_no, decode, xobjects,
                            form_depth + 1):
                        items.append((pg, ix + e, iy + f, isz, payload))
        elif op == b"BT":
            in_text = True
            x = y = lx = ly = 0.0
        elif op == b"ET":
            in_text = False
        elif op == b"Tf":
            if stack and stack[-1][0] == "num":
                size = stack[-1][1]
        elif op == b"TL":
            if stack and stack[-1][0] == "num":
                leading = stack[-1][1]
        elif op in (b"Td", b"TD"):
            if len(stack) >= 2 and stack[-1][0] == "num" and stack[-2][0] == "num":
                tx, ty = stack[-2][1], stack[-1][1]
                lx += tx
                ly += ty
                x, y = lx, ly
                if op == b"TD":
                    leading = -ty if ty else leading
        elif op == b"Tm":
            if len(stack) >= 6:
                nums = [s[1] for s in stack[-6:] if s[0] == "num"]
                if len(nums) == 6:
                    lx, ly = nums[4], nums[5]
                    x, y = lx, ly
        elif op == b"T*":
            ly -= leading
            x, y = lx, ly
        elif op == b"Tj" or op == b"'":
            if op == b"'":
                ly -= leading
                x, y = lx, ly
            if stack and stack[-1][0] == "str":
                txt = decode(stack[-1][1])
                if in_text and txt:
                    items.append((page_no, x, y, size, txt))
        elif op == b"TJ":
            if stack and stack[-1][0] == "arr":
                parts = []
                for k, v in stack[-1][1]:
                    if k == "str":
                        parts.append(decode(v))
                    elif k == "num" and v <= -180:
                        parts.append(" ")  # large negative kern ≈ word gap
                txt = "".join(parts)
                if in_text and txt:
                    items.append((page_no, x, y, size, txt))
        stack.clear()
    return items


#: AGL (Adobe Glyph List) subset — the glyph names /Differences arrays
#: actually use for Western-European text; outside this subset the
#: reader scopes out via PdfUnsupported (the honest .notdef).
_AGL = {
    "Euro": "€", "oe": "œ", "OE": "Œ",
    "quotedblleft": "“", "quotedblright": "”",
    "quoteleft": "‘", "quoteright": "’",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "endash": "–", "emdash": "—", "bullet": "•",
    "ellipsis": "…", "dagger": "†", "daggerdbl": "‡",
    "perthousand": "‰", "trademark": "™",
    "florin": "ƒ", "circumflex": "ˆ", "tilde": "˜",
    "scaron": "š", "Scaron": "Š", "zcaron": "ž",
    "Zcaron": "Ž", "ydieresis": "ÿ", "Ydieresis": "Ÿ",
    "eacute": "é", "egrave": "è", "ecircumflex": "ê",
    "edieresis": "ë", "agrave": "à", "acircumflex": "â",
    "adieresis": "ä", "aring": "å", "Aring": "Å",
    "ae": "æ", "AE": "Æ", "ccedilla": "ç",
    "Ccedilla": "Ç", "udieresis": "ü", "ugrave": "ù",
    "ucircumflex": "û", "odieresis": "ö",
    "ocircumflex": "ô", "oslash": "ø", "Oslash": "Ø",
    "ntilde": "ñ", "Ntilde": "Ñ", "idieresis": "ï",
    "icircumflex": "î", "germandbls": "ß",
    "thorn": "þ", "Thorn": "Þ", "eth": "ð",
    "Eth": "Ð", "mu": "µ", "degree": "°",
    "section": "§", "copyright": "©", "registered": "®",
    "sterling": "£", "yen": "¥", "cent": "¢",
    "guillemotleft": "«", "guillemotright": "»",
    "questiondown": "¿", "exclamdown": "¡",
}

_DIFF_RX = re.compile(rb"/Differences\s*\[(.*?)\]", re.DOTALL)
_DIFF_TOK_RX = re.compile(rb"(\d+)|/([A-Za-z0-9.]+)")
_ENC_REF_RX = re.compile(rb"/Encoding\s+(\d+)\s+0\s+R")

#: the five cp1252 holes — WinAnsi leaves them undefined; fall back to
#: the latin-1 codepoint rather than crash (real readers show .notdef)
_CP1252_HOLES = frozenset((0x81, 0x8D, 0x8F, 0x90, 0x9D))


def _decode_latin1(b: bytes) -> str:
    return b.decode("latin-1")


def _decode_winansi(b: bytes) -> str:
    try:
        return b.decode("cp1252")
    except UnicodeDecodeError:
        return "".join(
            bytes([c]).decode("latin-1" if c in _CP1252_HOLES else "cp1252")
            for c in b)


_TOUNICODE_RX = re.compile(rb"/ToUnicode\s+(\d+)\s+0\s+R")
_TYPE0_RX = re.compile(rb"/Subtype\s*/Type0\b")
_BFCHAR_RX = re.compile(rb"beginbfchar(.*?)endbfchar", re.DOTALL)
_BFRANGE_RX = re.compile(rb"beginbfrange(.*?)endbfrange", re.DOTALL)
_HEXGRP_RX = re.compile(rb"<([0-9A-Fa-f]+)>")
#: bfrange row tokens: hex strings plus the array delimiters
_CMAP_TOK_RX = re.compile(rb"<[0-9A-Fa-f\s]*>|\[|\]")


def _parse_cmap(data: bytes, two_byte: bool = False) -> dict[int, str]:
    """ToUnicode CMap → {code: text} (r5). Supports the two §9.10.3
    mapping operators: ``bfchar`` pairs (dst = UTF-16BE hex, possibly
    multi-char — ligature expansion) and ``bfrange`` triples with a
    scalar dst start (the last-byte increment rule). ``two_byte``
    raises the code bound to 0xFFFF for Type0/Identity-H fonts (r5 —
    where the 2-byte code IS the glyph id and only the CMap recovers
    text). bfrange reads BOTH §9.10.3 forms: scalar (last byte
    increments from the dst start) and ARRAY (one UTF-16BE string per
    code, multi-char dsts allowed — notch 9)."""
    max_code = 0xFFFF if two_byte else 0xFF
    table: dict[int, str] = {}
    for m in _BFCHAR_RX.finditer(data):
        hx = _HEXGRP_RX.findall(m.group(1))
        if len(hx) % 2:
            raise PdfUnsupported("odd bfchar entry count")
        for src, dst in zip(hx[0::2], hx[1::2]):
            code = int(src, 16)
            if code > max_code:
                raise PdfUnsupported("ToUnicode code beyond codespace")
            if len(dst) % 4:
                raise PdfUnsupported("bfchar dst not UTF-16BE")
            try:
                table[code] = bytes.fromhex(
                    dst.decode("ascii")).decode("utf-16-be")
            except UnicodeDecodeError as e:
                raise PdfUnsupported(f"bad bfchar dst: {e}") from e
    for m in _BFRANGE_RX.finditer(data):
        toks = [t.group(0) for t in _CMAP_TOK_RX.finditer(m.group(1))]
        i, n = 0, len(toks)
        while i < n:
            if i + 2 >= n or toks[i][:1] != b"<" or toks[i + 1][:1] != b"<":
                raise PdfUnsupported("bad bfrange row")
            lo = re.sub(rb"\s", b"", toks[i][1:-1])
            hi = re.sub(rb"\s", b"", toks[i + 1][1:-1])
            if not lo or not hi:
                # '<>' tokenizes as an empty hex group (review find: the
                # old int() crashed raw here instead of scoping typed)
                raise PdfUnsupported("empty bfrange hex token")
            lo_i, hi_i = int(lo, 16), int(hi, 16)
            if hi_i > max_code or lo_i > hi_i:
                raise PdfUnsupported("bad bfrange bounds")
            if toks[i + 2] == b"[":
                # array form (§9.10.3): one UTF-16BE string per code —
                # the form subset-font generators emit when consecutive
                # codes map to non-consecutive (or multi-char) text
                j = i + 3
                dsts: list[str] = []
                while j < n and toks[j] != b"]":
                    if toks[j][:1] != b"<":
                        raise PdfUnsupported("bad bfrange array entry")
                    dh = re.sub(rb"\s", b"", toks[j][1:-1])
                    if not dh or len(dh) % 4:
                        raise PdfUnsupported("bfrange dst not UTF-16BE")
                    try:
                        dsts.append(bytes.fromhex(
                            dh.decode("ascii")).decode("utf-16-be"))
                    except UnicodeDecodeError as e:
                        raise PdfUnsupported(
                            f"bad bfrange dst: {e}") from e
                    j += 1
                if j >= n:
                    raise PdfUnsupported("unterminated bfrange array")
                if len(dsts) != hi_i - lo_i + 1:
                    raise PdfUnsupported("bfrange array length mismatch")
                for k, s in enumerate(dsts):
                    table[lo_i + k] = s
                i = j + 1
                continue
            # scalar form: dst start value, last byte increments
            dst = re.sub(rb"\s", b"", toks[i + 2][1:-1])
            if toks[i + 2][:1] != b"<" or len(dst) != 4:
                raise PdfUnsupported("bad bfrange bounds")
            start = int(dst, 16)
            if start + (hi_i - lo_i) > 0xFFFF:
                raise PdfUnsupported("bfrange beyond BMP")
            for k in range(hi_i - lo_i + 1):
                table[lo_i + k] = chr(start + k)
            i += 3
    return table


def _font_decoder(objs: dict[int, bytes], page_body: bytes):
    """Per-page string decoder from the page's ``/F1`` font (r5):
    a ``/ToUnicode`` CMap, when present, is authoritative for text
    extraction (§9.10.2 — the embedded-subset-font pattern where byte
    codes are arbitrary and only the CMap recovers text); unmapped
    codes fall back to the font's ``/Encoding`` chain: absent →
    latin-1 (the fixture default and a fair StandardEncoding stand-in
    for the scoped grammar); ``/WinAnsiEncoding`` → cp1252; an
    encoding DICT (direct or indirect) with ``/Differences`` → the
    base map overridden at the listed codes by AGL glyph values —
    consecutive names increment the code per §9.6.6.3. Glyph names
    outside the AGL subset scope out via PdfUnsupported (the honest
    .notdef)."""
    font_ref = None
    for name, ref in _REF_RX.findall(page_body):
        if name == b"F1":
            font_ref = int(ref)
    fobj = objs.get(font_ref, b"") if font_ref is not None else b""
    if _TYPE0_RX.search(fobj):
        # Type0 composite font (r5): 2-byte codes ARE glyph ids
        # (Identity-H); there is no base single-byte encoding to fall
        # back to — ToUnicode is the only route to text, exactly as in
        # real generator-produced PDFs
        if b"/Identity-H" not in fobj:
            raise PdfUnsupported("non-Identity-H CID encoding")
        tm0 = _TOUNICODE_RX.search(fobj)
        if tm0 is None:
            raise PdfUnsupported("Type0 font without ToUnicode")
        payload = _stream_of(objs.get(int(tm0.group(1)), b""))
        if payload is None:
            raise PdfUnsupported("missing ToUnicode stream")
        cmap2 = _parse_cmap(payload, two_byte=True)

        def dec_cid(b: bytes, _t=cmap2) -> str:
            if len(b) % 2:
                raise PdfUnsupported("odd-length CID string")
            out = []
            for i in range(0, len(b), 2):
                code = (b[i] << 8) | b[i + 1]
                if code not in _t:
                    raise PdfUnsupported(
                        f"CID {code:#06x} not in ToUnicode")
                out.append(_t[code])
            return "".join(out)
        return dec_cid
    tm = _TOUNICODE_RX.search(fobj)
    if tm:
        payload = _stream_of(objs.get(int(tm.group(1)), b""))
        if payload is None:
            raise PdfUnsupported("missing ToUnicode stream")
        cmap = _parse_cmap(payload)
        base = _encoding_decoder(objs, fobj)

        def dec(b: bytes, _t=cmap, _base=base) -> str:
            return "".join(
                _t[c] if c in _t else _base(bytes([c])) for c in b)
        return dec
    return _encoding_decoder(objs, fobj)


def _encoding_decoder(objs: dict[int, bytes], fobj: bytes):
    """The /Encoding-chain part of :func:`_font_decoder` (no CMap)."""
    enc = fobj
    m = _ENC_REF_RX.search(fobj)
    if m:
        enc = objs.get(int(m.group(1)), b"")
    if b"/Differences" in enc:
        base = (_decode_winansi if b"/WinAnsiEncoding" in enc
                else _decode_latin1)
        dm = _DIFF_RX.search(enc)
        if dm is None:
            raise PdfUnsupported("malformed /Differences array")
        table: dict[int, str] = {}
        code = None
        for num, glyph in _DIFF_TOK_RX.findall(dm.group(1)):
            if num:
                code = int(num)
                continue
            if code is None or code > 255:
                raise PdfUnsupported("malformed /Differences code")
            gname = glyph.decode("latin-1")
            if gname not in _AGL:
                raise PdfUnsupported(
                    f"glyph outside AGL subset: {gname}")
            table[code] = _AGL[gname]
            code += 1

        def dec(b: bytes, _base=base, _t=table) -> str:
            return "".join(
                _t[c] if c in _t else _base(bytes([c])) for c in b)
        return dec
    if b"/WinAnsiEncoding" in enc:
        return _decode_winansi
    return _decode_latin1


class _PdfImage:
    """A decoded image XObject riding the item stream (r6 notch 11a):
    reading-order sorting interleaves it with text, the block pass
    turns it into an ``<!-- image -->`` placeholder + manifest entry."""

    __slots__ = ("width", "height", "pixels")

    def __init__(self, width: int, height: int, pixels: bytes):
        self.width = width
        self.height = height
        self.pixels = pixels


_XOBJ_DICT_RX = re.compile(rb"/XObject\s*<<(.*?)>>", re.DOTALL)
_IMG_W_RX = re.compile(rb"/Width\s+(\d+)")
_IMG_H_RX = re.compile(rb"/Height\s+(\d+)")
_IMG_BPC_RX = re.compile(rb"/BitsPerComponent\s+(\d+)")


def _decode_image_xobject(body: bytes) -> _PdfImage:
    """/Subtype /Image XObject → grayscale raster. Scoped grammar:
    8-bit /DeviceGray, /FlateDecode (raw raster, no predictor) or
    /DCTDecode (baseline grayscale JPEG via :mod:`.jpeg_codec`) or no
    filter — the encodings carrying essentially all real web-PDF
    grayscale rasters. Color spaces, predictors, CCITT/JBIG2/JPX and
    image masks scope out typed — the caller surfaces
    ``pdf_unsupported_feature``, never a silently dropped picture."""
    sm = _STREAM_START_RX.search(body)
    head = body[:sm.start()] if sm else body
    wm, hm = _IMG_W_RX.search(head), _IMG_H_RX.search(head)
    if wm is None or hm is None:
        raise PdfUnsupported("image xobject missing /Width or /Height")
    w, h = int(wm.group(1)), int(hm.group(1))
    bm = _IMG_BPC_RX.search(head)
    if bm is not None and int(bm.group(1)) != 8:
        raise PdfUnsupported(f"image bpc {bm.group(1).decode()} "
                             "unsupported")
    if b"/DeviceGray" not in head:
        raise PdfUnsupported("non-grayscale image xobject")
    if b"/SMask" in head or b"/ImageMask" in head:
        raise PdfUnsupported("image mask unsupported")
    # /DecodeParms (r6): PNG predictors (10-15) and TIFF horizontal
    # differencing (2) over 8-bit gray — the coding real PDF writers
    # near-universally apply under /FlateDecode. §7.4.4.4 delegates
    # the PNG row filters to the PNG spec; /Predictor 15 just means
    # "per-row adaptive", which the row-tagged unfilter handles by
    # construction. Other Colors/BPC scope out typed.
    predictor = 1
    if b"/DecodeParms" in head:
        pm = re.search(rb"/Predictor\s+(\d+)", head)
        predictor = int(pm.group(1)) if pm else 1
        cm_ = re.search(rb"/Colors\s+(\d+)", head)
        bm2 = re.search(rb"/BitsPerComponent\s+(\d+)",
                        head[head.index(b"/DecodeParms"):])
        if (cm_ is not None and int(cm_.group(1)) != 1) or (
                bm2 is not None and int(bm2.group(1)) != 8):
            raise PdfUnsupported("predictor colors/bpc unsupported")
        colm = re.search(rb"/Columns\s+(\d+)", head)
        if colm is not None and int(colm.group(1)) != w:
            raise PdfUnsupported("predictor /Columns disagrees with "
                                 "/Width")
        if predictor not in (1, 2) and not 10 <= predictor <= 15:
            raise PdfUnsupported(f"predictor {predictor} unsupported")
    fm = _FILTER_RX.search(head)
    filt = fm.group(1) if fm is not None else b""
    if b"DCTDecode" in filt:
        # _stream_of would try to APPLY the filter chain — DCT payload
        # must be read raw by /Length and decoded as JPEG
        lm = _LENGTH_RX.search(head)
        if sm is None or lm is None:
            raise PdfUnsupported("malformed image stream")
        raw = body[sm.end():sm.end() + int(lm.group(1))]
        from .jpeg_codec import decode_gray_jpeg
        try:
            jw, jh, px = decode_gray_jpeg(raw)
        except ValueError as e:
            raise PdfUnsupported(f"dct image: {e}") from e
        if (jw, jh) != (w, h):
            raise PdfUnsupported("dct dimensions disagree with dict")
        return _PdfImage(w, h, px)
    px = _stream_of(body)
    if px is None:
        raise PdfUnsupported("image xobject without stream")
    if predictor >= 10:
        from .png_write import unfilter_rows
        try:
            px = unfilter_rows(px[:(w + 1) * h], w)
        except ValueError as e:
            raise PdfUnsupported(f"image predictor: {e}") from e
    elif predictor == 2:
        out = bytearray(px[:w * h])
        for row in range(h):
            base = row * w
            for i in range(1, w):
                out[base + i] = (out[base + i] + out[base + i - 1]) & 0xFF
        px = bytes(out)
    if len(px) < w * h:
        raise PdfUnsupported("image raster shorter than dimensions")
    return _PdfImage(w, h, px[:w * h])


class _PdfForm:
    """A /Subtype /Form XObject (r6): a reusable content stream painted
    by ``Do`` — the letterhead/generated-content pattern. The reader
    recursively extracts its text/images and offsets them by the
    painting ``cm`` translate (the scoped grammar paints forms with
    translate-only matrices; a scaling paint would distort the y-gap
    block segmentation and scopes out via the grammar's own shape)."""

    __slots__ = ("stream",)

    def __init__(self, stream: bytes):
        self.stream = stream


def _xobject_resolver(objs: dict[int, bytes], page_body: bytes):
    """→ callable(name bytes) → _PdfImage | _PdfForm | None (None =
    the name is not an XObject reference on this page). Decoding is
    lazy and memoized per object id — a logo painted on every page
    decodes once."""
    refs: dict[bytes, int] = {}
    for m in _XOBJ_DICT_RX.finditer(page_body):
        for name, ref in _REF_RX.findall(m.group(1)):
            refs[name] = int(ref)
    cache: dict[int, object] = {}

    def resolve(name: bytes):
        oid = refs.get(name)
        if oid is None:
            return None
        if oid not in cache:
            body = objs.get(oid, b"")
            if b"/Subtype" in body and b"/Image" in body:
                cache[oid] = _decode_image_xobject(body)
            elif b"/Subtype" in body and b"/Form" in body:
                s = _stream_of(body)
                if s is None:
                    raise PdfUnsupported("form xobject without stream")
                sm = _STREAM_START_RX.search(body)
                head = body[:sm.start()] if sm else body
                # a non-identity /Matrix composes with the paint cm —
                # out of the translate-only grammar, typed
                mm = re.search(rb"/Matrix\s*\[\s*([-\d.]+)\s+([-\d.]+)"
                               rb"\s+([-\d.]+)\s+([-\d.]+)", head)
                if mm is not None and (mm.group(1) != b"1"
                                       or mm.group(2) != b"0"
                                       or mm.group(3) != b"0"
                                       or mm.group(4) != b"1"):
                    raise PdfUnsupported("form /Matrix unsupported")
                cache[oid] = _PdfForm(s)
            else:
                return None
        return cache[oid]

    return resolve


_CONTENTS_ARR_RX = re.compile(
    rb"/Contents\s*\[((?:\s*\d+\s+0\s+R)+)\s*\]")
#: \b keeps 'Pages' from matching: a real leaf is /Type /Page
_TYPE_PAGES_RX = re.compile(rb"/Type\s*/Pages\b")
_MAX_TREE_DEPTH = 64


def _walk_page_tree(objs: dict[int, bytes], node_id: int,
                    visited: set[int], inherited: bytes,
                    depth: int = 0) -> list[tuple[int, bytes]]:
    """Depth-first §7.7.3.2 page-tree walk → ``[(leaf_id,
    effective_body)]`` in document order. Intermediate ``/Pages``
    nodes (anything carrying /Kids) recurse; inheritable attributes
    (§7.7.3.4 — here /Resources, the one the scoped grammar needs for
    fonts) flow down: a leaf without its own /Resources gets the
    nearest ancestor's body appended so the /F1 lookup sees the
    inherited font. Cycles and runaway depth scope out typed."""
    if depth > _MAX_TREE_DEPTH:
        raise PdfUnsupported("page tree too deep")
    if node_id in visited:
        raise PdfUnsupported("page tree cycle")
    visited.add(node_id)
    body = objs.get(node_id, b"")
    km = _KIDS_RX.search(body)
    if km is not None:
        if b"/Resources" in body:
            inherited = body
        leaves: list[tuple[int, bytes]] = []
        for r in _NUM_REF_RX.findall(km.group(1)):
            leaves.extend(_walk_page_tree(
                objs, int(r), visited, inherited, depth + 1))
        return leaves
    if b"/Resources" not in body and inherited:
        body = body + b" " + inherited
    return [(node_id, body)]


def _page_streams(data: bytes) -> list[tuple[bytes, object]]:
    """→ [(content_stream_bytes, string_decoder)] in page-tree order.

    Decryption (notch 8) interposes between the top-level object scan
    and ObjStm expansion: RC4 standard-security files with an EMPTY
    user password — the permissions-only protection the legacy web-PDF
    corpus overwhelmingly carries — decrypt and extract; a real
    password or AES scopes out typed via :func:`_encryption_key`."""
    objs = _scan_objects(data)
    enc = _encryption_key(data, objs)
    if enc is not None:
        objs = _decrypt_objects(objs, *enc)
    objs = _expand_objstm(objs)
    root_id = None
    for body in objs.values():
        if b"/Type" in body and b"/Catalog" in body:
            for name, ref in _REF_RX.findall(body):
                if name == b"Pages":
                    root_id = int(ref)
            break
    leaves: list[tuple[int, bytes]] = []
    if root_id is not None and root_id in objs:
        leaves = _walk_page_tree(objs, root_id, set(), b"")
        # a /Kids-less /Pages node comes back as a "leaf" — drop it
        # (checked against the ORIGINAL body: inheritance may have
        # appended an ancestor /Pages dict to real leaves)
        leaves = [(pid, body) for pid, body in leaves
                  if not _TYPE_PAGES_RX.search(objs.get(pid, b""))]
    if not leaves:  # fallback: any /Type /Page objects in numeric order
        leaves = [(k, objs[k]) for k in sorted(objs)
                  if b"/Type" in objs[k] and b"/Page" in objs[k]
                  and b"/Pages" not in objs[k]]
    if not leaves:
        raise PdfUnsupported("no pages found")
    streams: list[tuple[bytes, object, object]] = []
    for pid, body in leaves:
        dec = _font_decoder(objs, body)
        xres = _xobject_resolver(objs, body)
        am = _CONTENTS_ARR_RX.search(body)
        if am is not None:
            # §7.8.2: the page content is the CONCATENATION of the
            # array's streams with whitespace between — BT/ET and the
            # text state routinely cross the stream boundary in real
            # writer output, so the pieces must be joined BEFORE
            # tokenization, never tokenized stream-by-stream
            parts = [_stream_of(objs.get(int(r), b"")) or b""
                     for r in _NUM_REF_RX.findall(am.group(1))]
            streams.append((b"\n".join(parts), dec, xres))
            continue
        cid = None
        for name, ref in _REF_RX.findall(body):
            if name == b"Contents":
                cid = int(ref)
        if cid is None:
            streams.append((b"", dec, xres))
            continue
        s = _stream_of(objs.get(cid, b""))
        streams.append((s or b"", dec, xres))
    return streams


PAGE_WIDTH = 612.0   # US Letter; fixture writer uses the same MediaBox
_COL_SPLIT = PAGE_WIDTH / 2
_Y_GAP_FACTOR = 1.5


def extract_pdf_rich(content: bytes) -> tuple[str, list]:
    """PDF bytes → (Markdown, images manifest). Raises PdfUnsupported
    outside the scoped grammar; any other exception is a parse_error
    (caller maps it).

    Images (r6 notch 11a — the A12 contract beyond HTML, reference
    ``_process_document_images``, service.py:41-66): each painted
    image XObject becomes a ``picture-N.png`` manifest entry whose
    payload is the decoded raster re-encoded as a real PNG
    (:mod:`.png_write`), numbered and substituted in READING order —
    the same first-remaining-placeholder rewrite as the HTML path, so
    one downstream contract covers every format."""
    if not content.startswith(b"%PDF-"):
        raise PdfUnsupported("not a pdf header")
    streams = _page_streams(content)
    all_items: list[tuple] = []
    for pno, (s, dec, xres) in enumerate(streams):
        all_items.extend(_extract_items(s, pno, dec, xres))
    if not all_items:
        return "", []
    # reading order: page, column (two-column split at half width), top-down, left-right
    def key(it):
        page, x, y, size, txt = it
        col = 0 if x < _COL_SPLIT else 1
        return (page, col, -y, x)
    all_items.sort(key=key)
    # group into blocks by y-gap within (page, column); an image item
    # closes the current block and becomes its own placeholder block
    blocks: list[tuple[float, list[str]]] = []  # (heading size, lines)
    pictures: list[_PdfImage] = []
    prev = None
    cur_lines: list[str] = []
    cur_size = 0.0
    line_parts: list[str] = []
    def flush_line():
        nonlocal line_parts
        if line_parts:
            cur_lines.append(" ".join(line_parts))
            line_parts = []
    def flush_block():
        nonlocal cur_lines, cur_size
        flush_line()
        if cur_lines:
            blocks.append((cur_size, cur_lines))
        cur_lines = []
        cur_size = 0.0
    for it in all_items:
        page, x, y, size, txt = it
        if isinstance(txt, _PdfImage):
            flush_block()
            blocks.append((0.0, ["<!-- image -->"]))
            pictures.append(txt)
            prev = (page, 0 if x < _COL_SPLIT else 1, y)
            continue
        if prev is not None:
            ppage, pcol, py = prev
            col = 0 if x < _COL_SPLIT else 1
            if (page, col) != (ppage, pcol):
                flush_block()
            elif abs(py - y) > _Y_GAP_FACTOR * max(size, 1.0):
                flush_block()
            elif py != y:
                flush_line()
        if not cur_lines and not line_parts:
            cur_size = size
        line_parts.append(txt)
        prev = (page, 0 if x < _COL_SPLIT else 1, y)
    flush_block()
    out: list[str] = []
    for size, lines in blocks:
        text = " ".join(" ".join(lines).split())
        if not text:
            continue
        if size >= 20:
            out.append("# " + text)
        elif size >= 16:
            out.append("## " + text)
        elif size >= 13:
            out.append("### " + text)
        else:
            out.append(text)
    images: list[dict] = []
    if pictures:
        import base64

        from .png_write import write_png_gray
        for n, img in enumerate(pictures, 1):
            fname = f"picture-{n}.png"
            images.append({
                "type": "picture",
                "filename": fname,
                "image": base64.b64encode(
                    write_png_gray(img.width, img.height, img.pixels)
                ).decode("ascii"),
            })
            # service.py:61 semantics: each picture, in order, replaces
            # the FIRST remaining placeholder
            for i, b in enumerate(out):
                if "<!-- image -->" in b:
                    out[i] = b.replace("<!-- image -->", fname, 1)
                    break
    return "\n\n".join(out), images
