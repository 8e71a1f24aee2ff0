"""Per-byte reference content-stream tokenizer for the differential tests.

This is the engine's original byte-at-a-time ``_tokenize``, kept as the
reference the pattern-based scanner in ``operators/pdf_extract.py`` must
equal token for token. It carries the scanner's three grammar rules on
top of the original loop:

- a balanced ``<<…>>`` dictionary (nesting allowed, strings inside
  skipped whole) is one ``('dict', raw bytes)`` operand;
- an array ends at its first ``]`` outside a literal string, or at the
  end of the stream (the original loop dropped the stream's last byte
  from an unterminated array);
- literal-string escapes follow §7.3.4.2: only 0-7 are octal digits,
  any other byte after a backslash is kept while the backslash is
  dropped, and a backslash before CR, LF or CR LF drops both.
"""

from __future__ import annotations

import re

from docling_api_spark.operators.pdf_extract import PdfUnsupported

_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}
_OCTAL = b"01234567"
_DELIMS = b" \t\r\n()<>[]{}/%"


def _skip_literal(stream: bytes, i: int) -> int:
    """Index after the literal string opened at ``stream[i]``, or -1."""
    depth, i, n = 1, i + 1, len(stream)
    while i < n:
        ch = stream[i:i + 1]
        if ch == b"\\":
            i += 2
            continue
        if ch == b"(":
            depth += 1
        elif ch == b")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    return -1


def _skip_dict(stream: bytes, i: int) -> int:
    depth, n = 0, len(stream)
    while i < n:
        two = stream[i:i + 2]
        if two == b"<<":
            depth += 1
            i += 2
        elif two == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return i
        elif two[:1] == b"(":
            i = _skip_literal(stream, i)
            if i < 0:
                break
        elif two[:1] == b"<":
            j = stream.find(b">", i)
            if j < 0:
                break
            i = j + 1
        else:
            i += 1
    raise PdfUnsupported("unterminated dictionary")


def tokenize(stream: bytes):
    """Yield ('str', bytes) | ('num', float) | ('op', bytes) |
    ('name', bytes) | ('arr', list) | ('dict', bytes)."""
    i, n = 0, len(stream)
    while i < n:
        c = stream[i:i + 1]
        if c in b" \t\r\n":
            i += 1
        elif c == b"(":
            out = bytearray()
            depth = 1
            i += 1
            while i < n and depth:
                ch = stream[i:i + 1]
                if ch == b"\\" and i + 1 < n:
                    nxt = stream[i + 1:i + 2]
                    if nxt in _ESCAPES:
                        out += _ESCAPES[nxt]
                        i += 2
                        continue
                    if nxt in _OCTAL:
                        j = i + 1
                        oct_s = b""
                        while j < n and j < i + 4 and stream[j:j + 1] in _OCTAL:
                            oct_s += stream[j:j + 1]
                            j += 1
                        out.append(int(oct_s, 8) & 0xFF)
                        i = j
                        continue
                    if nxt == b"\r":
                        i += 3 if stream[i + 2:i + 3] == b"\n" else 2
                        continue
                    if nxt == b"\n":
                        i += 2
                        continue
                    out += nxt
                    i += 2
                    continue
                if ch == b"(":
                    depth += 1
                elif ch == b")":
                    depth -= 1
                    if depth == 0:
                        i += 1
                        break
                out += ch
                i += 1
            yield ("str", bytes(out))
        elif c == b"<" and stream[i:i + 2] == b"<<":
            j = _skip_dict(stream, i)
            yield ("dict", stream[i:j])
            i = j
        elif c == b"<":
            j = stream.find(b">", i)
            if j < 0:
                raise PdfUnsupported("unterminated hex string")
            hx = re.sub(rb"\s", b"", stream[i + 1:j])
            if len(hx) % 2:
                hx += b"0"
            try:
                s = bytes.fromhex(hx.decode("ascii"))
            except ValueError as e:
                raise PdfUnsupported(f"bad hex string: {e}") from e
            yield ("str", s)
            i = j + 1
        elif c == b"[":
            # a flat array (for TJ): up to the first ']' outside a
            # string, or to the end of the stream
            j = i + 1
            while j < n:
                ch = stream[j:j + 1]
                if ch == b"]":
                    break
                if ch == b"(":
                    j = _skip_literal(stream, j)
                    if j < 0:
                        j = n
                    continue
                j += 1
            yield ("arr", list(tokenize(stream[i + 1:j])))
            i = j + 1
        elif c == b"/":
            j = i + 1
            while j < n and stream[j:j + 1] not in _DELIMS:
                j += 1
            yield ("name", stream[i + 1:j])
            i = j
        elif c in b"+-.0123456789":
            j = i
            while j < n and stream[j:j + 1] in b"+-.0123456789":
                j += 1
            try:
                num = float(stream[i:j])
            except ValueError:
                i = j
                continue
            yield ("num", num)
            i = j
        else:
            j = i
            while j < n and stream[j:j + 1] not in _DELIMS:
                j += 1
            if j == i:
                i += 1
                continue
            yield ("op", stream[i:j])
            i = j
