"""WARC container source — Common Crawl's native interchange format
(ISO 28500), read and written from scratch on the stdlib.

The reference ingests uploads (route.py:30); a Common-Crawl-scale
pipeline ingests WARC segments. This module provides:

- :func:`write_warc` — build a WARC file (optionally per-record-gzip,
  the ``.warc.gz`` form CC ships: each record its own gzip member, so
  readers can skip records without decompressing the whole file);
- :func:`iter_warc_records` — parse records back (header block +
  Content-Length-sliced payload; tolerant of records it does not know);
- :func:`read_warc_pages` — the Spark source: ``binaryFile`` scan over
  WARC files → ``flatMap``-style ``mapInArrow`` record parse → the
  standard pages rows.

Scale model (PLANS.md): one WARC file per task — exactly how CC is
processed in practice (a crawl is ~64k segment files of ~1 GB; file
count, not file splitting, carries the parallelism). The per-record
gzip members also make record-level streaming possible; here we read a
whole segment per task, which matches the 1-file-1-task model.
"""

from __future__ import annotations

import datetime
import gzip
import io
import re

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from ..schemas import PAGES_SCHEMA

_CRLF = b"\r\n"


def _record_bytes(url: str, date_iso: str, payload: bytes,
                  content_type: str, warc_type: str = "response") -> bytes:
    if warc_type == "response":
        # response records wrap an HTTP message (the crawler's capture)
        body = (b"HTTP/1.1 200 OK" + _CRLF
                + b"Content-Type: " + content_type.encode() + _CRLF
                + b"Content-Length: " + str(len(payload)).encode() + _CRLF
                + _CRLF + payload)
        body_ctype = b"application/http;msgtype=response"
    else:
        # conversion records (the WET form) carry the payload directly
        body = payload
        body_ctype = content_type.encode()
    head = (b"WARC/1.0" + _CRLF
            + b"WARC-Type: " + warc_type.encode() + _CRLF
            + b"WARC-Target-URI: " + url.encode() + _CRLF
            + b"WARC-Date: " + date_iso.encode() + _CRLF
            + b"Content-Type: " + body_ctype + _CRLF
            + b"Content-Length: " + str(len(body)).encode() + _CRLF)
    return head + _CRLF + body + _CRLF + _CRLF


def write_warc(records, path: str, compress: bool = False,
               warc_type: str = "response") -> None:
    """``records`` = iterable of (url, date_iso, payload_bytes,
    content_type). ``compress=True`` writes the CC-style per-record
    gzip-member ``.warc.gz`` layout. ``warc_type='conversion'`` writes
    the WET form (extracted-text records, no HTTP wrapper)."""
    with open(path, "wb") as f:
        for url, date_iso, payload, ctype in records:
            raw = _record_bytes(url, date_iso, payload, ctype, warc_type)
            if compress:
                buf = io.BytesIO()
                # mtime=0: byte-deterministic members
                with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
                    g.write(raw)
                f.write(buf.getvalue())
            else:
                f.write(raw)


#: version-agnostic record marker for resync: any WARC/<digit> (a 1.1
#: or future-version segment must resync too, not silently drop its
#: tail after one malformed record — ADVICE r3)
_WARC_MARKER_RX = re.compile(rb"WARC/\d")


def _next_record(data: bytes, start: int) -> int:
    m = _WARC_MARKER_RX.search(data, start)
    return m.start() if m else -1


def iter_warc_records(data: bytes, types: tuple = (b"response",)):
    """Yield (url, warc_date, payload_bytes) for each record whose
    WARC-Type is in ``types`` (``(b'conversion',)`` reads WET files —
    those payloads carry no HTTP wrapper). Handles plain and gzip
    (multi-member or whole-file) WARCs; records of other WARC-Types or
    with malformed headers are skipped, never raised — a crawl segment
    with one bad record must not kill the task."""
    if data[:2] == b"\x1f\x8b":
        # gzip: stdlib reads concatenated members transparently
        data = gzip.decompress(data)
    pos = 0
    n = len(data)
    while pos < n:
        head_end = data.find(_CRLF + _CRLF, pos)
        if head_end < 0:
            return
        header_blob = data[pos:head_end]
        if not header_blob.startswith(b"WARC/"):
            # resync: find the next record marker
            nxt = _next_record(data, pos + 1)
            if nxt < 0:
                return
            pos = nxt
            continue
        headers = {}
        for line in header_blob.split(_CRLF)[1:]:
            k, _, v = line.partition(b":")
            if v:
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get(b"content-length", b""))
        except ValueError:
            nxt = _next_record(data, head_end)
            if nxt < 0:
                return
            pos = nxt
            continue
        body = data[head_end + 4:head_end + 4 + length]
        pos = head_end + 4 + length + 4      # trailing CRLF CRLF
        rec_type = headers.get(b"warc-type")
        if rec_type not in types:
            continue
        url = headers.get(b"warc-target-uri", b"").decode(
            "utf-8", "replace")
        date = headers.get(b"warc-date", b"").decode("ascii", "replace")
        if rec_type == b"response":
            # strip the embedded HTTP response header from the payload
            http_end = body.find(_CRLF + _CRLF)
            payload = body[http_end + 4:] if http_end >= 0 else body
        else:
            payload = body
        yield url, date, payload


def _warc_date_us(date: str) -> int | None:
    """WARC-Date → microseconds since the epoch, or None if it does not
    parse. Each date is read on its own (``datetime.fromisoformat``:
    ``Z``, fractional seconds and offsets); a date without an offset is
    UTC, as WARC §5.4 requires."""
    try:
        dt = datetime.datetime.fromisoformat(date)
    except ValueError:
        return None
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=datetime.timezone.utc)
    delta = dt - datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
    return delta // datetime.timedelta(microseconds=1)


def read_warc_pages(spark: SparkSession, path: str) -> DataFrame:
    """WARC segment files → pages(url, warc_ts, html, text, lang).

    Plan: ``binaryFile`` scan (one whole segment per row → one per
    task; a crawl's parallelism is its file count) → mapInArrow record
    parse, ``warc_ts`` a UTC instant (:func:`_warc_date_us`), so the rows
    do not depend on the session time zone. ``text``/``lang`` are NULL —
    they are WET-side columns the extraction pipeline does not read."""
    schema = to_arrow_schema(PAGES_SCHEMA)
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.warc*")
             .load(path)
             .select("content"))

    def parse(batches):
        for b in batches:
            recs = [rec for blob in b.column("content").to_pylist()
                    for rec in iter_warc_records(blob)]
            yield pa.RecordBatch.from_arrays([
                pa.array([url for url, _, _ in recs], pa.string()),
                pa.array([_warc_date_us(date) for _, date, _ in recs],
                         schema.field("warc_ts").type),
                pa.array([payload for _, _, payload in recs], pa.binary()),
                pa.nulls(len(recs), pa.string()),
                pa.nulls(len(recs), pa.string()),
            ], schema=schema)

    return files.mapInArrow(parse, PAGES_SCHEMA)


def iso8601(epoch_s: int) -> str:
    """WARC-Date format (UTC, second precision), deterministic."""
    import datetime
    dt = datetime.datetime.fromtimestamp(epoch_s, datetime.timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%SZ")


def warc_segments_from_pages(pages: DataFrame, out_dir: str,
                             compress: bool = True) -> None:
    """Materialize a pages DataFrame as WARC segment files, one per
    partition, written from the executors (shared filesystem assumed —
    in local mode, any tmp dir; on a cluster this is test scaffolding
    only: production reads REAL crawl segments via read_warc_pages)."""
    import calendar
    import os
    import tempfile as tf

    def write_part(rows):
        recs = []
        for r in rows:
            ts = r["warc_ts"]
            epoch = calendar.timegm(ts.timetuple()) if ts else 0
            ctype = ("text/html" if r["url"].endswith(".html")
                     else "text/plain")
            recs.append((r["url"], iso8601(epoch), bytes(r["html"]),
                         ctype))
        if recs:
            fd, p = tf.mkstemp(suffix=".warc.gz" if compress else ".warc",
                               dir=out_dir)
            os.close(fd)
            write_warc(recs, p, compress=compress)

    pages.foreachPartition(write_part)


def wet_from_extraction(results: DataFrame, out_dir: str) -> None:
    """Extraction output → WET segments: one ``.wet.gz`` file per
    partition of WARC *conversion* records carrying the extracted
    markdown (text/plain, UTF-8) — the CC-shaped sidecar a downstream
    text pipeline consumes without touching raw page bytes. Error rows
    (NULL markdown) are omitted, as CC omits unconverted captures.
    Executor-side writes (shared FS assumption, as
    warc_segments_from_pages)."""
    import calendar
    import os
    import tempfile as tf

    def write_part(rows):
        recs = []
        for r in rows:
            if r["markdown"] is None:
                continue
            ts = r["warc_ts"]
            epoch = calendar.timegm(ts.timetuple()) if ts else 0
            recs.append((r["url"], iso8601(epoch),
                         r["markdown"].encode("utf-8"), "text/plain"))
        if recs:
            fd, p = tf.mkstemp(suffix=".wet.gz", dir=out_dir)
            os.close(fd)
            write_warc(recs, p, compress=True, warc_type="conversion")

    results.select("url", "warc_ts", "markdown").foreachPartition(
        write_part)


__all__ = ["write_warc", "iter_warc_records", "read_warc_pages",
           "warc_segments_from_pages", "wet_from_extraction", "iso8601"]
