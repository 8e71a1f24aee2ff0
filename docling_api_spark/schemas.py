"""Spark StructTypes for the engine (SURVEY.md §1.4 mapping table).

Input table shape is authoritative from BASELINE.json input_hint:
``(url string, warc_ts timestamp, html binary, text string, lang string)``.

Output row mirrors the reference's ``ConversionResult``
(``document_converter/schema.py:11-15``: filename/markdown/images/error) keyed
by ``url`` instead of filename, plus our additions mandated by the north_rule:
``spans`` (per-block char offsets), ``fmt`` (sniffed format), lineage fields.
``images`` elements mirror ``ImageData`` (``schema.py:5-8``:
type∈{table,picture}, filename, base64 payload).
"""

from __future__ import annotations

from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])

#: driver testdata events table (streaming sources need a declared schema)
EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType(), True),
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("user_id", T.LongType(), True),
    T.StructField("event_type", T.StringType(), True),
    T.StructField("value", T.DoubleType(), True),
    T.StructField("props", T.StringType(), True),
])

IMAGE_STRUCT = T.StructType([
    T.StructField("type", T.StringType(), True),      # 'table' | 'picture' (schema.py:6)
    T.StructField("filename", T.StringType(), True),  # table-{i}.png / picture-{i}.png (service.py:55,59)
    T.StructField("image", T.StringType(), True),     # base64 payload (service.py:51,63)
])

SPAN_STRUCT = T.StructType([
    T.StructField("start", T.LongType(), True),
    T.StructField("end", T.LongType(), True),
    T.StructField("kind", T.StringType(), True),      # heading|paragraph|list|table|code|quote|image
    T.StructField("ref", T.StringType(), True),
])

RESULT_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("fmt", T.StringType(), True),       # sniffed format or NULL
    T.StructField("markdown", T.StringType(), True),  # exactly one of {markdown,error} set
    T.StructField("images", T.ArrayType(IMAGE_STRUCT), True),
    T.StructField("spans", T.ArrayType(SPAN_STRUCT), True),
    T.StructField("error", T.StringType(), True),     # failure code (FIXTURES.md §2 taxonomy)
    T.StructField("bytes_in", T.LongType(), True),
    T.StructField("bytes_out", T.LongType(), True),
    T.StructField("parse_ms", T.DoubleType(), True),
    T.StructField("partition_id", T.IntegerType(), True),
])

#: DDL string form of RESULT_SCHEMA, the extraction operator's return type
RESULT_DDL = (
    "url string, warc_ts timestamp, lang string, fmt string, markdown string, "
    "images array<struct<type:string,filename:string,image:string>>, "
    "spans array<struct<start:bigint,end:bigint,kind:string,ref:string>>, "
    "error string, bytes_in bigint, bytes_out bigint, parse_ms double, "
    "partition_id int"
)

MANIFEST_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("partition_id", T.IntegerType(), False),
    T.StructField("status", T.StringType(), False),   # 'done'
    T.StructField("attempt", T.IntegerType(), False),
])

METRICS_SCHEMA = T.StructType([
    T.StructField("run_id", T.StringType(), False),
    T.StructField("partition_id", T.IntegerType(), False),
    T.StructField("docs", T.LongType(), True),
    T.StructField("bytes_in", T.LongType(), True),
    T.StructField("bytes_out", T.LongType(), True),
    T.StructField("n_errors", T.LongType(), True),
    T.StructField("failure_codes", T.MapType(T.StringType(), T.LongType()), True),
    T.StructField("wall_ms", T.DoubleType(), True),
])

#: failure-code taxonomy (FIXTURES.md §2; per-doc error channel semantics of
#: service.py:83-85 — errors are rows, never exceptions)
FAILURE_CODES = (
    "unsupported_format",
    "parse_error",
    "pdf_unsupported_feature",
    "ocr_not_supported",
    "empty_document",
)
