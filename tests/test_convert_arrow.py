"""The extraction operator on hand-built Arrow batches, without Spark.

``make_convert_fn`` is the function ``extract_df`` hands to ``mapInArrow``;
these tests drive it directly with ``pyarrow.RecordBatch``es shaped like the
extraction plan's input (url, warc_ts, html, lang, partition_id)."""

import datetime
import time

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_type

from docling_api_spark.config import ExtractConfig
from docling_api_spark.operators.convert import convert_one, make_convert_fn
from docling_api_spark.schemas import RESULT_SCHEMA
from fixture_corpus import (
    EPOCH, docx_basic, html_links_images, html_table, make_url,
    md_passthrough, pdf_text_simple)

CFG = ExtractConfig()
INPUT_TYPES = {
    "url": pa.string(),
    "warc_ts": pa.timestamp("us", tz="UTC"),
    "html": pa.binary(),
    "lang": pa.string(),
    "partition_id": pa.int32(),
}
PASS_THROUGH = ("url", "warc_ts", "lang", "partition_id")
CONVERTED = ("fmt", "markdown", "images", "spans", "error")
TS = EPOCH.replace(tzinfo=datetime.timezone.utc)


def _batch(rows: list[tuple]) -> pa.RecordBatch:
    cols = list(zip(*rows)) if rows else [()] * len(INPUT_TYPES)
    return pa.RecordBatch.from_arrays(
        [pa.array(list(c), t) for c, t in zip(cols, INPUT_TYPES.values())],
        names=list(INPUT_TYPES))


def _mixed_rows() -> list[tuple]:
    """html, html with images, md, docx and a fixture PDF, then NULL and
    empty html, with NULL warc_ts/lang on some rows."""
    fxs = [html_table(1), html_links_images(2), md_passthrough(3),
           docx_basic(4), pdf_text_simple(5)]
    rows = [(make_url(fx.name, i, fx.ext), TS if i % 2 else None, fx.content,
             None if i == 2 else "en", i) for i, fx in enumerate(fxs)]
    rows.append(("https://null.example/a", TS, None, "fr", 11))
    rows.append(("https://empty.example/b", None, b"", None, 12))
    return rows


def _run(batch: pa.RecordBatch) -> list:
    return list(make_convert_fn(CFG)(iter([batch])))


def test_result_types_come_from_result_schema():
    batch = _batch(_mixed_rows())
    (out,) = _run(batch)
    assert out.num_rows == batch.num_rows
    assert out.schema.names == RESULT_SCHEMA.names
    for field in RESULT_SCHEMA.fields:
        assert out.schema.field(field.name).type == \
            to_arrow_type(field.dataType), field.name


def test_pass_through_columns_are_the_input_arrays():
    batch = _batch(_mixed_rows())
    (out,) = _run(batch)
    for name in PASS_THROUGH:
        got, want = out.column(name), batch.column(name)
        assert got.equals(want), name
        # returned as-is: the result shares the input's buffers
        assert [b.address for b in got.buffers() if b is not None] == \
            [b.address for b in want.buffers() if b is not None], name


def test_rows_match_convert_one():
    rows = _mixed_rows()
    (out,) = _run(_batch(rows))
    got = out.to_pylist()
    for (url, _, content, _, _), row in zip(rows, got):
        want = convert_one(content, url, CFG)
        assert {k: row[k] for k in CONVERTED} == want, url
        assert (row["markdown"] is None) != (row["error"] is None), url
        assert row["bytes_in"] == len(content or b"")
        assert row["bytes_out"] == len((row["markdown"] or "").encode())
    assert got[-2]["error"] == "empty_document"   # NULL html
    assert got[-1]["error"] == "empty_document"   # empty html
    assert {r["fmt"] for r in got[:5]} == {"html", "md", "docx", "pdf"}
    assert any(r["images"] for r in got), "no row carried images"


def test_one_result_batch_per_input_batch():
    """A 0-row batch included: each input batch yields one result batch
    of the same length and the same result schema."""
    rows = _mixed_rows()
    fn = make_convert_fn(CFG)
    outs = list(fn(iter([_batch(rows[:3]), _batch([]), _batch(rows[3:])])))
    assert [b.num_rows for b in outs] == [3, 0, len(rows) - 3]
    assert all(b.schema == outs[0].schema for b in outs)


def test_parse_ms_is_per_document():
    """Each row carries its own convert_one time, not the batch wall time
    spread evenly: the values differ across formats and their sum stays
    within the wall time around the generator step."""
    gen = make_convert_fn(CFG)(iter([_batch(_mixed_rows()[:5])]))
    t0 = time.perf_counter()
    out = next(gen)
    wall_ms = (time.perf_counter() - t0) * 1000.0
    ms = out.column("parse_ms").to_pylist()
    assert all(v >= 0.0 for v in ms)
    assert len(set(ms)) > 1
    assert sum(ms) <= wall_ms
