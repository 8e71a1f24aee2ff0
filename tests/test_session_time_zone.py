"""``warc_ts`` is an instant: no pages source and no WARC read depends on
``spark.sql.session.timeZone``, and each WARC-Date parses on its own."""

import contextlib

import pytest
from pyspark.sql import functions as F

from docling_api_spark.sources import pages as P
from docling_api_spark.sources import warc as W
from test_multimodal_streaming import SF

EPOCH = 1735689600


@contextlib.contextmanager
def session_time_zone(spark, tz):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def _fixtures(spark, sf_dir):
    """The three .html rewriters, which pass warc_ts through."""
    return P.with_fixture_images(P.with_fixture_ooxml(
        P.with_fixture_pdfs(P.pages_from_documents(spark, sf_dir))))


@pytest.mark.parametrize("source", [
    P.pages_from_documents, P.pages_charset, P.pages_broken,
    P.pages_with_scans, P.pages_embedded_images, _fixtures],
    ids=lambda f: f.__name__)
def test_pages_warc_ts_is_the_same_instant_in_new_york(spark, source):
    """Every row's warc_ts is epoch + doc_id % 86400 seconds under a
    non-UTC session, for the JVM-built sources, the Python-built ones
    and the rewriters."""
    with session_time_zone(spark, "America/New_York"):
        pages = source(spark, SF).select(
            F.regexp_extract("url", r"/doc/(\d+)\.", 1)
            .cast("long").alias("doc_id"),
            F.unix_timestamp("warc_ts").alias("ts"))
        n, bad = pages.agg(
            F.count("*"),
            F.sum((F.col("ts") != F.lit(EPOCH) + F.col("doc_id") % 86400)
                  .cast("int"))).first()
    assert n > 0 and bad == 0


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_warc_dates_parse_one_by_one_as_instants(spark, tmp_path, tz):
    """One segment: a millisecond WARC 1.1 date after a second-precision
    one still parses, a malformed date is NULL, and neither moves with
    the session time zone."""
    dates = ["2025-01-01T00:00:00Z", "2025-01-01T00:00:05.250Z", "garbage"]
    W.write_warc([(f"https://x.example/{k}", d, b"<p>x</p>", "text/html")
                  for k, d in enumerate(dates)], str(tmp_path / "a.warc"))
    with session_time_zone(spark, tz):
        got = {r["url"]: r["us"] for r in W.read_warc_pages(
            spark, str(tmp_path)).select(
                "url", (F.unix_micros("warc_ts") - EPOCH * 1_000_000)
                .alias("us")).collect()}
    assert got == {"https://x.example/0": 0,
                   "https://x.example/1": 5_250_000,
                   "https://x.example/2": None}
