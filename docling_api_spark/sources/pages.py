"""Pages-table sources.

The reference's only source is HTTP multipart upload (``route.py:30,54``);
our engine's source is a table scan (SURVEY.md Table A rows A1/A2): Parquet
always, Iceberg when its runtime is on the classpath (not in this sandbox —
gated behind a flag with identical DataFrame code downstream, SURVEY.md
§7.0).

Also provides ``pages_from_documents``: a deterministic, fully JVM-side
(no UDF) synthesis of a Common-Crawl-style pages table from the
driver-provided ``documents.parquet``, used by the benchmark and the driver
smoke entry — every document's text is wrapped in an HTML shell with real
boilerplate (nav/header/footer/link-farm) so extraction work is
representative.

The sources whose bytes need Python writers (non-JVM charsets, zip, PDF,
PNG and JPEG) run ``mapInArrow`` over the documents or a pages table and
emit Arrow batches in :data:`PAGES_SCHEMA`, ``warc_ts`` as a UTC instant,
so no source's rows depend on the session time zone.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..schemas import PAGES_SCHEMA


def read_pages(spark: SparkSession, path: str, storage: str = "parquet",
               table: str | None = None) -> DataFrame:
    """Scan the input table. ``storage='iceberg'`` loads the named table via
    the Iceberg catalog (requires the runtime jar); ``'parquet'`` reads the
    path with the declared schema (no inference)."""
    if storage == "iceberg":
        return spark.read.format("iceberg").load(table or path)
    return spark.read.schema(PAGES_SCHEMA).parquet(path)


#: epoch for deterministic warc_ts (FIXTURES.md §1) — 2025-01-01T00:00:00Z
_EPOCH_S = 1735689600

# Real Common-Crawl pages are mostly chrome: the synthetic shell carries a
# representative ~4 KB of it (scripts, styles, nav trees, footer link
# farms) — all inside DROP tags, so extraction output (and therefore the
# extract_markdown oracle) is unchanged while the per-doc parse work is
# honest. Static literals: identical on every page, pure JVM concat.
_CHROME_HEAD = (
    "<style>" + "".join(f".c{i}{{margin:{i}px;padding:0}}"
                        for i in range(40)) + "</style>"
    + "".join(
        f"<script>var cfg{i} = {{\"page\": \"x\", \"ids\": "
        f"[{','.join(str(j) for j in range(12))}], \"flag{i}\": true}};"
        f"function f{i}(a) {{ return a + {i}; }}</script>"
        for i in range(6))
)

_CHROME_NAV = (
    "<nav><ul>"
    + "".join(
        f"<li><a href=\"/cat/{i}\">Category {i}</a><ul>"
        + "".join(f"<li><a href=\"/cat/{i}/{j}\">Sub {i}.{j}</a></li>"
                  for j in range(4))
        + "</ul></li>"
        for i in range(12))
    + "</ul></nav>"
)

_CHROME_FOOTER = (
    "<footer><div>"
    + "".join(f"<a href=\"/foot/{i}\">Footer link {i}</a> "
              for i in range(24))
    + "</div><p>Copyright 2025</p></footer>"
    + "<script>var tail = 'analytics';</script>"
)

#: the HTML shell of the synthetic page, split at its variable slots and
#: NAMED so derived oracles (content_density byte accounting) share one
#: source of truth with the generator — a shell edit breaks their value
#: hashes loudly instead of silently drifting
SHELL_PRE = ("<!DOCTYPE html><html><head><title>t</title>"
             + _CHROME_HEAD +
             "</head><body>" + _CHROME_NAV +
             "<header><h1>Site</h1></header>"
             "<div><a href=\"/s1\">sponsored story one</a> "
             "<a href=\"/s2\">sponsored story two</a> "
             "<a href=\"/s3\">sponsored story three</a></div>"
             "<main><h1>")
SHELL_AFTER_TITLE = "</h1><p>"
SHELL_AFTER_PARA = "</p>"
SHELL_POST = "</main>" + _CHROME_FOOTER + "</body></html>"
SHELL_LIST_PRE = "<ul><li>item one of doc "
SHELL_LIST_POST = "</li><li>item two</li></ul>"
SHELL_TBL_PRE = "<table><tr><th>k</th><th>v</th></tr><tr><td>id</td><td>"
SHELL_TBL_MID = "</td></tr><tr><td>lang</td><td>"
SHELL_TBL_POST = "</td></tr></table>"


#: the Arrow form of PAGES_SCHEMA: ``warc_ts`` is ``timestamp[us, tz=UTC]``
_ARROW_PAGES = to_arrow_schema(PAGES_SCHEMA)
_ARROW_TS = _ARROW_PAGES.field("warc_ts").type


def _jvm_url(i, ext=None):
    """The synthetic page url, ``https://site{i%97}.example/doc/{i}{ext}``
    (``ext`` a column, ``.html`` by default), as a column expression."""
    return F.concat(F.lit("https://site"), (i % 97).cast("string"),
                    F.lit(".example/doc/"), i.cast("string"),
                    F.lit(".html") if ext is None else ext)


def _para():
    """The document text, NULL read as empty: the paragraph of every
    column-expression page and its ``text`` column."""
    return F.coalesce(F.col("text"), F.lit(""))


def _jvm_pages(docs: DataFrame, html, ext=None) -> DataFrame:
    """The pages rows of a column-expression source: ``html`` (a string
    column) is encoded to UTF-8, and ``warc_ts`` is the epoch plus
    ``doc_id % 86400`` seconds."""
    i = F.col("doc_id")
    return docs.select(
        _jvm_url(i, ext).alias("url"),
        F.timestamp_seconds(F.lit(_EPOCH_S) + (i % 86400)).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        _para().alias("text"),   # the WET-style text column of the CC shape
        F.col("lang"),
    )


def _from_documents(docs: DataFrame, page) -> DataFrame:
    """documents → pages through the Python function
    ``page(doc_id, text, lang) -> (ext, body, text_out)``, one Arrow
    batch out per batch in. url and ``warc_ts`` follow the same rule as
    :func:`pages_from_documents`; ``lang`` passes through."""
    def render(batches):
        for b in batches:
            ids = b.column("doc_id").to_pylist()
            out = [page(i, t, lg) for i, t, lg in zip(
                ids, b.column("text").to_pylist(),
                b.column("lang").to_pylist())]
            yield pa.RecordBatch.from_arrays([
                pa.array([f"https://site{i % 97}.example/doc/{i}{ext}"
                          for i, (ext, _, _) in zip(ids, out)], pa.string()),
                pa.array([(_EPOCH_S + i % 86400) * 1_000_000 for i in ids],
                         _ARROW_TS),
                pa.array([body for _, body, _ in out], pa.binary()),
                pa.array([text for _, _, text in out], pa.string()),
                b.column("lang"),
            ], schema=_ARROW_PAGES)

    return docs.select("doc_id", "text", "lang").mapInArrow(
        render, PAGES_SCHEMA)


def _replace_html(pages: DataFrame, page) -> DataFrame:
    """Rewrite the ``.html`` rows of a pages table through the Python
    function ``page(doc_id, text, lang) -> (ext, body)``, or None to keep
    the row. The doc_id is read from the url stem; url and html change,
    and every other column passes through as the input's Arrow arrays."""
    def rewrite(batches):
        for b in batches:
            urls = b.column("url").to_pylist()
            htmls = b.column("html").to_pylist()
            texts = b.column("text").to_pylist()
            langs = b.column("lang").to_pylist()
            for j, url in enumerate(urls):
                if not url.endswith(".html"):
                    continue
                i = int(url.rsplit("/", 1)[-1].split(".")[0])
                new = page(i, texts[j], langs[j])
                if new is not None:
                    urls[j] = url[: -len(".html")] + new[0]
                    htmls[j] = new[1]
            yield pa.RecordBatch.from_arrays([
                pa.array(urls, pa.string()),
                # Spark hands timestamps over labelled with the session
                # zone; the cast relabels the same instant as UTC
                b.column("warc_ts").cast(_ARROW_TS),
                pa.array(htmls, pa.binary()),
                b.column("text"),
                b.column("lang"),
            ], schema=_ARROW_PAGES)

    return pages.mapInArrow(rewrite, PAGES_SCHEMA)


def _wrap(text: str) -> list[str]:
    """Greedy word wrap of ``text`` into lines of at most 90 chars (the
    fixture PDFs' body paragraph)."""
    lines, cur = [], ""
    for w in text.split():
        if len(cur) + len(w) + 1 > 90:
            lines.append(cur)
            cur = w
        else:
            cur = w if not cur else f"{cur} {w}"
    if cur:
        lines.append(cur)
    return lines


def pages_from_documents(spark: SparkSession, sf_dir: str,
                         repeat: int = 1,
                         parallelism: int | None = None) -> DataFrame:
    """documents.parquet → pages(url, warc_ts, html, text, lang).

    Pure column expressions (whole-stage codegen; zero Python in this
    step). ``repeat`` tiles the corpus deterministically for larger bench
    inputs. Every 3rd doc gets a list, every 5th a table, so the extractor
    exercises more than paragraphs; boilerplate chrome is always present.

    ``parallelism`` repartitions the *raw docs* (tiny rows) before the HTML
    synthesis: documents.parquet is a single small file → a single input
    split, so without this the synthesis and any downstream shuffle map side
    run in ONE task — a serial Amdahl bottleneck that caps scaling. The
    repartition moves only the pre-synthesis text, so it is far cheaper
    than shuffling the synthesized html.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    if parallelism:
        # BEFORE the repeat crossJoin: the repartition then moves only the
        # original 5k small rows, and the row multiplication + synthesis
        # fan out across all partitions instead of one scan task.
        docs = docs.repartition(parallelism, "doc_id")
    if repeat > 1:
        reps = spark.range(repeat).withColumnRenamed("id", "rep")
        docs = docs.crossJoin(F.broadcast(reps)) \
            .withColumn("doc_id", F.col("doc_id") + F.col("rep") * 10_000_000) \
            .drop("rep")
    i = F.col("doc_id")
    title = F.concat(F.lit("Doc "), i.cast("string"))
    is_md = (i % 10) == 7  # every 10th doc ships as raw Markdown, rest as HTML
    lst = F.when(
        i % 3 == 0,
        F.concat(F.lit(SHELL_LIST_PRE), i.cast("string"),
                 F.lit(SHELL_LIST_POST))).otherwise(F.lit(""))
    tbl = F.when(
        i % 5 == 0,
        F.concat(
            F.lit(SHELL_TBL_PRE),
            i.cast("string"),
            F.lit(SHELL_TBL_MID), F.col("lang"),
            F.lit(SHELL_TBL_POST))).otherwise(F.lit(""))
    html_str = F.concat(
        F.lit(SHELL_PRE),
        title,
        F.lit(SHELL_AFTER_TITLE), _para(), F.lit(SHELL_AFTER_PARA),
        lst, tbl,
        F.lit(SHELL_POST),
    )
    md_str = F.concat(F.lit("# "), title, F.lit("\n\n"), _para(),
                      F.lit("\n"))
    return _jvm_pages(
        docs, F.when(is_md, md_str).otherwise(html_str),
        F.when(is_md, F.lit(".md")).otherwise(F.lit(".html")))


def pages_with_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → pages whose HTML carries ``<img>`` tags (and a
    table on every 5th doc), for oracle-gating the image-manifest quirks
    (reference ``_process_document_images``, ``service.py:41-66``):
    per-picture base64 payload + first-remaining-placeholder rewrite
    (``service.py:61``), and tables collected but NEVER substituted into
    the markdown (``service.py:53-56``). Pure column expressions."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    i = F.col("doc_id")
    sid = i.cast("string")
    tbl = F.when(
        i % 5 == 0,
        F.concat(F.lit(SHELL_TBL_PRE), sid, F.lit(SHELL_TBL_MID),
                 F.col("lang"), F.lit(SHELL_TBL_POST))).otherwise(F.lit(""))
    html_str = F.concat(
        F.lit("<!DOCTYPE html><html><head><title>t</title></head><body>"
              + _CHROME_NAV + "<main><h1>"),
        F.lit("Doc "), sid,
        F.lit("</h1><p><img src=\"pic-"), sid, F.lit("-a.png\"> "),
        _para(),
        F.lit(" <img src=\"pic-"), sid, F.lit("-b.png\"></p>"),
        tbl,
        F.lit("</main>" + _CHROME_FOOTER + "</body></html>"))
    return _jvm_pages(docs, html_str)


def pages_rich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → pages exercising the REST of the markdown
    serializer: h2 heading, blockquote, pre/code, horizontal rule,
    ordered list, nested unordered list — each reconstructable in SQL, so
    the driver gate value-checks the serialization shapes the main corpus
    (h1/p/ul/table) doesn't reach. Pure column expressions."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sid = F.col("doc_id").cast("string")
    html_str = F.concat(
        F.lit("<!DOCTYPE html><html><head><title>t</title></head><body>"
              + _CHROME_NAV + "<main><h2>"),
        F.lit("Doc "), sid,
        F.lit("</h2><blockquote><p>"), _para(),
        F.lit("</p></blockquote><pre><code>code line "), sid,
        F.lit("</code></pre><hr><ol><li>first of "), sid,
        F.lit("</li><li>second</li></ol>"
              "<ul><li>a<ul><li>deep "), F.col("lang"),
        F.lit("</li></ul></li><li>b</li></ul></main>"
              + _CHROME_FOOTER + "</body></html>"))
    return _jvm_pages(docs, html_str)


def pages_linked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → pages whose main content carries in-paragraph
    links: one absolute cross-host link (site (i+1)%97 — a real link
    GRAPH over the host space) and one relative link. Oracle-gates the
    ``[text](href)`` serialization (A11) and feeds the outlink/link-graph
    queries. Pure column expressions."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    i = F.col("doc_id")
    sid = i.cast("string")
    para = _para()
    dst_host = F.concat(F.lit("site"), ((i + 1) % 97).cast("string"),
                        F.lit(".example"))
    abs_href = F.concat(F.lit("https://"), dst_host, F.lit("/doc/"),
                        (i + 13).cast("string"), F.lit(".html"))
    rel_href = F.concat(F.lit("/about/"), (i % 5).cast("string"))
    html_str = F.concat(
        F.lit("<!DOCTYPE html><html><head><title>t</title></head><body>"
              + _CHROME_NAV + "<main><h1>"),
        F.lit("Doc "), sid,
        F.lit("</h1><p>"), para,
        F.when(F.length(F.trim(para)) > 0, F.lit(" ")).otherwise(F.lit("")),
        F.lit("Read <a href=\""), abs_href,
        F.lit("\">site link "), sid,
        F.lit("</a> and <a href=\""), rel_href,
        F.lit("\">about "), (i % 5).cast("string"),
        F.lit("</a>.</p></main>" + _CHROME_FOOTER + "</body></html>"))
    return _jvm_pages(docs, html_str)


def pages_with_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → pages whose ``<head>`` carries the metadata a
    crawl pipeline must honor before keeping a page: ``<title>``, a
    robots meta (four classes: absent / noindex,nofollow / index,follow /
    attr-order-flipped nofollow — the flip pins extraction robustness),
    and a canonical ``<link>`` (three classes: self / pointing elsewhere
    (a syndicated copy) / absent). The metas sit AFTER the chrome
    ``<style>``/``<script>`` blob, so extraction must scan past real head
    noise. Pure column expressions (zero Python)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    i = F.col("doc_id")
    sid = i.cast("string")
    robots = (
        F.when(i % 4 == 1, F.lit(
            "<meta name=\"robots\" content=\"noindex, nofollow\">"))
        .when(i % 4 == 2, F.lit(
            "<meta name=\"robots\" content=\"index, follow\">"))
        .when(i % 4 == 3, F.lit(
            "<meta content=\"nofollow\" name=\"robots\">"))
        .otherwise(F.lit("")))
    canonical = (
        F.when(i % 3 == 0, F.concat(
            F.lit("<link rel=\"canonical\" href=\""), _jvm_url(i),
            F.lit("\">")))
        .when(i % 3 == 1, F.concat(
            F.lit("<link rel=\"canonical\" href=\""), _jvm_url(i),
            F.lit("?ref=syndicated\">")))
        .otherwise(F.lit("")))
    html_str = F.concat(
        F.lit("<!DOCTYPE html><html><head>" + _CHROME_HEAD + "<title>"),
        F.lit("Doc "), sid, F.lit(" | site"), (i % 97).cast("string"),
        F.lit("</title><meta charset=\"utf-8\">"),
        robots, canonical,
        F.lit("</head><body><main><h1>Doc "), sid,
        F.lit("</h1><p>"), _para(),
        F.lit("</p></main>" + _CHROME_FOOTER + "</body></html>"))
    return _jvm_pages(docs, html_str)


#: pages_charset's classes by ``doc_id % 5``: (text before the doc_id,
#: codec of the bytes, declaration in <head>)
_CHARSETS = (
    ("café costs € ", "utf-8", '<meta charset="utf-8">'),
    ("déjà vu ", "latin-1", '<meta http-equiv="Content-Type" '
                            'content="text/html; charset=iso-8859-1">'),
    ("dash — euro € ", "cp1252", '<meta charset="windows-1252">'),
    ("naïve ", "latin-1", ""),
    ("résumé ", "utf-8", '<meta charset="utf-16">'),
)


def pages_charset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → pages in the ENCODINGS a real crawl serves
    (r4): by ``doc_id % 5`` —

    - 0: utf-8, declared ``<meta charset="utf-8">`` ('café costs € i')
    - 1: declared iso-8859-1, bytes latin-1 ('déjà vu i') — whatwg
      remaps the label to windows-1252 (identical for these chars)
    - 2: declared windows-1252, bytes cp1252 with 0x80/0x97 ('dash —
      euro € i') — bytes INVALID as utf-8 and WRONG under a latin-1
      fallback (C1 controls), so the value hash proves the declaration
      is honored, not the fallback chain
    - 3: NO declaration, bytes latin-1 ('naïve i') — invalid utf-8,
      exercises the fallback chain
    - 4 (r5, ADVICE fix): declared ``charset=utf-16`` but bytes utf-8
      ('résumé i') — whatwg §13.2.3.2 remaps utf-16 labels to utf-8
      (a visible utf-16 declaration is always wrong); under the old
      alias table this page decoded as CJK mojibake with no error row

    The ``text`` column is the generated sentence. Python rendering
    (cp1252 isn't a JVM F.encode charset); memoized via
    queries._cached_source."""
    def page(i, _text, _lang):
        prefix, codec, meta = _CHARSETS[i % 5]
        text = f"{prefix}{i}"
        html = (f"<!DOCTYPE html><html><head>{meta}<title>t"
                f"</title></head><body>{_CHROME_NAV}<main>"
                f"<h1>Doc {i}</h1><p>{text}</p></main>"
                f"{_CHROME_FOOTER}</body></html>")
        return ".html", html.encode(codec), text

    return _from_documents(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), page)


def pages_broken(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → a corpus exercising the FULL per-document
    failure taxonomy (r4; reference A14 — error capture must never
    raise, ``service.py:83-88``): by ``doc_id % 11`` —

    - 0: good HTML (the control row — real markdown comes out)
    - 1: zero-byte payload            → ``empty_document``
    - 2: binary junk, unknown ext     → ``unsupported_format``
    - 3: PDF header, no objects       → ``pdf_unsupported_feature``
    - 4: photographic PNG             → ``ocr_not_supported``
    - 5: valid zip, docx content-type, no word/document.xml
                                      → ``parse_error``
    - 6 (r5): PDF 1.5 with a malformed /ObjStm container dict
                                      → ``pdf_unsupported_feature``
    - 7 (r5): Type0/Identity-H PDF whose content references a CID
      missing from its ToUnicode CMap → ``pdf_unsupported_feature``
    - 8 (r5 notch 8): RC4-encrypted PDF with a REAL (non-empty) user
      password — /U verification fails → ``pdf_unsupported_feature``
      (empty-password encrypted files EXTRACT; see with_fixture_pdfs)
    - 9 (r6 notch 11b): V5/AESV3 (AES-256, R6) PDF with a REAL user
      password — the Algorithm-2.A hash check fails
                                      → ``pdf_unsupported_feature``
    - 10 (r6 notch 11b): V5/AESV3 empty-password PDF whose /Perms
      block is TAMPERED — the 'adb' seal fails after a successful
      password check, so the reader refuses rather than trusting a
      corrupt permissions record → ``pdf_unsupported_feature``

    (6-10 share class 3's error CODE but break in distinct grammar
    decode paths — the gate proves those paths fail TYPED through
    the full Spark pipeline, never raise, never emit mojibake rows.)

    The ``text`` column is the document text, NULL read as empty.
    Python rendering (the zip/PNG writers); deterministic: zip entries
    pin date_time."""
    import io
    import re
    import zipfile

    from ..operators.pdf_write import write_pdf
    from ..operators.png_write import picture_png

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as z:
        # a word/ entry so the sniffer classifies DOCX, but no
        # word/document.xml — extraction must fail as parse_error
        z.writestr(zipfile.ZipInfo("word/styles.xml",
                                   date_time=(1980, 1, 1, 0, 0, 0)),
                   "<w:styles/>")
    # class 6: a valid PDF 1.5 file whose ObjStm dict loses /First —
    # the container unpack must fail typed (malformed /ObjStm dict)
    pdf_objstm_bad = write_pdf(
        [[(72.0, 730.0, 24.0, ["Broken"]),
          (72.0, 690.0, 11.0, ["container probe"])]],
        compress=True, xref_stream=True).replace(b"/First", b"/Fifst")
    assert b"/Fifst" in pdf_objstm_bad
    # class 7: Identity-H content referencing CID 0x9958 which the
    # CMap does not map (heading 'X' = <0058> corrupted)
    pdf_cid_bad = write_pdf(
        [[(72.0, 730.0, 24.0, ["X"])]],
        font_encoding=("cid", {0x1001: "€"})
    ).replace(b"<0058>", b"<9958>")
    assert b"<9958>" in pdf_cid_bad
    # class 8: RC4-encrypted with a real user password — the empty-
    # password probe fails /U verification → typed password row
    pdf_locked = write_pdf(
        [[(72.0, 730.0, 24.0, ["Locked"]),
          (72.0, 690.0, 11.0, ["secret body"])]],
        compress=True, encrypt_r=3, encrypt_user_pwd=b"hunter2")
    assert b"/Encrypt" in pdf_locked
    # class 9: V5/AESV3 (AES-256 R6) with a real user password
    pdf_v5_locked = write_pdf(
        [[(72.0, 730.0, 24.0, ["Locked5"]),
          (72.0, 690.0, 11.0, ["secret body"])]],
        compress=True, encrypt_r=6, encrypt_user_pwd=b"hunter2")
    assert b"/CFM /AESV3" in pdf_v5_locked
    # class 10: V5/AESV3 empty-password but /Perms tampered — seal fails
    pdf_v5_badperms = re.sub(
        rb"/Perms <[0-9a-f]{8}", b"/Perms <deadbeef",
        write_pdf([[(72.0, 730.0, 24.0, ["Sealed"]),
                    (72.0, 690.0, 11.0, ["perms probe"])]],
                  compress=True, encrypt_r=6))
    assert b"<deadbeef" in pdf_v5_badperms
    fixed = {1: (".html", b""),
             2: (".xyz", b"\x00\x01\x02binaryjunk" + bytes(range(200, 230))),
             3: (".pdf", b"%PDF-1.4\n no objects here"),
             5: (".docx", buf.getvalue()),
             6: (".pdf", pdf_objstm_bad),
             7: (".pdf", pdf_cid_bad),
             8: (".pdf", pdf_locked),
             9: (".pdf", pdf_v5_locked),
             10: (".pdf", pdf_v5_badperms)}

    def page(i, t, _lang):
        t = t or ""
        cls = i % 11
        if cls == 0:
            ext, body = ".html", (
                f"<html><body>{_CHROME_NAV}<main><h1>Doc {i}"
                f"</h1><p>{t}</p></main>{_CHROME_FOOTER}"
                f"</body></html>").encode()
        elif cls == 4:
            ext, body = ".png", picture_png(f"photo-{i}")
        else:
            ext, body = fixed[cls]
        return ext, body, t

    return _from_documents(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), page)


def pages_with_scans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → pages whose payload is a machine-rendered
    text RASTER (PNG built by the from-scratch 5×7 font rasterizer,
    operators/ocr.py): the IMAGE-input class the reference routes
    through easyocr (service.py:37). THREE lines per page (r4 —
    multi-line rasters, the page shape easyocr reads)::

        scan {doc_id}
        {first 40 chars of text}
        lang {lang}

    — all within the rasterizer charset (the driver corpus is pure
    [a-z ], langs lowercase alpha). The ``text`` column is the document
    text, NULL read as empty. Rendering is Python over the tiny
    documents table (Arrow-batched; the REAL extraction work downstream
    is the pixel-level OCR)."""
    from ..operators.jpeg_codec import encode_gray_jpeg
    from ..operators.ocr import render_text_png
    from ..operators.png_write import read_png_gray

    def page(i, t, lg):
        t = t or ""
        # r6: odd doc_ids ship as baseline-grayscale JPEG (the
        # container real scanners emit), even as PNG — text identical,
        # so the oracle only switches the extension
        png = render_text_png(f"scan {i}\n" + t[:40] + f"\nlang {lg}")
        if i % 2 == 0:
            return ".png", png, t
        return ".jpg", encode_gray_jpeg(*read_png_gray(png)), t

    return _from_documents(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), page)


def with_fixture_ooxml(pages: DataFrame, docx_mod: int = 2,
                       pptx_mod: int = 9, adoc_mod: int = 3) -> DataFrame:
    """Replace docs with ``doc_id % 10 == docx_mod/pptx_mod/adoc_mod`` by
    deterministic DOCX / PPTX / AsciiDoc fixtures (generation rules below —
    each reconstructable in SQL, so the driver's DuckDB gate value-checks
    the OOXML and adoc extraction paths end-to-end; reference capability:
    ``utils.py:26-32``).

    - DOCX:  Heading1 'Doc i' + text paragraph + 2 bullets + k/v table
    - PPTX:  slide1(title 'Doc i', bullet text) +
             slide2(title 'Summary i', bullets lvl0/lvl1)
    - ADOC:  '= Doc i' + text + '* item...'x2 + '. first' '. second'

    Python rendering (mapInArrow) — corpus *materialization*, not for a
    timed region. Deterministic: bytes are a pure function of (doc_id,
    text, lang)."""
    from ..operators.ooxml_write import write_docx, write_pptx

    def page(i, text, lang):
        text, lang = text or "", lang or ""
        if i % 10 == docx_mod:
            return ".docx", write_docx(
                f"Doc {i}", text,
                [f"item one of doc {i}", "item two"],
                [["k", "v"], ["id", str(i)], ["lang", lang]])
        if i % 10 == pptx_mod:
            return ".pptx", write_pptx([
                (f"Doc {i}", [(0, text)]),
                (f"Summary {i}",
                 [(0, f"point one of doc {i}"), (1, "point two")]),
            ])
        if i % 10 == adoc_mod:
            return ".adoc", (
                f"= Doc {i}\n\n{text}\n\n"
                f"* item one of doc {i}\n* item two\n\n"
                f". first\n. second\n").encode("utf-8")
        return None

    return _replace_html(pages, page)


def with_fixture_images(pages: DataFrame, every_mod: int = 6) -> DataFrame:
    """Replace docs with ``doc_id % 10 == every_mod`` by minimal-but-real
    image bytes (valid PNG sig+IHDR+IEND / GIF header+trailer), for the
    IMAGE-input metadata path: width = 16 + i%64, height = 16 + i%32,
    PNG when i is even (45 bytes) else GIF (14 bytes). The conversion path
    still yields ``error='ocr_not_supported'`` for these rows (OCR is
    env-scoped out); the metadata query parses headers only."""
    import struct
    import zlib

    def page(i, _text, _lang):
        if i % 10 != every_mod:
            return None
        w, h = 16 + i % 64, 16 + i % 32
        if i % 2:
            return ".gif", (b"GIF89a" + struct.pack("<HH", w, h)
                            + b"\x00\x00\x00;")
        chunk = b"IHDR" + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
        return ".png", (b"\x89PNG\r\n\x1a\n"
                        + struct.pack(">I", 13) + chunk
                        + struct.pack(">I", zlib.crc32(chunk))
                        + struct.pack(">I", 0) + b"IEND"
                        + struct.pack(">I", zlib.crc32(b"IEND")))

    return _replace_html(pages, page)


def with_fixture_pdfs(pages: DataFrame, every_mod: int = 4) -> DataFrame:
    """Replace docs with ``doc_id % 10 == every_mod`` by fixture-grammar
    PDFs (``pdf_write``), so a corpus exercises the PDF extraction path
    end-to-end ("HTML/PDF→Markdown", BASELINE.json metric).

    Python rendering (mapInArrow) — intended for corpus
    *materialization*, not for inside a timed region. Deterministic: PDF
    bytes are a pure function of (doc_id, text)."""
    from ..operators.pdf_write import write_pdf

    def page(i, text, _lang):
        if i % 10 != every_mod:
            return None
        lines = _wrap(text or "")
        # Tf size-driven heading hierarchy (r3): 24→h1, 18→h2,
        # 14→h3, body 11 — the SQL oracle reconstructs all
        # three levels from the generation rule
        blocks = [(72.0, 730.0, 24.0, [f"Doc {i}"]),
                  (72.0, 690.0, 18.0, [f"Section {i % 7}"]),
                  (72.0, 655.0, 14.0, [f"Part {i % 3}"])]
        if lines:
            blocks.append((72.0, 620.0, 11.0, lines))
        # r4: a trailing reference paragraph whose text NEEDS
        # string escapes — '(', ')', '\' — so the escape path
        # (pdf_write._escape / pdf_extract._ESCAPES) is oracle
        # value-gated, not just unit-tested. 40pt below the last
        # body line (> 1.5×size → its own block).
        # r5 encoding slice (i%30==24, every third PDF): the
        # ref paragraph gains chars OUTSIDE latin-1 (€ and
        # curly quotes) and the font alternates by i//30 among
        # /WinAnsiEncoding, a /Differences array remapping
        # codes 0xE9-0xEB (which HAVE base cp1252 meanings, so
        # ignoring the table yields visibly wrong chars), and
        # a /ToUnicode CMap mapping control-code bytes (the
        # embedded-subset-font pattern — unreadable without
        # the CMap). All three decode to identical text, so
        # one oracle branch covers them.
        enc = None
        tail = ""
        if i % 30 == 24:
            tail = " “prix” %d €" % (i % 50)
            # r5 notch 9 widens the alternation to FIVE: the
            # array-form bfrange CMap (consecutive control
            # codes grouped into <lo> <hi> [<d1> <d2> <d3>])
            enc = [
                "winansi",
                {0xE9: "Euro", 0xEA: "quotedblleft",
                 0xEB: "quotedblright"},
                ("tounicode",
                 {0x01: "€", 0x04: "“", 0x05: "”"}),
                ("cid",
                 {0x1001: "€", 0x1002: "“", 0x1003: "”"}),
                ("tounicode_arr",
                 {0x01: "€", 0x02: "“", 0x03: "”"}),
            ][(i // 30) % 5]
        ref_line = f"(ref {i}\\{i % 7}){tail}"
        para_y = 620.0 - 14.0 * max(0, len(lines) - 1)
        if i % 20 == 14:
            # two-page fixture: the reference paragraph moves to
            # page 2 under its own h3 — span offsets cross the
            # page boundary and reading order must concatenate
            # pages in /Kids order
            page2 = [(72.0, 730.0, 14.0, [f"Part {i % 3} b"]),
                     (72.0, 690.0, 11.0, [ref_line])]
            doc_pages = [blocks, page2]
        else:
            blocks.append((72.0, para_y - 40.0, 11.0, [ref_line]))
            doc_pages = [blocks]
        # r5: every third PDF uses the PDF 1.5 ObjStm+XRef-
        # stream layout (i%3 decorrelates from the i%20 two-
        # page rule, so 1.5 covers both single- and two-page
        # shapes); markdown is layout-invariant, so the SQL
        # oracle is unchanged
        if i % 7 == 4:
            # incremental-save slice (r5): the base revision
            # carries STALE page-0 text; an appended update
            # (§7.5.6, /Prev-chained) replaces it with the
            # real blocks — the oracle expects the UPDATED
            # text, so a first-definition-wins reader fails
            # the value gate
            from ..operators.pdf_write import append_update
            stale = [(72.0, 730.0, 24.0, [f"Doc {i} STALE"]),
                     (72.0, 690.0, 11.0, ["pre-edit text"])]
            base = write_pdf(
                [stale] + doc_pages[1:],
                compress=i % 2 == 0, xref_stream=i % 3 == 0,
                font_encoding=enc)
            return ".pdf", append_update(
                base, 0, doc_pages[0], compress=i % 2 == 0,
                font_encoding=enc)
        else:
            # r5 notch 6: docs with i%5 in {2,4} split each
            # page's content across 3 streams (/Contents
            # ARRAY, §7.8.2 — BT/ET cross stream boundaries);
            # two-page docs (i%20==14, always i%5==4) also get
            # a NESTED page tree with /Resources inherited
            # from the root node (§7.7.3.4). Markdown is
            # layout-invariant, so the SQL oracle is
            # unchanged — a reader that misses the array or
            # the tree extracts nothing and fails the hash.
            # r5 notch 7: docs with i%11==6 swap the content
            # stream's plain/Flate coding for ASCIIHex,
            # ASCII85, the [/ASCII85Decode /FlateDecode]
            # chain, or (notch 9) LZWDecode / RunLengthDecode
            # — the pre-Flate codings of the oldest web-PDF
            # slice (alternating by i//11) — layout-invariant,
            # so the oracle is again unchanged
            filt = (("ahx", "a85", "a85+flate", "lzw", "rle")
                    [(i // 11) % 5]
                    if i % 11 == 6 else None)
            # r5 notches 8/10 + r6 notch 11b: docs with
            # i%13==7 are standard-security encrypted with an
            # EMPTY user password, alternating by i//13 across
            # R2 RC4-40, R3 RC4-128, R4 V4/AESV2 (AES-128-CBC),
            # R5 V5/AESV3 (AES-256, deprecated one-SHA-256
            # revision) and R6 V5/AESV3 (AES-256, hardened
            # Algorithm-2.B — the CURRENT standard scheme) —
            # the permissions-only protection the whole web-PDF
            # corpus carries, legacy to modern. Text is
            # identical after decryption, so the oracle is
            # unchanged; a reader that skips /Encrypt extracts
            # nothing (or mojibake) and fails the value hash.
            # Decorrelated from the incremental slice (i%7==4
            # branch above stays unencrypted — append_update
            # bases must).
            # rotation is by encrypted-doc RANK (i // 130: PDF
            # ∧ encrypted ⇒ i ≡ 124 mod 130), NOT (i//13)%5 —
            # encrypted ids step by 130 so i//13 steps by
            # 10 ≡ 0 (mod 5) and that index is CONSTANT: the
            # first r6 corpus silently made EVERY encrypted doc
            # R6 and its deliberately-expensive KDF dominated
            # the flagship (7.5 s vs ~2.5 s — caught by the new
            # bench calibration + per-query deltas). Ordered
            # 6,5,4,3,2 so the NEW V5 revisions land on the
            # lowest ranks and reach the sf0.01 oracle gate
            # (3 encrypted docs there); all five appear from
            # sf0.1 up.
            enc_r = ((6, 5, 4, 3, 2)[(i // 130) % 5]
                     if i % 13 == 7 else None)
            # r6 form-XObject slice: docs with i%19==11 move
            # the h3 'Part' block into a /Subtype /Form
            # XObject painted by cm/Do — the letterhead
            # pattern; markdown is layout-invariant so the
            # oracle is unchanged, and a reader that ignores
            # Form XObjects LOSES the h3 and fails the value
            # hash. Excluded from nested-tree docs (i%20==14:
            # per-page /XObject resources would override the
            # §7.7.3.4 inheritance that slice gates).
            pdf_forms = None
            if i % 19 == 11 and i % 20 != 14:
                part_block = doc_pages[0].pop(2)
                pdf_forms = [[(0.0, 0.0, [part_block])]]
            return ".pdf", write_pdf(
                doc_pages, compress=i % 2 == 0,
                xref_stream=i % 3 == 0, font_encoding=enc,
                split_contents=3 if i % 5 in (2, 4) else 1,
                nested_kids=i % 20 == 14, stream_filter=filt,
                encrypt_r=enc_r, forms=pdf_forms)

    return _replace_html(pages, page)


def pages_embedded_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → pages carrying EMBEDDED raster images inside
    PDF and DOCX containers (r6 notch 11a — the A12 manifest contract
    beyond HTML; reference ``_process_document_images``,
    ``service.py:41-66`` surfaces pictures from ANY format):

    - doc_id %3 == 0 → a PDF whose page paints TWO /DeviceGray image
      XObjects between the title and the body text — one /FlateDecode
      (w = 16 + i%13, h = 12 + i%9), one /DCTDecode baseline-grayscale
      JPEG (w = 8 + i%8, h = 8 + i%5) — with layout alternating across
      classic/xref-stream and plain/Flate content coding (markdown and
      manifest are layout-invariant);
    - doc_id %3 == 1 → a DOCX with one inline ``a:blip`` drawing whose
      ``word/media`` part is the md5-textured ``picture_png`` for ref
      ``demb-<i>-a`` (dims md5-derived — the SQL oracle re-predicts
      them via textsql.md5_int);
    - doc_id %3 == 2 → a PPTX whose slide carries a ``p:pic`` →
      ``a:blip`` shape after the body (ref ``pemb-<i>-a``) — so ALL
      FOUR container formats (HTML via extract_images, PDF, DOCX,
      PPTX) are driver-gated on the one A12 manifest contract.

    Every dimension above is a pure function of doc_id, so the driver
    oracle value-gates the decoded PNG geometry end to end; exact
    pixel bytes are golden-tested in pytest (test_extractors /
    test_png). The ``text`` column passes NULL through."""
    from ..operators.ooxml_write import write_docx, write_pptx
    from ..operators.pdf_write import write_pdf
    from ..operators.png_write import picture_png

    def page(i, t, _lang):
        text = t or ""
        if i % 3 == 1:
            return ".docx", write_docx(
                f"Doc {i}", text, [f"li one {i}", "li two"],
                [["k", "v"], ["id", str(i)]],
                images=[picture_png(f"demb-{i}-a")]), t
        if i % 3 == 2:
            return ".pptx", write_pptx(
                [(f"Doc {i}", [(0, text)])],
                images=[[picture_png(f"pemb-{i}-a")]]), t
        w1, h1 = 16 + i % 13, 12 + i % 9
        px1 = bytes(((x * 3 + y * 5 + i) % 256)
                    for y in range(h1) for x in range(w1))
        w2, h2 = 8 + i % 8, 8 + i % 5
        px2 = bytes([(i * 7) % 256]) * (w2 * h2)
        blocks = [(72.0, 730.0, 24.0, [f"Doc {i}"])]
        lines = _wrap(text)
        if lines:
            blocks.append((72.0, 560.0, 11.0, lines))
        # r6: half the flate images ride the /Predictor 15
        # PNG-row coding real writers emit — decode output
        # is identical, so the geometry oracle is unchanged
        codec1 = "flate-png" if (i // 3) % 2 else "flate"
        return ".pdf", write_pdf(
            [blocks], compress=i % 4 == 0, xref_stream=i % 6 == 0,
            images=[[(72.0, 700.0, w1, h1, px1, codec1),
                     (72.0, 640.0, w2, h2, px2, "dct")]]), t

    return _from_documents(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), page)
