"""Input pools for the benchmark: generation, oracle expectations, cache.

Every workload reads a *pool* of pre-generated slices. A slice is a
parquet directory of pages (or, for ``curation_queries``, a directory
holding ``documents.parquet`` and ``embeddings.parquet``). Each timed pass
reads a slice that no earlier pass of the run fed to the same Python
workers, so per-file memos inside the engine never turn a pass into a
re-read. The run seed picks which slices the passes read and in what order
(``run_plan``); the pool itself is seed-independent so that it is built once
per checkout.

Expected results come from the registry's DuckDB oracles
(``__spark_entry__.oracle_sql()`` and the replica-oracle functions), computed
once per pool and stored next to it. For the extraction workloads they are
stored as one 64-bit hash per url of ``(fmt, markdown, error)`` (the same
Spark expression hashes the timed pass output, see ``ROW_HASH``).

Cache key: workload, scale, the sha256 of the generated documents tables,
the sha256 of the generator and oracle sources, and the oracle texts. The
pool records the sha256 of every file it wrote; a run re-hashes the files
before timing and rebuilds the pool on any mismatch, so a stale or partial
table is never timed.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: the synthetic documents vocabulary (same shape as the repository's test tables:
#: 30 lowercase words, 10..99 words per doc, 5% near-duplicates ending in
#: " dup", langs en 40% and fr/es/zh/de 15% each, 20 sources)
WORDS = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)

#: ids of slice ``s`` start at ``s * SLICE_SPAN``; a doc's slice is
#: ``doc_id // SLICE_SPAN``
SLICE_SPAN = 100_000
WARM_SLICE = 99

#: Spark expression hashing one extraction result row; NULLs get a
#: sentinel so (NULL, 'x') and ('x', NULL) hash apart
ROW_HASH = ("xxhash64(coalesce(fmt, '\\u0000'), "
            "coalesce(markdown, '\\u0000'), coalesce(error, '\\u0000'))")

CURATION_QUERIES = ("dedup_near_pipeline", "dedup_minhash_lsh",
                    "ngram_jaccard", "substring_dedup", "semdedup",
                    "lm_scores", "tfidf_topterms", "bpe_train", "bpe_vocab",
                    "bpe_segment_counts")

#: engine sources whose output the pools or their expectations depend on
_GENERATOR_SOURCES = (
    "docling_api_spark/sources/pages.py",
    "docling_api_spark/operators/pdf_write.py",
    "docling_api_spark/operators/pdf_crypt.py",
    "docling_api_spark/operators/ooxml_write.py",
    "docling_api_spark/operators/png_write.py",
    "docling_api_spark/operators/ocr.py",
    "docling_api_spark/operators/jpeg_codec.py",
    "docling_api_spark/operators/bpe.py",
    "docling_api_spark/operators/similarity.py",
    "perfbench/corpus.py",
)


# ------------------------------------------------------------ documents

def documents(ids, rng_seed: int) -> pa.Table:
    """A documents table (doc_id, text, lang, source, n_chars) over
    ``ids``; 5% of docs copy an earlier doc's text and append ' dup'."""
    ids = np.asarray(ids, dtype=np.int64)
    rng = np.random.default_rng(rng_seed)
    n = len(ids)
    lens = rng.integers(10, 100, n)
    words = [WORDS[j] for j in rng.integers(0, len(WORDS),
                                            int(lens.sum())).tolist()]
    texts, pos = [], 0
    for ln in lens.tolist():
        texts.append(" ".join(words[pos:pos + ln]))
        pos += ln
    for i in range(1, n):
        if rng.random() < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    langs = rng.choice(LANGS, n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids.tolist()]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(ids, rng_seed: int, dim: int = 64) -> pa.Table:
    """Unit vectors (vec_id, embedding, label); 5% are near copies of an
    earlier vector, so the semantic dedup has pairs to find."""
    ids = np.asarray(ids, dtype=np.int64)
    rng = np.random.default_rng(rng_seed)
    v = rng.standard_normal((len(ids), dim)).astype(np.float32)
    for i in range(1, len(ids)):
        if rng.random() < 0.05:
            v[i] = v[int(rng.integers(0, i))] + 0.01 * v[i]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, len(ids)).astype(np.int32)),
    })


# ------------------------------------------------------------ pool shapes

def pool_shape(workload: str, scale: float) -> dict:
    """Slice sizes per workload. ``scale`` shrinks every slice (the
    self-test runs at 0.001-ish sizes)."""
    def n(x: int, lo: int = 20) -> int:
        return max(lo, int(round(x * scale)))
    if workload == "crawl_mix":
        return {"timed": 12, "docs": n(4000), "one_task_docs": n(1000),
                "warm_docs": n(1000)}
    if workload == "resume_write":
        return {"timed": 8, "docs": n(2000), "warm_docs": n(1000)}
    if workload == "binary_docs":
        return {"timed": 12, "pdf": n(500, 10), "ooxml": n(150, 3),
                "emb": n(450, 6), "scan": n(200, 4), "broken": n(330, 11),
                "warm_scale": 0.5}
    if workload == "curation_queries":
        return {"timed": 4, "docs": n(500, 60)}
    raise ValueError(f"unknown workload {workload!r}")


def _crawl_docs(shape: dict) -> dict[int, np.ndarray]:
    """slice id -> doc ids. Timed slices 0..T-1, one-task slices 20..,
    warm slice 99."""
    out = {s: s * SLICE_SPAN + np.arange(shape["docs"])
           for s in range(shape["timed"])}
    if "one_task_docs" in shape:
        for s in range(shape["timed"]):
            out[20 + s] = (20 + s) * SLICE_SPAN + np.arange(
                shape["one_task_docs"])
    out[WARM_SLICE] = WARM_SLICE * SLICE_SPAN + np.arange(shape["warm_docs"])
    return out


#: binary_docs sub-corpora: kind -> (id offset inside a slice, id stride,
#: residues). with_fixture_pdfs/with_fixture_ooxml pick formats by doc_id
#: residue mod 10; the other generators use every id
_BINARY_KINDS = {
    "pdf": (0, 10, (4,)),
    "ooxml": (20_000, 10, (2, 9, 3)),
    "emb": (40_000, 1, (0,)),
    "scan": (60_000, 1, (0,)),
    "broken": (80_000, 1, (0,)),
}


def _binary_docs(shape: dict) -> dict[str, dict[int, np.ndarray]]:
    """kind -> slice id -> doc ids."""
    out: dict[str, dict[int, np.ndarray]] = {k: {} for k in _BINARY_KINDS}
    slices = list(range(shape["timed"])) + [WARM_SLICE]
    for s in slices:
        f = shape["warm_scale"] if s == WARM_SLICE else 1.0
        for kind, (off, stride, res) in _BINARY_KINDS.items():
            cnt = max(len(res), int(round(shape[kind] * f)))
            per = -(-cnt // len(res))
            ids = [s * SLICE_SPAN + off + stride * j + r
                   for j in range(per) for r in res]
            out[kind][s] = np.asarray(sorted(ids)[:max(cnt, len(res))])
    return out


def run_plan(workload: str, seed: int, shape: dict) -> list[int]:
    """Timed slice order for this seed: a seeded permutation of the
    pool's timed slices (the seed sets the doc_id offset each pass starts
    from and the pass order)."""
    order = list(range(shape["timed"]))
    random.Random(f"{workload}:{seed}").shuffle(order)
    return order


def file_order(files: list[str], seed: int, tag: str) -> list[str]:
    """Seeded file order for one pass's scan."""
    files = sorted(files)
    random.Random(f"{tag}:{seed}").shuffle(files)
    return files


# ------------------------------------------------------------ cache

def _sha_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _sha_tree(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for fn in files:
            if fn.endswith(".crc") or fn == "FINGERPRINT.json":
                continue
            p = os.path.join(d, fn)
            out[os.path.relpath(p, root)] = _sha_file(p)
    return out


def _sources_sha() -> str:
    h = hashlib.sha256()
    for rel in _GENERATOR_SOURCES:
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(rel.encode() + b"\0" + f.read())
    return h.hexdigest()


def _oracle_sha(oracles: dict[str, str]) -> str:
    h = hashlib.sha256()
    for n in sorted(oracles):
        h.update(n.encode() + b"\0" + oracles[n].encode())
    return h.hexdigest()


class Pool:
    """A materialized, fingerprint-checked input pool for one workload."""

    def __init__(self, root: str, shape: dict):
        self.root = root
        self.shape = shape

    def slice_dir(self, s: int) -> str:
        return os.path.join(self.root, "slices", str(s))

    def slice_files(self, s: int) -> list[str]:
        d = self.slice_dir(s)
        return [os.path.join(d, f) for f in os.listdir(d)
                if f.endswith(".parquet")]

    def expected(self) -> dict[int, dict[str, int]]:
        """slice -> url -> expected row hash (extraction workloads)."""
        t = pq.read_table(os.path.join(self.root, "expected.parquet"))
        out: dict[int, dict[str, int]] = {}
        for s, u, h in zip(t["slice"].to_pylist(), t["url"].to_pylist(),
                           t["h"].to_pylist()):
            out.setdefault(s, {})[u] = h
        return out

    def expected_queries(self, s: int) -> dict[str, list]:
        with open(os.path.join(self.root, "expected", f"{s}.json")) as f:
            return json.load(f)

    def input_bytes(self, s: int) -> int:
        d = self.slice_dir(s)
        return sum(os.path.getsize(os.path.join(d, f))
                   for f in os.listdir(d) if not f.startswith("."))


def open_pool(session, workload: str, scale: float, cache_root: str,
              log) -> Pool | None:
    """Return the pool for ``workload``, building it when the cache key or
    any file fingerprint does not match. ``session()`` is a context
    manager yielding the Spark session to build with; with
    ``session=None`` a missing pool returns None instead."""
    import __spark_entry__ as entry
    shape = pool_shape(workload, scale)
    docs = _pool_documents(workload, shape)
    h = hashlib.sha256(f"{workload}:{scale}:{_sources_sha()}".encode())
    for t in docs.values():
        sink = pa.BufferOutputStream()
        pq.write_table(t, sink)
        h.update(sink.getvalue().to_pybytes())
    oracles = entry.oracle_sql()
    h.update(_oracle_sha(oracles).encode())
    prefix = f"{workload}-x{scale}-"
    root = os.path.join(cache_root, prefix + h.hexdigest()[:16])
    fp = os.path.join(root, "FINGERPRINT.json")
    if os.path.exists(fp):
        with open(fp) as f:
            want = json.load(f)
        if _sha_tree(root) == want:
            return Pool(root, shape)
        log(f"pool {root}: fingerprint mismatch")
    if session is None:
        return None
    shutil.rmtree(root, ignore_errors=True)
    for stale in os.listdir(cache_root) if os.path.isdir(cache_root) else []:
        if stale.startswith(prefix):
            shutil.rmtree(os.path.join(cache_root, stale), ignore_errors=True)
    os.makedirs(root)
    log(f"building pool {root}")
    with session() as spark:
        _BUILDERS[workload](spark, root, shape, docs, oracles)
    tree = _sha_tree(root)
    with open(fp, "w") as f:
        json.dump(tree, f, sort_keys=True)
    return Pool(root, shape)


def _pool_documents(workload: str, shape: dict) -> dict[str, pa.Table]:
    """The documents tables a pool is generated from (seed-independent)."""
    if workload in ("crawl_mix", "resume_write"):
        ids = np.concatenate(list(_crawl_docs(shape).values()))
        return {"all": documents(ids, 7)}
    if workload == "binary_docs":
        return {kind: documents(np.concatenate(list(by_slice.values())),
                                11 + i)
                for i, (kind, by_slice)
                in enumerate(_binary_docs(shape).items())}
    return {str(s): documents(np.arange(shape["docs"]) + s * SLICE_SPAN,
                              100 + s)
            for s in range(shape["timed"])}


# ------------------------------------------------------------ pool construction

def _write_docs(table: pa.Table, d: str) -> str:
    os.makedirs(d, exist_ok=True)
    pq.write_table(table, os.path.join(d, "documents.parquet"))
    return d


def _oracle_rows(tmp_docs: str, sql: str):
    import duckdb
    con = duckdb.connect()
    try:
        con.sql("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{tmp_docs}/documents.parquet')")
        if os.path.exists(f"{tmp_docs}/embeddings.parquet"):
            con.sql("CREATE VIEW embeddings AS SELECT * FROM read_parquet("
                    f"'{tmp_docs}/embeddings.parquet')")
        return con.sql(sql).df()
    finally:
        con.close()


def _split_slices(spark, staging: str, root: str, files_for) -> None:
    """Write each slice of the staged pages as its own parquet dir."""
    from pyspark.sql import functions as F
    pages = spark.read.parquet(staging).withColumn(
        "_slice", (F.regexp_extract("url", r"/doc/(\d+)\.", 1)
                   .cast("long") / SLICE_SPAN).cast("int"))
    slices = sorted(r._slice for r in
                    pages.select("_slice").distinct().collect())
    for s in slices:
        (pages.where(F.col("_slice") == s).drop("_slice")
         .repartition(files_for(s)).write.mode("overwrite")
         .parquet(os.path.join(root, "slices", str(s))))
    shutil.rmtree(staging, ignore_errors=True)


def _expected_hashes(spark, root: str, frames) -> None:
    """Oracle rows (url, fmt, markdown, error) -> expected.parquet of
    (slice, url, h), hashed by the same Spark expression as the timed
    passes."""
    import pandas as pd
    from pyspark.sql import functions as F
    pdf = pd.concat(frames, ignore_index=True)[
        ["url", "fmt", "markdown", "error"]].astype(object)
    pdf = pdf.where(pdf.notna(), None)
    df = spark.createDataFrame(
        pdf, "url string, fmt string, markdown string, error string")
    rows = df.select("url", F.expr(ROW_HASH).alias("h")).collect()
    ids = [int(r.url.rsplit("/", 1)[1].split(".")[0]) for r in rows]
    pq.write_table(pa.table({
        "slice": pa.array([i // SLICE_SPAN for i in ids], pa.int32()),
        "url": pa.array([r.url for r in rows]),
        "h": pa.array([r.h for r in rows], pa.int64()),
    }), os.path.join(root, "expected.parquet"))


def _build_crawl(spark, root: str, shape: dict, docs: dict,
                 oracles: dict) -> None:
    """CC-style HTML (~4 KB chrome) + 10% Markdown + 10% fixture PDFs."""
    from docling_api_spark.sources.pages import (pages_from_documents,
                                                 with_fixture_pdfs)
    width = spark.sparkContext.defaultParallelism
    d_all = docs["all"]
    tmp = _write_docs(d_all, os.path.join(root, "_docs"))
    staging = os.path.join(root, "_staging")
    with_fixture_pdfs(pages_from_documents(spark, tmp, parallelism=width)) \
        .write.mode("overwrite").parquet(staging)
    one_task = set(range(20, 20 + shape["timed"]))
    _split_slices(spark, staging, root,
                  lambda s: 1 if s in one_task else 2 * width)
    # ids = 4 (mod 10) ship as PDFs; the markdown oracle covers the rest
    not_pdf = d_all["doc_id"].to_numpy() % 10 != 4
    tmp_md = _write_docs(d_all.filter(pa.array(not_pdf)),
                         os.path.join(root, "_docs_md"))
    frames = [_oracle_rows(tmp_md, oracles["extract_markdown"]),
              _oracle_rows(tmp, oracles["extract_pdf_markdown"])]
    _expected_hashes(spark, root, frames)
    for d in (tmp, tmp_md):
        shutil.rmtree(d, ignore_errors=True)


def _build_binary(spark, root: str, shape: dict, docs: dict,
                  oracles: dict) -> None:
    """Fixture PDFs, OOXML/AsciiDoc, embedded-image PDF/DOCX/PPTX, PNG/
    JPEG scans and the 11-class broken corpus, one id range per kind."""
    from docling_api_spark.sources import pages as P
    from pyspark.sql import functions as F
    width = spark.sparkContext.defaultParallelism
    staging = os.path.join(root, "_staging")
    frames = []
    for kind, table in docs.items():
        d = _write_docs(table, os.path.join(root, f"_docs_{kind}"))
        if kind == "pdf":
            pages = P.with_fixture_pdfs(
                P.pages_from_documents(spark, d, parallelism=width)) \
                .where(F.col("url").endswith(".pdf"))
            sqls = [oracles["extract_pdf_markdown"]]
        elif kind == "ooxml":
            pages = P.with_fixture_ooxml(
                P.pages_from_documents(spark, d, parallelism=width)) \
                .where(~F.col("url").endswith(".html"))
            sqls = [oracles["extract_docx_markdown"],
                    oracles["extract_pptx_markdown"],
                    oracles["extract_adoc_markdown"]]
        elif kind == "emb":
            pages = P.pages_embedded_images(spark, d)
            sqls = [f"""SELECT DISTINCT url,
                CASE WHEN url LIKE '%.pdf' THEN 'pdf'
                     WHEN url LIKE '%.docx' THEN 'docx' ELSE 'pptx' END
                  AS fmt, markdown, CAST(NULL AS VARCHAR) AS error
                FROM ({oracles['extract_embedded_images']})"""]
        elif kind == "scan":
            pages = P.pages_with_scans(spark, d)
            sqls = [oracles["extract_scanned_markdown"]]
        else:
            pages = P.pages_broken(spark, d)
            sqls = [oracles["error_taxonomy"]]
        pages.repartition(width).write.mode("append").parquet(staging)
        frames += [_oracle_rows(d, q) for q in sqls]
        shutil.rmtree(d, ignore_errors=True)
    _split_slices(spark, staging, root, lambda s: 2 * width)
    _expected_hashes(spark, root, frames)


def _build_curation(spark, root: str, shape: dict, docs: dict,
                    oracles: dict) -> None:
    """One documents+embeddings dir per slice, and the canonical oracle
    rows of each curation query over it."""
    from docling_api_spark.operators import bpe, similarity
    from . import check
    os.makedirs(os.path.join(root, "expected"))
    for s, table in docs.items():
        d = _write_docs(table, os.path.join(root, "slices", s))
        pq.write_table(embeddings(table["doc_id"].to_numpy(), 200 + int(s)),
                       os.path.join(d, "embeddings.parquet"))
        sql = dict(oracles)
        sql["semdedup"] = similarity.semdedup_oracle(d)
        sql["bpe_train"] = bpe.bpe_train_oracle(d)
        sql["bpe_vocab"] = bpe.bpe_vocab_oracle(d)
        sql["bpe_segment_counts"] = bpe.bpe_segment_oracle(d)
        exp = {q: check.canon_rows(_oracle_rows(d, sql[q]))
               for q in CURATION_QUERIES}
        with open(os.path.join(root, "expected", f"{s}.json"), "w") as f:
            json.dump(exp, f)


_BUILDERS = {
    "crawl_mix": _build_crawl,
    "resume_write": _build_crawl,
    "binary_docs": _build_binary,
    "curation_queries": _build_curation,
}
