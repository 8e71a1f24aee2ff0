"""One timed pass per workload, plus the setup warm-up and the extra
per-layer legs of a traced run. Every pass reads its own slice."""

from __future__ import annotations

import contextlib
import io
import os
import re
import shutil
import statistics
import sys
import time

from pyspark.sql import functions as F

from docling_api_spark.config import ExtractConfig
from docling_api_spark.plans import manifest as mf
from docling_api_spark.plans.pipeline import extract_df, run_extraction
from docling_api_spark.schemas import PAGES_SCHEMA, RESULT_DDL

from . import check
from .corpus import CURATION_QUERIES, ROW_HASH, WARM_SLICE, file_order

EXTRACTION = ("crawl_mix", "binary_docs", "resume_write")


def _warm_imports(batches):
    import docling_api_spark.operators.convert  # noqa: F401
    import docling_api_spark.operators.jpeg_codec  # noqa: F401
    import docling_api_spark.operators.ocr  # noqa: F401
    for b in batches:
        yield b


def _identity_result(batches):
    """Hand-off probe: result-shaped frames with no conversion."""
    import pandas as pd
    for pdf in batches:
        n = len(pdf)
        none = pd.Series([None] * n, dtype="object", index=pdf.index)
        yield pd.DataFrame({
            "url": pdf["url"], "warc_ts": pdf["warc_ts"], "lang": pdf["lang"],
            "fmt": none, "markdown": none, "images": none, "spans": none,
            "error": none,
            "bytes_in": pdf["html"].map(lambda b: len(b or b"")),
            "bytes_out": pd.Series([0] * n, dtype="int64", index=pdf.index),
            "parse_ms": pd.Series([0.0] * n, index=pdf.index),
            "partition_id": pdf["partition_id"].astype("int32"),
        })


class Runner:
    """Drives one workload's passes in one Spark session."""

    def __init__(self, spark, workload, pool, seed, tracer, work_dir,
                 mutate="none", layer_legs=False):
        self.spark = spark
        self.workload = workload
        self.pool = pool
        self.seed = seed
        self.tracer = tracer
        self.work = work_dir
        self.mutate = mutate
        self.layer_legs = layer_legs
        self.width = spark.sparkContext.defaultParallelism
        self.cfg = ExtractConfig()
        self.expected = (pool.expected() if workload in EXTRACTION else None)

    # ---------------------------------------------------------- helpers

    def pages(self, s: int):
        files = file_order(self.pool.slice_files(s), self.seed, str(s))
        return self.spark.read.schema(PAGES_SCHEMA).parquet(*files)

    def _action(self, name: str, fn):
        with self.tracer.span(name):
            t0 = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t0

    def _mutated(self, rows: list) -> list:
        """Self-test hook: alter or drop one output row before checking."""
        if self.mutate == "none" or not rows:
            return rows
        self.mutate, kind = "none", self.mutate
        if kind == "drop":
            return rows[1:]
        first = rows[0]
        if isinstance(first, tuple):
            return [(first[0], first[1] ^ 1)] + rows[1:]
        return [first[:-1] + ["altered"]] + rows[1:]

    def _hashes(self, out) -> list:
        return [(r.url, r.h) for r in
                out.select("url", F.expr(ROW_HASH).alias("h")).collect()]

    # ---------------------------------------------------------- setup

    def set_up(self) -> None:
        """Set-up: spawn a Python worker per core, import the engine there
        and run the first extraction of the session (the warm slice); the
        curation queries warm grouped-map workers instead."""
        n = self.width
        self.spark.range(0, 4 * n, 1, n).mapInPandas(
            _warm_imports, "id long").write.format("noop") \
            .mode("overwrite").save()
        if self.workload in EXTRACTION:
            self._hashes(extract_df(self.pages(WARM_SLICE), self.cfg))
        else:
            self.spark.range(0, 4 * n, 1, n) \
                .withColumn("k", F.col("id") % n).groupBy("k") \
                .applyInPandas(lambda p: p[["k"]], "k long") \
                .write.format("noop").mode("overwrite").save()

    def warm_pass(self) -> None:
        """Untimed, after set-up: run the workload's path over the warm
        slice again, so the timed passes start after the JVM's JIT
        warm-up (passes otherwise speed up through the first ~10 s)."""
        if self.workload == "resume_write":
            self._pass_resume_write(-1, WARM_SLICE, check_rows=False)
        elif self.workload in EXTRACTION:
            for _ in range(2):
                self._hashes(extract_df(self.pages(WARM_SLICE), self.cfg))

    # ---------------------------------------------------------- passes

    def run_pass(self, r: int, s: int) -> dict:
        """One timed pass over slice ``s``. A pass whose job fails counts
        every row it should have produced as failed."""
        with self.tracer.span(f"pass.{self.workload}"):
            try:
                return getattr(self, "_pass_" + self.workload)(r, s)
            except Exception as exc:
                print(f"pass {r} on slice {s} failed: {exc!r}",
                      file=sys.stderr, flush=True)
                n = (len(self.expected[s]) if self.expected is not None
                     else sum(map(len, self.pool.expected_queries(s)
                                  .values())))
                return {"slice": s, "wall_s": float("nan"),
                        "docs_per_s": float("nan"), "docs": 0,
                        "attempted": n, "failed": n}

    def _pass_crawl_mix(self, r: int, s: int) -> dict:
        """Full-width extraction; a traced run adds the one-task leg over a
        quarter-size slice (the scaling denominator)."""
        rec = self._pass_extract(s)
        if not self.layer_legs:
            return rec
        q = 20 + s
        one = self.pages(q).coalesce(1)
        rows, t1 = self._action("extract.one_task", lambda: self._hashes(
            extract_df(one, self.cfg)))
        rec["failed"] += check.diff_hashes(self.expected[q], rows)
        rec["attempted"] += len(self.expected[q])
        rec["one_task_docs_per_s"] = len(rows) / t1
        return rec

    def _pass_binary_docs(self, r: int, s: int) -> dict:
        return self._pass_extract(s)

    def _pass_extract(self, s: int) -> dict:
        out = extract_df(self.pages(s), self.cfg)
        rows, t = self._action("extract.collect", lambda: self._hashes(out))
        rows = self._mutated(rows)
        return {"slice": s, "wall_s": t, "docs": len(rows),
                "docs_per_s": len(rows) / t,
                "attempted": len(self.expected[s]),
                "failed": check.diff_hashes(self.expected[s], rows)}

    def _pass_resume_write(self, r: int, s: int,
                           check_rows: bool = True) -> dict:
        from docling_api_spark import job
        out = os.path.join(self.work, f"out-{self.seed}-{r}")
        argv = ["--input", self.pool.slice_dir(s), "--output", out,
                "--run-id", f"bench-{self.seed}-{r}"]
        expected = self.expected[s] if check_rows else {}
        legs = []
        try:
            for leg in ("job.first", "job.resume"):
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    _, t = self._action(leg, lambda: job.main(argv))
                m = re.search(r"docs=(\d+) partitions_computed=(\d+)",
                              buf.getvalue())
                legs.append((t, int(m.group(1)), int(m.group(2))))
            failed = 0
            if check_rows:
                rows = self._mutated(
                    self._hashes(self.spark.read.parquet(out)))
                failed = check.diff_hashes(expected, rows)
            if legs[1][2] != 0 or legs[1][1] != legs[0][1]:
                failed = len(expected)     # the resume leg redid work
        except Exception as exc:           # a failed job fails every doc
            print(f"resume_write pass {r} failed: {exc!r}", flush=True,
                  file=sys.stderr)
            legs, failed = [(float("nan"), 0, 0)] * 2, len(expected)
        finally:
            for suffix in ("", "_manifest", "_metrics"):
                shutil.rmtree(out + suffix, ignore_errors=True)
        (t1, docs, parts), (t2, _, _) = legs
        return {"slice": s, "wall_s": t1 + t2, "docs": docs,
                "docs_per_s": docs / (t1 + t2),
                "leg1_docs_per_s": docs / t1, "resume_s": t2,
                "partitions_computed": parts,
                "attempted": len(expected), "failed": failed}

    def _pass_curation_queries(self, r: int, s: int) -> dict:
        import __spark_entry__ as entry
        reg = entry.queries()
        d = self.pool.slice_dir(s)
        expected = self.pool.expected_queries(s)
        per_q, failed, attempted = {}, 0, 0
        for q in CURATION_QUERIES:
            rows, t = self._action(f"query.{q}",
                                   lambda: reg[q](self.spark, d).collect())
            got = self._mutated(check.canon_spark_rows(rows))
            failed += check.diff_rows(expected[q], got)
            attempted += len(expected[q])
            per_q[q] = {"s": t, "rows": len(rows)}
        wall = sum(v["s"] for v in per_q.values())
        docs = self.pool.shape["docs"]
        return {"slice": s, "wall_s": wall, "docs": docs,
                "docs_per_s": docs / wall, "queries": per_q,
                "attempted": attempted, "failed": failed}

    # ---------------------------------------------------------- layer legs

    def scan_legs(self, s: int, repeats: int = 3) -> dict:
        """Scan alone and scan + identity ``mapInPandas`` with the result
        schema; the difference is the Python hand-off."""
        from docling_api_spark.plans.pipeline import add_partition_id
        pages = self.pages(s).select("url", "warc_ts", "html", "lang")
        ident = add_partition_id(pages, self.cfg.num_partitions,
                                 self.cfg.partition_mode) \
            .mapInPandas(_identity_result, RESULT_DDL)
        scan, hand = [], []
        for _ in range(repeats):
            scan.append(self._action("scan.noop", lambda: pages.write.format(
                "noop").mode("overwrite").save())[1])
            hand.append(self._action("handoff.noop", lambda: ident.write
                                     .format("noop").mode("overwrite")
                                     .save())[1])
        counts = [r["count"] for r in pages.groupBy(
            F.spark_partition_id()).count().collect()]
        return {"sources.scan_s": statistics.median(scan),
                "pipeline.handoff_s": max(0.0, statistics.median(hand)
                                          - statistics.median(scan)),
                "sources.rows": sum(counts),
                "sources.input_mb": self.pool.input_bytes(s) / 1e6,
                "pipeline.tasks": pages.rdd.getNumPartitions(),
                "pipeline.rows_skew": max(counts) / (sum(counts)
                                                     / len(counts))}

    def sink_legs(self, slices: list[int]) -> dict:
        """Extract, extract + partitioned write, and ``run_extraction``
        twice with one run id (the second is the resume leg), each timed
        on its own slice; then the manifest read and append."""
        a, b, c = slices
        _, t_ex = self._action("sink.extract", lambda: self._hashes(
            extract_df(self.pages(a), self.cfg)))
        out_b = os.path.join(self.work, f"sink-{self.seed}")
        _, t_wr = self._action("sink.extract_write", lambda: extract_df(
            self.pages(b), self.cfg).write.mode("overwrite")
            .partitionBy("partition_id").parquet(out_b))
        out_c = os.path.join(self.work, f"run-{self.seed}")
        run_id = f"trace-{self.seed}"
        pages_c = self.spark.read.schema(PAGES_SCHEMA).parquet(
            self.pool.slice_dir(c))
        res, t_run = self._action("sink.run_extraction", lambda: run_extraction(
            self.spark, pages_c, out_c, run_id, self.cfg))
        again, t_resume = self._action(
            "sink.run_extraction_resume", lambda: run_extraction(
                self.spark, pages_c, out_c, run_id, self.cfg))
        done, t_read = self._action(
            "manifest.read_done", lambda: [
                r.partition_id for r in mf.read_done_partitions(
                    self.spark, res.manifest_path, run_id).collect()])
        scratch = os.path.join(self.work, f"manifest-{self.seed}")
        _, t_app = self._action("manifest.append", lambda: mf.append_manifest(
            self.spark, scratch, run_id, done))
        for p in (out_b, out_c, out_c + "_manifest", out_c + "_metrics",
                  scratch):
            shutil.rmtree(p, ignore_errors=True)
        return {"pipeline.extract_leg_s": t_ex,
                "pipeline.write_s": max(0.0, t_wr - t_ex),
                "pipeline.lineage_s": max(0.0, t_run - t_wr),
                "pipeline.resume_leg_s": t_resume,
                "pipeline.resume_partitions": again.partitions_computed,
                "manifest.read_done_s": t_read,
                "manifest.append_s": t_app,
                "manifest.partitions_done": len(done)}
