#!/usr/bin/env python
"""Optimization-round measurement harness (guide §1) — NOT the frozen bench.

Times a named subset of registered queries with the same methodology as
bench.py (same session config, noop sink, warm + best-of-2, _SINGLE_SHOT
run once) and optionally dumps .explain("formatted") per query, so each
optimization's before/after evidence can be captured in minutes instead
of a full 83-query sweep. bench.py itself stays frozen for the driver.

``--handoff`` times the extraction operator's Python hand-off instead:
scan only, scan + an identity ``mapInPandas``, scan + an identity
``mapInArrow`` (both returning result-shaped rows with no conversion) and
the shipped ``extract_df``, each to a noop sink, interleaved over
``--repeats`` rounds at the job's Arrow batch size; it reports each leg's
median and quartiles, each leg's median over the scan's, and the CPU probe
before and after.

Usage:
    SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py q1 q2 ...
    python bench_extra.py --explain-dir plans/r07 --suffix before q1 q2
    python bench_extra.py --all            # every registered query
    SPARK_GRAFT_CPUS=4 python bench_extra.py --handoff --repeats 9
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from bench import SF_DIR, CPUS, _session, _consume, _cpu_probe, _SINGLE_SHOT  # noqa: E402

#: ``--handoff`` runs at the shipped job's Arrow batch size (``job.py``)
JOB_ARROW_BATCH = 64


def _identity_arrow(batches):
    """Result-shaped Arrow batches with no conversion, the Arrow twin of
    perfbench's ``_identity_result``: pass-through columns as the input
    arrays, ``bytes_in`` computed, the rest NULL or zero."""
    import pyarrow as pa
    from docling_api_spark.operators.convert import _RESULT_TYPES, _byte_length
    for b in batches:
        n = b.num_rows
        cols = {name: pa.nulls(n, t) for name, t in _RESULT_TYPES.items()}
        cols.update({name: b.column(name) for name in
                     ("url", "warc_ts", "lang", "partition_id")})
        cols["bytes_in"] = _byte_length(b.column("html"))
        cols["bytes_out"] = pa.array([0] * n, pa.int64())
        cols["parse_ms"] = pa.array([0.0] * n, pa.float64())
        yield pa.RecordBatch.from_arrays(list(cols.values()),
                                         names=list(cols))


def _quartiles(xs: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return {"median": round(med, 4), "q1": round(q1, 4), "q3": round(q3, 4),
            "runs": [round(x, 4) for x in xs]}


def handoff(repeats: int) -> dict:
    """Interleaved hand-off legs over the bench corpus (80% HTML, 10% MD,
    10% fixture PDFs), materialized once to parquet so every leg starts
    from a real scan."""
    from docling_api_spark.config import ExtractConfig
    from docling_api_spark.plans.pipeline import add_partition_id, extract_df
    from docling_api_spark.schemas import RESULT_DDL
    from docling_api_spark.sources.pages import (pages_from_documents,
                                                 with_fixture_pdfs)
    from perfbench.workloads import _identity_result

    probe_pre = _cpu_probe()
    spark = _session(CPUS)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                   str(JOB_ARROW_BATCH))
    work = tempfile.mkdtemp(prefix="bench_handoff_")
    try:
        path = os.path.join(work, "pages")
        with_fixture_pdfs(pages_from_documents(
            spark, SF_DIR, parallelism=CPUS)).write.parquet(path)
        pages = spark.read.parquet(path)
        cfg = ExtractConfig()
        scan = pages.select("url", "warc_ts", "html", "lang")
        keyed = add_partition_id(scan, cfg.num_partitions, cfg.partition_mode)
        legs = {
            "scan": scan,
            "identity_mapInPandas": keyed.mapInPandas(_identity_result,
                                                      RESULT_DDL),
            "identity_mapInArrow": keyed.mapInArrow(_identity_arrow,
                                                    RESULT_DDL),
            "extract_df": extract_df(pages, cfg),
        }
        for df in legs.values():           # untimed: workers, imports, JIT
            _consume(df)
        runs: dict[str, list[float]] = {k: [] for k in legs}
        for _ in range(repeats):
            for name, df in legs.items():
                spark.sparkContext.setJobDescription(f"bench_extra: {name}")
                t0 = time.perf_counter()
                _consume(df)
                runs[name].append(time.perf_counter() - t0)
        docs = pages.count()
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    stats = {k: _quartiles(v) for k, v in runs.items()}
    scan_med = stats["scan"]["median"]
    return {"sf_dir": SF_DIR, "cores": CPUS, "arrow_batch": JOB_ARROW_BATCH,
            "docs": docs, "repeats": repeats, "legs": stats,
            "over_scan_s": {k: round(v["median"] - scan_med, 4)
                            for k, v in stats.items() if k != "scan"},
            "cpu_calib_ops_s": {"pre": probe_pre, "post": _cpu_probe()}}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--explain-dir", default=None,
                    help="dump explain('formatted') per query into this dir")
    ap.add_argument("--suffix", default="before",
                    help="plan filename suffix: <query>_<suffix>.txt")
    ap.add_argument("--no-time", action="store_true",
                    help="only dump plans, skip timing")
    ap.add_argument("--handoff", action="store_true",
                    help="time the extraction hand-off legs instead of "
                         "queries")
    ap.add_argument("--repeats", type=int, default=5,
                    help="--handoff: interleaved rounds (>= 3)")
    args = ap.parse_args()
    if args.handoff:
        if args.repeats < 3:
            sys.exit("--handoff needs --repeats >= 3")
        print(json.dumps(handoff(args.repeats)))
        return

    import __spark_entry__ as entry
    reg = entry.queries()
    names = list(reg) if args.all else args.queries
    unknown = [n for n in names if n not in reg]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    probe_pre = _cpu_probe()
    spark = _session(CPUS)
    if any(n in _SINGLE_SHOT for n in names):
        from bench import prewarm
        prewarm(spark, SF_DIR)

    timings: dict[str, float] = {}
    for name in names:
        fn = reg[name]
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
        if args.explain_dir:
            df = fn(spark, SF_DIR)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted"))
            with open(os.path.join(args.explain_dir,
                                   f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(txt)
            if args.no_time:
                continue
        if name in _SINGLE_SHOT:
            t0 = time.perf_counter()
            _consume(fn(spark, SF_DIR))
            timings[name] = round(time.perf_counter() - t0, 3)
            continue
        _consume(fn(spark, SF_DIR))            # warm
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            _consume(fn(spark, SF_DIR))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)
    probe_post = _cpu_probe()
    print(json.dumps({"sf_dir": SF_DIR, "queries": timings,
                      "cpu_calib_ops_s": {"pre": probe_pre,
                                          "post": probe_post}}))
    spark.stop()


if __name__ == "__main__":
    main()
