#!/usr/bin/env python3
"""Repository benchmark: four workloads over the extraction job and the
curation queries.

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 8 --trace 0

Workloads (``BENCHMARK.json`` lists the first two and says why; the other
two cost ~45-55 s per run and are run on demand):

- ``crawl_mix``: CC-style HTML + 10% Markdown + 10% fixture PDFs through
  ``extract_df``; each round also runs a quarter-size slice as one task
  (the N -> 4N scaling leg);
- ``binary_docs``: PDFs, OOXML/AsciiDoc, embedded-image containers, PNG/JPEG
  scans and the 11-class broken corpus through ``extract_df``;
- ``resume_write``: ``job.main`` (the spark-submit entry) twice with one
  ``--run-id``: extract + partitioned write + metrics + manifest, then the
  resume leg, which must compute 0 partitions;
- ``curation_queries``: ten registry queries, each pass on its own corpus
  so every session memo starts cold.

Every pass checks every output row against the registry's DuckDB oracles.
The session uses the settings of ``docling_api_spark/job.py`` at
``local[nproc]``. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
is the run record (host bracket, Spark conf, every pass); it is also written
under ``.perfbench/records/``, and a traced run writes its spans there.

A traced run alternates untraced and traced passes, then times the layer
legs: scan and Python hand-off, a serial in-process loop over one pass's
rows (``layers.py``), and for ``crawl_mix``/``resume_write`` the sink,
lineage, resume and manifest legs. ``binary_docs``'s traced run adds one
``curation_queries`` pass, so the registry-operator layer is measured on a
workload ``BENCHMARK.json`` lists.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("crawl_mix", "binary_docs", "resume_write", "curation_queries")

#: the shipped job's session settings (docling_api_spark/job.py)
JOB_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "64",
}

#: set-ups per run; ``setup_s`` is their median
SETUPS = 3

#: workloads whose traced run also times the sink, lineage, resume and
#: manifest layers (``Runner.sink_legs``)
SINK_WORKLOADS = ("crawl_mix", "resume_write")


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def _isolate_files() -> dict:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the engine and this package."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM the run starts: temp files in the checkout, and no
    # hsperfdata file (HotSpot writes that one to /tmp regardless)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile
    tempfile.tempdir = tmp
    # oracle_sql() builds its replica oracles over a default corpus outside
    # the checkout; a missing dir makes it skip them (pools build them per
    # slice)
    os.environ["SWEEP_SF_DIR"] = os.path.join(WORK, "no-default-corpus")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }


def _session(width: int, local_conf: dict):
    from pyspark.sql import SparkSession
    b = SparkSession.builder.master(f"local[{width}]").appName("perfbench")
    for k, v in {**JOB_CONF, **local_conf}.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def worker_rss_mb() -> float:
    """Peak RSS (VmHWM) of the largest Python worker under this process."""
    parent: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    mine, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier} - mine
        mine |= frontier
    peak = 0
    for pid in mine:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024.0


def _stop_gateway(spark_context_cls) -> None:
    """Shut the JVM down and wait until it has exited."""
    gw = spark_context_cls._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)


def _versions() -> dict:
    import pyarrow
    import pyspark
    return {"python": sys.version.split()[0], "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__}


def _median(xs):
    xs = [x for x in xs if x == x]
    return statistics.median(xs) if xs else float("nan")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="slice size factor (the self-test uses ~0.05)")
    ap.add_argument("--mutate", choices=("none", "alter", "drop"),
                    default="none",
                    help="self-test only: corrupt one output row of the "
                         "first pass before it is checked")
    ap.add_argument("--build-only", action="store_true",
                    help="build the workload's input pool and exit")
    args = ap.parse_args(argv)

    local_conf = _isolate_files()
    sys.path.insert(0, ROOT)
    import docling_api_spark  # noqa: F401  (fails outside a checkout)
    from bench import _cpu_probe
    from pyspark import SparkConf, SparkContext

    from perfbench import corpus
    from perfbench.trace import Tracer
    from perfbench.workloads import Runner

    for d in ("records", "cache", "out"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    width = len(os.sched_getaffinity(0))
    cache = os.path.join(WORK, "cache")

    @contextlib.contextmanager
    def build_session():
        spark = _session(width, local_conf)
        try:
            yield spark
        finally:
            spark.stop()

    # fixture generation is the benchmark's own cost: cached, not timed,
    # and done in a child process so that every measured run starts from
    # a cold JVM (a JVM that just built a pool extracts ~25% faster)
    if args.build_only:
        SparkContext._ensure_initialized(
            conf=SparkConf().setAll(list(local_conf.items())))
        corpus.open_pool(build_session, args.workload, args.scale, cache,
                         log)
        _stop_gateway(SparkContext)
        return 0
    pool = corpus.open_pool(None, args.workload, args.scale, cache, log)
    if pool is None:
        subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--build-only"] + (argv or sys.argv[1:]),
                       check=True)
        pool = corpus.open_pool(None, args.workload, args.scale, cache, log)
    probe_pre = _cpu_probe(0.5)
    log("pool ready")

    t0 = time.perf_counter()
    SparkContext._ensure_initialized(
        conf=SparkConf().setAll(list(local_conf.items())))
    jvm_s = time.perf_counter() - t0

    tracer = Tracer(enabled=False)
    setups = []
    for k in range(SETUPS):
        t0 = time.perf_counter()
        spark = _session(width, local_conf)
        runner = Runner(spark, args.workload, pool, args.seed, tracer,
                        os.path.join(WORK, "out"), args.mutate,
                        layer_legs=bool(args.trace))
        runner.set_up()
        setups.append(time.perf_counter() - t0)
        if k < SETUPS - 1:
            spark.stop()
    log(f"set-ups done: {[round(x, 3) for x in setups]}")
    runner.warm_pass()

    # a traced run alternates untraced and traced passes and keeps three
    # slices back for the sink legs
    plan = corpus.run_plan(args.workload, args.seed, pool.shape)
    if args.trace and args.workload in SINK_WORKLOADS:
        plan = plan[:-3]
    budget = args.seconds * (2 if args.trace else 1)
    passes, t_start = [], time.perf_counter()
    for r, s in enumerate(plan):
        tracer.enabled = bool(args.trace) and r % 2 == 1
        rec = runner.run_pass(r, s)
        rec["traced"] = tracer.enabled
        passes.append(rec)
        log(f"pass {r} slice {s}: {rec['wall_s']:.3f} s, "
            f"{rec['failed']}/{rec['attempted']} failed")
        if (time.perf_counter() - t_start >= budget
                and (not args.trace or len(passes) >= 2)):
            break
    tracer.enabled = False
    rss = worker_rss_mb()

    untraced = [p for p in passes if not p["traced"]]
    metrics = {
        "docs_per_s": (_median(p["docs_per_s"] for p in untraced), "1/s"),
        "setup_s": (statistics.median(setups), "s"),
        "worker_rss_mb": (rss, "MB"),
    }
    if args.trace:
        extra = []
        if args.workload == "binary_docs":
            # the registry-operator layer rides on this workload's traced
            # run: one curation-query pass over its own pool
            @contextlib.contextmanager
            def same_session():
                yield spark
            qpool = corpus.open_pool(same_session, "curation_queries",
                                     args.scale, cache, log)
            qrunner = Runner(spark, "curation_queries", qpool, args.seed,
                             tracer, os.path.join(WORK, "out"))
            with tracer.recording():
                extra.append(qrunner.run_pass(
                    0, corpus.run_plan("curation_queries", args.seed,
                                       qpool.shape)[0]))
            log(f"curation pass: {extra[0]['wall_s']:.3f} s, "
                f"{extra[0]['failed']}/{extra[0]['attempted']} failed")
        metrics = _per_layer(args.workload, runner, pool, plan, passes,
                             extra, tracer, width, setups, jvm_s)
        passes += [dict(p, traced=True) for p in extra]
        tracer.dump(os.path.join(
            WORK, "records", f"trace-{args.workload}-{args.seed}.json"),
            {"metrics": {k: v for k, (v, _) in metrics.items()}})
    attempted = sum(p["attempted"] for p in passes)
    failed = sum(p["failed"] for p in passes)
    if args.trace:
        metrics["check.fail_ratio"] = (failed / attempted, "ratio")

    log("passes done")
    conf = dict(spark.sparkContext.getConf().getAll())
    conf.update({k: spark.conf.get(k) for k in JOB_CONF})
    spark.stop()
    _stop_gateway(SparkContext)

    log("session stopped")
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "scale": args.scale, "width": width, "nproc": os.cpu_count(),
        "cpu_probe_ops_s": {"pre": probe_pre, "post": _cpu_probe(0.5)},
        "versions": _versions(), "spark_conf": conf,
        "pool": os.path.relpath(pool.root, ROOT),
        "setups_s": setups, "jvm_s": jvm_s, "passes": passes,
    }
    with open(os.path.join(WORK, "records",
                           f"{args.workload}-{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump(record, f)
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}), flush=True)
    return 0


def _unit(name: str) -> str:
    for suffix, unit in (("_per_s", "1/s"), ("_s", "s"), ("_us", "us"),
                         ("_mb", "MB"), ("_ratio", "ratio"),
                         ("_skew", "ratio"), ("_eff", "ratio")):
        if name.endswith(suffix) or suffix + "_" in name:
            return unit
    return "count"


def _per_layer(workload, runner, pool, plan, passes, extra, tracer, width,
               setups, jvm_s) -> dict:
    """Every per-layer metric; 0 where the workload does not run the
    layer."""
    from perfbench import layers
    from perfbench.corpus import CURATION_QUERIES, WARM_SLICE

    def pick(key, among=passes):
        xs = [p[key] for p in among if key in p and not p["traced"]]
        return _median(xs) if xs else 0.0

    untraced = [p["wall_s"] for p in passes if not p["traced"]]
    traced = [p["wall_s"] for p in passes if p["traced"]]
    vals = dict.fromkeys((
        "sources.scan_s", "sources.rows", "sources.input_mb",
        "pipeline.handoff_s", "pipeline.tasks", "pipeline.rows_skew",
        "pipeline.write_s", "pipeline.lineage_s", "pipeline.residual_s",
        "manifest.read_done_s", "manifest.append_s",
        "manifest.partitions_done"), 0.0)
    vals.update(layers.empty_metrics())
    vals["trace.overhead_ratio"] = (_median(traced)
                                    / _median(untraced[1:] or untraced))
    vals["setup.first_s"] = setups[0]
    vals["setup.jvm_s"] = jvm_s
    extract_s = pick("wall_s") if workload != "resume_write" else 0.0
    if workload in SINK_WORKLOADS:
        with tracer.recording():
            sink = runner.sink_legs(corpus_tail(pool, runner))
        leg = sink.pop("pipeline.extract_leg_s")
        extract_s = extract_s or leg
        vals["workload.resume_s"] = (pick("resume_s") or
                                     sink["pipeline.resume_leg_s"])
        vals.update(sink)
    if workload != "curation_queries":
        vals.update(runner.scan_legs(plan[0]))
        with tracer.recording():
            vals.update(layers.convert_loop(
                layers.read_rows(pool.slice_files(plan[0])), tracer))
            vals.update(layers.layer_functions(
                layers.read_rows(pool.slice_files(WARM_SLICE)), tracer))
        vals["pipeline.residual_s"] = extract_s - (
            vals["sources.scan_s"] + vals["pipeline.handoff_s"]
            + vals["convert.cpu_s"] / width)

    q_passes = passes if workload == "curation_queries" else extra
    for q in CURATION_QUERIES:
        runs = [p["queries"][q] for p in q_passes]
        vals[f"query.{q}_s"] = _median(r["s"] for r in runs) if runs else 0.0
        vals[f"query.{q}_rows"] = runs[0]["rows"] if runs else 0
    vals["family.bpe_s"] = sum(vals[f"query.{q}_s"] for q in (
        "bpe_train", "bpe_vocab", "bpe_segment_counts"))
    one = pick("one_task_docs_per_s")
    vals["workload.scaling_eff"] = (pick("docs_per_s") / (width * one)
                                    if one else 0.0)
    vals.setdefault("workload.resume_s", 0.0)
    vals.setdefault("pipeline.resume_leg_s", 0.0)
    vals.setdefault("pipeline.resume_partitions", 0)
    vals["workload.leg1_docs_per_s"] = pick("leg1_docs_per_s")
    vals["workload.queries_s"] = (_median(p["wall_s"] for p in q_passes)
                                  if q_passes else 0.0)
    return {k: (float(v), _unit(k)) for k, v in vals.items()}


def corpus_tail(pool, runner) -> list[int]:
    """The three timed slices a traced run keeps back for the sink legs."""
    from perfbench import corpus
    return corpus.run_plan(runner.workload, runner.seed, pool.shape)[-3:]


if __name__ == "__main__":
    sys.exit(main())
