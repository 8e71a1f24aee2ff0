"""spark-submit entry point for the extraction job (north_rule launch mode).

Packaging + launch::

    cd /path/to/repo
    zip -r /tmp/engine.zip docling_api_spark
    spark-submit --py-files /tmp/engine.zip \\
        --conf spark.sql.adaptive.enabled=true \\
        --conf spark.sql.execution.arrow.pyspark.enabled=true \\
        docling_api_spark/job.py \\
        --input  /data/pages              # parquet dir or Iceberg table \\
        --output /data/pages_md \\
        --run-id crawl-2026-08 \\
        --partitions 4096

Re-running with the same ``--run-id`` resumes: completed partitions are
skipped via the checkpointed manifest (anti-join), recomputed ones are
rewritten idempotently (dynamic partition overwrite). Per-partition
lineage/metrics land next to the output (``<output>_manifest``,
``<output>_metrics``).

On a real cluster, size ``--partitions`` to the resume granularity you
want (it is the manifest width, not the task count). The default
``--partition-mode file`` keys the manifest on input files and runs the
whole job as ONE map stage — the page bytes never cross an exchange;
``--partition-mode salted`` (``pmod(xxhash64(url), P)`` + repartition)
is the opt-in for pathologically skewed input layouts, and there size
``--partitions`` to ~2-4x total executor cores and let AQE handle
stragglers.

Every Python task starts with ``importlib.invalidate_caches()``, which
before Python 3.13 re-reads the directory of each zip on the worker's path
(``pyspark.zip``, py4j, the spark-core jar, the ``--py-files`` engine zip).
The engine installs 3.13's lazy zip-directory cache on each worker's first
task (``docling_api_spark/_zipimport.py``; a no-op on 3.13+), so later
tasks skip those reads.

This replaces the reference's whole service surface (FastAPI endpoints +
Celery queue + Redis backend — ``main.py``, ``worker/celery_config.py:5-11``,
``document_converter/route.py``): submission = spark-submit, job id =
``--run-id``, polling = reading the manifest table, results = the output
table.
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession

# absolute imports: spark-submit executes this file as a top-level script
# (no parent package); the engine itself arrives via --py-files
from docling_api_spark.config import ExtractConfig
from docling_api_spark.plans.pipeline import run_extraction
from docling_api_spark.sources.pages import read_pages


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="docling_api_spark.job",
        description="PySpark-native document->Markdown extraction job")
    p.add_argument("--input", required=True,
                   help="pages table: parquet path, or Iceberg table name "
                        "with --format iceberg")
    p.add_argument("--output", required=True, help="output parquet path")
    p.add_argument("--run-id", required=True,
                   help="resume key: same run-id skips completed partitions")
    p.add_argument("--partitions", type=int, default=256,
                   help="manifest width / resume granularity (default 256)")
    p.add_argument("--partition-mode", choices=("file", "salted"),
                   default="file",
                   help="file: no-shuffle map-only job keyed on input "
                        "files (default); salted: url-hash repartition "
                        "for skewed input layouts")
    p.add_argument("--format", choices=("parquet", "iceberg"),
                   default="parquet")
    p.add_argument("--no-resume", action="store_true",
                   help="recompute everything, ignore the manifest")
    p.add_argument("--status", action="store_true",
                   help="poll only: print SUCCESS/IN_PROGRESS/PENDING for "
                        "--run-id and exit (expected partition count is "
                        "derived from the input, so file-mode runs with "
                        "fewer files than --partitions report correctly)")
    p.add_argument("--extract-tables-as-images", action="store_true")
    return p


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    preexisting = SparkSession.getActiveSession() is not None
    spark = (SparkSession.builder
             .appName(f"docling-extract-{args.run_id}")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
             .getOrCreate())
    cfg = ExtractConfig(
        num_partitions=args.partitions,
        partition_mode=args.partition_mode,
        extract_tables_as_images=args.extract_tables_as_images)
    pages = read_pages(spark, args.input, storage=args.format,
                       table=args.input if args.format == "iceberg" else None)
    if args.status:
        from docling_api_spark.plans.manifest import job_status
        status = job_status(spark, args.output + "_manifest", args.run_id,
                            pages, cfg)
        print(f"run_id={args.run_id} status={status}")
        if not preexisting:
            spark.stop()
        return
    res = run_extraction(spark, pages, args.output, args.run_id, cfg,
                         resume=not args.no_resume)
    print(f"run_id={res.run_id} docs={res.docs} "
          f"partitions_computed={res.partitions_computed} "
          f"output={res.output_path} manifest={res.manifest_path} "
          f"metrics={res.metrics_path}")
    if not preexisting:  # don't tear down a caller-owned session
        spark.stop()


if __name__ == "__main__":
    main()
