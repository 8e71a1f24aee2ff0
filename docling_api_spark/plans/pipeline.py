"""End-to-end extraction job: scan → resume filter → mapInArrow extract →
write results + manifest + metrics.

This is the Spark re-expression of the reference's whole service surface
(SURVEY.md §3.4): admission = error rows, queueing = the Spark scheduler,
polling = manifest reads, result backend = the output table.

Scale design (100 TB / 1000-executor intent, tested on local[32]):
- **zero shuffles by default** (``partition_mode="file"``): the resume/
  lineage unit is ``partition_id = pmod(xxhash64(input_file_name()), P)``
  — a pure function of the row's input file, computable map-side, so the
  binary ``html`` column never crosses an exchange and extraction + write
  are one map stage. partition_id only decides the OUTPUT directory and
  the resume granularity; compute distribution is the scan's split
  planning, which Spark already balances (a file maps to many splits).
  At 100 TB the old salted default shuffled 100 TB of page bytes for
  nothing (measured 2x throughput cost at bench scale — PLANS.md §1);
- ``partition_mode="salted"`` (opt-in): ``pmod(xxhash64(url), P)`` + an
  explicit repartition — for inputs whose *layout* is pathologically
  skewed (one giant unsplittable file, hot-host row clustering in a
  non-splittable format). ``xxhash64(url)`` spreads hot hosts uniformly;
- rows without file provenance (synthesized/streaming inputs, where
  ``input_file_name()`` is '') fall back to the url hash in both modes —
  partition_id stays deterministic, resume stays exact;
- the resume anti-join broadcasts the (≤P row) done-set — no shuffle;
- the binary ``html`` column is never collected, and Arrow batch size is
  capped (``spark.sql.execution.arrow.maxRecordsPerBatch``) so one huge
  page cannot blow Python-worker memory (SURVEY.md §7.3);
- dynamic partition overwrite keyed by partition_id → idempotent
  per-partition rewrite on retry/resume (file mode: an id is recomputed
  only as a whole — the anti-join keeps or drops ALL rows of an id).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import ExtractConfig
from ..operators.convert import make_convert_fn
from ..schemas import RESULT_DDL
from . import manifest as mf


def add_partition_id(pages: DataFrame, num_partitions: int,
                     mode: str = "salted") -> DataFrame:
    """Resume/lineage partition key, deterministic across re-runs.

    - ``salted``: uniform hash of url, independent of input layout — the
      same url always lands in the same partition.
    - ``file``: hash of the row's input file name — computable map-side
      with no shuffle; rows without file provenance (synthesized frames,
      ``input_file_name() == ''``) fall back to the url hash, so the key
      is total and deterministic for every source.
    """
    if mode == "file":
        key = F.coalesce(F.nullif(F.input_file_name(), F.lit("")),
                         F.col("url"))
    else:
        key = F.col("url")
    return pages.withColumn(
        "partition_id",
        F.pmod(F.xxhash64(key), F.lit(num_partitions)).cast("int"))


def extract_df(pages: DataFrame, cfg: ExtractConfig,
               done: DataFrame | None = None) -> DataFrame:
    """Lazy extraction plan over a pages DataFrame (no write).

    Default (``cfg.partition_mode='file'``) is a single map stage: no
    exchange anywhere, the page bytes stay on the scan task. Salted mode
    repartitions on the url-hash key; the plan column-prunes to exactly
    the fields the extractor needs before that shuffle so it never
    carries unused columns. ``done`` is the resume done-set: its
    partitions are anti-joined away before the repartition, so skipped
    rows are never shuffled."""
    df = pages.select("url", "warc_ts", "html", "lang")
    df = add_partition_id(df, cfg.num_partitions, cfg.partition_mode)
    df = mf.anti_join_done(df, done)
    if cfg.partition_mode == "salted":
        df = df.repartition(cfg.num_partitions, "partition_id")
    return df.mapInArrow(make_convert_fn(cfg), RESULT_DDL)


@dataclass
class RunResult:
    run_id: str
    output_path: str
    manifest_path: str
    metrics_path: str
    partitions_computed: int
    docs: int


def run_extraction(spark: SparkSession, pages: DataFrame, output_path: str,
                   run_id: str, cfg: ExtractConfig,
                   resume: bool = True,
                   manifest_path: str | None = None,
                   metrics_path: str | None = None) -> RunResult:
    """The full job. Safe to re-run with the same run_id: completed
    partitions are skipped (manifest anti-join), recomputed ones are
    rewritten in place (dynamic partition overwrite)."""
    manifest_path = manifest_path or output_path + "_manifest"
    metrics_path = metrics_path or output_path + "_metrics"
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    done = mf.read_done_partitions(spark, manifest_path, run_id) if resume else None
    prior_done = set() if done is None else \
        {r.partition_id for r in done.collect()}
    out = extract_df(pages, cfg, done=done if prior_done else None)
    (out.write.mode("overwrite").partitionBy("partition_id")
        .parquet(output_path))

    # lineage/metrics from the WRITTEN output (cheap columnar re-scan that
    # prunes markdown/html — never re-runs extraction)
    written = spark.read.parquet(output_path)
    new_parts = written.select("partition_id").distinct()
    new_ids = sorted(r.partition_id for r in new_parts.collect()
                     if r.partition_id not in prior_done)
    metrics = (
        written.where(~F.col("partition_id").isin(list(prior_done))
                      if prior_done else F.lit(True))
        .groupBy("partition_id")
        .agg(F.count("*").alias("docs"),
             F.sum("bytes_in").alias("bytes_in"),
             F.sum("bytes_out").alias("bytes_out"),
             F.count(F.when(F.col("error").isNotNull(), 1)).alias("n_errors"),
             F.sum("parse_ms").alias("wall_ms"))
    )
    # failure-code histogram: per-code counts rolled into a map column
    fc = (written.where(F.col("error").isNotNull())
          .groupBy("partition_id", "error").count()
          .groupBy("partition_id")
          .agg(F.map_from_entries(
              F.sort_array(F.collect_list(F.struct("error", "count")))
          ).alias("failure_codes")))
    metrics = (metrics
               .join(fc, "partition_id", "left")
               .withColumn("run_id", F.lit(run_id))
               .select("run_id", "partition_id", "docs", "bytes_in",
                       "bytes_out", "n_errors", "failure_codes", "wall_ms"))
    metrics.coalesce(1).write.mode("append").parquet(metrics_path)

    attempt = 1 if not prior_done else 2
    mf.append_manifest(spark, manifest_path, run_id, new_ids, attempt=attempt)
    docs = written.count()
    return RunResult(run_id, output_path, manifest_path, metrics_path,
                     len(new_ids), docs)
