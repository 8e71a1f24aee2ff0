"""Spark end-to-end tests: golden e2e, dedup window, resume, parallelism
invariance (SURVEY.md §5.2 items 1/3/5)."""

import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F, Window as W

from docling_api_spark.config import ExtractConfig
from docling_api_spark.operators.convert import convert_one
from docling_api_spark.plans import manifest as mf
from docling_api_spark.plans.pipeline import (
    add_partition_id, extract_df, run_extraction)
from fixture_corpus import (
    FIXTURE_CLASSES, corpus_df, make_corpus, make_url)

CFG = ExtractConfig(num_partitions=8)
ROOT = Path(__file__).resolve().parents[1]


@pytest.fixture(scope="module")
def pages(spark):
    return corpus_df(spark, 72, dup_fraction=16).cache()


def test_e2e_golden(spark, pages):
    out = extract_df(pages, CFG).collect()
    by_url = {}
    for r in out:
        by_url.setdefault(r.url, []).append(r)
    n = 0
    for i in range(72):
        fx = FIXTURE_CLASSES[i % len(FIXTURE_CLASSES)](i)
        url = make_url(fx.name, i, fx.ext)
        assert url in by_url
        for r in by_url[url]:
            if fx.golden is not None:
                assert r.markdown == fx.golden, (url, r.markdown, fx.golden)
            if fx.error:
                assert r.error == fx.error
            assert r.fmt == fx.fmt
            n += 1
    assert n >= 72


def test_errors_are_rows_not_exceptions(spark, pages):
    out = extract_df(pages, CFG)
    total = out.count()
    assert total == pages.count()  # no row lost, no job death
    errs = out.where(F.col("error").isNotNull())
    codes = {r.error for r in errs.select("error").distinct().collect()}
    assert codes <= {"unsupported_format", "parse_error",
                     "pdf_unsupported_feature", "ocr_not_supported",
                     "empty_document"}
    assert "unsupported_format" in codes
    assert "ocr_not_supported" in codes


def test_dedup_window_latest_capture(spark, pages):
    # keep-latest-capture per url (SURVEY.md Table B window row)
    w = W.partitionBy("url").orderBy(F.col("warc_ts").desc())
    latest = (pages.withColumn("rn", F.row_number().over(w))
              .where(F.col("rn") == 1).drop("rn"))
    assert latest.count() == pages.select("url").distinct().count()


def test_parallelism_invariance(spark, pages):
    """Byte-identical output irrespective of partitioning (north_rule
    determinism across cluster sizes)."""
    a = extract_df(pages, ExtractConfig(num_partitions=2))
    b = extract_df(pages, ExtractConfig(num_partitions=16))
    ka = sorted((r.url, str(r.warc_ts), r.markdown, r.error,
                 str(r.images), str(r.spans))
                for r in a.collect())
    kb = sorted((r.url, str(r.warc_ts), r.markdown, r.error,
                 str(r.images), str(r.spans))
                for r in b.collect())
    assert ka == kb


def test_partition_id_stable(spark, pages):
    df1 = add_partition_id(pages, 8).select("url", "partition_id")
    df2 = add_partition_id(pages.repartition(3), 8).select("url", "partition_id")
    assert sorted(map(tuple, df1.collect())) == sorted(map(tuple, df2.collect()))


@pytest.mark.parametrize("mode", ["file", "salted"])
def test_run_and_resume(spark, pages, tmp_path, mode):
    """Kill-after-K test (SURVEY.md §5.2 item 5), in BOTH partition modes:
    first run fails on 3 of 8 partitions (injected upstream of the
    extraction), commits nothing, resume recomputes exactly those, final
    output is byte-equal to a single-shot run."""
    cfg = ExtractConfig(num_partitions=8, partition_mode=mode)
    out_a = str(tmp_path / "single_shot")
    res_a = run_extraction(spark, pages, out_a, "runA", cfg, resume=False)
    assert res_a.partitions_computed == 8

    # pages has no file provenance, so both modes key on the url hash
    doomed = {r.url for r in add_partition_id(pages, 8)
              .where(F.col("partition_id").isin([5, 6, 7])).collect()}

    def fail_doomed(batches):
        for batch in batches:
            if doomed.intersection(batch.column("url").to_pylist()):
                raise RuntimeError("injected failure")
            yield batch

    out_b = str(tmp_path / "resumed")
    failing = pages.mapInArrow(fail_doomed, pages.schema)
    with pytest.raises(Exception, match="injected failure"):
        run_extraction(spark, failing, out_b, "runB", cfg, resume=True)
    done = mf.read_done_partitions(spark, out_b + "_manifest", "runB")
    assert done is None or done.count() == 0
    # simulate the partial commit a killed cluster run leaves behind:
    # write only the completed partitions' results + manifest rows
    partial = (extract_df(pages, cfg)
               .where(~F.col("partition_id").isin([5, 6, 7])))
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    partial.write.mode("overwrite").partitionBy("partition_id").parquet(out_b)
    done_ids = [r.partition_id for r in
                partial.select("partition_id").distinct().collect()]
    mf.append_manifest(spark, out_b + "_manifest", "runB", done_ids)

    res_b = run_extraction(spark, pages, out_b, "runB", cfg, resume=True)
    assert res_b.partitions_computed == 8 - len(done_ids)
    assert mf.manifest_status(spark, out_b + "_manifest", "runB", 8) == "SUCCESS"

    a = sorted((r.url, str(r.warc_ts), r.markdown, r.error)
               for r in spark.read.parquet(out_a).collect())
    b = sorted((r.url, str(r.warc_ts), r.markdown, r.error)
               for r in spark.read.parquet(out_b).collect())
    assert a == b


def _plan_str(df) -> str:
    import contextlib, io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_file_mode_no_shuffle_plan(spark, pages, tmp_path):
    """The scale contract of the default mode: extraction is ONE map stage —
    no Exchange anywhere in the plan (at 100 TB a pre-extraction shuffle
    moves 100 TB of page bytes)."""
    inp = str(tmp_path / "pages_in")
    pages.repartition(4).write.mode("overwrite").parquet(inp)
    fpages = spark.read.parquet(inp)
    plan = _plan_str(extract_df(fpages, ExtractConfig(num_partitions=8)))
    assert "Exchange" not in plan, plan
    # salted mode keeps its (opt-in) repartition
    salted = extract_df(fpages, ExtractConfig(num_partitions=8,
                                              partition_mode="salted"))
    assert "Exchange" in _plan_str(salted)


@pytest.mark.parametrize("mode", ["file", "salted"])
def test_extract_plan_is_arrow_native(spark, pages, mode):
    """The convert operator is handed its rows as Arrow batches in both
    partition modes: the physical plan runs MapInArrow, never MapInPandas."""
    plan = _plan_str(extract_df(pages, ExtractConfig(num_partitions=8,
                                                     partition_mode=mode)))
    assert "MapInArrow" in plan, plan
    assert "MapInPandas" not in plan, plan


def test_file_mode_resume_file_keyed(spark, pages, tmp_path):
    """Resume with file-keyed ids on a real file-backed input: kill-after-K
    simulated by a partial commit; the resumed run recomputes exactly the
    missing ids and the final output is byte-equal to a single shot."""
    inp = str(tmp_path / "pages_files")
    pages.repartition(4).write.mode("overwrite").parquet(inp)
    fpages = spark.read.parquet(inp)
    cfg = ExtractConfig(num_partitions=8)  # partition_mode="file" default

    out_a = str(tmp_path / "fs_single")
    res_a = run_extraction(spark, fpages, out_a, "runF", cfg, resume=False)
    all_ids = sorted(r.partition_id for r in spark.read.parquet(out_a)
                     .select("partition_id").distinct().collect())
    assert res_a.partitions_computed == len(all_ids)
    assert 1 <= len(all_ids) <= 8  # 4 files -> <=4 distinct file-hash ids
    assert len(all_ids) > 1

    # partial commit: half the ids done, manifest records them
    done_ids = all_ids[: len(all_ids) // 2]
    out_b = str(tmp_path / "fs_resumed")
    partial = (extract_df(fpages, cfg)
               .where(F.col("partition_id").isin(done_ids)))
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    partial.write.mode("overwrite").partitionBy("partition_id").parquet(out_b)
    mf.append_manifest(spark, out_b + "_manifest", "runF", done_ids)

    res_b = run_extraction(spark, fpages, out_b, "runF", cfg, resume=True)
    assert res_b.partitions_computed == len(all_ids) - len(done_ids)
    a = sorted((r.url, str(r.warc_ts), r.markdown, r.error)
               for r in spark.read.parquet(out_a).collect())
    b = sorted((r.url, str(r.warc_ts), r.markdown, r.error)
               for r in spark.read.parquet(out_b).collect())
    assert a == b


def test_salted_mode_balances_skewed_layout(spark, tmp_path):
    """The salted opt-in's reason to exist: an input whose LAYOUT is
    pathological (everything in one file) still spreads uniformly over
    partition ids, because the key is a url hash, not the layout."""
    from docling_api_spark.sources.pages import pages_from_documents
    inp = str(tmp_path / "one_file")
    pages_from_documents(spark, "/root/testdata/sf0.001") \
        .repartition(1).write.mode("overwrite").parquet(inp)
    one = spark.read.parquet(inp)
    out = extract_df(one, ExtractConfig(num_partitions=8,
                                        partition_mode="salted"))
    counts = {r.partition_id: r.n for r in
              out.groupBy("partition_id").agg(F.count("*").alias("n"))
              .collect()}
    assert len(counts) == 8                      # every id populated
    mean = sum(counts.values()) / len(counts)
    assert max(counts.values()) <= 2 * mean      # no id dominates
    # file mode on the same input: all rows share the single file's id
    fcounts = extract_df(one, ExtractConfig(num_partitions=8)) \
        .select("partition_id").distinct().count()
    assert fcounts == 1


def test_scan_pushdown(spark, pages, tmp_path):
    """Filters and projections must reach the parquet reader (PLANS.md §5)
    — a scan that reads all columns for a 2-column projection is wrong."""
    inp = str(tmp_path / "pages_pd")
    pages.write.mode("overwrite").parquet(inp)
    df = (spark.read.parquet(inp)
          .where(F.col("lang") == "en").select("url", "lang"))
    plan = _plan_str(df)
    assert "PushedFilters" in plan and "EqualTo(lang,en)" in plan, plan
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "html" not in read_schema and "warc_ts" not in read_schema


def test_metrics_lineage(spark, pages, tmp_path):
    out = str(tmp_path / "with_metrics")
    run_extraction(spark, pages, out, "runM", CFG, resume=False)
    met = spark.read.parquet(out + "_metrics")
    rows = met.collect()
    assert {r.partition_id for r in rows} == set(range(8))
    total_docs = sum(r.docs for r in rows)
    assert total_docs == pages.count()
    errs = sum(r.n_errors for r in rows)
    assert errs > 0
    hist = {}
    for r in rows:
        for k, v in (r.failure_codes or {}).items():
            hist[k] = hist.get(k, 0) + v
    assert sum(hist.values()) == errs


def test_huge_page_skew_class(spark):
    """The ~1 MB page class flows through Arrow batching unharmed."""
    from fixture_corpus import huge_page
    rows = make_corpus(4, classes=[huge_page], dup_fraction=0)
    from docling_api_spark.schemas import PAGES_SCHEMA
    df = spark.createDataFrame(rows, schema=PAGES_SCHEMA)
    out = extract_df(df, ExtractConfig(num_partitions=4)).collect()
    assert len(out) == 4
    assert all(r.error is None and len(r.markdown) > 100_000 for r in out)


def test_job_cli_main(spark, tmp_path):
    """The spark-submit entry point end-to-end (in-process: getOrCreate
    reuses the test session). The real spark-submit --py-files launch is
    covered by test_spark_submit_py_files."""
    from docling_api_spark import job
    from docling_api_spark.sources.pages import pages_from_documents

    inp = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    pages_from_documents(spark, "/root/testdata/sf0.001").limit(100) \
        .write.mode("overwrite").parquet(inp)
    job.main(["--input", inp, "--output", out,
              "--run-id", "t-cli", "--partitions", "8"])
    got = spark.read.parquet(out)
    assert got.count() == 100
    # file mode: one manifest row per distinct file-hash id (the input here
    # is a handful of parquet files, so fewer than the width of 8)
    n_ids = got.select("partition_id").distinct().count()
    assert spark.read.parquet(out + "_manifest").count() == n_ids

    # file-mode-aware status (r3 advice fix): fewer files than the width
    # of 8 means fewer ids than 8 — the raw width-based poll would sit at
    # IN_PROGRESS forever on this completed run; job_status derives the
    # expected count from the input and reports SUCCESS
    inp_pages = spark.read.parquet(inp)
    cfg = ExtractConfig(num_partitions=8)
    assert 0 < n_ids < 8
    assert mf.expected_partition_count(inp_pages, cfg) == n_ids
    assert mf.manifest_status(spark, out + "_manifest", "t-cli", 8) \
        == "IN_PROGRESS"
    assert mf.job_status(spark, out + "_manifest", "t-cli",
                         inp_pages, cfg) == "SUCCESS"
    # the CLI poll surface prints the same verdict
    import contextlib, io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        job.main(["--input", inp, "--output", out,
                  "--run-id", "t-cli", "--partitions", "8", "--status"])
    assert "status=SUCCESS" in buf.getvalue()


def _spark_submit():
    home_bin = os.path.join(os.environ.get("SPARK_HOME", ""), "bin")
    return shutil.which("spark-submit",
                        path=home_bin + os.pathsep + os.environ["PATH"])


@pytest.mark.skipif(_spark_submit() is None,
                    reason="spark-submit is not installed")
def test_spark_submit_py_files(spark, tmp_path):
    """The north-rule launch mode: the engine zipped into --py-files, so the
    Spark driver and each worker zip-import it, run twice with one
    --run-id; the second run resumes every partition. The input is 100
    rows of the fixture corpus, so every converter runs from the zip."""
    inp = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    corpus_df(spark, 100, dup_fraction=0).write.mode("overwrite").parquet(inp)
    engine = tmp_path / "engine.zip"
    with zipfile.ZipFile(engine, "w") as zf:
        for src in sorted((ROOT / "docling_api_spark").rglob("*.py")):
            zf.write(src, src.relative_to(ROOT).as_posix())
    cmd = [_spark_submit(), "--master", "local[2]",
           "--py-files", str(engine),
           str(ROOT / "docling_api_spark" / "job.py"),
           "--input", inp, "--output", out, "--run-id", "t-submit",
           "--partitions", "8"]
    # the engine must come from the zip, not from this checkout
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    computed = []
    for _ in range(2):
        run = subprocess.run(cmd, cwd=tmp_path, env=env, capture_output=True,
                             text=True, timeout=600)
        assert run.returncode == 0, run.stderr[-4000:]
        m = re.search(r"docs=(\d+) partitions_computed=(\d+)", run.stdout)
        assert m, run.stdout
        assert int(m.group(1)) == 100
        computed.append(int(m.group(2)))
    assert computed[0] > 0
    assert computed[1] == 0
    assert spark.read.parquet(out).count() == 100
