"""Structured Streaming extraction with ``Trigger.AvailableNow``.

Second resume mechanism alongside the batch manifest (SURVEY.md §7.2 /
Table B "Streaming" row): the stream reads the pages table as files
arrive, runs the SAME ``mapInArrow`` extraction per micro-batch, and
appends to the output; Spark's checkpoint (source offsets = which files
were consumed) makes re-runs pick up only unseen files.

Trade-off vs the batch manifest (why batch stays primary): checkpoint
offsets track *files*, the manifest tracks *salted url partitions* with
per-partition lineage/metrics — the north_rule asks for the latter. This
variant exists because incremental crawls ("new WARC dumps landed") fit
streaming naturally: drop files in, re-trigger, only the new ones are
extracted.

Reference parity: the async job endpoints (route.py:72-87,106-125 —
submit now, results later) are the closest reference concept; AvailableNow
is the Spark-native form of "process everything that has arrived, then
stop".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..config import ExtractConfig
from ..plans.pipeline import extract_df
from ..schemas import PAGES_SCHEMA


def run_extraction_streaming(spark: SparkSession, input_path: str,
                             output_path: str, checkpoint_path: str,
                             cfg: ExtractConfig) -> None:
    """Consume all currently-available page files, extract, append, stop.

    Re-running with the same checkpoint processes only files added since
    the last run (idempotent incremental extraction). ``foreachBatch``
    reuses the exact batch plan (``extract_df`` — zero-shuffle in the
    default file-keyed mode), so streaming and batch outputs are
    row-identical for the same input.
    """
    stream = (spark.readStream.schema(PAGES_SCHEMA)
              .option("maxFilesPerTrigger", 64)
              .parquet(input_path))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = extract_df(batch_df, cfg)
        # foreachBatch is at-least-once: a replayed batch_id must not
        # duplicate rows. Each batch owns a batch_id=N subdirectory and
        # overwrites it wholesale on replay (partition-style naming, so
        # readers of the root see batch_id as a partition column).
        out.write.mode("overwrite").parquet(
            f"{output_path}/batch_id={batch_id}")

    q = (stream.writeStream
         .foreachBatch(process_batch)
         .option("checkpointLocation", checkpoint_path)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
