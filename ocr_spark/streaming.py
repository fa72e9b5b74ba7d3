"""Structured Streaming ingest variant (SURVEY.md §7 stretch).

The batch pipeline's source is an Iceberg/parquet snapshot; this module runs
the SAME pipeline over a stream of page files as they land (the
Common-Crawl "WARC drop" pattern — at production scale the source would be
Kafka or an Iceberg streaming read, both drop-in `readStream` swaps).

Two surfaces:

* :func:`read_pages_stream` — file-source stream with the canonical pages
  schema; Spark's default trigger sizing.
* :func:`run_streaming_pipeline` — the full dual-tier pipeline via
  ``foreachBatch``: each micro-batch is ONE call of the batch job's run
  body, :func:`ocr_spark.job.run_pages` (admission gates + quarantine,
  placement sized by :func:`ocr_spark.job.size_partitions` from the
  micro-batch's own size, one fused tier-1 + inline tier-2 pass,
  observed sinks, one summary row), into the same output layout as
  :func:`ocr_spark.job.run_pipeline` (``run_id = stream-<batch_id>``).
  The stream drains what the source holds (``trigger(availableNow=True)``)
  and returns when it is done; the streaming checkpoint gives
  resume-from-offset on the next call.
  Outputs are idempotent per batch_id because every write targets its own
  ``batch_id=`` directory (an Iceberg sink would make the append
  transactional as well).

Every row a stream reads passes the batch job's admission gates: a
null-url, empty or oversize page lands in ``quarantine/`` with its reason
and never reaches the Python stage.

Determinism: the same frozen ``run_date`` parameter as the batch job; the
global output digest (XOR of row digests) over all micro-batches equals the
batch pipeline's digest on the same input — asserted in tests.
"""

from __future__ import annotations

from datetime import date

from pyspark.sql import DataFrame, SparkSession

from ocr_spark import job
from ocr_spark.lineage import path_exists
from ocr_spark.schema import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of pages (url, warc_ts, html, text, lang)."""
    return spark.readStream.schema(PAGES_SCHEMA).parquet(path)


def run_streaming_pipeline(spark: SparkSession, input_path: str,
                           output_path: str, run_date: date):
    """Full dual-tier pipeline as a streaming query via ``foreachBatch``;
    drains everything currently in the source, then returns the stopped
    query.

    Each micro-batch runs the batch job's run body (``standard`` mode,
    ``run_id = stream-<n>``) and lands in its layout
    (data / quarantine / lineage_summary) with one extra hive partition
    level, ``batch_id=<n>`` — reading ``{output}/data`` surfaces it as an
    ordinary column.  ``foreachBatch`` is at-least-once: a batch replayed
    after a failure between sink writes and checkpoint commit re-executes
    ``_process``.  Writes are therefore **idempotent per batch_id**: every
    sink targets its own ``batch_id=`` directory with mode=overwrite, so a
    replay rewrites exactly that partition instead of appending
    duplicates.  Calling again with the same checkpoint resumes after the
    last committed micro-batch.

    Starting with NO checkpoint (first run, or checkpoint lost) means the
    stream will reprocess the whole source with a fresh batch numbering,
    and per-batch_id overwrite only protects same-numbering replays: a
    rerun that splits the source into FEWER batches would leave stale
    higher-batch_id partitions behind (duplicated rows).  So if output
    subdirectories exist without a checkpoint (e.g. the path points at a
    batch job's output, whose layout is compatible), this raises and
    touches nothing; the caller clears the output or picks an empty path.
    """
    if not path_exists(spark, f"{output_path}/_checkpoint"):
        # lineage_summary included: the batch job writes it in the same
        # layout, and a summary left beside a fresh stream's rows would
        # describe rows the stream never wrote
        stale = [sub for sub in ("data", "quarantine", "lineage_summary")
                 if path_exists(spark, f"{output_path}/{sub}")]
        if stale:
            raise FileExistsError(
                f"run_streaming_pipeline: {output_path} contains committed "
                f"output ({', '.join(stale)}) but no _checkpoint — a fresh "
                f"stream here would duplicate it.  Clear it, or point the "
                f"stream at an empty output path.")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        # overwrite (resume=False): a replayed batch rewrites its own
        # batch_id= rows and summary row
        job.run_pages(spark, batch_df, output_path, run_date, None,
                      "standard", False, f"stream-{batch_id}",
                      suffix=f"/batch_id={batch_id}")

    query = (read_pages_stream(spark, input_path)
             .writeStream
             .foreachBatch(_process)
             .option("checkpointLocation", f"{output_path}/_checkpoint")
             .trigger(availableNow=True)
             .start())
    query.awaitTermination()
    return query
