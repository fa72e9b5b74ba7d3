"""Structured Streaming ingest variant (SURVEY.md §7 stretch).

The batch pipeline's source is an Iceberg/parquet snapshot; this module runs
the SAME pipeline over a stream of page files as they land (the
Common-Crawl "WARC drop" pattern — at production scale the source would be
Kafka or an Iceberg streaming read, both drop-in `readStream` swaps).

Two surfaces:

* :func:`read_pages_stream` — file-source stream with the canonical pages
  schema; ``maxFilesPerTrigger`` bounds micro-batch size.
* :func:`run_streaming_pipeline` — the full dual-tier pipeline via
  ``foreachBatch``: each micro-batch is ONE call of the batch job's run
  body, :func:`ocr_spark.job.run_pages` (admission gates + quarantine,
  placement sized by :func:`ocr_spark.job.size_partitions` from the
  micro-batch's own size, one fused tier-1 + inline tier-2 pass,
  observed sinks, one summary row), into the same output layout as
  :func:`ocr_spark.job.run_pipeline` (``run_id = <run>-<batch_id>``).
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
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

from ocr_spark import job
from ocr_spark.schema import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: Optional[int] = None) -> DataFrame:
    """File-source stream of pages (url, warc_ts, html, text, lang)."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def run_streaming_pipeline(spark: SparkSession, input_path: str,
                           output_path: str, run_date: date,
                           mode: str = "standard", run_id: str = "stream",
                           max_files_per_trigger: Optional[int] = None,
                           allow_reset: bool = False):
    """Full dual-tier pipeline as a streaming query via ``foreachBatch``;
    drains everything currently in the source, then returns the stopped
    query.

    Each micro-batch runs the batch job's run body and lands in its layout
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
    higher-batch_id partitions behind (duplicated rows).  Existing output
    must therefore be cleared first — but deleting is NEVER implicit:
    if output subdirectories exist without a checkpoint (e.g. the path
    points at a batch job's output, whose layout is compatible), this
    raises unless ``allow_reset=True`` explicitly authorizes the wipe.
    """
    import os
    import shutil

    # local-fs paths (this sandbox); a cluster deployment on HDFS/object
    # storage would do the same through the Hadoop FileSystem API
    if not os.path.isdir(f"{output_path}/_checkpoint"):
        # lineage_summary included: the batch job writes it in the same
        # layout, and leaving it behind would describe deleted rows (any
        # audit reconciling summary against data would double-count);
        # lineage is the per-partition layout older versions wrote
        stale = [sub for sub in ("data", "quarantine", "lineage",
                                 "lineage_summary")
                 if os.path.isdir(f"{output_path}/{sub}")]
        if stale and not allow_reset:
            raise FileExistsError(
                f"run_streaming_pipeline: {output_path} contains committed "
                f"output ({', '.join(stale)}) but no _checkpoint — starting "
                f"a fresh stream here would delete it.  Pass "
                f"allow_reset=True to wipe and reprocess, or point the "
                f"stream at an empty output path.")
        for sub in stale:
            # no ignore_errors: a PARTIAL wipe that proceeded would leave
            # stale batch_id partitions from the old numbering beside the
            # fresh stream's rows — the exact duplicate-row hazard the
            # FileExistsError guard above exists to prevent
            shutil.rmtree(f"{output_path}/{sub}")

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        # overwrite (resume=False): a replayed batch rewrites its own
        # batch_id= rows and summary row
        job.run_pages(spark, batch_df, output_path, run_date, None,
                      mode, False, f"{run_id}-{batch_id}",
                      suffix=f"/batch_id={batch_id}")

    query = (read_pages_stream(spark, input_path, max_files_per_trigger)
             .writeStream
             .foreachBatch(_process)
             .option("checkpointLocation", f"{output_path}/_checkpoint")
             .trigger(availableNow=True)
             .start())
    query.awaitTermination()
    return query
