"""Structured Streaming ingest variant (SURVEY.md §7 stretch).

The batch pipeline's source is an Iceberg/parquet snapshot; this module runs
the SAME extraction row kernel over a stream of page files as they land
(the Common-Crawl "WARC drop" pattern — at production scale the source would
be Kafka or an Iceberg streaming read, both drop-in `readStream` swaps).

Three surfaces:

* :func:`read_pages_stream` — file-source stream with the canonical pages
  schema; ``maxFilesPerTrigger`` bounds micro-batch size.
* :func:`transform_stream` + :func:`quality_rollup` — a pure streaming
  transformation (tier-1 fused extract+parse per micro-batch, no stateful
  shuffle) and a watermarked windowed aggregation over it for live quality
  monitoring (late pages up to the watermark are still counted; later ones
  are dropped — deliberate, the batch pipeline is the source of truth).
* :func:`run_streaming_pipeline` — the full dual-tier pipeline via
  ``foreachBatch``: each micro-batch runs the batch job's own body
  (admission → :func:`ocr_spark.job.extract_frame`, one fused tier-1 +
  inline tier-2 pass → :func:`ocr_spark.job.write_run`) into the same
  output layout as :func:`ocr_spark.job.run_pipeline`, with one summary
  row per micro-batch observed on its own sink writes
  (``run_id = <run>-<batch_id>``).  The streaming checkpoint gives
  resume-from-offset; outputs are idempotent per batch_id because every
  write targets its own ``batch_id=`` directory (an Iceberg sink would make
  the append transactional as well).

Determinism: the same frozen ``run_date`` parameter as the batch job; the
global output digest (XOR of row digests) over all micro-batches equals the
batch pipeline's digest on the same input — asserted in tests.
"""

from __future__ import annotations

import time
from datetime import date
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocr_spark import job
from ocr_spark.functions import udfs
from ocr_spark.schema import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, path: str,
                      max_files_per_trigger: Optional[int] = None) -> DataFrame:
    """File-source stream of pages (url, warc_ts, html, text, lang)."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def transform_stream(stream: DataFrame, run_date: date,
                     mode: str = "standard") -> DataFrame:
    """Tier-1 fused extraction over a streaming DataFrame.

    Stateless map — no shuffle, so it composes with any downstream streaming
    sink or stateful operator.  Rows that would go to tier 2 in the batch
    pipeline are flagged (``needs_tier2``) but not re-extracted here: the
    stream is the low-latency tier, the batch job the completeness tier.
    """
    tier1 = udfs.extract_udf(run_date, mode, "tier1")
    return stream.mapInPandas(tier1, udfs.FUSED_SCHEMA)


def quality_rollup(extracted: DataFrame, window: str = "1 hour",
                   watermark: str = "2 hours") -> DataFrame:
    """Watermarked windowed quality monitor over the extraction stream.

    Late pages within the watermark still update their window; anything
    later is dropped (the batch pipeline remains the source of truth).
    """
    return (extracted
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("w"), "doc_type")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.col("valido").cast("int")).alias("n_valido"),
                 F.avg("confianza_global").alias("avg_conf"),
                 F.sum(F.col("needs_tier2").cast("int")).alias("n_tier2"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "doc_type", "n_docs", "n_valido", "avg_conf", "n_tier2"))


def dedup_stream(extracted: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exactly-once-per-url within the watermark horizon.

    Uses ``dropDuplicatesWithinWatermark``: plain ``dropDuplicates`` only
    evicts state when the EVENT-TIME column is part of the dedup key, so
    keyed on url alone it would keep every url ever seen (unbounded state
    growth until executor OOM on a continuous crawl) and suppress
    re-crawls past the horizon forever.  The WithinWatermark form is the
    bounded-state version of the batch job's anti-join resume (§4.3):
    state per url is dropped once the watermark passes it, and a url
    re-crawled after the horizon is admitted again.
    """
    return (extracted.withWatermark("warc_ts", watermark)
            .dropDuplicatesWithinWatermark(["url"]))


HOST_PROFILE_SCHEMA = "host string, pages_seen bigint, n_valido bigint, n_tier2 bigint"
_HOST_STATE_SCHEMA = "pages_seen bigint, n_valido bigint, n_tier2 bigint"


def host_profiles(extracted: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Custom stateful operator: per-host running crawl profile.

    ``applyInPandasWithState`` keeps (pages_seen, n_valido, n_tier2) per host
    across micro-batches and emits the updated profile whenever a host
    appears in a batch — the streaming analog of the run summary, keyed by
    the skew dimension (hot hosts surface immediately).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        host = key[0]
        pages = valido = tier2 = 0
        for pdf in pdfs:
            pages += len(pdf)
            valido += int(pdf["valido"].fillna(False).sum())
            tier2 += int(pdf["needs_tier2"].fillna(False).sum())
        if state.exists:
            p0, v0, t0 = state.get
        else:
            p0 = v0 = t0 = 0
        state.update((p0 + pages, v0 + valido, t0 + tier2))
        p, v, t = state.get
        yield pd.DataFrame({"host": [host], "pages_seen": [p],
                            "n_valido": [v], "n_tier2": [t]})

    hosted = extracted.withColumn(
        "host", F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1))
    return (hosted.groupBy("host").applyInPandasWithState(
        update, HOST_PROFILE_SCHEMA, _HOST_STATE_SCHEMA,
        "update", getattr(GroupStateTimeout, timeout)))


def run_streaming_pipeline(spark: SparkSession, input_path: str,
                           output_path: str, run_date: date,
                           partitions: int = 8, mode: str = "standard",
                           tier2_enabled: bool = True,
                           run_id: str = "stream",
                           max_files_per_trigger: Optional[int] = None,
                           available_now: bool = True,
                           allow_reset: bool = False):
    """Full dual-tier pipeline as a streaming query via ``foreachBatch``.

    Each micro-batch runs the exact batch stages and lands in the batch
    job's layout (data / quarantine / lineage_summary) with one extra hive
    partition level, ``batch_id=<n>`` — reading ``{output}/data`` surfaces
    it as an ordinary column.  ``foreachBatch`` is at-least-once: a batch
    replayed after a failure between sink writes and checkpoint commit
    re-executes ``_process``.  Writes are therefore **idempotent per
    batch_id**: every sink targets its own ``batch_id=`` directory with
    mode=overwrite, so a replay rewrites exactly that partition instead of
    appending duplicates.  ``available_now=True`` drains everything
    currently in the source and stops — the batch-equivalent mode used in
    tests; leave it False for a continuously running ingest.  Restarting
    with the same checkpoint resumes after the last committed micro-batch.

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
        # the batch job's own body — one fused pass (tier 1 + inline tier
        # 2), concurrent observed sink writes, one summary row — so stream
        # and batch digests stay equal by construction.  overwrite: a
        # replayed batch rewrites its own batch_id= rows and summary row
        t0 = time.monotonic()
        admitted, quarantined = job.admission_split(batch_df)
        admitted = job.spread_partitions(admitted, partitions)
        data = job.extract_frame(admitted, run_date, mode, tier2_enabled)
        job.write_run(spark, data, quarantined, output_path,
                      f"/batch_id={batch_id}", "overwrite",
                      f"{run_id}-{batch_id}", t0)

    stream = read_pages_stream(spark, input_path, max_files_per_trigger)
    writer = (stream.writeStream
              .foreachBatch(_process)
              .option("checkpointLocation", f"{output_path}/_checkpoint"))
    if available_now:
        query = writer.trigger(availableNow=True).start()
        query.awaitTermination()
        return query
    return writer.start()
