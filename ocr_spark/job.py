"""The batch extraction pipeline (SURVEY.md §3.4 / §7).

    pages (url, warc_ts, html, text, lang)
      → admission gates (size cap, decodable) + quarantine      [S2–S4]
      → resume anti-join                                        [§4.3]
      → repartition(P, xxhash64(url, warc_ts, text))            [§4.2-1]
        (P from :func:`size_partitions`: the input's size and the slots)
      → ONE fused pUDF pass: tier-1 strip → route → parse →
        validate, and — for rows the router sends to fallback —
        the permissive tier-2 extraction INLINE over the same
        DOM segmentation → re-route → re-parse                  [T1/T2/T5/T6]
      → ONE data sink partitioned by doc_type (unified columns +
        response_json; typed view via read_datos) + quarantine,
        written concurrently and observed (DataFrame.observe) by
        lineage.write_observed → one lineage_summary row

Everything after the read is :func:`run_pages`, the one run body: the
batch job calls it once, the stream (:mod:`ocr_spark.streaming`) once per
micro-batch, so batch and stream cannot drift apart.

Scale notes (designed for 10^12 docs / 1000 executors, tested on local[*]):
* the only shuffle is the single explicit ``repartition`` — everything after
  is narrow (one fused pUDF, filters), so scaling is governed by the parse
  stage which is embarrassingly parallel;
* rows are placed by capture identity (url, warc_ts, text), so salting is
  always on: hot hosts AND a flood of captures of one url spread over all
  partitions with no per-job knob;
* AQE left on for post-shuffle coalesce; Arrow batch size capped because a
  page can be ~100 KB of text (``§4.2-2``);
* tier-2 work runs ONLY for rows the tier-1 router sends to fallback — the
  reference's "≤1 Vision credit per document" cost rule
  (``docs/API.md:85-86``); fused inline it additionally reuses tier 1's
  DOM segmentation instead of re-parsing the html.

CLI::

    python -m ocr_spark.job --input pages.parquet --output /out \
        --run-date 2026-08-16 \
        [--mode standard|aggressive|layout] [--resume] [--master local[4]]

Every run keeps one contract: admission gates, tier 1 on every admitted
row, tier 2 on the rows the router flags.  No flag turns a tier off or
reshapes the input: a caller that wants canonical urls or honors crawl
directives (:mod:`ocr_spark.operators.urls`) shapes the pages frame and
passes it to :func:`run_pipeline` as ``input_df``.
"""

from __future__ import annotations

import argparse
import time
import uuid
from datetime import date
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocr_spark import lineage as lin
from ocr_spark.functions import udfs
from ocr_spark.schema import PAGES_SCHEMA

MAX_HTML_BYTES = 5 * 1024 * 1024  # reference's 5 MB admission cap (S4)

# unified output row (same schema for every doc type → single table);
# ``error`` is NULL unless the row's route/parse/validate raised
_UNIFIED_COLS = ("url", "warc_ts", "lang", "doc_type", "tier", "tier2_reason",
                 "extracted_text", "ocr_engine", "ocr_confidence",
                 "valido", "confianza_global", "spans", "error")

_SPANS_TYPE = "array<struct<field:string,start:int,end:int>>"


def build_session(app: str = "ocr_spark", master: Optional[str] = None,
                  shuffle_partitions: Optional[int] = None) -> SparkSession:
    import os
    builder = (
        SparkSession.builder.appName(app)
        # local mode runs everything in one JVM — the 1g default heap cannot
        # hold 32 concurrent task slots' shuffle+cache state (no-op if the
        # session already exists or on a real cluster where executors size it)
        .config("spark.driver.memory", os.environ.get("OCR_SPARK_DRIVER_MEM", "24g"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # pages are big rows — keep Arrow batches small enough for worker RAM
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # commit output files in tasks, not serially on the driver — with
        # hundreds of partitions × several sinks the v1 driver-side rename
        # pass becomes the serial fraction that caps scaling
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # T7 straggler reaper: re-launch tasks running far beyond the stage
        # median (a wedged page/regex can't hold a partition hostage on a
        # real cluster; no-op under local mode). Per-task extraction time
        # is in the event log (spark.eventLog.enabled) for the audit trail.
        .config("spark.speculation", "true")
        .config("spark.speculation.multiplier", "4")
        .config("spark.speculation.quantile", "0.9")
    )
    if shuffle_partitions:  # joins and aggregates; placement never reads it
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    if master:
        builder = builder.master(master)
    return builder.getOrCreate()


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Pages source: parquet path, or ``table:<catalog.db.tbl>`` for an
    Iceberg (or any catalog) table — same schema contract either way.
    Iceberg gives the scan partition pruning on ``warc_ts`` and atomic
    commit semantics; the parquet path mirrors the layout 1:1 for
    environments (like this sandbox) without the runtime jars.
    """
    if path.startswith("table:"):
        return spark.read.table(path[len("table:"):])
    return spark.read.schema(PAGES_SCHEMA).parquet(path)


def read_datos(spark: SparkSession, output_path: str, doc_type: str) -> DataFrame:
    """Typed per-type view of the data sink (the reference's per-type JSON
    response contract, ``app/models/response.py``).

    The sink stores the response as canonical JSON, hive-partitioned by
    doc_type; this reader prunes the scan to one partition directory and
    decodes the JSON to the per-type struct JVM-side with ``from_json``.
    """
    return (spark.read.parquet(f"{output_path}/data")
            .filter(F.col("doc_type") == doc_type)
            .select("url", "extracted_text",
                    F.from_json("response_json",
                                udfs.RESPONSE_STRUCTS[doc_type])
                    .alias("response")))


def preflight(pages: DataFrame) -> None:
    """S9 health-check analog: fail fast with a clear message if the input
    does not carry the pages contract (before any executor work starts)."""
    missing = [f.name for f in PAGES_SCHEMA.fields
               if f.name not in pages.columns]
    if missing:
        raise ValueError(
            f"input is missing pages columns {missing}; expected schema "
            f"{PAGES_SCHEMA.simpleString()}")


def admission_split(pages: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(admitted, quarantined) — S2–S4 gates as native filters.

    A row with no url (``missing_url``), with neither html nor text
    (``empty_payload``) or with html over the 5 MB cap (``oversize``) is
    quarantined with that reason instead of failing the job (the batch
    analog of HTTP 400).  Shaping the input — canonical urls, crawl
    directives — is the caller's: it passes the shaped frame as
    ``input_df``.
    """
    reason = (
        F.when(F.col("url").isNull(), F.lit("missing_url"))
        .when(F.col("html").isNull() & F.col("text").isNull(), F.lit("empty_payload"))
        .when(F.length("html") > MAX_HTML_BYTES, F.lit("oversize"))
    )
    tagged = pages.withColumn("_q_reason", reason)
    admitted = tagged.filter(F.col("_q_reason").isNull()).drop("_q_reason")
    quarantined = (tagged.filter(F.col("_q_reason").isNotNull())
                   .select("url", F.col("_q_reason").alias("reason")))
    return admitted, quarantined


def spread_partitions(pages: DataFrame, partitions: int) -> DataFrame:
    """Balance work by capture, not by input-file layout (§4.2-1).

    The key is the capture identity (url, timestamp, content): hashing the
    url alone splits hot hosts but lands every re-crawl of one url in a
    single partition, so the capture columns salt every row, always.
    Rows identical in every column still co-locate; that is dedup's job,
    not placement's.  Digests are XOR aggregates, so placement never
    changes them.
    """
    return pages.repartition(partitions, F.xxhash64("url", "warc_ts", "text"))


def size_partitions(df: DataFrame) -> int:
    """P for placing *df*: one partition per task slot, or one per scan
    split (``spark.sql.files.maxPartitionBytes``) of the optimizer's size
    estimate if that is more; reading the estimate runs no job.  A frame
    without statistics reports ``spark.sql.defaultSizeInBytes`` and gets
    the slots."""
    slots = df.sparkSession.sparkContext.defaultParallelism
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if size >= conf.defaultSizeInBytes():
        return slots
    return max(slots, -(-size // conf.filesMaxPartitionBytes()))


def run_pipeline(spark: SparkSession, input_path: str, output_path: str,
                 run_date: date, partitions: Optional[int] = None,
                 mode: str = "standard", resume: bool = False,
                 run_id: Optional[str] = None,
                 input_df: Optional[DataFrame] = None) -> dict:
    """Execute the full pipeline over *input_df*, or the pages at
    *input_path*; returns the run summary (counts, digest, wall) that
    :func:`run_pages` wrote.  *partitions* overrides the derived P
    (:func:`size_partitions`) for layout witnesses and benchmarks."""
    pages = input_df if input_df is not None else read_pages(spark, input_path)
    preflight(pages)
    return run_pages(spark, pages, output_path, run_date, partitions, mode,
                     resume, run_id or uuid.uuid4().hex[:12])


def run_pages(spark: SparkSession, pages: DataFrame, output_path: str,
              run_date: date, partitions: Optional[int], mode: str,
              resume: bool, run_id: str, suffix: str = "") -> dict:
    """The run body shared by the batch job and every streaming
    micro-batch: gates → resume → placement → kernel → sinks → summary.

    Plan shape: each row crosses the JVM↔Python boundary exactly ONCE —
    one mapInPandas running the ``fused`` policy of the extraction row
    kernel (:func:`ocr_spark.functions.udfs.extract_batch`): extract →
    route → parse → validate and, for routed-to-fallback rows, the
    permissive tier-2 extraction inline over the same DOM segmentation.
    The nested per-type response travels as a JSON string decoded
    JVM-side with ``from_json`` (whole-stage codegen).

    Every sink lands at ``{output_path}/<sink>{suffix}`` (the streaming
    micro-batches pass ``/batch_id=<n>``), appended under *resume* and
    overwritten otherwise.  ``data/`` is hive-partitioned by doc_type with
    the canonical response JSON alongside the unified columns, so
    per-type consumers get partition pruning and the typed struct on
    demand via :func:`read_datos`.  The ``data/`` write is the
    extraction's only consumer: the summary counts and digest are
    observed on it (and ``quarantined_count`` on the ``quarantine/``
    write), so no job re-reads or caches the output; ``input_count``
    counts the rows written to ``data/``.  The summary row is written
    strictly last (write-audit-publish order) with the sinks' mode: a
    fresh run replaces it along with the rows it describes, a resumed
    drop appends its own row.
    """
    t0 = time.monotonic()
    write_mode = "append" if resume else "overwrite"
    admitted, quarantined = admission_split(pages)
    # quarantine is re-derived every run, so under resume drop rows already
    # quarantined to keep that sink exactly-once too
    if resume:
        admitted = lin.anti_join_done(admitted, f"{output_path}/data")
        quarantined = lin.anti_join_done(quarantined,
                                         f"{output_path}/quarantine")
    data = (spread_partitions(admitted,
                              partitions or size_partitions(admitted))
            .mapInPandas(udfs.extract_udf(run_date, mode, "fused"),
                         udfs.FUSED_SCHEMA)
            .withColumn("spans", F.from_json("spans_json", _SPANS_TYPE))
            .select(*_UNIFIED_COLS, "response_json"))
    # quarantine derives from the admission split, not the extraction, so
    # its write overlaps the extraction fully
    metrics = lin.write_observed(spark, [
        (data, f"{output_path}/data{suffix}", "doc_type", lin.summary_aggs()),
        (quarantined, f"{output_path}/quarantine{suffix}", None,
         [F.count("*").alias("quarantined_count")]),
    ], write_mode)
    return lin.write_summary(spark, metrics, run_id,
                             int((time.monotonic() - t0) * 1000),
                             f"{output_path}/lineage_summary{suffix}",
                             write_mode)


def main() -> None:
    ap = argparse.ArgumentParser(
        description="ocr_spark batch extraction pipeline: admission gates, "
                    "tier 1 on every admitted row, tier 2 on routed rows")
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-date", required=True, help="YYYY-MM-DD (freezes the clock)")
    ap.add_argument("--mode", default="standard",
                    choices=["standard", "aggressive", "layout"])
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = build_session(master=args.master)
    summary = run_pipeline(
        spark, args.input, args.output, date.fromisoformat(args.run_date),
        mode=args.mode, resume=args.resume)
    print({k: summary[k] for k in ("run_id", "input_count", "extracted_count",
                                   "valid_count", "tier2_count", "digest",
                                   "quarantined_count", "wall_ms")})


if __name__ == "__main__":
    main()
