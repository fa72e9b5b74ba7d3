"""Run summary + resume-from-checkpoint (SURVEY.md §4.3).

Each run writes one summary row to ``lineage_summary/`` — replacing it
on a fresh run, appended on a resumed drop, like the sinks::

    (run_id, partition_id = -1, input_count, extracted_count, valid_count,
     tier2_count, digest, quarantined_count, wall_ms)

The counts and the digest are observed on the run's own sink writes
(``DataFrame.observe``) — no extra job over the output.  One writer,
:func:`write_observed`, does that for every sink set: the batch job, the
streaming micro-batches and the curation job.  ``digest`` is an
**XOR-aggregate of xxhash64(url, extracted_text, valido, confianza)**
(:func:`xor_digest`, curation's digest rule too) —
order-independent and overflow-free, so it is identical at any
parallelism level (the N vs 4N determinism check in BASELINE.md), an
empty drop digests to the XOR identity 0, and the digests of resumed
drops XOR to the digest of one run over their union.  Per-task
extraction time — the straggler evidence — is in Spark's event log.

Resume = left-anti join of the input against already-written output urls —
the durable analog of the reference's stateless "delete after use" service
turned idempotent batch (``ROADMAP.md:155-163`` result-cache design).  The
done-set is pinned by its parquet file listing, not by a checkpoint
(:func:`anti_join_done`).

No PII ever lands here: only counts and hashes (Z6 redaction contract,
``app/utils/redact.py``).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ocr_spark.localrel import local_df

_SUMMARY_SCHEMA = ("run_id string, partition_id int, input_count bigint, "
                   "extracted_count bigint, valid_count bigint, "
                   "tier2_count bigint, digest bigint, "
                   "quarantined_count bigint, wall_ms bigint")


def xor_digest(*cols: str) -> F.Column:
    """XOR-aggregate of the per-row ``xxhash64(*cols)`` — 0 (the XOR
    identity) over zero rows, so empty drops still XOR to the union."""
    return F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0))


def summary_aggs() -> list[F.Column]:
    """The run summary's aggregates over output rows — observed on the
    ``data/`` write."""
    return [
        F.count("*").alias("input_count"),
        F.count(F.when(F.length("extracted_text") > 0, 1)).alias("extracted_count"),
        F.count(F.when(F.col("valido"), 1)).alias("valid_count"),
        F.count(F.when(F.col("tier") == 2, 1)).alias("tier2_count"),
        xor_digest("url", "extracted_text", "valido",
                   "confianza_global").alias("digest"),
    ]


def write_observed(spark: SparkSession, sinks: list[tuple], mode: str
                   ) -> dict:
    """Write every sink concurrently with *mode*; return the metrics
    observed on the writes, merged in sink order.

    Each sink is ``(frame, path, partition_by, aggs)``: *frame* is written
    as parquet to *path* (hive-partitioned by *partition_by* unless it is
    None) with one ``Observation`` of the *aggs* columns attached as its
    last operator — after every select, anti-join and exchange the caller
    applied — so the metrics count exactly the written rows and are
    collected in the write's result stage, where Spark merges each
    partition's accumulators once: retried or speculative tasks never
    double-count.

    The writes run on pool threads: ``inheritable_thread_target`` hands
    them the caller's local properties (job group, description), which
    plain threads would drop.  The first failure, in sink order, is
    raised once every write has ended; the caller writes its summary
    strictly after this returns (write-audit-publish order).
    """
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.util import inheritable_thread_target

    def _write(df: DataFrame, path: str, partition_by: Optional[str]) -> None:
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(path)

    write = inheritable_thread_target(spark)(_write)
    observations = [Observation() for _ in sinks]
    with ThreadPoolExecutor(max_workers=len(sinks)) as pool:
        futures = [pool.submit(write, frame.observe(obs, *aggs), path,
                               partition_by)
                   for obs, (frame, path, partition_by, aggs)
                   in zip(observations, sinks)]
        for fut in futures:
            fut.result()  # surface the first failure
    metrics: dict = {}
    for obs in observations:
        metrics.update(obs.get)
    return metrics


def write_summary(spark: SparkSession, metrics: dict, run_id: str,
                  wall_ms: int, path: str, mode: str) -> dict:
    """Write the one summary row built from the sinks' observed *metrics*
    to *path* with *mode* — the mode of the sinks it describes — and
    return it as a dict."""
    summary = {"run_id": run_id, "partition_id": -1, **metrics,
               "wall_ms": wall_ms}
    local_df(spark, [summary], _SUMMARY_SCHEMA).write.mode(mode).parquet(path)
    return summary


def path_exists(spark: SparkSession, path: str) -> bool:
    """Whether *path* exists, asked of the Hadoop FileSystem that holds it
    (local disk, HDFS or an object store alike)."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath)


def anti_join_done(pages: DataFrame, output_data_path: str) -> DataFrame:
    """Drop pages whose url already exists in the output (resume).

    A missing output path means no prior run — nothing to resume from.
    Existence is asked of the Hadoop FileSystem, not learnt from a failed
    read, so any read failure of an existing path (mispointed path without
    a url column, unreadable layout, transient store error) surfaces:
    skipping the anti-join would re-extract and append rows already
    committed — silent duplication.  The read infers the schema for the
    same reason: an explicit ``url string`` schema would read a url-less
    parquet path as NULL urls and drop nothing.

    Urls match null-safe: a url-less row already in ``quarantine/`` is
    done like any other, so a resumed rerun does not append it again.

    The done-set needs no checkpoint: a parquet DataFrame lists its files
    when it is created, and this run only appends new files, so a
    re-executed scan (task retry, executor loss) reads the same done-set
    and never sees the rows this run appends.
    """
    spark = pages.sparkSession
    if not path_exists(spark, output_data_path):
        return pages
    done = spark.read.parquet(output_data_path).select("url")
    return pages.join(done, pages["url"].eqNullSafe(done["url"]), "left_anti")
