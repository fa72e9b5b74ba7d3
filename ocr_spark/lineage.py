"""Run summary + resume-from-checkpoint (SURVEY.md §4.3).

Each run writes one summary row to ``lineage_summary/`` — replacing it
on a fresh run, appended on a resumed drop, like the sinks::

    (run_id, partition_id = -1, input_count, extracted_count, valid_count,
     tier2_count, digest, quarantined_count, wall_ms)

The counts and the digest are observed on the run's own sink writes
(``DataFrame.observe``) — no extra job over the output.  ``digest`` is an
**XOR-aggregate of xxhash64(url, extracted_text, valido, confianza)** —
order-independent and overflow-free, so it is identical at any
parallelism level (the N vs 4N determinism check in BASELINE.md) and the
digests of resumed drops XOR to the digest of one run over their union.
Per-task extraction time — the straggler evidence — is in Spark's event
log.

Resume = left-anti join of the input against already-written output urls —
the durable analog of the reference's stateless "delete after use" service
turned idempotent batch (``ROADMAP.md:155-163`` result-cache design).

No PII ever lands here: only counts and hashes (Z6 redaction contract,
``app/utils/redact.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

_SUMMARY_SCHEMA = ("run_id string, partition_id int, input_count bigint, "
                   "extracted_count bigint, valid_count bigint, "
                   "tier2_count bigint, digest bigint, "
                   "quarantined_count bigint, wall_ms bigint")


def row_digest_col() -> F.Column:
    """Per-row 64-bit content hash of the extraction contract fields."""
    return F.xxhash64("url", "extracted_text", "valido", "confianza_global")


def summary_aggs() -> list[F.Column]:
    """The run summary's aggregates over output rows — observed on the
    ``data/`` write and recomputed by :func:`global_summary`."""
    return [
        F.count("*").alias("input_count"),
        F.count(F.when(F.length("extracted_text") > 0, 1)).alias("extracted_count"),
        F.count(F.when(F.col("valido"), 1)).alias("valid_count"),
        F.count(F.when(F.col("tier") == 2, 1)).alias("tier2_count"),
        F.bit_xor(row_digest_col()).alias("digest"),
    ]


def observe_sinks(data: DataFrame, quarantined: DataFrame
                  ) -> tuple[DataFrame, DataFrame, Observation, Observation]:
    """Attach the summary observations to the two sink frames.

    Call it last, on the exact frames written: the metrics are collected
    in the write's result stage, where Spark merges each partition's
    accumulators once, so retried or speculative tasks never double-count.
    """
    data_obs, q_obs = Observation(), Observation()
    return (data.observe(data_obs, *summary_aggs()),
            quarantined.observe(q_obs,
                                F.count("*").alias("quarantined_count")),
            data_obs, q_obs)


def write_summary(spark: SparkSession, data_obs: Observation,
                  q_obs: Observation, run_id: str, wall_ms: int, path: str,
                  mode: str) -> dict:
    """Write the one summary row built from the sink observations to
    *path* with *mode* — the mode of the sinks it describes — and return
    it as a dict."""
    summary = {"run_id": run_id, "partition_id": -1, **data_obs.get,
               **q_obs.get, "wall_ms": wall_ms}
    spark.createDataFrame([summary], _SUMMARY_SCHEMA) \
        .write.mode(mode).parquet(path)
    return summary


def global_summary(unified: DataFrame, run_id: str, wall_ms: int) -> DataFrame:
    """Single order/parallelism-independent summary row over *unified*
    (partition_id = -1) — the reference the observed summary is checked
    against."""
    return unified.agg(*summary_aggs()).select(
        F.lit(run_id).alias("run_id"), F.lit(-1).alias("partition_id"), "*",
        F.lit(wall_ms).cast("long").alias("wall_ms"))


def anti_join_done(pages: DataFrame, output_data_path: str) -> DataFrame:
    """Drop pages whose url already exists in the output (resume).

    The done-set is pinned eagerly (``localCheckpoint``): the resumed run
    later appends to the same path, and a lazy scan re-evaluated after
    those writes (cache eviction, executor loss) would see the newly
    written rows and wrongly drop in-flight work.
    """
    spark = pages.sparkSession
    from pyspark.errors import AnalysisException
    try:
        done = (spark.read.parquet(output_data_path).select("url")
                .localCheckpoint(eager=True))
    except AnalysisException as exc:
        if not _is_path_not_found(exc):
            raise  # any OTHER read failure must surface: skipping the
            # anti-join (mispointed path without a url column, unreadable
            # layout, transient store error) would re-extract and append
            # rows already committed — silent duplication
        return pages  # no prior output — nothing to resume from
    return pages.join(done, on="url", how="left_anti")


def _is_path_not_found(exc) -> bool:
    """True iff an AnalysisException means the read path does not exist —
    the only error class the resume anti-joins may swallow."""
    cls = None
    get = getattr(exc, "getCondition", None) or getattr(
        exc, "getErrorClass", None)
    if get is not None:
        try:
            cls = get()
        except Exception:
            cls = None
    if cls is not None:
        return "PATH_NOT_FOUND" in cls
    return "PATH_NOT_FOUND" in str(exc)
