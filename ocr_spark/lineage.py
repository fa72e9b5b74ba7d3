"""Per-partition lineage rows + resume-from-checkpoint (SURVEY.md §4.3).

Each run appends one row per *output partition*::

    (run_id, partition_id, input_count, extracted_count, valid_count,
     tier2_count, digest)

plus one ``partition_id = -1`` summary row carrying the global digest and
wall-clock.  ``digest`` is an **XOR-aggregate of xxhash64(url,
extracted_text, valido, confianza)** — order-independent and
overflow-free, so the global digest is identical at any parallelism level
(the N vs 4N determinism check in BASELINE.md) and per-partition digests
are stable for a fixed partition count (partition = xxhash64(url) % P).

Resume = left-anti join of the input against already-written output urls —
the durable analog of the reference's stateless "delete after use" service
turned idempotent batch (``ROADMAP.md:155-163`` result-cache design).

No PII ever lands here: only counts and hashes (Z6 redaction contract,
``app/utils/redact.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

LINEAGE_COLS = ("run_id", "partition_id", "input_count", "extracted_count",
                "valid_count", "tier2_count", "digest", "wall_ms")


def row_digest_col() -> F.Column:
    """Per-row 64-bit content hash of the extraction contract fields."""
    return F.xxhash64("url", "extracted_text", "valido", "confianza_global")


def lineage_rows(unified: DataFrame, run_id: str) -> DataFrame:
    """One lineage row per physical output partition of *unified*.

    ``wall_ms`` is the partition's Python-stage extraction wall (summed
    per-row ``proc_us`` shares stamped by the extraction row kernel) — the T7
    latency-guard evidence: a straggling partition shows up here, and the
    speculation configs in ``job.build_session`` are its cluster-side
    reaper.  Null when the frame carries no ``proc_us`` column.
    """
    wall = (F.floor(F.sum("proc_us") / 1000).cast("long")
            if "proc_us" in unified.columns else F.lit(None).cast("long"))
    return (
        unified
        .withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("input_count"),
            F.count(F.when(F.length("extracted_text") > 0, 1)).alias("extracted_count"),
            F.count(F.when(F.col("valido"), 1)).alias("valid_count"),
            F.count(F.when(F.col("tier") == 2, 1)).alias("tier2_count"),
            F.bit_xor(row_digest_col()).alias("digest"),
            wall.alias("wall_ms"),
        )
        .withColumn("run_id", F.lit(run_id))
        .select(*LINEAGE_COLS)
    )


def summary_from_lineage(lineage: DataFrame, run_id: str,
                         wall_ms: int) -> DataFrame:
    """Global summary row folded from the per-partition lineage rows.

    Counts sum and the XOR digest re-folds exactly (XOR is associative), so
    this is identical to :func:`global_summary` over the full frame while
    aggregating ~P rows instead of re-scanning the corpus — the batch job
    uses it to avoid a second full pass per run.
    """
    return (
        lineage.agg(
            F.coalesce(F.sum("input_count"), F.lit(0)).alias("input_count"),
            F.coalesce(F.sum("extracted_count"), F.lit(0)).alias("extracted_count"),
            F.coalesce(F.sum("valid_count"), F.lit(0)).alias("valid_count"),
            F.coalesce(F.sum("tier2_count"), F.lit(0)).alias("tier2_count"),
            F.bit_xor("digest").alias("digest"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("partition_id", F.lit(-1))
        .withColumn("wall_ms", F.lit(wall_ms).cast("long"))
        .select(*LINEAGE_COLS)
    )


def global_summary(unified: DataFrame, run_id: str, wall_ms: int) -> DataFrame:
    """Single order/parallelism-independent summary row (partition_id = -1)."""
    return (
        unified.agg(
            F.count("*").alias("input_count"),
            F.count(F.when(F.length("extracted_text") > 0, 1)).alias("extracted_count"),
            F.count(F.when(F.col("valido"), 1)).alias("valid_count"),
            F.count(F.when(F.col("tier") == 2, 1)).alias("tier2_count"),
            F.bit_xor(row_digest_col()).alias("digest"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("partition_id", F.lit(-1))
        .withColumn("wall_ms", F.lit(wall_ms).cast("long"))
        .select(*LINEAGE_COLS)
    )


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
