"""Engine/mode comparison harness (S10 — ``app/routes/compare.py:37-205``).

The reference's ``POST /ocr/compare`` runs every {engine} × {preprocess mode}
combination on one uploaded image and recommends the best config
(``compare.py:172-205``: highest confidence, ties to the cheaper engine).
The Spark analog is a config-grid benchmark: a deterministic sample of pages
is pushed through every (tier, mode) extraction config, aggregated per
config and doc_type, and the winner picked with a window function.

Everything returned is deterministic (no wall-clock columns) so the driver's
value-hash check is stable; latency comparison belongs to bench.py.
"""

from __future__ import annotations

from datetime import date

from pyspark.sql import DataFrame, Window, functions as F

from ocr_spark.functions import udfs

MODES = ("standard", "aggressive")
SAMPLE_ROWS = 256


def _extract_config(sample: DataFrame, run_date: date, tier: int,
                    mode: str) -> DataFrame:
    if tier == 1:
        src, policy = sample, "tier1"
    else:
        src, policy = sample.withColumn("tier2_reason", F.lit("compare")), "tier2"
    return src.mapInPandas(udfs.extract_udf(run_date, mode, policy),
                           udfs.FUSED_SCHEMA)


def extraction_cells(pages: DataFrame, run_date: date) -> DataFrame:
    """Per-(url, engine, mode) extraction outcomes over a fixed sample of
    :data:`SAMPLE_ROWS` pages — the pre-aggregation frame of the
    comparison matrix, over every mode in :data:`MODES`.

    Columns: engine, mode, doc_type, url, valido, confianza_global,
    n_chars.  Deterministic for a fixed sample + run_date, so it can be
    materialized once and aggregated identically by any engine (the
    driver's DuckDB oracle consumes it as a shared parquet input).
    """
    # materialize the sorted sample once — all four (tier, mode) configs
    # reference it, and orderBy+limit is a global sort per reference.
    # warc_ts in the sort: the data model keys rows by (url, warc_ts) —
    # on a url with several captures, url alone leaves which capture
    # lands inside the limit to partition layout, breaking the module's
    # rerun-determinism contract
    sample = (pages.orderBy("url", "warc_ts")
              .limit(SAMPLE_ROWS).localCheckpoint(eager=False))
    parts = []
    for tier, engine in ((1, udfs.TIER1_ENGINE), (2, udfs.TIER2_ENGINE)):
        for mode in MODES:
            ext = _extract_config(sample, run_date, tier, mode)
            parts.append(ext.select(
                F.lit(engine).alias("engine"), F.lit(mode).alias("mode"),
                "doc_type", "url", "valido", "confianza_global",
                F.length("extracted_text").alias("n_chars")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def compare_rollup(cells: DataFrame) -> DataFrame:
    """Aggregate extraction cells into the per-(engine, mode, doc_type)
    comparison matrix (integer-scaled bigints — engine-portable).

    The means are INTEGER-exact: per-row cents (``round(conf*100)`` — a
    pure function of the row) summed as bigints, then floor-divided by
    the count.  ``floor(avg(double)*100)`` would be a partition-order-
    dependent float sum whose floor can flip at an ulp boundary across
    runs/parallelism — violating the rerun-digest guarantee this module
    promises (and silently, since a twin that mirrored the same float
    derivation could never flag it)."""
    cents = F.round(F.col("confianza_global") * 100).cast("bigint")
    agg = (cells.groupBy("engine", "mode", "doc_type")
           .agg(F.count("*").alias("n_docs"),
                F.sum(F.col("valido").cast("int")).alias("n_valido"),
                F.sum(cents).alias("_conf_cents"),
                F.sum(F.col("n_chars").cast("bigint")).alias("_chars")))
    return agg.select(
        "engine", "mode", "doc_type", "n_docs", "n_valido",
        F.expr("_conf_cents DIV n_docs").alias("avg_conf_x100"),
        F.expr("(_chars * 10) DIV n_docs").alias("avg_chars_x10"))


def engine_compare(pages: DataFrame, run_date: date) -> DataFrame:
    """Per-(engine, mode, doc_type) extraction quality over a fixed sample.

    Columns: engine, mode, doc_type, n_docs, n_valido, avg_conf_x100
    (bigint — floor-scaled so the comparison is engine-portable),
    avg_chars_x10.  Mirrors the reference's comparison matrix
    (``compare.py:37-169``) with validity standing in for OCR confidence.
    """
    return compare_rollup(extraction_cells(pages, run_date))


def engine_latency(pages: DataFrame, run_date: date) -> DataFrame:
    """Measured wall per (engine, mode) config over the fixed sample — the
    reference's per-config ``ms`` column (``compare.py:37-169``).

    Kept separate from :func:`engine_compare` so the quality matrix stays
    value-deterministic for the driver's hash check; this one is rows-only
    by nature (timings vary run to run).
    """
    import time

    spark = pages.sparkSession
    sample = pages.orderBy("url", "warc_ts").limit(SAMPLE_ROWS).persist()
    sample.count()  # materialize so each config times extraction only
    rows = []
    try:
        for tier, engine in ((1, udfs.TIER1_ENGINE), (2, udfs.TIER2_ENGINE)):
            for mode in MODES:
                t0 = time.monotonic()
                n = _extract_config(sample, run_date, tier, mode).count()
                rows.append((engine, mode, n,
                             int((time.monotonic() - t0) * 1000)))
    finally:
        # without the finally, one failing config leaks the persisted
        # sample into executor storage for the application's lifetime
        sample.unpersist()
    from ocr_spark.localrel import local_df
    return local_df(spark, rows,
                    "engine string, mode string, n_docs long, wall_ms long")


def recommend(comparison: DataFrame) -> DataFrame:
    """Best (engine, mode) per doc_type — the ``compare.py:172-205`` rule:
    highest confidence wins; ties go to the cheaper tier-1 engine, then to
    ``standard`` mode (less preprocessing).
    """
    cheap_first = F.when(F.col("engine") == udfs.TIER1_ENGINE, 0).otherwise(1)
    std_first = F.when(F.col("mode") == "standard", 0).otherwise(1)
    w = Window.partitionBy("doc_type").orderBy(
        F.desc("avg_conf_x100"), cheap_first, std_first)
    return (comparison.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1).drop("_rk")
            .select("doc_type", F.col("engine").alias("best_engine"),
                    F.col("mode").alias("best_mode"), "avg_conf_x100"))
