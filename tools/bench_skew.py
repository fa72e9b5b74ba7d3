"""Skew-placement evidence bench (§4.2-1 / VERDICT r2 item 8).

Plants the pathological input for placement — ONE url re-captured for
~30% of the corpus (url-hash placement would put every capture in a
single partition) — and runs the pipeline once under its one placement,
the capture-identity hash ``xxhash64(url, warc_ts, text)``.  Straggler
severity is read from Spark's event log (uncompressed, enabled for this
session): per-task times of the extraction stage, as
``perfbench/eventlog.py`` computes ``job.fused_stage_straggler_ratio``,

    straggler_ratio = max(task time) / median(task time)

which stays near 1 when the flood's captures are spread.  Per-partition
row counts come from the pipeline's own placement,
``job.spread_partitions``, grouped by ``spark_partition_id()``.  The
digest is an XOR aggregate, so placement cannot change it: compare it
across code versions on the same ``--pages``/``--hot-pct``.

The master is ``local[N]`` with ``N`` = ``$SPARK_GRAFT_CPUS`` (default: the
host's CPU count).  More task slots than cores would co-run every
extraction task and time-slice them, so a task's time would track the
stage wall instead of its rows and the ratio would understate skew.

``--partitions`` defaults to the pipeline's own P,
``job.size_partitions`` of the written pages (``N`` unless the input is
larger than ``N`` scan splits), so the row counts describe the placement
the pipeline uses.  The result records ``waves = ceil(P / N)``.  The
straggler ratio is row-skew evidence only at one wave: with more, a
task's time also depends on the wave and slot it ran in, so the ratio
mixes wave placement into the row skew.  Compare it with the
per-partition rows (max / median) either way.

Usage::

    python tools/bench_skew.py [--pages 24000] [--partitions N] \
        [--hot-pct 30] [--no-curate] [--out result.json]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import time
from datetime import date
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
import sys  # noqa: E402

sys.path.insert(0, str(REPO))

RUN_DATE = date(2026, 8, 16)
HOT_URL = "https://hot-host.example/flooded-capture"


def skewed_pages(spark, rows: int, hot_pct: int):
    """Deterministic corpus where ``hot_pct``% of pages are captures of ONE
    url (distinct warc_ts/content per capture, as a crawl flood would be)."""
    import pandas as pd

    from ocr_spark import pagegen
    from ocr_spark.schema import PAGES_SCHEMA

    def gen(iterator):
        for pdf in iterator:
            batch = []
            for i in pdf["id"]:
                row = pagegen.page_for(int(i))
                if int(i) % 100 < hot_pct:
                    row["url"] = HOT_URL
                batch.append(row)
            yield pd.DataFrame(batch)

    return spark.range(0, rows).mapInPandas(gen, schema=PAGES_SCHEMA)


def run_once(spark, pages_path: str, out: str, partitions: int,
             curate_chain: bool = True) -> dict:
    from pyspark.sql import functions as F

    from ocr_spark import job

    placed = job.spread_partitions(job.read_pages(spark, pages_path),
                                   partitions)
    counts = sorted(r["count"] for r in placed.groupBy(
        F.spark_partition_id().alias("partition_id")).count().collect())
    t0 = time.time()
    summary = job.run_pipeline(
        spark, pages_path, out, RUN_DATE, partitions=partitions)
    t1 = time.time()
    result = {
        "digest": summary["digest"],
        "wall_s": round(t1 - t0, 2),
        "n_partitions": len(counts),
        "max_partition_rows": counts[-1],
        "median_partition_rows": statistics.median(counts),
        # event-log window of this run; straggler_ratio is filled in from
        # it once the session has stopped and the log is complete
        "window": {"name": "extract", "start_ms": int(t0 * 1000),
                   "end_ms": int(t1 * 1000) + 1},
    }
    if curate_chain:
        # the 100-TB story continues past extraction: run the curation
        # chain over this run's output.  doc identity must include
        # warc_ts — the flood makes url itself non-unique by design — so
        # the chain's digest stays placement-invariant (placement never
        # changes an output byte, end to end)
        from ocr_spark import curate

        t1 = time.monotonic()
        (spark.read.parquet(f"{out}/data")
         .select(F.xxhash64("url", "warc_ts").alias("doc_id"),
                 F.coalesce(F.col("extracted_text"), F.lit(""))
                 .alias("text"))
         .write.mode("overwrite").parquet(f"{out}/docs"))
        cu = curate.run_curation(spark, f"{out}/docs", f"{out}/curated",
                                 partitions=partitions)
        result["curate_wall_s"] = round(time.monotonic() - t1, 2)
        result["curate_digest"] = cu["digest"]
        result["curate_kept"] = cu["kept_count"]
    return result


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=24000)
    ap.add_argument("--partitions", type=int, default=None,
                    help="extraction partitions (default: the "
                         "pipeline's own, job.size_partitions)")
    ap.add_argument("--hot-pct", type=int, default=30)
    ap.add_argument("--out", default=None,
                    help="also write the result JSON here (BENCH_skew.json "
                         "keeps the salt=0 vs salt=8 history)")
    ap.add_argument("--no-curate", action="store_true",
                    help="skip the attached curation chain (round-2 shape)")
    args = ap.parse_args()
    slots = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())

    import shutil
    import tempfile

    from ocr_spark import job
    from perfbench import eventlog

    wd = tempfile.mkdtemp(prefix="bench_skew_")
    os.mkdir(f"{wd}/eventlog")
    confs = {"spark.eventLog.enabled": "true",
             "spark.eventLog.dir": f"file://{wd}/eventlog",
             "spark.eventLog.compress": "false",
             "spark.eventLog.rolling.enabled": "false"}
    # build_session takes no extra configs; event logging must be on
    # before the JVM starts
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {k}={v}" for k, v in confs.items()]
        + [os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")])
    master = f"local[{slots}]"
    spark = job.build_session("bench_skew", master=master)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        pages_path = f"{wd}/pages.parquet"
        skewed_pages(spark, args.pages, args.hot_pct) \
            .write.mode("overwrite").parquet(pages_path)
        partitions = (args.partitions
                      or job.size_partitions(job.read_pages(spark, pages_path)))
        # warmup (JIT + Python worker pool) so the measured run does not
        # pay it
        run_once(spark, pages_path, f"{wd}/warm", partitions,
                 curate_chain=not args.no_curate)
        result = run_once(spark, pages_path, f"{wd}/run", partitions,
                          curate_chain=not args.no_curate)
        app_id = spark.sparkContext.applicationId
        spark.stop()  # closes the event log under its final name
        events = eventlog.load(f"{wd}/eventlog", app_id)
        result["straggler_ratio"] = round(eventlog.layer_metrics(
            events, [result.pop("window")])[
                "job.fused_stage_straggler_ratio"], 3)
        blob = {
            "bench": "skew_capture_placement",
            "pages": args.pages,
            "hot_url_pct": args.hot_pct,
            "partitions": partitions,
            "master": master,
            "waves": math.ceil(partitions / slots),
            "run": result,
        }
        if args.out:
            Path(args.out).write_text(json.dumps(blob, indent=2) + "\n")
        print(json.dumps(blob, indent=2))
    finally:
        shutil.rmtree(wd, ignore_errors=True)


if __name__ == "__main__":
    main()
