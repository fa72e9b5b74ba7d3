"""spark-submit entry point: the batch job against an existing SparkSession.

``ocr_spark`` arrives on every node via ``--py-files`` (see
``tools/submit_job.sh``); this driver script only parses args and calls
:func:`ocr_spark.job.run_pipeline` with the session spark-submit built.
"""

from __future__ import annotations

import argparse
from datetime import date


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-date", required=True)
    ap.add_argument("--mode", default="standard")
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--warmup", default=None,
                    help="optional small pages parquet run first (untimed "
                         "steady-state protocol: amortizes JVM JIT + "
                         "python-worker imports, as a long-lived cluster "
                         "does); its output goes to <output>_warm")
    args = ap.parse_args()

    from ocr_spark import job

    # build_session layers the job's session-settable configs (AQE, Arrow
    # batch cap, zstd, committer v2, speculation) on top of whatever
    # spark-submit provided; master and driver memory are JVM-start
    # settings and come from submit_job.sh's flags.  The job sizes its own
    # partitions from the input and the executor slots.
    spark = job.build_session(app="ocr_spark-submit")
    if args.warmup:
        job.run_pipeline(spark, args.warmup, f"{args.output}_warm",
                         date.fromisoformat(args.run_date))
    summary = job.run_pipeline(
        spark, args.input, args.output, date.fromisoformat(args.run_date),
        mode=args.mode, resume=args.resume)
    print({k: summary[k] for k in ("run_id", "input_count", "extracted_count",
                                   "valid_count", "tier2_count", "digest",
                                   "quarantined_count", "wall_ms")})


if __name__ == "__main__":
    main()
