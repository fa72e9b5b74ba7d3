"""End-to-end capstone scaling: extraction → curation at 1M pages
(VERDICT r4 Next-round #3).

``bench_scaling.py`` evidences the N→4N criterion for the extraction
pipeline alone; this tool runs the LITERAL 100-TB story — deterministic
crawl pages → the fused extraction pipeline (admission → url-hash
repartition → extract/route/parse/validate → typed sink + run summary) →
the curation chain over the extracted text (quality → repetition →
lang gate → exact dedup → PII scrub → 2000-token sharding, three
sinks) — as ONE job in a fresh JVM per run, at local[N] and local[4N]
on the same input, alternating so shared-VM drift hits both sides
equally, medians over --repeats.

Per-stage cost split: ``extract`` (includes its data/quarantine/summary sinks),
``prep`` (the skinny (doc_id, text) projection written between stages —
on a real cluster this is the table handoff), ``curate`` (includes its
data/report/summary sinks).  Both stage digests (extraction xxhash64
XOR, curation xxhash64 XOR over kept scrubbed text) must be identical
across parallelism levels and repeats — the job is order- and
parallelism-independent end to end.

Usage::

    python tools/bench_capstone.py [--pages 1000000] [--n 8] [--repeats 2]
        [--equalize-load] [--out BENCH_scaling_r5_capstone.json]
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

from bench_scaling import (RUN_DATE, _LoadEqualizer, generate_input,  # noqa: E402
                           measure_machine_ceiling)


def run_e2e(cores: int, pages_path: str, warmup_path: str, out_path: str,
            partitions: int) -> dict:
    """One extraction→curation run in a fresh JVM at ``local[cores]``.

    A small warmup of BOTH stages first (JVM JIT, python-worker imports,
    parquet reader init — costs a long-lived cluster pays once); the
    measured run is steady-state."""
    code = f"""
import json, sys, time
sys.path.insert(0, {str(REPO)!r})
from datetime import date
import pyspark.sql.functions as F
from ocr_spark import curate, job

rd = date.fromisoformat({RUN_DATE!r})
spark = job.build_session(app="capstone", master="local[{cores}]",
                          shuffle_partitions={partitions})
spark.sparkContext.setLogLevel("ERROR")

def prep(src, dst):
    # production-shaped handoff: a cluster-written table arrives in many
    # splits; without this, the read of the single-digit-GB local sink
    # yields ~30 input partitions and every curation stage inherits a
    # two-wave imbalance at 32 cores (a small-scale artifact, not a plan
    # property)
    (spark.read.parquet(src + "/data")
     .select(F.xxhash64("url").alias("doc_id"),
             F.coalesce(F.col("extracted_text"), F.lit("")).alias("text"))
     .repartition({partitions})
     .write.mode("overwrite").parquet(dst))

# -- warmup: both stages on a small input ------------------------------
job.run_pipeline(spark, {warmup_path!r}, {out_path!r} + "_warm", rd,
                 partitions=32)
prep({out_path!r} + "_warm", {out_path!r} + "_warmdocs")
curate.run_curation(spark, {out_path!r} + "_warmdocs",
                    {out_path!r} + "_warmcur", partitions=8)

# -- measured -----------------------------------------------------------
t0 = time.monotonic()
ex = job.run_pipeline(spark, {pages_path!r}, {out_path!r} + "/extract", rd,
                      partitions={partitions})
t1 = time.monotonic()
prep({out_path!r} + "/extract", {out_path!r} + "/docs")
t2 = time.monotonic()
cu = curate.run_curation(spark, {out_path!r} + "/docs",
                         {out_path!r} + "/curated", budget_tokens=2000,
                         partitions={partitions})
t3 = time.monotonic()
print("SUMMARY:" + json.dumps({{
    "input_count": ex["input_count"],
    "extract_wall_s": round(t1 - t0, 2),
    "prep_wall_s": round(t2 - t1, 2),
    "curate_wall_s": round(t3 - t2, 2),
    "e2e_wall_s": round(t3 - t0, 2),
    "extract_digest": ex["digest"],
    "curate_digest": cu["digest"],
    "extracted_count": ex["extracted_count"],
    "curate_kept": cu["kept_count"],
    "curate_tokens": cu["total_tokens"],
    "curate_shards": cu["n_shards"],
}}))
spark.stop()
"""
    t0 = time.monotonic()
    proc = subprocess.run([sys.executable, "-c", code],
                          capture_output=True, text=True, cwd=REPO)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:] + "\n" + proc.stderr[-8000:] + "\n")
        raise RuntimeError(f"local[{cores}] run failed (rc={proc.returncode})")
    line = [ln for ln in proc.stdout.splitlines()
            if ln.startswith("SUMMARY:")][-1]
    s = json.loads(line[len("SUMMARY:"):])
    s["cores"] = cores
    s["process_s"] = round(time.monotonic() - t0, 2)
    s["pages_per_sec"] = round(s["input_count"] / s["e2e_wall_s"], 1)
    return s


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", type=int, default=1_000_000)
    ap.add_argument("--n", type=int, default=8, help="small run cores (big = 4N)")
    ap.add_argument("--repeats", type=int, default=2,
                    help="alternate N/4N this many times, take medians")
    ap.add_argument("--partitions", type=int, default=256)
    ap.add_argument("--equalize-load", action="store_true")
    ap.add_argument("--out", default=str(REPO / "BENCH_scaling_r5_capstone.json"))
    ap.add_argument("--workdir", default="/tmp/ocr_spark_capstone")
    args = ap.parse_args()

    wd = Path(args.workdir)
    wd.mkdir(parents=True, exist_ok=True)
    pages_path = str(wd / "pages.parquet")
    warmup_path = str(wd / "warmup.parquet")

    print(f"generating {args.pages} pages ...", flush=True)
    gen = generate_input(args.pages, pages_path)
    generate_input(5000, warmup_path)

    all_runs: dict[int, list[dict]] = {args.n: [], args.n * 4: []}
    for rep in range(args.repeats):
        for cores in (args.n, args.n * 4):
            print(f"[{rep + 1}/{args.repeats}] e2e at local[{cores}] ...",
                  flush=True)
            if args.equalize_load:
                import os
                with _LoadEqualizer(os.cpu_count() or 32, cores):
                    r = run_e2e(cores, pages_path, warmup_path,
                                str(wd / f"out{cores}"), args.partitions)
            else:
                r = run_e2e(cores, pages_path, warmup_path,
                            str(wd / f"out{cores}"), args.partitions)
            all_runs[cores].append(r)
            print(f"  e2e {r['e2e_wall_s']}s (extract {r['extract_wall_s']} "
                  f"/ prep {r['prep_wall_s']} / curate {r['curate_wall_s']}) "
                  f"= {r['pages_per_sec']} pages/s, "
                  f"digests {r['extract_digest']} / {r['curate_digest']}",
                  flush=True)

    digests = {(r["extract_digest"], r["curate_digest"])
               for rs in all_runs.values() for r in rs}
    if len(digests) != 1:
        raise SystemExit(f"DIGEST MISMATCH across runs: {digests}")

    def med(cores: int, key: str) -> float:
        return statistics.median(r[key] for r in all_runs[cores])

    print("measuring machine CPU ceiling ...", flush=True)
    ceiling = measure_machine_ceiling(args.n)

    small, big = args.n, args.n * 4
    summary = {
        "metric": "extraction→curation e2e scaling efficiency (N→4N)",
        "protocol": f"fresh JVM per run, warmup both stages, alternating "
                    f"local[{small}]/local[{big}] × {args.repeats}, medians"
                    + (", load-equalized" if args.equalize_load else ""),
        "pages": args.pages,
        "input": gen,
        "partitions": args.partitions,
        "stage_split_note": "extract includes data+quarantine+summary "
                            "sinks; prep is the (doc_id, text) handoff "
                            "write; curate includes data/report/summary "
                            "sinks",
        "runs": all_runs,
        "medians": {
            str(c): {k: med(c, k) for k in
                     ("extract_wall_s", "prep_wall_s", "curate_wall_s",
                      "e2e_wall_s", "pages_per_sec")}
            for c in (small, big)},
        "efficiency": {
            stage: round((args.pages / med(big, key))
                         / (4 * (args.pages / med(small, key))), 3)
            for stage, key in (("extract", "extract_wall_s"),
                               ("curate", "curate_wall_s"),
                               ("e2e", "e2e_wall_s"))},
        "digests_identical": True,
        "extract_digest": next(iter(digests))[0],
        "curate_digest": next(iter(digests))[1],
        # virtualized hosts boost low-occupancy runs (turbo / steal-time);
        # the pure-CPU burn ceiling bounds what ANY job could measure here
        "machine_cpu_ceiling": ceiling,
    }
    summary["efficiency_hw_normalized"] = {
        k: round(v / ceiling["cpu_scaling_efficiency"], 3)
        for k, v in summary["efficiency"].items()}
    Path(args.out).write_text(json.dumps(summary, indent=1))
    print(json.dumps({"efficiency": summary["efficiency"],
                      "hw_normalized": summary["efficiency_hw_normalized"],
                      "ceiling": ceiling}))

    m_s, m_b = summary["medians"][str(small)], summary["medians"][str(big)]
    print(f"""
| stage | local[{small}] wall | local[{big}] wall | efficiency |
|---|---|---|---|
| extract | {m_s['extract_wall_s']} s | {m_b['extract_wall_s']} s | {summary['efficiency']['extract']} |
| curate | {m_s['curate_wall_s']} s | {m_b['curate_wall_s']} s | {summary['efficiency']['curate']} |
| e2e | {m_s['e2e_wall_s']} s | {m_b['e2e_wall_s']} s | {summary['efficiency']['e2e']} |
""")


if __name__ == "__main__":
    main()
