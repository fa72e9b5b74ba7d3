"""Per-round benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` (default 32) and
writes the full result atomically to ``.bench/result.json``::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...per-query MEDIAN sec...}, "sf": 0.1,
     "protocol": "warm+median-of-3", "pages_per_sec": N, ...}

The last stdout line is a short pointer to it, which a tail capture cannot
clip::

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "pipeline_digest": ..., "result": "<repo>/.bench/result.json"}

The headline number is the full extraction pipeline (tier-1 HTML boilerplate
strip → doc-type route → fused parse+validate pUDFs → tier-2 fallback branch →
parquet write + lineage) over ``$SPARK_GRAFT_BENCH_PAGES`` (default 20000)
deterministic synthetic Common-Crawl-style pages (ocr_spark.pagegen — Zipf
host skew, every validation path exercised).  The remaining queries are the
operator suite from ``__spark_entry__.queries()`` over the sf tables.

**Drift-proof protocol (r4 VERDICT #1)**: the sandbox VM's hour-to-hour speed
drifts ±2×, which made single-run cross-round bench deltas unattributable
(BENCH_r04 vs r03 read 1.4× slower while a same-hour A/B proved the code
1.74× FASTER).  Every number here is therefore a **median of
``$SPARK_GRAFT_BENCH_REPEATS`` (default 3) timed runs after one untimed warm
run**, per query — the same warm+median shape as ``tools/bench_scaling.py``.
The raw per-repeat walls are emitted under ``queries_runs`` so any residual
cross-round delta can be checked against within-run spread before being
attributed to code.

Scaling-efficiency evidence (N vs 4N cores) lives in
``tools/bench_scaling.py`` → ``BENCH/BASELINE.md``; this file is the
fast per-round loop.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from datetime import date
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
BENCH_PAGES = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "20000"))
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
RUN_DATE = date(2026, 8, 16)
RESULT = Path(__file__).resolve().parent / ".bench" / "result.json"

# operator-suite queries timed at the sf dir (fast, representative subset —
# every family: text stats, dedup, scalar extraction, relational, similarity)
SUITE = (
    "token_count", "quality_features", "fingerprint_groups",
    "corpus_clean", "drop_repeated_lines",
    "exact_duplicates", "dedup_substrings",
    "minhash_near_dups", "simhash_near_dups",
    "dni_check_letter", "cif_control", "confidence_score",
    "extract_dni", "extract_permis", "extract_nif",
    "tpch_q1", "revenue_by_region", "events_hourly",
    "events_asof", "events_sessionize", "latest_event",
    "embedding_norms", "embedding_topk", "embedding_ann_ivf",
    "embedding_near_dups",
    "dedup_incremental", "tfidf_top_terms",
    "decontaminate", "repetition_features", "token_shards",
    "url_blocklist", "host_cap", "host_profile", "surprisal",
    "quality_classifier", "corpus_stats", "temperature_mix",
    "corpus_curate", "pipeline_curate",
)


def _force(df) -> int:
    """Materialize the full plan without shipping rows to the driver."""
    return df.count()


def _median_timed(fn) -> tuple[float, list[float]]:
    """One untimed warm call, then REPEATS timed calls → (median, runs)."""
    fn()
    runs = []
    for _ in range(REPEATS):
        t0 = time.monotonic()
        fn()
        runs.append(round(time.monotonic() - t0, 3))
    return statistics.median(runs), runs


def write_result(result: dict, path: Path = RESULT) -> dict:
    """Write ``result`` to ``path`` atomically (temp file + ``os.replace``)
    and return the pointer line's object."""
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(f".tmp{os.getpid()}")
    tmp.write_text(json.dumps(result, indent=1))
    os.replace(tmp, path)
    return {key: result.get(key)
            for key in ("metric", "value", "unit", "pipeline_digest")} | {
        "result": str(path)}


def main() -> None:
    from ocr_spark import job, pagegen

    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else 0.0
    spark = job.build_session(app="ocr_spark-bench", master=f"local[{CPUS}]",
                              shuffle_partitions=max(CPUS, 32))
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    raw_runs: dict[str, list[float]] = {}
    extras: dict[str, object] = {}
    tmp = tempfile.mkdtemp(prefix="ocr_spark_bench_")
    try:
        # --- headline: full extraction pipeline over synthetic pages --------
        pages_path = f"{tmp}/pages.parquet"
        pagegen.generate_df(spark, BENCH_PAGES, partitions=CPUS * 2) \
            .write.mode("overwrite").parquet(pages_path)  # setup, not timed
        # small warmup run: python-worker imports + JIT are one-time costs a
        # long-lived cluster amortizes — measure steady state
        pagegen.generate_df(spark, 1000, partitions=8) \
            .write.mode("overwrite").parquet(f"{tmp}/warm.parquet")
        job.run_pipeline(spark, f"{tmp}/warm.parquet", f"{tmp}/warm_out",
                         RUN_DATE)

        digests: list[str] = []

        def _pipeline():
            s = job.run_pipeline(spark, pages_path, f"{tmp}/out", RUN_DATE)
            digests.append(s["digest"])
            extras["tier2_count"] = s["tier2_count"]

        med, runs = _median_timed(_pipeline)
        timings["extract_pipeline"] = round(med, 3)
        raw_runs["extract_pipeline"] = runs
        extras["pages_per_sec"] = round(BENCH_PAGES / med, 1)
        extras["bench_pages"] = BENCH_PAGES
        if len(set(digests)) != 1:  # determinism cross-check, free here
            raise AssertionError(f"pipeline digest drift across repeats: {digests}")
        extras["pipeline_digest"] = digests[0]

        # --- operator suite at the sf dir ------------------------------------
        import __spark_entry__ as entrymod
        qs = entrymod.queries()
        # IVF index build+save is a once-per-corpus cost amortized over the
        # index lifetime (the whole point of the persisted path); run it
        # untimed like the other setup work, but REPORT its wall honestly
        # so nothing hides.  The index is cleared first so this number is
        # always a true cold build+save (a digest-keyed dir surviving from
        # a previous bench process would otherwise mislabel a warm
        # load+probe as the build cost).  The timed query below measures
        # the production shape: load + partition-pruned probe.
        shutil.rmtree(entrymod._ivf_index_path(SF_DIR), ignore_errors=True)
        t0 = time.monotonic()
        _force(qs["embedding_ann_ivf"](spark, SF_DIR))
        extras["ivf_build_save_s"] = round(time.monotonic() - t0, 3)
        for name in SUITE:
            med, runs = _median_timed(lambda: _force(qs[name](spark, SF_DIR)))
            timings[name] = round(med, 3)
            raw_runs[name] = runs
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()

    total = round(sum(timings.values()), 3)
    print(json.dumps(write_result({
        "metric": "pages/sec extraction throughput + operator suite wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": CPUS,
        "protocol": f"warm+median-of-{REPEATS}",
        "queries_runs": raw_runs,
        **extras,
    })))


if __name__ == "__main__":
    main()
