"""The benchmark's workloads, set-up, checks and traced extras.

Only public entry points are driven: ``job.run_pipeline`` (fresh and
``resume=True``) and ``curate.run_curation``; the kernel replay lives in
:mod:`kernel`.  Every call the benchmark times is recorded as a span
(name, wall-clock start/end) so the traced run can attribute Spark's event
log to it.
"""

from __future__ import annotations

import random
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import date
from pathlib import Path

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ocr_spark import curate, job, pagegen

import eventlog
import kernel
import procs

RUN_DATE = date(2026, 8, 16)
KNOWN_PAGES = 20_000                 # doc_ids 0..19999, the default seed
KNOWN_DIGEST = -2518734284186716871  # unchanged since round 1
WARM_PAGES = 2_000                   # known pages re-used by the warm-up
EXTRACT_PAGES = 10_000               # extract_curate input, per pass
DROP_NEW, DROP_OLD = 200, 100        # pages per drop: new + already written
MAX_DROPS = 60
SAMPLE_ROWS = 256                    # replayed rows per output, untraced
LOCAL1_PAGES = 4_000                 # traced local[1] vs local[n] subset


def write_pages(pages: list[dict], path: Path) -> None:
    pq.write_table(pa.Table.from_pylist(pages), str(path))


def tail(values: list[float]) -> tuple[float, dict]:
    """p90 (inclusive interpolation) and how many samples lie beyond it."""
    if len(values) == 1:
        v = values[0]
    else:
        v = statistics.quantiles(values, n=10, method="inclusive")[-1]
    return v, {"percentile": 90, "samples": len(values),
               "beyond": sum(x > v for x in values)}


def _read(path: str, columns: list[str], urls=None) -> pa.Table:
    d = ds.dataset(path, format="parquet", partitioning="hive")
    flt = ds.field("url").isin(list(urls)) if urls is not None else None
    return d.to_table(columns=columns, filter=flt)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 cores: int, work: Path, t_process: float) -> None:
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.cores, self.work = trace, cores, work
        self.t_process = t_process
        self.rng = random.Random(seed)
        self.offset = 10_000_000 * (abs(seed) + 1)
        self.spark = None
        self.spans: list[dict] = []
        self.checks: dict[str, bool] = {}
        self.attempted = 0
        self.failed = 0
        self.kernel_spans = kernel.KernelSpans()

    # -- spans ---------------------------------------------------------------
    def span(self, name: str, fn, *args, **kw):
        """Run ``fn`` under job group *name*; record its wall-clock span."""
        self.spark.sparkContext.setJobGroup(name, name)
        t0 = time.time()
        try:
            return fn(*args, **kw)
        finally:
            t1 = time.time()
            self.spans.append({"name": name, "start_ms": int(t0 * 1000),
                               "end_ms": int(t1 * 1000) + 1,
                               "wall_s": t1 - t0})
            self.spark.sparkContext.setJobGroup("perfbench", "perfbench")

    def check(self, name: str, ok: bool, pages: int = 0) -> bool:
        """Record a correctness check; a failed one fails *pages*."""
        self.checks[name] = self.checks.get(name, True) and bool(ok)
        if not ok:
            self.failed += pages
        return bool(ok)

    # -- lifecycle -----------------------------------------------------------
    def run(self) -> dict:
        t = time.monotonic()
        known = [pagegen.page_for(i) for i in range(KNOWN_PAGES)]
        write_pages(known, self.work / "known.parquet")
        write_pages(known[:WARM_PAGES], self.work / "warm.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array(range(WARM_PAGES), pa.int64()),
            "text": [p["text"] for p in known[:WARM_PAGES]]}),
            str(self.work / "warm_docs.parquet"))
        body = {"extract_curate": self._extract_curate,
                "incremental_drops": self._incremental_drops}[self.workload]
        pages = body(prepare=True)
        gen_s = time.monotonic() - t

        t = time.monotonic()
        self.spark = job.build_session(app="perfbench",
                                       master=f"local[{self.cores}]",
                                       shuffle_partitions=2 * self.cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        session_s = time.monotonic() - t
        t = time.monotonic()
        self._warm_up()
        warm_s = time.monotonic() - t
        setup_s = time.monotonic() - self.t_process - gen_s

        rss = procs.PeakRss()
        rss.start()
        steal = procs.CpuSteal()
        try:
            units = body(prepare=False)
        finally:
            peak = rss.stop()
        metrics = self._end_to_end(units, setup_s, peak)
        metrics["host.steal_frac"] = steal.frac()
        extra = {}
        if self.trace:
            metrics.update(self._traced(units, pages, metrics))
            metrics["driver.session_s"] = session_s
            metrics["driver.warm_run_s"] = warm_s
            extra["pyworker_vs_kernel"] = {
                k: metrics[k] for k in ("pyworker.init_ms", "pyworker.run_ms",
                                        "kernel.replay_ms_per_run")}
        failed = min(self.failed, self.attempted)
        return {"correct": all(self.checks.values()) and failed == 0,
                "attempted": self.attempted, "failed": failed,
                "metrics": metrics, "checks": self.checks, "units": units,
                "spans": self.spans, "input_gen_s": gen_s,
                "setup": {"session_s": session_s, "warm_s": warm_s}, **extra}

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and so its workers) to exit."""
        from pyspark import SparkContext
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=10)
        procs.kill_descendants()

    def _warm_up(self) -> None:
        """The known-answer run: it warms the JVM and the Python workers
        and checks the 20k-page digest.  ``extract_curate`` runs a first
        ``run_curation`` (of 2k known pages' text) alongside it: a
        session's first curation is several seconds slower than the next,
        and overlapping the two cold runs keeps set-up short.
        ``incremental_drops`` adds a resume re-run of 2k known pages, which
        must extract nothing."""
        known_out = str(self.work / "known_out")
        with ThreadPoolExecutor(1) as pool:
            cur = None
            if self.workload == "extract_curate":
                cur = pool.submit(curate.run_curation, self.spark,
                                  str(self.work / "warm_docs.parquet"),
                                  str(self.work / "warm_curated"),
                                  budget_tokens=2000,
                                  partitions=2 * self.cores)
            s = job.run_pipeline(self.spark,
                                 str(self.work / "known.parquet"), known_out,
                                 RUN_DATE, partitions=4 * self.cores)
            if cur is not None:
                self.check("warm_up_curation_rows",
                           cur.result()["input_count"] == WARM_PAGES)
        self.attempted += KNOWN_PAGES
        self.check("known_answer_digest",
                   s["digest"] == KNOWN_DIGEST
                   and s["input_count"] == KNOWN_PAGES, KNOWN_PAGES)
        if self.workload == "incremental_drops":
            again = job.run_pipeline(self.spark,
                                     str(self.work / "warm.parquet"),
                                     known_out, RUN_DATE,
                                     partitions=self.cores, resume=True)
            self.check("known_answer_resume_is_noop",
                       again["input_count"] == 0)

    def _handoff(self, extract_out: str, docs: str) -> int:
        """The capstone's (doc_id, text) handoff table."""
        (self.spark.read.parquet(f"{extract_out}/data").select(F.xxhash64("url").alias("doc_id"),
                   F.coalesce(F.col("extracted_text"), F.lit("")).alias("text"))
         .repartition(2 * self.cores)
         .write.mode("overwrite").parquet(docs))
        return ds.dataset(docs, format="parquet").count_rows()

    def _more(self, walls: list[float], t0: float) -> bool:
        """Start another unit while it is predicted to end in time."""
        if not walls:
            return True
        return time.monotonic() - t0 + statistics.median(walls) <= self.seconds

    # -- workloads -----------------------------------------------------------
    def _extract_curate(self, prepare: bool):
        """Bulk extraction → (doc_id, text) handoff → curation, repeated
        as whole passes over the same pages."""
        path = self.work / "pages.parquet"
        if prepare:
            self.pages = [pagegen.page_for(self.offset + i)
                          for i in range(EXTRACT_PAGES)]
            write_pages(self.pages, path)
            return self.pages
        units: list[dict] = []
        t0 = time.monotonic()
        while self._more([u["wall_s"] for u in units], t0):
            out = self.work / f"pass{len(units)}"
            unit = {"pages": EXTRACT_PAGES, "out": out.name}
            t = time.monotonic()
            try:
                unit["extract"] = self.span(
                    "extract", job.run_pipeline, self.spark, str(path),
                    str(out / "extract"), RUN_DATE,
                    partitions=4 * self.cores)
                t_x = time.monotonic()
                unit["docs"] = self.span("handoff", self._handoff,
                                         str(out / "extract"),
                                         str(out / "docs"))
                t_h = time.monotonic()
                unit["curate"] = self.span(
                    "curate", curate.run_curation, self.spark,
                    str(out / "docs"), str(out / "curated"),
                    budget_tokens=2000, partitions=2 * self.cores)
                unit["error"] = None
            except Exception as exc:  # the run fails; its pages count failed
                unit["error"] = repr(exc)
                t_x = t_h = time.monotonic()
            t_end = time.monotonic()
            unit.update(wall_s=t_end - t, extract_s=t_x - t,
                        handoff_s=t_h - t_x, curate_s=t_end - t_h)
            units.append(unit)
        self.attempted += sum(u["pages"] for u in units)
        self._check_extract_curate(units)
        return units

    def _check_extract_curate(self, units: list[dict]) -> None:
        urls = {p["url"] for p in self.pages}
        digests = set()
        for i, u in enumerate(units):
            if not self.check(f"pass{i}_completed", u["error"] is None,
                              u["pages"]):
                continue
            self._check_landed(f"pass{i}",
                               str(self.work / u["out"] / "extract"), urls,
                               self.pages)
            data_rows = u["extract"]["input_count"]
            ok = (u["docs"] == data_rows
                  and u["curate"]["input_count"] == data_rows)
            if self.check(f"pass{i}_handoff_rows", ok, u["pages"]):
                digests.add((u["extract"]["digest"], u["curate"]["digest"]))
        self.check("passes_agree_on_digests", len(digests) <= 1)

    def _incremental_drops(self, prepare: bool):
        """Small drops appended with ``resume=True`` to one output; each
        drop after the first repeats pages earlier drops wrote."""
        if prepare:
            self.pages = [pagegen.page_for(self.offset + i)
                          for i in range(MAX_DROPS * DROP_NEW)]
            self.drops = []
            for d in range(MAX_DROPS):
                new = self.pages[d * DROP_NEW:(d + 1) * DROP_NEW]
                old = self.rng.sample(self.pages[:d * DROP_NEW],
                                      min(DROP_OLD, d * DROP_NEW))
                batch = new + old
                self.rng.shuffle(batch)
                write_pages(batch, self.work / f"drop{d}.parquet")
                self.drops.append(len(batch))
            return self.pages
        out = str(self.work / "drops_out")
        units: list[dict] = []
        t0 = time.monotonic()
        while len(units) < MAX_DROPS and self._more(
                [u["wall_s"] for u in units], t0):
            d = len(units)
            unit = {"pages": self.drops[d], "new": DROP_NEW}
            t = time.monotonic()
            try:
                unit["summary"] = self.span(
                    "drop", job.run_pipeline, self.spark,
                    str(self.work / f"drop{d}.parquet"), out, RUN_DATE,
                    partitions=self.cores, resume=True)
                unit["error"] = None
            except Exception as exc:
                unit["error"] = repr(exc)
            unit["wall_s"] = unit["extract_s"] = time.monotonic() - t
            unit["handoff_s"] = unit["curate_s"] = 0.0
            units.append(unit)
        self.attempted += sum(u["pages"] for u in units)
        self._check_drops(units, out)
        return units

    def _check_drops(self, units: list[dict], out: str) -> None:
        xor = 0
        for d, u in enumerate(units):
            ok = u["error"] is None and u["summary"]["input_count"] == u["new"]
            if self.check(f"drop{d}_input_count_is_new_pages", ok,
                          u["pages"]):
                xor ^= u["summary"]["digest"]
        done = self.pages[:len(units) * DROP_NEW]
        self._check_landed("drops", out, {p["url"] for p in done}, done)
        union = self.work / "drops_union.parquet"
        write_pages(done, union)
        once = job.run_pipeline(self.spark, str(union),
                                str(self.work / "drops_once"), RUN_DATE,
                                partitions=self.cores)
        self.check("drop_digests_xor_to_one_shot_digest",
                   once["digest"] == xor, sum(u["pages"] for u in units))

    # -- checks --------------------------------------------------------------
    def _check_landed(self, name: str, out: str, urls: set[str],
                      pages: list[dict]) -> None:
        """Every input page is in data/ or quarantine/ exactly once, and a
        seeded sample of data rows (every row when traced) matches the
        in-process kernel replay byte for byte."""
        data = _read(f"{out}/data", ["url"]).column("url").to_pylist()
        quar = _read(f"{out}/quarantine", ["url"]).column("url").to_pylist()
        landed = set(data) | set(quar)
        missing = len(urls - landed)
        self.check(f"{name}_every_page_landed", missing == 0)
        self.failed += missing
        self.check(f"{name}_rows_match_pages",
                   len(data) + len(quar) == len(urls) and landed == urls)
        sample = pages if self.trace else self.rng.sample(
            pages, min(SAMPLE_ROWS, len(pages)))
        spans = self.kernel_spans = kernel.KernelSpans()
        expected = [kernel.replay_page(p, RUN_DATE, spans) for p in sample]
        rows = _read(f"{out}/data", ["url", *kernel.COMPARED],
                     None if self.trace else [p["url"] for p in sample])
        written = {r["url"]: r for r in rows.to_pylist()}
        bad = kernel.mismatches(expected, written)
        self.check(f"{name}_rows_match_kernel_replay", not bad)
        self.failed += len(bad)

    # -- metrics -------------------------------------------------------------
    def _end_to_end(self, units: list[dict], setup_s: float,
                    peak_rss: int) -> dict:
        walls = [u["wall_s"] for u in units]
        tail_v, tail_info = tail(walls)
        return {
            "setup_s": setup_s,
            # pages the unit extracts: a drop's repeated pages are skipped
            "extract_pages_per_s": statistics.median(
                u.get("new", u["pages"]) / u["extract_s"] for u in units),
            "capstone_pages_per_s": statistics.median(
                u.get("new", u["pages"]) / u["wall_s"] for u in units),
            "drop_latency_p50_s": statistics.median(walls),
            "drop_latency_tail_s": tail_v,
            "drop_latency_tail": tail_info,
            "peak_rss_mb": peak_rss / 2 ** 20,
            "failed_frac": self.failed / max(self.attempted, 1),
            "pages_ok_frac": 1 - self.failed / max(self.attempted, 1),
        }

    def _traced(self, units: list[dict], pages: list[dict],
                e2e: dict) -> dict:
        """Per-layer metrics: kernel replay of every page, local[1] vs
        local[n] on a subset, and the event log of the timed region."""
        out = self.kernel_spans.metrics()  # the every-row replay
        pps_1t = out["kernel.pages_per_s_1t"] or float("nan")
        out["kernel.spark_efficiency"] = \
            e2e["extract_pages_per_s"] / (self.cores * pps_1t)
        extracted = statistics.mean(u.get("new", u["pages"]) for u in units)
        out["kernel.replay_ms_per_run"] = extracted / pps_1t * 1000
        for key, name in (("extract_s", "capstone.extract_s"),
                          ("handoff_s", "capstone.handoff_s"),
                          ("curate_s", "curate.run_s")):
            out[name] = statistics.median(u[key] for u in units)

        subset = pages[:LOCAL1_PAGES]
        sub = self.work / "subset.parquet"
        write_pages(subset, sub)
        pps_n = self._pages_per_s(sub, len(subset), "local_n")
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = job.build_session(app="perfbench-local1",
                                       master="local[1]",
                                       shuffle_partitions=self.cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        warm = self.work / "local1_warm.parquet"
        write_pages(subset[:100], warm)
        self._pages_per_s(warm, 100, "local1_warm")
        pps_1 = self._pages_per_s(sub, len(subset), "local1")
        out["job.local1_pages_per_s"] = pps_1
        out["job.scaling_eff_4v1"] = pps_n / (self.cores * pps_1)
        self.spark.stop()
        self.spark = None

        windows = [s for s in self.spans
                   if s["name"] in ("extract", "drop", "handoff", "curate")]
        events = eventlog.load(str(self.work / "eventlog"), app_id)
        out.update(eventlog.layer_metrics(events, windows))
        return out

    def _pages_per_s(self, path: Path, n: int, name: str) -> float:
        t = time.monotonic()
        job.run_pipeline(self.spark, str(path), str(self.work / name),
                         RUN_DATE, partitions=4 * self.cores)
        return n / (time.monotonic() - t)
