"""Spark event log → per-layer metrics.

The traced run enables ``spark.eventLog.enabled`` (uncompressed).  Every
job, stage and task in the log is attributed to the benchmark span whose
wall-clock window contains it (``extract``, ``drop``, ``handoff``,
``curate``), so jobs that lost their job group still land in the right
phase.  Inside a ``run_pipeline`` window a job is classified by what its
SQL execution does:

* ``sink``     — writes ``data/`` or ``quarantine/``;
* ``summary``  — writes ``lineage/`` or ``lineage_summary/``, or is the
  summary ``collect`` (call site in ``ocr_spark/job.py``);
* ``resume``   — the resume anti-joins: ``localCheckpoint`` of the prior
  output, and the schema reads of that output (jobs with no SQL
  execution);
* ``other``    — anything else.

``job.untagged_jobs`` counts jobs with no ``spark.jobGroup.id`` although
the benchmark set one on the calling thread: the sink jobs that
``run_pipeline`` and ``run_curation`` submit from a ``ThreadPoolExecutor``
thread, where PySpark local properties are not inherited.
"""

from __future__ import annotations

import json
import os
import re
import statistics

_INSERT_PATH = re.compile(r"Arguments: file:(\S+?),")

PY_METRICS = {
    "time to start Python workers": "pyworker.start_ms",
    "time to initialize Python workers": "pyworker.init_ms",
    "time to run Python workers": "pyworker.run_ms",
    "data sent to Python workers": "pyworker.arrow_bytes_in",
    "data returned from Python workers": "pyworker.arrow_bytes_out",
}


def load(eventlog_dir: str, app_id: str) -> list[dict]:
    """Every event application *app_id* logged to its single, uncompressed
    event-log file under *eventlog_dir*."""
    path = os.path.join(eventlog_dir, app_id)
    if not os.path.isfile(path):
        raise FileNotFoundError(f"no event log for {app_id} in {eventlog_dir}")
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _classify(job: dict, sql: dict) -> str:
    if any("localCheckpoint" in n for n in job["stage_names"]):
        return "resume"
    if job["sql_id"] is None:
        return "resume"
    paths = sql.get(job["sql_id"], [])
    if any(p.endswith(("/data", "/quarantine")) for p in paths):
        return "sink"
    if any(p.endswith(("/lineage", "/lineage_summary")) for p in paths):
        return "summary"
    if "ocr_spark/job.py" in (job["call_site"] or ""):
        return "summary"
    return "other"


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def layer_metrics(events: list[dict], windows: list[dict]) -> dict:
    """Per-layer metrics from *events*, attributed to benchmark *windows*.

    A window is ``{"name": phase, "start_ms": epoch ms, "end_ms": epoch
    ms}``, one per timed call.  Per-run figures are means over the
    ``run_pipeline`` windows (``extract`` or ``drop``) and the ``curate``
    windows.
    """
    sql_paths: dict[int, list[str]] = {}
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    for e in events:
        kind = e["Event"]
        if kind.endswith("SQLExecutionStart"):
            sql_paths[e["executionId"]] = _INSERT_PATH.findall(
                e.get("physicalPlanDescription", ""))
        elif kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            sid = props.get("spark.sql.execution.id")
            jobs[e["Job ID"]] = {
                "start": e["Submission Time"], "end": e["Submission Time"],
                "group": props.get("spark.jobGroup.id"),
                "call_site": props.get("callSite.short"),
                "sql_id": int(sid) if sid is not None else None,
                "stage_names": [s["Stage Name"] for s in e["Stage Infos"]],
                "stage_ids": e["Stage IDs"],
            }
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            stages[info["Stage ID"]] = {"start": info.get("Submission Time", 0),
                                        "tasks": info["Number of Tasks"]}
        elif kind == "SparkListenerTaskEnd":
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            acc = {}
            for a in info.get("Accumulables", []):
                name = PY_METRICS.get(a.get("Name"))
                if name is not None:
                    acc[name] = acc.get(name, 0) + int(a.get("Update") or 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            tasks.append({
                "stage": e["Stage ID"], "start": info["Launch Time"],
                "dur": info["Finish Time"] - info["Launch Time"],
                "run_ms": tm.get("Executor Run Time", 0),
                "cpu_ms": tm.get("Executor CPU Time", 0) / 1e6,
                "gc_ms": tm.get("JVM GC Time", 0),
                "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                "spill_bytes": tm.get("Memory Bytes Spilled", 0)
                + tm.get("Disk Bytes Spilled", 0),
                **acc,
            })

    def window_of(t: int):
        for w in windows:
            if w["start_ms"] <= t <= w["end_ms"]:
                return w
        return None

    per_window: dict[int, dict] = {id(w): {"jobs": [], "stages": set(),
                                           "tasks": []} for w in windows}
    for job in jobs.values():
        w = window_of(job["start"])
        if w is not None:
            job["kind"] = _classify(job, sql_paths)
            per_window[id(w)]["jobs"].append(job)
    for sid, st in stages.items():
        w = window_of(st["start"])
        if w is not None:
            per_window[id(w)]["stages"].add(sid)
    for t in tasks:
        w = window_of(t["start"])
        if w is not None:
            per_window[id(w)]["tasks"].append(t)

    def phase(names: tuple[str, ...]) -> list[dict]:
        return [per_window[id(w)] for w in windows if w["name"] in names]

    out: dict[str, float] = {}
    runs = phase(("extract", "drop"))
    n = max(len(runs), 1)
    out["job.jobs_per_run"] = sum(len(r["jobs"]) for r in runs) / n
    out["job.stages_per_run"] = sum(len(r["stages"]) for r in runs) / n
    out["job.tasks_per_run"] = sum(len(r["tasks"]) for r in runs) / n
    for kind, name in (("sink", "job.sink_ms"),
                       ("summary", "lineage.summary_ms"),
                       ("resume", "lineage.resume_antijoin_ms")):
        out[name] = sum(_union_ms([(j["start"], j["end"]) for j in r["jobs"]
                                   if j["kind"] == kind]) for r in runs) / n
    for key, name in (("run_ms", "job.executor_run_ms"),
                      ("cpu_ms", "job.executor_cpu_ms"),
                      ("gc_ms", "job.gc_ms"),
                      ("shuffle_write_bytes", "job.shuffle_write_bytes"),
                      ("spill_bytes", "job.spill_bytes"),
                      *((m, m) for m in PY_METRICS.values())):
        out[name] = _task_sum(runs, key) / n
    out["job.fused_stage_straggler_ratio"] = _straggler_ratio(runs)

    cur = phase(("curate",))
    m = max(len(cur), 1)
    out["curate.jobs_per_run"] = sum(len(r["jobs"]) for r in cur) / m
    out["curate.shuffle_write_bytes"] = _task_sum(cur, "shuffle_write_bytes") / m

    # a stage listed by several jobs (shared shuffle) ran in the one whose
    # lifetime contains its submission
    job_of_stage = {}
    for job in jobs.values():
        for sid in job["stage_ids"]:
            st = stages.get(sid)
            if st is not None and job["start"] <= st["start"] <= job["end"]:
                job_of_stage[sid] = job
    timed = phase(("extract", "drop", "handoff", "curate"))
    out["job.untagged_jobs"] = sum(
        j["group"] is None for r in timed for j in r["jobs"]) / n
    out["job.untagged_executor_run_ms"] = sum(
        t["run_ms"] for r in timed for t in r["tasks"]
        if t["stage"] in job_of_stage
        and job_of_stage[t["stage"]]["group"] is None) / n
    return out


def _task_sum(windows: list[dict], key: str) -> float:
    return sum(t.get(key, 0) for w in windows for t in w["tasks"])


def _straggler_ratio(runs: list[dict]) -> float:
    """Median over runs of max ÷ median task time in the stage that ran the
    most Python-worker time (the fused extraction stage)."""
    ratios = []
    for r in runs:
        by_stage: dict[int, list[dict]] = {}
        for t in r["tasks"]:
            by_stage.setdefault(t["stage"], []).append(t)
        if not by_stage:
            continue
        fused = max(by_stage.values(),
                    key=lambda ts: sum(t.get("pyworker.run_ms", 0) for t in ts))
        durs = [t["dur"] for t in fused]
        med = statistics.median(durs)
        if med > 0:
            ratios.append(max(durs) / med)
    return statistics.median(ratios) if ratios else 0.0
