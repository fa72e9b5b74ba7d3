"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload extract_curate --seed 1 \
        --seconds 12 --trace 0

Run from the root of a checkout.  The run generates its input pages from
``--seed`` (``pagegen.page_for`` over a seed-chosen doc_id range), builds a
local Spark session, does the known-answer warm-up, measures the workload
for ``--seconds`` seconds, checks every output, and writes the full result
to ``.perfbench/results/`` (atomically).  The last stdout line is the
summary object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  See perfbench/README.md.
"""

import time

# set-up is measured from here: the first statement the interpreter runs
_T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".perfbench"
sys.path.insert(0, str(HERE))

import procs  # noqa: E402

DRIVER_MEM = "2g"          # fits a 15 GB host with room for 4 Python workers
DEADLINE_S = 170           # hard stop: a run must end within 180 s


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "ocr_spark" / "__init__.py").is_file():
        print(f"perfbench: no ocr_spark package under {ROOT}; run from the "
              "root of a repository checkout", file=sys.stderr)
        return 2

    work = STATE / "work"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cores = len(os.sched_getaffinity(0))
    settings = _configure_env(work, cores, args.trace)
    _start_watchdog()

    sys.path.insert(0, str(ROOT))
    import workloads  # noqa: E402  (imports ocr_spark and pyspark)

    bench = workloads.Bench(args.workload, args.seed, args.seconds,
                            bool(args.trace), cores, work, _T_PROCESS)
    try:
        result = bench.run()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)

    named = spec["per_layer" if args.trace else "end_to_end"]
    raw = result.pop("metrics")
    summary = {"correct": result.pop("correct"),
               "attempted": result.pop("attempted"),
               "failed": result.pop("failed"),
               "metrics": {m["name"]: {"value": raw[m["name"]],
                                       "unit": m["unit"]} for m in named}}
    detail = {"all_metrics": raw, "settings": settings, **result}
    if args.trace:
        detail["trace_overhead"] = _trace_overhead(
            args.workload, raw["drop_latency_p50_s"])
    path = _write_result(args, summary, detail)
    print(f"perfbench: full result in {path.relative_to(ROOT)}")
    print(json.dumps(summary))
    return 0


def _configure_env(work: Path, cores: int, trace: int) -> dict:
    """Host fit: local[nproc], a driver heap that fits this machine, the
    checkout on the Python workers' path, Spark scratch inside the
    checkout, and (traced runs only) one uncompressed event-log file."""
    confs = {"spark.ui.enabled": "false",
             "spark.ui.showConsoleProgress": "false",
             "spark.sql.warehouse.dir": str(work / "warehouse")}
    if trace:
        (work / "eventlog").mkdir()
        confs.update({"spark.eventLog.enabled": "true",
                      "spark.eventLog.dir": f"file://{work / 'eventlog'}",
                      "spark.eventLog.compress": "false",
                      "spark.eventLog.rolling.enabled": "false"})
    # every JVM (spark-submit's launcher too) and Python keep their
    # temporary files in the checkout; no hsperfdata file is written
    (work / "tmp").mkdir()
    env = {
        "OCR_SPARK_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
        "JAVA_TOOL_OPTIONS":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join(
            f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell",
    }
    os.environ.update(env)
    # recorded with the results, relative to the checkout root
    return {"master": f"local[{cores}]", "cores": cores,
            **{k: v.replace(str(ROOT), ".") for k, v in env.items()}}


def _start_watchdog() -> None:
    """Kill everything and exit non-zero, without a result, at the
    deadline — a hung Spark job must not outlive the run's time limit."""
    def fire():
        print(f"perfbench: deadline of {DEADLINE_S} s reached", file=sys.stderr)
        procs.kill_descendants()
        os._exit(3)
    timer = threading.Timer(DEADLINE_S - (time.monotonic() - _T_PROCESS), fire)
    timer.daemon = True
    timer.start()


def _trace_overhead(workload: str, traced_p50_s: float) -> dict:
    """Traced vs untraced per-unit wall (p50), against the untraced results
    of the same workload already in this checkout."""
    walls = []
    for f in (STATE / "results").glob(f"{workload}-seed*-trace0.json"):
        try:
            walls.append(json.loads(f.read_text())
                         ["metrics"]["drop_latency_p50_s"]["value"])
        except (OSError, ValueError, KeyError):
            continue
    if not walls:
        return {"trace.overhead_frac": None,
                "reason": "no untraced run of this workload in this checkout"}
    return {"trace.overhead_frac": traced_p50_s / statistics.median(walls) - 1,
            "untraced_runs": len(walls)}


def _write_result(args, summary: dict, detail: dict) -> Path:
    out = STATE / "results"
    out.mkdir(parents=True, exist_ok=True)
    path = out / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    tmp = path.with_suffix(f".tmp{os.getpid()}")
    tmp.write_text(json.dumps({"workload": args.workload, "seed": args.seed,
                               "seconds": args.seconds, "trace": args.trace,
                               **summary, "detail": detail},
                              indent=1, sort_keys=True))
    os.replace(tmp, path)
    return path


if __name__ == "__main__":
    sys.exit(main())
