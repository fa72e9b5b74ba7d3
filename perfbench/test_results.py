"""The benchmark's own test: result files carry every metric BENCHMARK.json
names, with its unit, for every workload.

    python3 -m pytest perfbench -q

Checks the reference results committed in ``perfbench/results/``: one
traced and one untraced run of every workload, made with this commit's
code (copied from ``.perfbench/results/`` after a run).
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
REFERENCE = sorted((HERE / "results").glob("*.json"))


def _load(path: Path) -> dict:
    return json.loads(path.read_text())


@pytest.mark.parametrize("path", REFERENCE, ids=lambda p: p.name)
def test_result_names_every_metric_with_its_unit(path):
    res = _load(path)
    assert res["workload"] in {w["name"] for w in SPEC["workloads"]}
    assert isinstance(res["correct"], bool)
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    assert isinstance(res["failed"], int) and 0 <= res["failed"]
    named = SPEC["per_layer"] if res["trace"] else SPEC["end_to_end"]
    for m in named:
        got = res["metrics"].get(m["name"])
        assert got is not None, f"{m['name']} missing from {path.name}"
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


def test_reference_results_cover_every_workload_traced_and_untraced():
    seen = {(r["workload"], r["trace"]) for r in map(_load, REFERENCE)}
    for w in SPEC["workloads"]:
        assert (w["name"], 0) in seen and (w["name"], 1) in seen, w["name"]


def test_reference_results_are_correct():
    for path in REFERENCE:
        res = _load(path)
        assert res["correct"] and res["failed"] == 0, path.name
