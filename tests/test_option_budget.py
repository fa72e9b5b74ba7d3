"""Option budget: every parameter of the public entry points and every CLI
flag, pinned by name.

Like the job-count budgets, this fails on any new option until the budget
below is edited with it, so an option nobody sets cannot arrive unseen.
No Spark session starts: signatures are read with ``inspect`` and the flag
sets from ``--help`` in a subprocess.
"""

from __future__ import annotations

import inspect
import re
import subprocess
import sys

import pytest

from ocr_spark import compare, curate, job, streaming
from tests.conftest import REPO

PARAMETERS = {
    job.run_pipeline: (
        "spark", "input_path", "output_path", "run_date", "partitions",
        "mode", "resume", "run_id", "input_df"),
    streaming.run_streaming_pipeline: (
        "spark", "input_path", "output_path", "run_date"),
    curate.curate: (
        "df", "bench", "langs", "budget_tokens", "near_dup", "with_text",
        "blocklist", "max_per_host", "lm_model", "max_surprisal_x1000",
        "clf_model", "min_logodds_x1000", "substr_dedup_k"),
    curate.run_curation: (
        "spark", "input_path", "output_path", "bench_path", "langs",
        "budget_tokens", "near_dup", "partitions", "blocklist_path",
        "max_per_host", "lm_seed_path", "max_surprisal_x1000",
        "clf_seed_path", "min_logodds_x1000", "substr_dedup_k"),
    compare.extraction_cells: ("pages", "run_date"),
    compare.engine_compare: ("pages", "run_date"),
    compare.engine_latency: ("pages", "run_date"),
}

FLAGS = {
    "job": {"--input", "--output", "--run-date", "--mode", "--resume",
            "--master"},
    "curate": {"--input", "--output", "--bench", "--langs", "--budget-tokens",
               "--near-dup", "--blocklist", "--max-per-host", "--lm-seed",
               "--max-surprisal", "--clf-seed", "--min-logodds",
               "--substr-dedup-k", "--master"},
    "pagegen": {"--rows", "--out", "--spark"},
}


@pytest.mark.parametrize("fn", PARAMETERS, ids=lambda f: f.__qualname__)
def test_entry_point_parameters(fn):
    assert tuple(inspect.signature(fn).parameters) == PARAMETERS[fn]


@pytest.mark.parametrize("module", sorted(FLAGS))
def test_cli_flags(module):
    out = subprocess.run(
        [sys.executable, "-m", f"ocr_spark.{module}", "--help"],
        cwd=REPO, capture_output=True, text=True, check=True).stdout
    # option lines of the help: "  --flag VALUE   help" or "  -h, --help"
    flags = set(re.findall(r"^\s+(?:-\w, )?(--[\w-]+)", out, re.M))
    assert flags - {"--help"} == FLAGS[module]
