"""Option budget: every parameter of the public entry points and every CLI
flag, pinned by name; and below the entry points, no defaulted parameter
in ``ocr_spark/`` that no caller ever sets.

Like the job-count budgets, this fails on any new option until the budget
below is edited with it, so an option nobody sets cannot arrive unseen.
No Spark session starts: signatures are read with ``inspect``, the flag
sets from ``--help`` in a subprocess, and call sites with ``ast``.
"""

from __future__ import annotations

import ast
import inspect
import re
import subprocess
import sys
from collections import defaultdict

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


# Where a defaulted parameter may be set from: the programs, then the tests.
PROGRAM_ROOTS = ("ocr_spark", "__spark_entry__.py", "bench.py", "tools",
                 "perfbench")
CALLER_ROOTS = PROGRAM_ROOTS + ("tests",)


def _py_files(root: str):
    path = REPO / root
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _functions(tree: ast.AST):
    """(def node, its class or None) for every def, nested ones included."""
    out = []

    def visit(node, cls):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out.append((child, cls))
                visit(child, None)
            else:
                visit(child, child if isinstance(child, ast.ClassDef) else cls)
    visit(tree, None)
    return out


class _Def:
    """One ``def`` in ocr_spark/: how a call maps onto its parameters."""

    def __init__(self, path, node, cls):
        a = node.args
        pos = a.posonlyargs + a.args
        self.key = (f"{path.relative_to(REPO)}:"
                    f"{cls.name + '.' if cls else ''}{node.name}")
        static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                     for d in node.decorator_list)
        # a method called as obj.m(x) maps x onto the parameter after self
        self.positional = [p.arg for p in pos][1 if cls and not static else 0:]
        self.names = set(self.positional) | {p.arg for p in a.kwonlyargs}
        self.defaulted = {p.arg for p in pos[len(pos) - len(a.defaults):]}
        self.defaulted |= {p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults)
                           if d is not None}


def _calls(tree: ast.AST):
    """(callee name, call, enclosing defs innermost last) for every call
    written as ``f(...)`` or ``obj.f(...)``."""
    out = []

    def visit(node, chain):
        for child in ast.iter_child_nodes(node):
            inner = chain
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = chain + [child]
            elif isinstance(child, ast.Call):
                f = child.func
                name = (f.id if isinstance(f, ast.Name)
                        else f.attr if isinstance(f, ast.Attribute) else None)
                if name:
                    out.append((name, child, chain))
            visit(child, inner)
    visit(tree, [])
    return out


def unset_options(roots=CALLER_ROOTS) -> list[str]:
    """Defaulted parameters of ocr_spark/ that no call under *roots* sets.

    A call sets a parameter when it passes it by keyword or by position.
    A call is matched by name to EVERY def of that name (mapped
    positionally per def), so a name defined in two modules can only
    over-count "set".  Passing on the caller's own
    defaulted parameter counts only once that parameter is itself set —
    iterated to a fixpoint, so a chain of pass-throughs that starts at no
    real caller sets nothing.
    """
    trees = {path: ast.parse(path.read_text())
             for root in roots for path in _py_files(root)}
    defs_by_name, def_of_node = defaultdict(list), {}
    for path in _py_files("ocr_spark"):
        for node, cls in _functions(trees[path]):
            d = _Def(path, node, cls)
            defs_by_name[node.name].append(d)
            def_of_node[node] = d
    calls = [c for tree in trees.values() for c in _calls(tree)]
    set_ = set()

    def passed_through(value, chain) -> bool:
        if not isinstance(value, ast.Name):
            return False
        for fn in reversed(chain):
            a = fn.args
            if value.id in {p.arg for p in a.posonlyargs + a.args
                            + a.kwonlyargs}:
                d = def_of_node.get(fn)
                return (d is not None and value.id in d.defaulted
                        and (d.key, value.id) not in set_)
        return False

    changed = True
    while changed:
        changed = False
        for name, call, chain in calls:
            for d in defs_by_name.get(name, ()):
                got = set()
                for i, arg in enumerate(call.args):
                    if isinstance(arg, ast.Starred):
                        got |= set(d.positional[i:])
                        break
                    if (i < len(d.positional)
                            and not passed_through(arg, chain)):
                        got.add(d.positional[i])
                for kw in call.keywords:
                    if kw.arg is None:             # **kwargs: anything
                        got |= d.names
                    elif not passed_through(kw.value, chain):
                        got.add(kw.arg)
                new = {(d.key, p) for p in got & d.defaulted} - set_
                if new:
                    set_ |= new
                    changed = True
    return sorted(f"{d.key}({p})" for d in def_of_node.values()
                  for p in d.defaulted if (d.key, p) not in set_)


def test_every_option_has_a_caller():
    """A defaulted parameter nothing sets is a settable value with one
    value ever used: hard-wire it instead."""
    assert unset_options() == []


# Defaulted parameters that only tests set, each with the test that sets
# it.  A new one fails test_test_only_options_are_listed until it is added
# here (or hard-wired, or given a program caller).
TEST_ONLY_OPTIONS = [
    # test_html_extract::test_aggressive_mode_drops_footer
    "ocr_spark/html_extract.py:extract_tier1(mode)",
    # test_pipeline::test_observed_summary_equals_global_summary
    "ocr_spark/job.py:run_pipeline(run_id)",
    # test_operators::test_duplicate_clusters_raises_on_nonconvergence
    "ocr_spark/operators/dedup.py:duplicate_clusters(max_iter)",
    # test_operators::test_duplicated_windows_positions
    "ocr_spark/operators/dedup.py:duplicated_windows(k)",
    # test_operators::test_embedding_near_dups_brute_vs_lsh
    "ocr_spark/operators/dedup.py:near_duplicates_embedding(brute_force)",
    # test_operators::test_ivf_recall
    "ocr_spark/operators/similarity.py:ivf_build(sample)",
    # test_operators::test_pack_sequences_partitioning_invariant
    "ocr_spark/operators/textstats.py:pack_sequences(partitions)",
    # test_operators::test_quality_classifier_vocab_cap_tiebreak
    "ocr_spark/operators/textstats.py:quality_classifier_model(top_vocab)",
    # test_operators::test_surprisal_empty_seed_and_bad_n
    "ocr_spark/operators/textstats.py:surprisal_model(n)",
    # test_operators::test_token_shards_partitioning_invariant
    "ocr_spark/operators/textstats.py:token_shards(partitions)",
    # test_operators::test_host_cap_deterministic
    "ocr_spark/operators/urls.py:host_cap(order_col)",
    # test_pdf::test_roundtrip_compressed_and_raw
    "ocr_spark/sources/pdf.py:make_pdf(compress)",
    # test_warc::test_roundtrip_pure_python
    "ocr_spark/sources/warc.py:write_warc(compress)",
    # test_parity_reference::test_date_parity
    "ocr_spark/textops.py:iso_in_year_range(dash_ok)",
]


def test_test_only_options_are_listed():
    """The options that only tests set are exactly the pinned list."""
    assert unset_options(PROGRAM_ROOTS) == TEST_ONLY_OPTIONS
