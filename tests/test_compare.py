"""Engine-comparison harness (S10): config grid, determinism, recommendation."""

from __future__ import annotations

import pytest

from ocr_spark import compare, pagegen
from ocr_spark.functions import udfs
from tests.conftest import RUN_DATE


@pytest.fixture(scope="module")
def comparison(spark):
    pages = pagegen.generate_df(spark, 128, partitions=4)
    return compare.engine_compare(pages, RUN_DATE)


def test_grid_covers_all_configs(comparison):
    rows = comparison.collect()
    configs = {(r["engine"], r["mode"]) for r in rows}
    assert configs == {(e, m) for e in (udfs.TIER1_ENGINE, udfs.TIER2_ENGINE)
                       for m in compare.MODES}
    # every config saw the full sample
    totals = {}
    for r in rows:
        totals[(r["engine"], r["mode"])] = \
            totals.get((r["engine"], r["mode"]), 0) + r["n_docs"]
    assert set(totals.values()) == {128}


def test_deterministic(spark, comparison):
    pages = pagegen.generate_df(spark, 128, partitions=8)  # different layout
    again = compare.engine_compare(pages, RUN_DATE)
    key = lambda r: (r["engine"], r["mode"], r["doc_type"])  # noqa: E731
    assert sorted(map(tuple, comparison.collect()), key=str) == \
        sorted(map(tuple, again.collect()), key=str)


def test_recommend_one_winner_per_type(comparison):
    rec = compare.recommend(comparison).collect()
    types = [r["doc_type"] for r in rec]
    assert len(types) == len(set(types))
    assert set(types) == {"dni", "permiso_circulacion", "nif"}
    for r in rec:
        assert r["best_engine"] in (udfs.TIER1_ENGINE, udfs.TIER2_ENGINE)
        assert r["best_mode"] in compare.MODES


def test_engine_latency_axis(spark):
    from datetime import date

    from ocr_spark import compare, pagegen

    pages = pagegen.generate_df(spark, 64, partitions=2)
    rows = compare.engine_latency(pages, date(2026, 8, 16)).collect()
    assert len(rows) == 4  # 2 engines x 2 modes
    assert all(r["n_docs"] == 64 for r in rows)
    assert all(r["wall_ms"] >= 0 for r in rows)
