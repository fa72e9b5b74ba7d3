"""The extraction row kernel and the parse UDF, without Spark.

* Goldens (``kernel_goldens.json``, frozen ``run_date``) pin every column
  the kernel emits, per policy × mode × doc_type, and the parse UDF's
  output per doc_type; positive controls show a one-byte change in any
  compared column breaks them.
* The differential check: the ``fused`` policy's rows equal the two-stage
  composition — ``tier1`` rows not routed to tier 2, unioned with
  ``tier2`` over the routed slice — in every mode.
"""

from __future__ import annotations

import functools
import json
import math

import pandas as pd
import pytest

from tests import kernel_goldens as kg


@pytest.fixture(scope="module")
def goldens() -> dict[str, str]:
    data = json.loads(kg.GOLDENS.read_text())
    assert data["run_date"] == kg.RUN_DATE.isoformat()
    assert data["n_pages"] == kg.N_PAGES
    return data["digests"]


@functools.lru_cache(maxsize=None)
def _pages() -> pd.DataFrame:
    return kg.pages()


@functools.lru_cache(maxsize=None)
def _out(policy: str, mode: str) -> pd.DataFrame:
    """Kernel output over the golden pages (cached: never mutate it)."""
    pdf = _pages()
    src = kg.tier2_input(pdf) if policy == "tier2" else pdf
    return kg.current_kernel(src, mode, policy)


@functools.lru_cache(maxsize=None)
def _parse_out(doc_type: str) -> tuple[list[str], pd.DataFrame]:
    names, texts, confs = kg.parse_cases()
    return names, kg.current_parse(doc_type, pd.Series(texts),
                                   pd.Series(confs, dtype="float64"))


@pytest.mark.parametrize("mode", kg.MODES)
@pytest.mark.parametrize("config", sorted(kg.CONFIGS))
def test_kernel_goldens(goldens, config, mode):
    out = _out(kg.CONFIGS[config], mode)
    assert len(out) == kg.N_PAGES + len(kg.edge_rows())
    got = kg.kernel_digests(out, f"{config}/{mode}")
    assert got == {k: goldens[k] for k in got}


@pytest.mark.parametrize("doc_type", kg.DOC_TYPES)
def test_parse_udf_goldens(goldens, doc_type):
    names, out = _parse_out(doc_type)
    assert len(out) == len(names)
    assert kg.parse_digest(names, out) == goldens[f"parse/{doc_type}"]


def _one_byte_change(value):
    if hasattr(value, "item"):  # numpy scalar
        value = value.item()
    if isinstance(value, str):
        return value[:-1] + ("x" if value[-1:] != "x" else "y")
    if isinstance(value, bool):
        return not value
    if isinstance(value, float):
        return math.nextafter(value, math.inf)
    return value + 1


@pytest.mark.parametrize("column", kg.CANON_COLS)
def test_kernel_goldens_catch_one_byte_change(goldens, column):
    """Positive control: the goldens compare every canonical column."""
    out = _out("fused", "standard").copy()
    pos = out[column].first_valid_index()
    out.at[pos, column] = _one_byte_change(out.at[pos, column])
    prefix = "fused/tier2=on/standard"
    got = kg.kernel_digests(out, prefix)
    assert got != {k: goldens[k] for k in got}


@pytest.mark.parametrize("column", kg.PARSE_COLS)
def test_parse_goldens_catch_one_byte_change(goldens, column):
    names, out = _parse_out("dni")
    out = out.copy()
    value = out.at[0, column]
    if column == "response":
        value = {**value, "confianza_global": value["confianza_global"] + 1}
    else:
        value = _one_byte_change(value)
    out.at[0, column] = value
    assert kg.parse_digest(names, out) != goldens["parse/dni"]


def _rows(df: pd.DataFrame) -> list[tuple]:
    """Every column, as tuples ordered by url."""
    df = df.sort_values("url").astype(object)
    return [tuple(r) for r in df.itertuples(index=False)]


@pytest.mark.parametrize("mode", kg.MODES)
def test_fused_equals_two_stage(mode):
    """``fused`` == ``tier1`` rows kept at tier 1 ∪ ``tier2`` over the
    ``tier1`` fallback slice (its pages, with the routed ``tier2_reason``,
    as input)."""
    tier1 = _out("tier1", mode)
    routed = tier1["needs_tier2"].astype(bool)
    fallback = _pages().merge(tier1[routed][["url", "tier2_reason"]],
                              on="url")
    assert 0 < len(fallback) < len(tier1)
    two_stage = pd.concat(
        [tier1[~routed], kg.current_kernel(fallback, mode, "tier2")],
        ignore_index=True)
    fused = _out("fused", mode)
    assert set(fused["tier"]) == {1, 2}
    assert _rows(fused) == _rows(two_stage)


def test_extract_batch_empty_batch():
    from ocr_spark.functions import udfs
    out = udfs.extract_batch(_pages().iloc[:0], kg.RUN_DATE)
    assert list(out.columns) == [f.name for f in udfs.FUSED_SCHEMA.fields]
    assert out.empty


@pytest.mark.parametrize("policy", ["fused", "tier2"])
def test_raising_row_is_isolated(policy):
    """A row whose parse raises is emitted at the tier that raised as a
    failure row tagged with its exception class; the rest of the batch
    is exactly what it is without that row."""
    from ocr_spark.functions import udfs
    from tests.fixture_texts import CRASH_TEXT

    clean = _pages().iloc[:40]
    crash = pd.DataFrame([{"url": "edge://crash",
                           "warc_ts": clean["warc_ts"].iloc[0],
                           "html": None, "text": CRASH_TEXT, "lang": "es"}])
    src = pd.concat([clean, crash], ignore_index=True)
    if policy == "tier2":
        src, clean = kg.tier2_input(src), kg.tier2_input(clean)
    out = udfs.extract_batch(src, kg.RUN_DATE, policy=policy)
    bad = out[out["url"] == "edge://crash"].iloc[0]
    assert bad["error"] == "extract_error:ValueError"
    assert bad["tier"] == (1 if policy == "fused" else 2)
    assert bad["doc_type"] == "dni"
    assert not bad["valido"] and bad["confianza_global"] == 0
    assert json.loads(bad["response_json"]) == {"valido": False,
                                               "confianza_global": 0}
    rest = out[out["url"] != "edge://crash"]
    assert rest["error"].isna().all()
    assert _rows(rest) == _rows(udfs.extract_batch(clean, kg.RUN_DATE,
                                                   policy=policy))


_FUZZ_TOKENS = (b"<![", b"<!--", b"&#x", b"stream", b"/FlateDecode", b"(",
                b"\\")


def _mutate(data: bytes, rng) -> bytes:
    """One seeded mutation of *data*: truncation, byte flips, a repeated
    slice, or inserts of a token that opens a construct the scanners
    special-case (CDATA, comment, char ref, PDF stream, PDF string)."""
    op = rng.randrange(4)
    if op == 0:
        return data[:rng.randrange(len(data) + 1)]
    if op == 1 and data:
        out = bytearray(data)
        for _ in range(rng.randint(1, 16)):
            out[rng.randrange(len(out))] = rng.randrange(256)
        return bytes(out)
    at = rng.randrange(len(data) + 1)
    if op == 2:
        end = min(len(data), at + rng.randint(1, 256))
        piece = data[at:end] * rng.randint(2, 200)
    else:
        piece = rng.choice(_FUZZ_TOKENS) * rng.randint(1, 400)
    return data[:at] + piece + data[at:]


def test_mutated_pages_never_escape_the_kernel():
    """Seeded no-escape fuzz: mutated ``pagegen`` html, ``make_pdf`` blobs
    of the fixture texts and the parser crasher, as html and as text,
    through every kernel policy.  No mutant may raise out of
    ``extract_batch`` or lose its row; how many rows carry an ``error`` is
    not asserted."""
    import random

    from ocr_spark import pagegen
    from ocr_spark.functions import udfs
    from ocr_spark.sources.pdf import make_pdf
    from tests.fixture_texts import (CRASH_TEXT, DNI_TEXTS, NIF_TEXTS,
                                     PERMIS_TEXTS)

    texts = [*DNI_TEXTS.values(), *PERMIS_TEXTS.values(),
             *NIF_TEXTS.values(), CRASH_TEXT]
    seeds = ([pagegen.page_for(i)["html"] for i in range(0, 400, 20)]
             + [make_pdf(t, compress=c) for t in texts if t
                for c in (True, False)]
             + [CRASH_TEXT.encode()])
    rng = random.Random(20261020)
    ts = pagegen._BASE_TS
    rows = []
    for i in range(1500):
        data = rng.choice(seeds)
        for _ in range(rng.randint(1, 3)):
            data = _mutate(data, rng)
        as_text = i % 5 == 0
        rows.append({"url": f"fuzz://{i}", "warc_ts": ts,
                     "html": None if as_text else data,
                     "text": data.decode("utf-8", "replace") if as_text
                     else None, "lang": "es"})
    pdf = pd.DataFrame(rows)
    for policy in ("tier1", "fused", "tier2"):
        src = kg.tier2_input(pdf) if policy == "tier2" else pdf
        out = udfs.extract_batch(src, kg.RUN_DATE, policy=policy)
        assert list(out["url"]) == list(pdf["url"]), policy


def test_adversarial_page_cost_is_linear_in_bytes():
    """Cap-sized adversarial pages — repeated unclosed ``<a href=x `` tags,
    the kernel's worst shape — cost about 1 µs per byte whatever their
    size: a 1 MB page costs at most 8× a 256 KB one (quadratic growth
    reads ~16×) and under 5 µs/B.  Both bounds leave room for host drift;
    no wall time is pinned.  Each page still lands at tier 2 without an
    error."""
    import time

    from ocr_spark import pagegen
    from ocr_spark.functions import udfs

    def cost_us(n_bytes: int) -> float:
        html = b"<a href=x " * (n_bytes // 10)
        pdf = pd.DataFrame([{"url": "adv://a", "warc_ts": pagegen._BASE_TS,
                             "html": html, "text": None, "lang": "es"}])
        t0 = time.process_time()
        out = udfs.extract_batch(pdf, kg.RUN_DATE)
        cost = (time.process_time() - t0) * 1e6
        assert list(out["tier"]) == [2] and out["error"].isna().all()
        return cost

    small, large = cost_us(256 * 1024), cost_us(1024 * 1024)
    assert large <= 8 * small, (small, large)
    assert large / (1024 * 1024) <= 5.0, (small, large)
    assert small / (256 * 1024) <= 5.0, (small, large)
