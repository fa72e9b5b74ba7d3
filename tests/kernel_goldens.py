"""Frozen-date goldens for the extraction row kernel and the parse UDF.

The goldens pin, per doc_type, the kernel columns in :data:`CANON_COLS`
— ``response_json``, ``spans_json``, tier and ``tier2_reason`` included,
which the 20k-page pipeline digest does not cover.  They were recorded
from the code whose per-url parity with the reference parsers was last
verified, and ``tests/test_kernel.py`` replays them without Spark.

Regenerate (only for a deliberate output change, and say why in the
commit)::

    python -m tests.kernel_goldens
"""

from __future__ import annotations

import hashlib
import json
from datetime import date, timedelta
from pathlib import Path

import pandas as pd

from ocr_spark import pagegen
from tests.fixture_texts import DNI_TEXTS, NIF_TEXTS, PERMIS_TEXTS

GOLDENS = Path(__file__).with_name("kernel_goldens.json")

# frozen: conftest.RUN_DATE is date.today(), which would move the goldens
RUN_DATE = date(2026, 8, 16)
N_PAGES = 2000
MODES = ("standard", "aggressive", "layout")
DOC_TYPES = ("dni", "permiso_circulacion", "nif")

CANON_COLS = ("url", "doc_type", "tier", "needs_tier2", "tier2_reason",
              "extracted_text", "ocr_confidence", "valido",
              "confianza_global", "response_json", "spans_json")
PARSE_COLS = ("response", "needs_tier2", "tier2_reason")
PARSE_CONFS = (95.0, 10.0, None)

# kernel policy each golden key prefix covers (the fused prefix keeps its
# ``tier2=on`` suffix so the recorded digests keep their keys)
CONFIGS = {
    "fused/tier2=on": "fused",
    "tier1": "tier1",
    "tier2": "tier2",
}


def edge_rows() -> list[dict]:
    """Pages the generator never produces: html-less rows, empty and
    undecodable payloads."""
    ts = pagegen._BASE_TS
    garbage = bytes((i * 131 + 7) % 256 for i in range(1024))
    text = "APELLIDOS\nGARCIA LOPEZ\nNOMBRE\nMARIA\nDNI\n77612097T"
    return [
        {"url": "edge://html-none-text", "warc_ts": ts, "html": None,
         "text": text, "lang": "es"},
        {"url": "edge://html-none-empty-text", "warc_ts": ts, "html": None,
         "text": "", "lang": "es"},
        {"url": "edge://html-empty", "warc_ts": ts + timedelta(seconds=1),
         "html": b"", "text": None, "lang": "es"},
        {"url": "edge://garbage", "warc_ts": ts + timedelta(seconds=2),
         "html": garbage, "text": None, "lang": "und"},
    ]


def pages() -> pd.DataFrame:
    """``pagegen`` pages 0..N_PAGES-1 plus :func:`edge_rows`, as one
    pages-schema batch."""
    rows = [pagegen.page_for(i) for i in range(N_PAGES)] + edge_rows()
    return pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text",
                                       "lang"])


def tier2_input(pdf: pd.DataFrame, reason: str = "compare") -> pd.DataFrame:
    """A pages batch shaped as the tier-2 policy's input."""
    return pdf.assign(tier2_reason=reason)


def _json(value) -> str:
    return json.dumps(value, ensure_ascii=False, separators=(",", ":"),
                      default=lambda o: o.item())


def canonical_lines(out: pd.DataFrame) -> list[str]:
    """One canonical JSON line per kernel row (compared columns), by url."""
    recs = out[list(CANON_COLS)].astype(object).to_dict("records")
    return sorted(_json([r[c] for c in CANON_COLS]) for r in recs)


def _sha(lines: list[str]) -> str:
    return hashlib.sha256("\n".join(lines).encode("utf-8")).hexdigest()


def kernel_digests(out: pd.DataFrame, prefix: str) -> dict[str, str]:
    """sha256 per doc_type over the canonical rows of one kernel run."""
    return {f"{prefix}/{dt}": _sha(canonical_lines(out[out["doc_type"] == dt]))
            for dt in DOC_TYPES}


def parse_cases() -> tuple[list[str], list[str], list]:
    """(case names, texts, confidences): every fixture text at each of
    :data:`PARSE_CONFS`; ``None`` arrives as NaN, as Arrow delivers it."""
    texts = {**{f"dni/{k}": v for k, v in DNI_TEXTS.items()},
             **{f"permis/{k}": v for k, v in PERMIS_TEXTS.items()},
             **{f"nif/{k}": v for k, v in NIF_TEXTS.items()}}
    names, ts, confs = [], [], []
    for conf in PARSE_CONFS:
        for name in sorted(texts):
            names.append(f"{name}@{conf}")
            ts.append(texts[name])
            confs.append(conf)
    return names, ts, confs


def parse_lines(names: list[str], out: pd.DataFrame) -> list[str]:
    recs = out[list(PARSE_COLS)].astype(object).to_dict("records")
    return [_json([n] + [r[c] for c in PARSE_COLS])
            for n, r in zip(names, recs)]


def parse_digest(names: list[str], out: pd.DataFrame) -> str:
    return _sha(parse_lines(names, out))


def compute(kernel, parse) -> dict[str, str]:
    """Every golden digest.

    ``kernel(pdf, mode, policy)`` returns the kernel's output batch;
    ``parse(doc_type, texts, confidences)`` the parse UDF's output frame.
    """
    pdf = pages()
    digests: dict[str, str] = {}
    for mode in MODES:
        for prefix, policy in CONFIGS.items():
            src = tier2_input(pdf) if policy == "tier2" else pdf
            out = kernel(src, mode, policy)
            digests.update(kernel_digests(out, f"{prefix}/{mode}"))
    names, texts, confs = parse_cases()
    conf_s = pd.Series(confs, dtype="float64")
    for dt in DOC_TYPES:
        digests[f"parse/{dt}"] = parse_digest(
            names, parse(dt, pd.Series(texts), conf_s))
    return digests


def current_kernel(pdf, mode, policy):
    from ocr_spark.functions import udfs
    return udfs.extract_batch(pdf, RUN_DATE, mode, policy)


def current_parse(doc_type, texts, confidences):
    from ocr_spark.functions import udfs
    return udfs.parse_udf(doc_type, RUN_DATE).func(texts, confidences)


def main() -> None:
    digests = compute(current_kernel, current_parse)
    GOLDENS.write_text(json.dumps(
        {"run_date": RUN_DATE.isoformat(), "n_pages": N_PAGES,
         "digests": digests}, indent=1, sort_keys=True) + "\n")
    print(f"wrote {len(digests)} digests to {GOLDENS}")


if __name__ == "__main__":
    main()
