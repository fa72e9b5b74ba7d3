"""In-process replay of the fused extraction kernel, with per-function spans.

``replay_page`` calls, in the same order and with the same arguments, the
functions that ``udfs.fused_single_pass_udf`` calls for one page (standard
mode, tier 2 enabled).  Its output row is what the Spark pipeline must have
written for that page, so it serves two purposes:

* the byte-for-byte correctness check of ``data/`` rows
  (``extracted_text``, ``valido``, ``confianza_global``, ``response_json``);
* the single-thread kernel profile of the traced run: every call is timed
  with ``perf_counter_ns`` into a :class:`KernelSpans`.
"""

from __future__ import annotations

import time
from datetime import date

from ocr_spark import html_extract
from ocr_spark.functions import udfs
from ocr_spark.textops import bound_parse_text

MODE = "standard"
COMPARED = ("extracted_text", "valido", "confianza_global", "response_json")


class KernelSpans:
    """Summed nanoseconds and call counts per kernel function."""

    def __init__(self) -> None:
        self.ns: dict[str, int] = {}
        self.calls: dict[str, int] = {}
        self.pages = 0
        self.tier2_rows = 0
        self.html_bytes = 0
        self.response_json_bytes = 0
        self.wall_ns = 0

    def timed(self, name: str, fn, *args):
        t0 = time.perf_counter_ns()
        out = fn(*args)
        self.ns[name] = self.ns.get(name, 0) + time.perf_counter_ns() - t0
        self.calls[name] = self.calls.get(name, 0) + 1
        return out

    def metrics(self) -> dict[str, float]:
        """Per-layer kernel metrics (µs per page or per row, bytes/page)."""
        pages = max(self.pages, 1)

        def per(name: str, base: int) -> float:
            return self.ns.get(name, 0) / 1000 / max(base, 1)

        return {
            "html_extract.segment_us_per_page": per("segment", pages),
            "html_extract.tier1_keep_us_per_page": per("tier1_keep", pages),
            "html_extract.tier2_keep_us_per_row":
                per("tier2_keep", self.tier2_rows),
            "html_extract.html_bytes": self.html_bytes / pages,
            "parsers.dni_us_per_row":
                per("parse.dni", self.calls.get("parse.dni", 0)),
            "parsers.permis_us_per_row":
                per("parse.permiso_circulacion",
                    self.calls.get("parse.permiso_circulacion", 0)),
            "parsers.nif_us_per_row":
                per("parse.nif", self.calls.get("parse.nif", 0)),
            "udfs.route_us_per_page": per("route", pages),
            "udfs.json_encode_us_per_page": per("json_encode", pages),
            "udfs.tier2_share": self.tier2_rows / pages,
            "udfs.response_json_bytes": self.response_json_bytes / pages,
            "kernel.pages_per_s_1t": self.pages / (self.wall_ns / 1e9)
            if self.wall_ns else 0.0,
        }


def replay_page(page: dict, run_date: date, spans: KernelSpans) -> dict:
    """The data row the fused stage emits for *page* (compared columns)."""
    html = page["html"]
    if not html:
        raise ValueError(f"benchmark pages always carry html: {page['url']}")
    t0 = time.perf_counter_ns()
    blocks = spans.timed("segment", html_extract._segment, html)
    xt, conf = spans.timed("tier1_keep", html_extract.tier1_from_blocks,
                           blocks, MODE)
    dt = spans.timed("route", _route, xt)
    resp, needs, _ = spans.timed(
        f"parse.{dt}", udfs.parse_dispatch, dt, xt, conf, run_date,
        udfs.TIER1_ENGINE, True)
    tier = 1
    if needs:
        tier = 2
        xt, conf, _ = spans.timed("tier2_keep", html_extract.tier2_from_blocks,
                                  blocks, MODE, True)
        dt = spans.timed("route", _route, xt)
        resp, _, _ = spans.timed(
            f"parse.{dt}", udfs.parse_dispatch, dt, xt, conf, run_date,
            udfs.TIER2_ENGINE, False)
    rj = spans.timed("json_encode", udfs._dumps, resp)
    spans.wall_ns += time.perf_counter_ns() - t0
    spans.pages += 1
    spans.tier2_rows += tier == 2
    spans.html_bytes += len(html)
    spans.response_json_bytes += len(rj.encode("utf-8"))
    return {"url": page["url"], "doc_type": dt, "tier": tier,
            "extracted_text": xt, "valido": resp["valido"],
            "confianza_global": resp["confianza_global"],
            "response_json": rj}


def _route(text: str) -> str:
    return udfs.route_doc_type(bound_parse_text(text))


def mismatches(expected: list[dict], written: dict[str, dict]) -> list[str]:
    """URLs whose written row differs from the replay in a compared column
    (or is missing from *written*)."""
    bad = []
    for row in expected:
        got = written.get(row["url"])
        if got is None or any(got[c] != row[c] for c in COMPARED):
            bad.append(row["url"])
    return bad
