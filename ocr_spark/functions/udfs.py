"""Arrow-vectorized Python stages (SURVEY.md §4.2-2).

Design: **one Python pass per row**, not one per field — each document's
text is parsed exactly once, mirroring the reference's single ``parse()``
call per request.  The extraction row kernel (:func:`extract_batch`) and
the per-type :func:`parse_udf` share one :func:`parse_dispatch`.  Batches
cross the JVM↔Python boundary once per Arrow batch (cap with
``spark.sql.execution.arrow.maxRecordsPerBatch``; pages can be ~100 KB of
text, so the job sets a conservative batch size).

Everything contract-bearing (Python-regex semantics, banker's rounding,
elif order) runs inside these stages; the cheap scalar shapes live in
:mod:`ocr_spark.functions.native` as Catalyst expressions instead.

Every factory takes ``run_date`` explicitly — no clock access inside
executors, so re-runs and resumes are byte-identical.
"""

from __future__ import annotations

import json
import re
from datetime import date

import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ocr_spark import html_extract
from ocr_spark.parsers import dni, nif, permis
from ocr_spark.textops import bound_parse_text
from ocr_spark.schema import (DNI_RESPONSE_STRUCT, NIF_RESPONSE_STRUCT,
                              PERMIS_RESPONSE_STRUCT)

# tier-1/2 map onto the reference's engine Literal ("tesseract"|"google_vision")
TIER1_ENGINE = "tesseract"
TIER2_ENGINE = "google_vision"


RESPONSE_STRUCTS = {
    "dni": DNI_RESPONSE_STRUCT,
    "permiso_circulacion": PERMIS_RESPONSE_STRUCT,
    "nif": NIF_RESPONSE_STRUCT,
}

# parse-UDF output: full response + the tier-2 routing decision
ROUTED_STRUCTS = {dt: T.StructType([
    T.StructField("response", s, True),
    T.StructField("needs_tier2", T.BooleanType(), True),
    T.StructField("tier2_reason", T.StringType(), True),
]) for dt, s in RESPONSE_STRUCTS.items()}


def parse_udf(doc_type: str, run_date: date):
    """(text, confidence) → struct(response, needs_tier2, tier2_reason).

    One tier-1 parse+validate+route per row of *doc_type*, vectorized per
    Arrow batch, over the same :func:`parse_dispatch` the row kernel calls.
    """

    @pandas_udf(ROUTED_STRUCTS[doc_type])
    def _parse(text: pd.Series, confidence: pd.Series) -> pd.DataFrame:
        rows = []
        for t, conf in zip(text, confidence):
            # pd.notna, not `is not None`: Arrow delivers NULL doubles
            # to pandas as NaN, and NaN would sail past the None check
            # into needs_tier2 where `NaN < 50.0` is False — a
            # null-confidence row reported tier1_acceptat instead of
            # routed to the fallback tier
            conf = float(conf) if pd.notna(conf) else 0.0
            resp, needs, reason = parse_dispatch(
                doc_type, t or "", conf, run_date, TIER1_ENGINE, True)
            rows.append({"response": resp, "needs_tier2": needs,
                         "tier2_reason": reason})
        return pd.DataFrame(rows)

    return _parse


# ---------------------------------------------------------------------------
# The extraction row kernel (one Python pass per row)
# ---------------------------------------------------------------------------
#
# The pipelines run :func:`extract_batch` through one mapInPandas instead of
# per-field pandas_udfs, because a pandas_udf referenced by a filter AND a
# projection gets planned as two ArrowEvalPython nodes (the extraction runs
# twice), and per-type branches multiply that further.  Fusing
# extract → route → parse → validate into one mapInPandas means each row
# crosses the JVM↔Python boundary exactly once, and the nested response
# travels back as a JSON string decoded JVM-side with ``from_json`` (an
# order of magnitude cheaper than Arrow-converting per-row nested dicts).

_RE_ROUTE_PERMIS = re.compile(r"\bD\.1\b|\b\d{4}[A-Z]{3}\b")
_RE_ROUTE_CIF = re.compile(r"\b[ABCDEFGHJKLMNPQRSUVW]\d{7}[A-J0-9]\b")


def route_doc_type(text: str) -> str:
    """Python twin of :func:`ocr_spark.functions.native.doc_type_router` (R4).

    Keyword heuristic from the reference roadmap (``ROADMAP.md:116-127``):
    explicit card titles first, shape fallbacks second, default dni.  Parity
    with the native Column form is asserted in tests.
    """
    up = (text or "").upper()
    if "PERMISO DE CIRCULACIÓN" in up or "PERMIS DE CIRCULACIO" in up:
        return "permiso_circulacion"
    if ("TARJETA DE IDENTIFICACIÓN FISCAL" in up
            or "TARJETA DE IDENTIFICACION FISCAL" in up):
        return "nif"
    if ("IDESP" in up or "DOCUMENTO NACIONAL DE IDENTIDAD" in up
            or "APELLIDOS" in up or "COGNOMS" in up):
        return "dni"
    if _RE_ROUTE_PERMIS.search(up):
        return "permiso_circulacion"
    if _RE_ROUTE_CIF.search(up):
        return "nif"
    return "dni"


FUSED_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("lang", T.StringType()),
    T.StructField("doc_type", T.StringType()),
    T.StructField("tier", T.IntegerType()),
    T.StructField("needs_tier2", T.BooleanType()),
    T.StructField("tier2_reason", T.StringType()),
    T.StructField("extracted_text", T.StringType()),
    T.StructField("ocr_engine", T.StringType()),
    T.StructField("ocr_confidence", T.DoubleType()),
    T.StructField("valido", T.BooleanType()),
    T.StructField("confianza_global", T.IntegerType()),
    T.StructField("response_json", T.StringType()),
    T.StructField("spans_json", T.StringType()),
    T.StructField("error", T.StringType()),
])

_FUSED_COLS = [f.name for f in FUSED_SCHEMA.fields]


def parse_dispatch(doc_type: str, text: str, conf: float, run_date: date,
                   engine: str, route: bool) -> tuple[dict, bool, str]:
    """(response, needs_tier2, reason) — per-type parse+validate (§2.4–2.7).

    The field parsers see :func:`bound_parse_text`'s view of the text (cost
    guard against quadratic-backtracking floods — see textops.py); the
    extracted text the pipeline EMITS is never bounded.
    """
    text = bound_parse_text(text)
    if doc_type == "permiso_circulacion":
        datos = permis.parse(text, run_date)
        needs, reason = (permis.needs_tier2(datos, conf) if route
                         else (False, "tier2_final"))
        resp = permis.validate(datos, engine, conf, run_date)
    elif doc_type == "nif":
        datos = nif.parse(text, run_date)
        resp = nif.validate(datos, engine, conf, run_date)
        # the reference has no NIF router: low tier-1 confidence routes
        needs = bool(route and conf < 50.0)
        reason = "confidence_baixa" if needs else (
            "tier1_acceptat" if route else "tier2_final")
    else:
        datos, raw_mrz = dni.parse(text, run_date)
        needs, reason = (dni.needs_tier2(datos, conf, text) if route
                         else (False, "tier2_final"))
        resp = dni.validate(datos, raw_mrz, engine, conf, run_date)
    return resp, needs, reason


def _dumps(obj) -> str:
    return json.dumps(obj, ensure_ascii=False, separators=(",", ":"))


def extract_batch(pdf: pd.DataFrame, run_date: date, mode: str = "standard",
                  policy: str = "fused") -> pd.DataFrame:
    """The extraction row kernel: one pages batch → :data:`FUSED_SCHEMA` rows.

    Each page is segmented once and *policy* picks the tiers run over it:

    * ``tier1`` — tier-1 keep → route → parse, routing decision kept
      (the engine comparison's tier-1 cells);
    * ``fused`` — as ``tier1``, but a routed row emits ONLY its tier-2 row,
      computed over the SAME blocks (the batch and streaming pipelines);
      equal to the two-stage composition, ``tier1`` then ``tier2`` over the
      routed slice;
    * ``tier2`` — permissive keep (+spans) → route → final parse, with
      ``tier2_reason`` read from the input (the comparison's tier-2 cells).

    Rows with no html use the ``text`` column: confidence 100 at tier 1,
    95 (0 if empty) at tier 2.

    A row whose route/parse/validate raises does not fail the batch: it
    is emitted at the tier that raised, with its routed doc_type,
    ``valido`` false, ``confianza_global`` 0, a minimal response and
    ``error = "extract_error:<ExceptionClass>"`` (the class only: no
    message, no PII).  Clean rows carry ``error`` NULL.
    """
    tier2_only = policy == "tier2"
    reasons = pdf["tier2_reason"] if tier2_only else [None] * len(pdf)
    rows = []
    for url, ts, html, text, lang, reason in zip(
            pdf["url"], pdf["warc_ts"], pdf["html"], pdf["text"],
            pdf["lang"], reasons):
        blocks = None
        if html is not None:
            hb = bytes(html)
            blocks = html_extract._segment(hb) if hb else []
        if not tier2_only:
            if blocks is None:
                xt, conf = (text or ""), 100.0
            else:
                xt, conf = html_extract.tier1_from_blocks(blocks, mode)
            dt, resp, needs, reason, error = _route_parse(
                xt, conf, run_date, TIER1_ENGINE, True)
            if policy == "tier1" or not needs:
                rows.append(_row(url, ts, lang, dt, 1, needs, reason, xt,
                                 TIER1_ENGINE, conf, resp, None, error))
                continue
        if blocks is None:
            xt = text or ""
            conf, spans = (95.0 if xt else 0.0), html_extract.detect_spans(xt)
        else:
            xt, conf, spans = html_extract.tier2_from_blocks(blocks, mode, True)
        dt, resp, _, _, error = _route_parse(
            xt, conf, run_date, TIER2_ENGINE, False)
        rows.append(_row(url, ts, lang, dt, 2, False, reason, xt,
                         TIER2_ENGINE, conf, resp, spans, error))
    return pd.DataFrame(rows, columns=_FUSED_COLS)


def _route_parse(xt: str, conf: float, run_date: date, engine: str,
                 route: bool) -> tuple:
    """(doc_type, response, needs_tier2, reason, error) for one row's
    text; an exception becomes the failure response and its error tag
    (needs_tier2 false, so a failed row never reaches tier 2)."""
    dt = None
    try:
        dt = route_doc_type(bound_parse_text(xt))
        return (dt, *parse_dispatch(dt, xt, conf, run_date, engine, route),
                None)
    except Exception as exc:
        return (dt, {"valido": False, "confianza_global": 0}, False, None,
                f"extract_error:{type(exc).__name__}")


def _row(url, ts, lang, doc_type, tier, needs, reason, xt, engine, conf,
         resp, spans, error) -> tuple:
    """One :data:`FUSED_SCHEMA` row."""
    return (url, ts, lang, doc_type, tier, needs, reason, xt, engine, conf,
            resp["valido"], resp["confianza_global"],
            _dumps(resp), _dumps(spans) if spans else None, error)


def extract_udf(run_date: date, mode: str = "standard",
                policy: str = "fused"):
    """mapInPandas function running :func:`extract_batch` over every batch.

    Input: the pages schema (plus ``tier2_reason`` for the ``tier2``
    policy).  Output: :data:`FUSED_SCHEMA`.
    """

    def fn(iterator):
        for pdf in iterator:
            yield extract_batch(pdf, run_date, mode, policy)

    return fn
