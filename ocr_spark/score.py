"""Confidence scoring + validation-item factory (SURVEY.md §2.7 R1).

Validation items are plain dicts (not pydantic) with the unified-contract-v1
shape ``{code, severity, field, message, evidence, suggested_fix}`` —
severity ∈ {warning, error, critical}.  Kept as dicts so they convert 1:1
into Spark ``array<struct<...>>`` columns through Arrow.
"""

from __future__ import annotations

from typing import Optional


def item(code: str, severity: str, message: str, field: Optional[str] = None,
         evidence: Optional[str] = None, suggested_fix: Optional[str] = None) -> dict:
    """Build a normalized validation item dict (all six keys always present)."""
    return {
        "code": code,
        "severity": severity,
        "field": field,
        "message": message,
        "evidence": evidence,
        "suggested_fix": suggested_fix,
    }


def confidence_score(alerts: list[dict], errors: list[dict],
                     min_fields_missing: int, ocr_confidence: float) -> int:
    """Unified-contract-v1 global confidence.

    Parity: ``compute_confianza`` at reference
    ``app/models/base_response.py:55-83``::

        base 100 − 35·critical − 15·error − 5·warning − 20·missing_min
        blended:  round(base*0.85 + ocr_confidence*0.15)   # Python round —
        clamped to [0, 100]                                 # half-to-even!

    Python's banker's rounding is contract-bearing (Spark ``F.round`` is
    HALF_UP), which is why this runs inside the pandas UDF, never as a native
    Column expression.
    """
    score = 100
    for it in errors + alerts:
        sev = it["severity"]
        if sev == "critical":
            score -= 35
        elif sev == "error":
            score -= 15
        else:
            score -= 5
    score -= min_fields_missing * 20
    score = round(score * 0.85 + ocr_confidence * 0.15)
    return max(0, min(100, score))
