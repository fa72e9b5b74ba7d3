"""Scalar text / date normalization primitives (SURVEY.md §2.5, Z1–Z6).

Pure functions, deterministic, no clock access.  Each mirrors the observable
behaviour of a reference helper (cited per function) so that per-row outputs
are byte-identical when replayed over the same input text.  They are the
innermost kernels of the vectorized pandas UDFs in
:mod:`ocr_spark.functions.udfs`.
"""

from __future__ import annotations

import re
from typing import Optional

# --- parse-cost guard ------------------------------------------------------

# The field parsers replicate the reference's regexes byte-for-byte
# (SURVEY.md §5.2.1), and several of those — e.g. the street splitter at
# reference dni_parser.py:314-318 — backtrack quadratically over long
# homogeneous runs (a single 30k-space line costs ~11 s; a 1 MB hostile line
# would stall an executor core for hours).  The reference only ever parses
# OCR text of one ID card (≤ ~2 KiB, short lines), so instead of rewriting
# 60+ contract-bearing regexes we bound what the *pipeline* feeds them:
# the first PARSE_TEXT_BUDGET chars of extracted text, each line capped at
# PARSE_LINE_CAP chars.  Worst-case parse cost is then
# (budget/cap) * cap^2 * ~20 ns ≈ 0.2 s per hostile page instead of hours.
# The bound applies ONLY to field parsing/routing decisions: the extracted
# text emitted by the pipeline (the byte-identity contract) and the span
# detector (linear regexes) always see the full text.  Pages whose fields
# live beyond 32 KiB of extracted text, or past char 512 of one unbroken
# line, lose those fields — disclosed, and unreachable for the ID-document
# fixture corpus (all < 2 KiB).
PARSE_TEXT_BUDGET = 32768
PARSE_LINE_CAP = 512


def bound_parse_text(text: str) -> str:
    """Cap *text* for field parsing: budget + per-line cap (cost guard)."""
    if len(text) <= PARSE_LINE_CAP:
        return text
    t = text[: PARSE_TEXT_BUDGET]
    if max(map(len, t.split("\n"))) <= PARSE_LINE_CAP:
        return t
    return "\n".join(line[:PARSE_LINE_CAP] for line in t.split("\n"))


# --- date regexes ----------------------------------------------------------

_RE_DMY_SLASH = re.compile(r"^(\d{2})/(\d{2})/(\d{4})$")
_RE_DMY_DASH_OR_SLASH = re.compile(r"^(\d{2})[-/](\d{2})[-/](\d{4})$")
_RE_DMY_ANYWHERE = re.compile(r"(\d{2})[-/.](\d{2})[-/.](\d{4})")


def iso_from_dmy_slash(value: str) -> Optional[str]:
    """``DD/MM/YYYY`` → ``YYYY-MM-DD`` with day/month range check only.

    Parity: ``_dmy_to_iso`` at reference ``app/parsers/dni_parser.py:33-41``.
    Deliberately accepts impossible calendar dates such as 31/02 — the
    contract only checks 1≤dd≤31 and 1≤mm≤12 (this is why the pipeline never
    uses ``to_date``/``DateType`` for these columns).
    """
    m = _RE_DMY_SLASH.match(value)
    if m is None:
        return None
    dd, mm, yyyy = (int(g) for g in m.groups())
    if not (1 <= mm <= 12 and 1 <= dd <= 31):
        return None
    # {yyyy:04d}, NOT {yyyy}: the regex matches 4 DIGITS, so "0999"
    # parses to 999 and an unpadded format yields "999-12-31" whose
    # iso[:4] is "999-" — int() raises, and in the reference that is a
    # per-request 500 while here it would be one garbled OCR date
    # killing the whole batch (deliberate crash-vs-reject divergence:
    # the padded form flows into the year-range gate and returns None)
    return f"{yyyy:04d}-{mm:02d}-{dd:02d}"


def iso_from_dmy(value: str) -> Optional[str]:
    """Like :func:`iso_from_dmy_slash` but also accepts ``-`` separators.

    Parity: ``_dmy_to_iso`` at reference ``app/parsers/nif_parser.py:54-62``.
    """
    m = _RE_DMY_DASH_OR_SLASH.match(value)
    if m is None:
        return None
    dd, mm, yyyy = (int(g) for g in m.groups())
    if not (1 <= mm <= 12 and 1 <= dd <= 31):
        return None
    return f"{yyyy:04d}-{mm:02d}-{dd:02d}"  # 04d: see iso_from_dmy_slash


def iso_in_year_range(value: str, min_year: int, max_year: int,
                      *, dash_ok: bool = False) -> Optional[str]:
    """Convert + gate the year into ``[min_year, max_year]``.

    Parity: ``_validate_dmy`` (``dni_parser.py:44-52``) and
    ``_validate_date`` (``nif_parser.py:65-73``).
    """
    iso = iso_from_dmy(value) if dash_ok else iso_from_dmy_slash(value)
    if iso is None:
        return None
    if not (min_year <= int(iso[:4]) <= max_year):
        return None
    return iso


def iso_date_search(text: str) -> Optional[str]:
    """First ``DD-MM-YYYY``/``DD/MM/YYYY``/``DD.MM.YYYY`` anywhere in *text*,
    as ISO, gated to day 1–31, month 1–12, year 1970–2050.

    Parity: ``_to_iso`` at reference ``app/parsers/permis_parser.py:73-81``.
    """
    m = _RE_DMY_ANYWHERE.search(text)
    if m is None:
        return None
    dd, mm, yyyy = (int(g) for g in m.groups())
    if not (1 <= dd <= 31 and 1 <= mm <= 12 and 1970 <= yyyy <= 2050):
        return None
    return f"{yyyy:04d}-{mm:02d}-{dd:02d}"  # 04d: see iso_from_dmy_slash


# --- proper-name cleaning ----------------------------------------------------

_RE_NAME_OCR_PREFIX = re.compile(r"^(bdr|nif|dni|nie|doc)\s+", re.IGNORECASE)
_RE_NAME_BAD_CHARS = re.compile(r"[^A-Za-zÀ-ÖØ-öø-ÿ \-']")
_RE_MULTI_SPACE = re.compile(r"\s+")


def clean_person_name(value: Optional[str]) -> Optional[str]:
    """Strip common OCR junk from a proper-name field.

    Parity: ``_clean_name`` at ``dni_parser.py:78-85`` — drop a leading
    ``bdr/nif/dni/nie/doc`` token, keep only name-safe characters
    (Latin letters incl. accented ranges, space, hyphen, apostrophe),
    collapse whitespace.  Empty results become ``None``.
    """
    if not value:
        return None
    value = _RE_NAME_OCR_PREFIX.sub("", value)
    cleaned = _RE_NAME_BAD_CHARS.sub("", value)
    cleaned = _RE_MULTI_SPACE.sub(" ", cleaned).strip()
    return cleaned or None


def name_has_ocr_noise(value: Optional[str]) -> bool:
    """True when the field contains characters unexpected in a proper name.

    Parity: ``_has_ocr_noise`` at ``dni_parser.py:88-92``.
    """
    if not value:
        return False
    return _RE_NAME_BAD_CHARS.search(value) is not None


# --- OCR confusion corrections ----------------------------------------------

_PLATE_DIGIT_FIX = str.maketrans("OISBZG", "015826")
_PLATE_LETTER_FIX = str.maketrans("081", "OBI")
_ID_DIGIT_FIX = str.maketrans("OISBZ", "01582")
_RE_SPACE_DASH = re.compile(r"[\s\-]")


def correct_plate_ocr(raw: str) -> str:
    """Undo classic OCR digit/letter confusions in a Spanish plate.

    Parity: ``_correct_matricula`` at ``permis_parser.py:96-105``.
    Only 7-character candidates are corrected: positions 1–4 must be digits
    (O→0, I→1, S→5, B→8, Z→2, G→6), positions 5–7 letters (0→O, 8→B, 1→I).
    """
    raw = _RE_SPACE_DASH.sub("", raw.upper())
    if len(raw) != 7:
        return raw
    return raw[:4].translate(_PLATE_DIGIT_FIX) + raw[4:].translate(_PLATE_LETTER_FIX)


def correct_id_ocr(raw: str) -> str:
    """Undo digit confusions in the numeric body of a DNI/NIE.

    Parity: ``_correct_ocr_nif`` at ``permis_parser.py:168-178``: DNI corrects
    the first 8 chars, NIE corrects positions 2–8 (after the X/Y/Z prefix).
    """
    raw = raw.upper().strip().replace(" ", "").replace("-", "")
    if raw and raw[0].isdigit():
        return raw[:8].translate(_ID_DIGIT_FIX) + raw[8:]
    if raw and raw[0] in "XYZ":
        return raw[0] + raw[1:8].translate(_ID_DIGIT_FIX) + raw[8:]
    return raw


# --- PII redaction (log-string helpers; no pipeline stage calls them) ---------

def redact_id(doc: Optional[str]) -> str:
    """``12345678A`` → ``1234****A``. Parity: ``app/utils/redact.py:10-17``
    for the well-formed 9-char DNI/NIE domain; deliberate divergence for
    SHORT inputs (the reference's ``len < 3`` guard lets a 4-char
    OCR-truncated id through ``doc[:4] + '****' + doc[-1]`` with every
    character of the PII value visible in the 'redacted' log string —
    a redactor must fail closed, so anything under 7 chars masks fully)."""
    if not doc or len(doc) < 7:
        return "***"
    return doc[:4] + "****" + doc[-1]
