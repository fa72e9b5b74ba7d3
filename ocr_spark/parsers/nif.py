"""NIF/TIF (fiscal-id card) extraction (Phase 1) + validation (Phase 2).

Reimplements the observable behaviour of the reference's
``app/parsers/nif_parser.py`` (operators N1–N13, C2, C8, C19 in SURVEY.md §2)
as pure dict-producing functions, including the two address sub-parsers
(inline vs block) and the social/fiscal disambiguation.
"""

from __future__ import annotations

import re
from datetime import date
from typing import Optional

from ocr_spark.schema import NIF_FIELDS, empty_datos
from ocr_spark.score import confidence_score, item
from ocr_spark.textops import iso_in_year_range
from ocr_spark.validators import cif_is_valid, cif_expected_control

TIPO_DOCUMENTO = "nif"

MIN_FIELDS = ("numero_nif", "razon_social", "domicilio_fiscal")

# Province list — the DNI list plus Canary/Balearic entries (nif_parser.py:32-47).
PROVINCES = (
    "BARCELONA", "TARRAGONA", "LLEIDA", "GIRONA",
    "MADRID", "VALENCIA", "ALICANTE", "CASTELLON", "CASTELLÓ",
    "SEVILLA", "MALAGA", "MÁLAGA", "CADIZ", "CÁDIZ", "HUELVA",
    "CORDOBA", "CÓRDOBA", "GRANADA", "JAEN", "JAÉN", "ALMERIA", "ALMERÍA",
    "ZARAGOZA", "HUESCA", "TERUEL",
    "A CORUÑA", "LA CORUÑA", "CORUÑA", "PONTEVEDRA", "OURENSE", "LUGO",
    "VIZCAYA", "BIZKAIA", "GUIPUZCOA", "GIPUZKOA", "ALAVA", "ARABA",
    "NAVARRA", "LA RIOJA", "RIOJA", "CANTABRIA", "ASTURIAS",
    "MURCIA", "BADAJOZ", "CACERES", "CÁCERES",
    "SALAMANCA", "ZAMORA", "VALLADOLID", "LEON", "LEÓN",
    "PALENCIA", "BURGOS", "SORIA", "SEGOVIA", "AVILA", "ÁVILA",
    "TOLEDO", "CIUDAD REAL", "CUENCA", "GUADALAJARA", "ALBACETE",
    "PALMAS, LAS", "SANTA CRUZ DE TENERIFE", "TENERIFE",
    "BALEARES", "BALEARS", "ILLES BALEARS",
)

_RE_CIF_BOUNDED = re.compile(r"\b([ABCDEFGHJKLMNPQRSUVW]\d{7}[A-J0-9])\b")
_RE_DATE_DASH = re.compile(r"(\d{2})[-/](\d{2})[-/](\d{4})")
_RE_HEX_CODE = re.compile(r"^[A-F0-9]{10,}$", re.IGNORECASE)
_RE_CP = re.compile(r"\b(\d{5})\b")
_RE_CP_PREFIX = re.compile(r"^\d{5}\s+")

_RE_DENOM_SAMELINE = re.compile(r"(?:DENOMINACIÓN|DENOMINACION)[:\s]+(.+)", re.IGNORECASE)
_RE_RAZON_SAMELINE = re.compile(r"(?:RAZÓN SOCIAL|RAZON SOCIAL)[:\s]+(.+)", re.IGNORECASE)
_RE_ANAGRAMA_SAMELINE = re.compile(r"ANAGRAMA COMERCIAL[:\s]+(.+)", re.IGNORECASE)
_RE_DOMICILIO_BARE = re.compile(r"DOMICILIO\s+(.+)", re.IGNORECASE)
_RE_DOMICILIO_TYPED = re.compile(r"DOMICILIO\s+(?:SOCIAL|FISCAL)?\s*(.+)", re.IGNORECASE)
_RE_AEAT_SAMELINE = re.compile(r"ADMINISTRACI[OÓ]N\s+(?:DE\s+LA\s+)?AEAT\s+(.+)", re.IGNORECASE)

# street splitter with NUM./PLANTA/PUERTA support (nif_parser.py:200-204)
_RE_NUM_FLOOR = re.compile(
    r"[,\s]+(?:NUM\.?\s*)?(\d{1,4}[A-Z]?)\s*[,]?\s*"
    r"(PLANTA\s*\d+[,]?\s*PUERTA\s*\d+|P[O0]?\d+\s*\d*|[PB]\d+|\d+[ºª°]?\s*[A-Z]?)?",
    re.IGNORECASE,
)
_RE_NUM_TAIL = re.compile(r"[,\s]+(\d+[A-Z]?)\s*$")
_RE_NUM_LABEL_TAIL = re.compile(r",?\s*NUM\.?\s*$", re.IGNORECASE)
_RE_FLOOR_ANY = re.compile(
    r"(PLANTA\s*\d+[,]?\s*PUERTA\s*\d+|PLANTA\s*\d+|PUERTA\s*\d+|P[O0]?\d+\s*\d*)",
    re.IGNORECASE,
)
_RE_TOWN_PROV_SPLIT = re.compile(r"\s*-\s*|\s*\(\s*")

_STOP_KEYWORDS_INLINE = ("DOMICILIO", "FECHA", "ADMINISTRACIÓN", "ADMINISTRACION",
                         "CÓDIGO", "CODIGO", "ANAGRAMA", "N.I.F", "NIF", "B762")
_STOP_KEYWORDS_BLOCK = ("DOMICILIO", "FECHA", "ADMINISTRACIÓN", "ADMINISTRACION",
                        "CÓDIGO", "CODIGO", "ANAGRAMA", "N.I.F", "NIF")


# ---------------------------------------------------------------------------
# Address sub-parsers (N7/N8)
# ---------------------------------------------------------------------------

def _split_first_line(first_line: str, result: dict) -> None:
    """Street / number / floor-door from the address head line (N9)."""
    m = _RE_NUM_FLOOR.search(first_line)
    if m:
        result["numero"] = m.group(1).strip()
        if m.group(2):
            result["piso_puerta"] = m.group(2).strip()
        result["calle"] = _RE_NUM_LABEL_TAIL.sub("", first_line[:m.start()].strip())


def parse_address_inline(lines: list[str], line_idx: int, first_line: str) -> dict:
    """Address whose head line was captured on the keyword line itself.

    Parity: ``_parse_domicilio_inline`` (``nif_parser.py:161-241``), including
    the Social/Fiscal-prefixed continuation lines and the town/province split
    of the post-CP remainder on ``' - '`` or ``'('``.
    """
    addr_lines = [first_line]
    for j in range(line_idx + 1, min(line_idx + 5, len(lines))):
        nl = lines[j].strip()
        if not nl:
            break
        if any(kw in nl.upper() for kw in _STOP_KEYWORDS_INLINE):
            break
        if nl.upper().startswith("SOCIAL") or nl.upper().startswith("FISCAL"):
            # "Social 35016 PALMAS…" → keep the part after the prefix word
            pieces = nl.split(None, 1)
            if len(pieces) > 1:
                addr_lines.append(pieces[1])
        else:
            addr_lines.append(nl)

    result: dict = {"completo": " ".join(addr_lines)}
    _split_first_line(first_line, result)
    if "calle" not in result:
        result["calle"] = first_line

    if not result.get("piso_puerta"):
        for line in addr_lines[1:]:
            fm = _RE_FLOOR_ANY.search(line)
            if fm:
                result["piso_puerta"] = fm.group(1).strip()
                break

    for line in addr_lines:
        cp = _RE_CP.search(line)
        if cp:
            result["codigo_postal"] = cp.group(1)
            rest = line[cp.end():].strip()
            if rest:
                pieces = _RE_TOWN_PROV_SPLIT.split(rest)
                if pieces:
                    result["municipio"] = pieces[0].strip().rstrip(")")
                if len(pieces) > 1:
                    result["provincia"] = pieces[1].strip().rstrip(")")
            break
    return result


def parse_address_block(lines: list[str], start_idx: int) -> dict:
    """Address spread over the lines following the keyword line.

    Parity: ``_parse_domicilio`` (``nif_parser.py:244-338``) — up to 7
    following lines, stop keywords, bottom-up province scan (index 0
    included here, unlike the DNI variant), CP-prefix stripping.
    """
    addr_lines: list[str] = []
    for j in range(start_idx + 1, min(start_idx + 8, len(lines))):
        nl = lines[j].strip()
        if not nl:
            break
        if any(kw in nl.upper() for kw in _STOP_KEYWORDS_BLOCK):
            break
        addr_lines.append(nl)

    if not addr_lines:
        return {}

    result: dict = {"completo": " ".join(addr_lines)}
    first_line = addr_lines[0]
    m = _RE_NUM_FLOOR.search(first_line)
    if m:
        result["numero"] = m.group(1).strip()
        if m.group(2):
            result["piso_puerta"] = m.group(2).strip()
        result["calle"] = _RE_NUM_LABEL_TAIL.sub("", first_line[:m.start()].strip())
    else:
        tail = _RE_NUM_TAIL.search(first_line)
        if tail:
            result["numero"] = tail.group(1).strip()
            result["calle"] = first_line[:tail.start()].strip()
        else:
            result["calle"] = first_line

    for line in addr_lines:
        cp = _RE_CP.search(line)
        if cp:
            result["codigo_postal"] = cp.group(1)
            break

    prov_idx = None
    for idx in range(len(addr_lines) - 1, -1, -1):
        upper = addr_lines[idx].upper().strip()
        for prov in PROVINCES:
            if prov in upper:
                prov_idx = idx
                result["provincia"] = _RE_CP_PREFIX.sub("", addr_lines[idx].strip())
                break
        if prov_idx is not None:
            break

    if prov_idx is not None and prov_idx > 0:
        town = _RE_CP_PREFIX.sub("", addr_lines[prov_idx - 1])
        result["municipio"] = town.strip() or None
    elif len(addr_lines) > 1:
        town = _RE_CP_PREFIX.sub("", addr_lines[1])
        result["municipio"] = town.strip() or None

    return result


def _store_address(datos: dict, prefix: str, address: dict) -> None:
    """Copy the 7 address components into ``domicilio_{social,fiscal}_*``."""
    datos[f"domicilio_{prefix}"] = address.get("completo")
    datos[f"domicilio_{prefix}_calle"] = address.get("calle")
    datos[f"domicilio_{prefix}_numero"] = address.get("numero")
    datos[f"domicilio_{prefix}_piso_puerta"] = address.get("piso_puerta")
    datos[f"domicilio_{prefix}_municipio"] = address.get("municipio")
    datos[f"domicilio_{prefix}_provincia"] = address.get("provincia")
    datos[f"domicilio_{prefix}_codigo_postal"] = address.get("codigo_postal")


# ---------------------------------------------------------------------------
# Phase 1 — extraction (N1–N13)
# ---------------------------------------------------------------------------

def parse(text: str, run_date: date) -> dict:
    """Keyword-driven scan of a TIF card text.

    Parity: ``NIFParser.parse`` (``nif_parser.py:348-505``); the elif chain
    order (Denominación over Razón Social, bare DOMICILIO before the typed
    variants) is contract-bearing and preserved.
    """
    datos = empty_datos(NIF_FIELDS)
    lines = text.split("\n")

    cif_m = _RE_CIF_BOUNDED.search(text)
    if cif_m:
        datos["numero_nif"] = cif_m.group(1).upper()
        datos["tipo_nif"] = "CIF"

    for i, line in enumerate(lines):
        lu = line.upper()

        if ("DENOMINACIÓN" in lu or "DENOMINACION" in lu) and "FISCAL" not in lu:
            m = _RE_DENOM_SAMELINE.search(line)
            if m:
                value = m.group(1).strip()
            elif i + 1 < len(lines):
                value = lines[i + 1].strip()
            else:
                value = None
            # reject OCR zeros and label-like values ("Anagrama Comercial:")
            if value and value not in ("0", "o", "O") and ":" not in value:
                datos["denominacion"] = value
                datos["razon_social"] = value

        elif ("RAZÓN SOCIAL" in lu or "RAZON SOCIAL" in lu) and not datos["razon_social"]:
            m = _RE_RAZON_SAMELINE.search(line)
            if m:
                value = m.group(1).strip()
                if value and ":" not in value:
                    datos["razon_social"] = value
                    datos["denominacion"] = value

        elif "ANAGRAMA COMERCIAL" in lu:
            m = _RE_ANAGRAMA_SAMELINE.search(line)
            if m:
                value = m.group(1).strip()
                if value:
                    datos["anagrama_comercial"] = value
            elif i + 1 < len(lines):
                value = lines[i + 1].strip()
                if value:
                    datos["anagrama_comercial"] = value

        elif "DOMICILIO" in lu and "SOCIAL" not in lu and "FISCAL" not in lu:
            # bare "Domicilio": the NEXT line decides social vs fiscal (N5)
            m = _RE_DOMICILIO_BARE.search(line)
            if m:
                first_line = m.group(1).strip()
                is_social = is_fiscal = False
                if i + 1 < len(lines):
                    nxt = lines[i + 1].upper()
                    if "SOCIAL" in nxt and "DOMICILIO" not in nxt:
                        is_social = True
                    elif "FISCAL" in nxt and "DOMICILIO" not in nxt:
                        is_fiscal = True
                if is_social and not datos["domicilio_social"]:
                    _store_address(datos, "social", parse_address_inline(lines, i, first_line))
                elif is_fiscal and not datos["domicilio_fiscal"]:
                    _store_address(datos, "fiscal", parse_address_inline(lines, i, first_line))

        elif "DOMICILIO" in lu and ("SOCIAL" in lu or "FISCAL" in lu):
            m = _RE_DOMICILIO_TYPED.search(line)
            if m:
                value = m.group(1).strip()
                if value and "SOCIAL" not in value.upper() and "FISCAL" not in value.upper():
                    address = parse_address_inline(lines, i, value)
                else:
                    address = parse_address_block(lines, i)
                if "SOCIAL" in lu:
                    _store_address(datos, "social", address)
                elif "FISCAL" in lu:
                    _store_address(datos, "fiscal", address)

        elif ("ADMINISTRACIÓN" in lu or "ADMINISTRACION" in lu) and "AEAT" in lu:
            m = _RE_AEAT_SAMELINE.search(line)
            if m:
                value = m.group(1).strip()
            elif i + 1 < len(lines):
                value = lines[i + 1].strip()
            else:
                value = None
            if value:
                datos["administracion_aeat"] = value
                # "35601 PALMAS G.C" → code + name (N11)
                pieces = value.split(None, 1)
                if len(pieces) == 2 and pieces[0].isdigit():
                    datos["codigo_administracion"] = pieces[0]
                    datos["nombre_administracion"] = pieces[1]

        elif "FECHA N.I.F. DEFINITIVO" in lu or "FECHA NIF DEFINITIVO" in lu:
            if i + 1 < len(lines):
                dm = _RE_DATE_DASH.search(lines[i + 1])
                if dm:
                    raw = f"{dm.group(1)}/{dm.group(2)}/{dm.group(3)}"
                    datos["fecha_nif_definitivo"] = iso_in_year_range(raw, 1980, run_date.year)

        elif "FECHA DE EXPEDICIÓN" in lu or "FECHA DE EXPEDICION" in lu:
            if i + 1 < len(lines):
                dm = _RE_DATE_DASH.search(lines[i + 1])
                if dm:
                    raw = f"{dm.group(1)}/{dm.group(2)}/{dm.group(3)}"
                    datos["fecha_expedicion"] = iso_in_year_range(raw, 1980, run_date.year)

        elif "CÓDIGO ELECTRÓNICO" in lu or "CODIGO ELECTRONICO" in lu:
            if i + 1 < len(lines):
                value = lines[i + 1].strip()
                if _RE_HEX_CODE.match(value):
                    datos["codigo_electronico"] = value.upper()

    return datos


# ---------------------------------------------------------------------------
# Phase 2 — validation + response (C2, C8, C19, R1–R3)
# ---------------------------------------------------------------------------

def validate(datos: dict, ocr_engine: str, ocr_confidence: float,
             run_date: date) -> dict:
    """CIF check digit, minimum fields, date-future checks, envelope.

    Parity: ``NIFParser.validate_and_build_response``
    (``nif_parser.py:509-587``).  A missing ``numero_nif`` produces TWO
    critical items (presence check + minimum-fields loop) — reference quirk,
    kept because it shifts the confidence score.
    """
    errors: list[dict] = []
    alerts: list[dict] = []
    today_iso = run_date.isoformat()

    if not datos["numero_nif"]:
        errors.append(item("NIF_MISSING_FIELD", "critical",
                           "Número NIF (CIF) no detectat.", field="numero_nif"))
    elif not cif_is_valid(datos["numero_nif"]):
        expected = cif_expected_control(datos["numero_nif"])
        errors.append(item(
            "NIF_CHECKDIGIT_MISMATCH", "critical",
            "Dígit de control CIF incorrecte.",
            field="numero_nif",
            evidence=f"Llegit: '{datos['numero_nif'][-1]}', esperat: '{expected}'",
        ))

    min_missing = 0
    for field in MIN_FIELDS:
        if not datos.get(field):
            min_missing += 1
            errors.append(item(
                "NIF_MISSING_FIELD",
                "critical" if field == "numero_nif" else "error",
                f"Camp mínim '{field}' no detectat.",
                field=field,
            ))

    if datos["fecha_nif_definitivo"] and datos["fecha_nif_definitivo"] > today_iso:
        errors.append(item("NIF_DATE_INVALID", "error",
                           "Data NIF Definitiu en el futur.",
                           field="fecha_nif_definitivo"))

    if datos["fecha_expedicion"] and datos["fecha_expedicion"] > today_iso:
        errors.append(item("NIF_DATE_INVALID", "error",
                           "Data expedició en el futur.",
                           field="fecha_expedicion"))

    confianza = confidence_score(alerts, errors, min_missing, ocr_confidence)

    has_critical = any(e["severity"] == "critical" for e in errors)
    has_minimums = bool(datos["numero_nif"] and datos["razon_social"]
                        and datos["domicilio_fiscal"])
    valido = not has_critical and has_minimums

    return {
        "valido": valido,
        "confianza_global": confianza,
        "tipo_documento": TIPO_DOCUMENTO,
        "datos": datos,
        "alertas": alerts,
        "errores_detectados": errors,
        "raw": {"ocr_engine": ocr_engine, "ocr_confidence": round(ocr_confidence, 1)},
        "meta": {"success": valido,
                 "message": f"[{ocr_engine}] {'Validació correcta' if valido else 'Errors detectats'}"},
    }
