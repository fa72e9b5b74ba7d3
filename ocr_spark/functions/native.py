"""Native Column expressions for the SQL-expressible operators.

These run JVM-side inside whole-stage codegen — no Python worker hop — and
each has a DuckDB-SQL twin in ``__spark_entry__.oracle_sql()``.  They cover
the operators SURVEY.md §2 marks as natively expressible (C1 check letter,
V2/V22 translate corrections, Z1 date reshaping, D6/V1/V3/N1 regex
extractors, R1 score arithmetic, R4 doc-type router).

Where Python-specific semantics matter (banker's rounding, ``re`` dialect,
elif order) the pandas-UDF path in :mod:`ocr_spark.functions.udfs` remains
the contract-bearing implementation; the natives here use explicit
``floor(x+0.5)`` rounding so Spark and DuckDB agree exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from ocr_spark.validators import DNI_CHECK_LETTERS

# --- regex shapes (Java dialect — verified equivalent to the Python ones
#     for these ASCII-only character classes) ---------------------------------

RE_DOC = r"(\d{8}[A-Z]|[XYZ]\d{7}[A-Z])"
RE_DNI_EXACT = r"^\d{8}[A-Z]$"
RE_NIE_EXACT = r"^[XYZ]\d{7}[A-Z]$"
RE_DATE_DMY = r"(\d{2})[-/.](\d{2})[-/.](\d{4})"


# --- C1: DNI/NIE check letter --------------------------------------------------

def nie_prefix_digit(doc: Column) -> Column:
    """X/Y/Z prefix → 0/1/2 as a string digit."""
    first = F.substring(doc, 1, 1)
    return (F.when(first == "X", F.lit("0"))
            .when(first == "Y", F.lit("1"))
            .when(first == "Z", F.lit("2")))


def dni_expected_letter(doc: Column) -> Column:
    """Expected mod-23 letter for a DNI/NIE-shaped string (C1)."""
    doc = F.upper(F.trim(doc))
    # try_cast, not cast: under ANSI (Spark 4 default) a malformed string
    # is a JOB-FATAL CAST_INVALID_INPUT, and codegen's common-subexpression
    # elimination can hoist the cast out of its CASE/rlike guard — on a
    # web corpus one garbage row must yield NULL, never kill the stage
    dni_num = F.substring(doc, 1, 8).try_cast("bigint")
    nie_num = (F.concat(nie_prefix_digit(doc), F.substring(doc, 2, 7))
               .try_cast("bigint"))
    num = F.when(doc.rlike(RE_DNI_EXACT), dni_num).when(doc.rlike(RE_NIE_EXACT), nie_num)
    return F.substring(F.lit(DNI_CHECK_LETTERS), (num % 23 + 1).cast("int"), 1)


def dni_is_valid(doc: Column) -> Column:
    """Boolean check-letter validity, null-safe (false for non-matching shapes)."""
    doc_u = F.upper(F.trim(doc))
    return F.coalesce(
        F.substring(doc_u, -1, 1) == dni_expected_letter(doc),
        F.lit(False))


# --- C2: CIF control digit ------------------------------------------------------

def cif_control_digit(cif: Column) -> Column:
    """AEAT control digit over the 7-digit body (positions 2-8)."""
    cif = F.upper(F.trim(cif))

    def digit(i: int) -> Column:  # 1-based position within the 7-digit body
        # try_cast: ANSI would throw job-fatally on a non-digit body char
        # (and subexpression elimination hoists this past any shape guard)
        return F.substring(cif, 1 + i, 1).try_cast("int")

    def fold(col: Column) -> Column:
        doubled = col * 2
        return F.when(doubled >= 10, doubled - 9).otherwise(doubled)

    odd = fold(digit(1)) + fold(digit(3)) + fold(digit(5)) + fold(digit(7))
    even = digit(2) + digit(4) + digit(6)
    return (10 - (odd + even) % 10) % 10


def cif_is_valid(cif: Column) -> Column:
    """Full per-letter-type CIF validity as a native expression (C2)."""
    cif_u = F.upper(F.trim(cif))
    shaped = cif_u.rlike(r"^[ABCDEFGHJKLMNPQRSUVW]\d{7}[A-J0-9]$")
    first = F.substring(cif_u, 1, 1)
    control = F.substring(cif_u, 9, 1)
    digit = cif_control_digit(cif_u)
    letter = F.substring(F.lit("JABCDEFGHI"), (digit + 1).cast("int"), 1)
    ok = (F.when(first.isin("A", "B", "E", "H"), control == digit.cast("string"))
          .when(first.isin("K", "P", "Q", "S"), control == letter)
          .otherwise((control == digit.cast("string")) | (control == letter)))
    return F.coalesce(shaped & ok, F.lit(False))


# --- V2/V22: OCR confusion corrections ------------------------------------------

def plate_ocr_correct(raw: Column) -> Column:
    """7-char plates: digits part O I S B Z G→0 1 5 8 2 6, letters 0 8 1→O B I."""
    clean = F.regexp_replace(F.upper(raw), r"[\s\-]", "")
    fixed = F.concat(
        F.translate(F.substring(clean, 1, 4), "OISBZG", "015826"),
        F.translate(F.substring(clean, 5, 3), "081", "OBI"))
    return F.when(F.length(clean) == 7, fixed).otherwise(clean)


def id_ocr_correct(raw: Column) -> Column:
    """DNI: fix first 8 chars; NIE: positions 2-8 (after X/Y/Z)."""
    clean = F.regexp_replace(F.upper(F.trim(raw)), r"[ \-]", "")
    first = F.substring(clean, 1, 1)
    dni_fixed = F.concat(F.translate(F.substring(clean, 1, 8), "OISBZ", "01582"),
                         F.substring(clean, 9, 2147483647))
    nie_fixed = F.concat(first,
                         F.translate(F.substring(clean, 2, 7), "OISBZ", "01582"),
                         F.substring(clean, 9, 2147483647))
    return (F.when(first.rlike(r"^\d$"), dni_fixed)
            .when(first.isin("X", "Y", "Z"), nie_fixed)
            .otherwise(clean))


# --- Z1: DD/MM/YYYY → ISO --------------------------------------------------------

def iso_from_dmy(value: Column) -> Column:
    """``DD/MM/YYYY`` (or -/.) → ``YYYY-MM-DD`` with dd 1-31 / mm 1-12 gates.

    Returns NULL outside range — deliberately NOT ``to_date`` (the contract
    accepts 31/02, SURVEY §2.5 Z1).
    """
    # try_cast: regexp_extract yields '' for non-matching values, which
    # ANSI cast turns into a job-fatal CAST_INVALID_INPUT
    dd = F.regexp_extract(value, RE_DATE_DMY, 1).try_cast("int")
    mm = F.regexp_extract(value, RE_DATE_DMY, 2).try_cast("int")
    yyyy = F.regexp_extract(value, RE_DATE_DMY, 3)
    ok = dd.between(1, 31) & mm.between(1, 12)
    iso = F.concat_ws("-", yyyy, F.lpad(mm.cast("string"), 2, "0"),
                      F.lpad(dd.cast("string"), 2, "0"))
    return F.when(ok, iso)


# --- R1: confidence formula (deterministic half-up rounding) ---------------------

def confidence_native(n_critical: Column, n_error: Column, n_warning: Column,
                      n_missing: Column, ocr_conf: Column) -> Column:
    """base 100 − 35c − 15e − 5w − 20m, blended 85/15, clamped [0,100].

    Uses explicit ``floor(x+0.5)`` so Spark and DuckDB agree; the
    contract-bearing Python (banker's) rounding lives in the pUDF (R1).
    """
    base = (F.lit(100) - n_critical * 35 - n_error * 15 - n_warning * 5
            - n_missing * 20)
    blended = F.floor(base * 0.85 + ocr_conf * 0.15 + F.lit(0.5))
    return F.greatest(F.lit(0), F.least(F.lit(100), blended)).cast("int")


# --- R4: document-type router -----------------------------------------------------

def doc_type_router(text: Column) -> Column:
    """Keyword heuristic from the reference roadmap (``ROADMAP.md:116-127``):
    explicit card titles first, then field-shape fallbacks, default dni.
    """
    up = F.upper(F.coalesce(text, F.lit("")))
    return (
        F.when(up.contains("PERMISO DE CIRCULACIÓN")
               | up.contains("PERMIS DE CIRCULACIO"), F.lit("permiso_circulacion"))
        .when(up.contains("TARJETA DE IDENTIFICACIÓN FISCAL")
              | up.contains("TARJETA DE IDENTIFICACION FISCAL"), F.lit("nif"))
        .when(up.contains("IDESP")
              | up.contains("DOCUMENTO NACIONAL DE IDENTIDAD")
              | up.contains("APELLIDOS") | up.contains("COGNOMS"), F.lit("dni"))
        # shape fallbacks for title-less fragments
        .when(up.rlike(r"\bD\.1\b") | up.rlike(r"\b\d{4}[A-Z]{3}\b"),
              F.lit("permiso_circulacion"))
        .when(up.rlike(r"\b[ABCDEFGHJKLMNPQRSUVW]\d{7}[A-J0-9]\b"), F.lit("nif"))
        .otherwise(F.lit("dni"))
    )


# --- D4: MRZ two-digit-year pivot --------------------------------------------------

def mrz_year_pivot(yy: Column, run_year: int) -> Column:
    """``19yy`` when yy > run_year%100 + 10, else ``20yy`` (D4)."""
    pivot = run_year % 100 + 10
    century = F.when(yy > pivot, F.lit("19")).otherwise(F.lit("20"))
    return F.concat(century, F.lpad(yy.cast("string"), 2, "0"))
