"""Byte-identity parity: ocr_spark kernels vs the reference implementation.

Every test imports the reference function, runs it on the same input, and
asserts full structural equality with the ocr_spark output (``model_dump()``
vs plain dict).  The reference is the oracle — no expected value is
hand-copied.
"""

from __future__ import annotations

from datetime import date, timedelta

import pytest
from hypothesis import given, settings, strategies as st

from tests.conftest import RUN_DATE
from tests.fixture_texts import DNI_TEXTS, PERMIS_TEXTS, NIF_TEXTS

# the oracle is the reference checkout (package ``app``, see conftest.py);
# without it the kernel goldens in test_kernel.py are the parity pin
pytest.importorskip(
    "app.parsers",
    reason="reference checkout missing: package app.parsers (see "
           "tests/conftest.py REFERENCE) is not importable")

from app.parsers import dni_parser as ref_dni
from app.parsers import permis_parser as ref_permis
from app.parsers import nif_parser as ref_nif
from app.models.dni_response import DNIDatos, MRZData
from app.models.permis_response import PermisExtracted
from app.models.nif_response import NIFDatos
from app.models.base_response import ValidationItem, compute_confianza

from ocr_spark import textops, validators, score
from ocr_spark.parsers import dni, permis, nif
from ocr_spark.schema import DNI_FIELDS, PERMIS_FIELDS, NIF_FIELDS, empty_datos


# ---------------------------------------------------------------------------
# scalar vectors (FIXTURES.md §3)
# ---------------------------------------------------------------------------

DOC_NUMBERS = ["77612097T", "77612097A", "7612097T", "77612097t", "X1234567L",
               "X1234567A", "Y1234567G", "Z1234567H", "", "ABC", "00000000T",
               "99999999R", "X0000000T", " 77612097T "]

CIFS = ["B76261874", "B76261875", "B76261873", "b76261874", "A58818501",
        "A5881850J", "E78476350", "K1234567E", "K12345674", "P1234567E",
        "Q1234567E", "S1234567E", "C1234567E", "C12345674", "C12345675",
        "Z1234567A", " B76261874 ", "B 76261874", "", "B7626187"]

VINS = ["YARKAAC3100018794", "YAR123456789", "YARKAAC310001879400",
        "YARKAAC310001879I", "YARKAAC310001879O", "YARKAAC310001879Q",
        "WVWZZZ1JZYW000001", "YARKAAC31 00018794", "11111111111111111", ""]

PLATES = ["1177MTM", "4321BCF", "9999BCF", "1234AEI", "1234BQC", "123MTM",
          "12345MTM", "1234BÑC", "", "ABCDEFG"]

PLATE_RAW = ["11O7MTM", "1I77MTM", "1177mtm", "1177 MTM", "1177-MTM",
             "I1O7M0M", "1177MT", "B1234CD", "1178B0I"]

ID_RAW = ["776I2O97T", "X1Z34567L", "7761 2097-T", "x12s4567l", "", "QQQ"]

DATES = ["08/08/2024", "01-01-2020", "28.02.2025", "01/13/2024", "32/01/2024",
         "01/01/1900", "01/01/2060", "", "8/8/2024", "0101/2020", "31/02/2021"]


def test_doc_number_parity():
    for doc in DOC_NUMBERS:
        assert validators.dni_is_valid(doc) == ref_dni.validate_doc_number(doc), doc
        if doc.strip() and ref_dni._doc_type(doc.upper().strip()):
            assert (validators.dni_expected_letter(doc.strip())
                    == ref_dni._expected_letter(doc.strip())), doc


def test_cif_parity():
    for cif in CIFS:
        assert validators.cif_is_valid(cif) == ref_nif.validate_cif(cif), cif
        assert validators.cif_expected_control(cif) == ref_nif._expected_cif_control(cif), cif


def test_vin_parity():
    for vin in VINS:
        assert validators.vin_check(vin) == ref_permis._validate_vin(vin), vin


def test_plate_parity():
    for plate in PLATES:
        assert validators.plate_errors(plate) == ref_permis._validate_matricula(plate), plate
    for raw in PLATE_RAW:
        assert textops.correct_plate_ocr(raw) == ref_permis._correct_matricula(raw), raw


def test_id_ocr_correction_parity():
    for raw in ID_RAW:
        assert textops.correct_id_ocr(raw) == ref_permis._correct_ocr_nif(raw), raw
        assert validators.any_id_check(raw) == ref_permis._validate_nif(raw), raw


def test_date_parity():
    for d in DATES:
        assert textops.iso_from_dmy_slash(d) == ref_dni._dmy_to_iso(d), d
        assert textops.iso_from_dmy(d) == ref_nif._dmy_to_iso(d), d
        assert textops.iso_date_search(d) == ref_permis._to_iso(d), d
        assert (textops.iso_in_year_range(d, 1900, 2026)
                == ref_dni._validate_dmy(d, 1900, 2026)), d
        assert (textops.iso_in_year_range(d, 1980, 2026, dash_ok=True)
                == ref_nif._validate_date(d, 1980, 2026)), d


def test_name_cleaning_parity():
    names = ["JOAQUIN", "JO@QUIN", "bdr COLL", "DNI GARCIA", "  a  b ", "",
             "MARIA-JOSÉ D'ARC", "X23", "niña AÑO", None]
    for n in names:
        assert textops.clean_person_name(n) == ref_dni._clean_name(n), n
        assert textops.name_has_ocr_noise(n) == ref_dni._has_ocr_noise(n), n


def test_confidence_parity():
    cases = [
        ([], [], 0, 100.0), ([], [], 0, 0.0), ([], [], 2, 50.0),
        ([("w",)], [("c",), ("e",)], 1, 75.0),
        ([("w",)] * 5, [("c",)] * 3, 4, 33.3),
    ]
    sev = {"w": "warning", "e": "error", "c": "critical"}
    for alerts, errors, missing, conf in cases:
        ref_alerts = [ValidationItem(code="X", severity=sev[a[0]], message="m") for a in alerts]
        ref_errors = [ValidationItem(code="X", severity=sev[e[0]], message="m") for e in errors]
        my_alerts = [score.item("X", sev[a[0]], "m") for a in alerts]
        my_errors = [score.item("X", sev[e[0]], "m") for e in errors]
        assert (score.confidence_score(my_alerts, my_errors, missing, conf)
                == compute_confianza(ref_alerts, ref_errors, missing, conf))


def test_vehicle_type_parity():
    for cat in ["M1", "M2", "M3", "N1", "N2", "N3", "L1E", "L3E", "l1e", " m1 ", "ZZ"]:
        assert permis.vehicle_type_label(cat) == ref_permis._inferir_tipus_vehicle(cat)


# ---------------------------------------------------------------------------
# full-document parity helpers
# ---------------------------------------------------------------------------

def _dni_pair(text: str, engine: str = "google_vision", conf: float = 95.0):
    ref_data, ref_raw = ref_dni.DNIParser.parse(text)
    ref_resp = ref_dni.DNIParser.validate_and_build_response(ref_data, ref_raw, engine, conf)
    my_data, my_raw = dni.parse(text, RUN_DATE)
    my_resp = dni.validate(my_data, my_raw, engine, conf, RUN_DATE)
    return ref_raw, ref_resp.model_dump(), my_raw, my_resp


def _permis_pair(text: str, engine: str = "google_vision", conf: float = 95.0):
    ref_data = ref_permis.PermisParser.parse(text)
    ref_resp = ref_permis.PermisParser.validate_and_build_response(ref_data, engine, conf)
    my_data = permis.parse(text, RUN_DATE)
    my_resp = permis.validate(my_data, engine, conf, RUN_DATE)
    return ref_resp.model_dump(), my_resp


def _nif_pair(text: str, engine: str = "google_vision", conf: float = 95.0):
    ref_data = ref_nif.NIFParser.parse(text)
    ref_resp = ref_nif.NIFParser.validate_and_build_response(ref_data, engine, conf)
    my_data = nif.parse(text, RUN_DATE)
    my_resp = nif.validate(my_data, engine, conf, RUN_DATE)
    return ref_resp.model_dump(), my_resp


@pytest.mark.parametrize("name", sorted(DNI_TEXTS))
def test_dni_document_parity(name):
    ref_raw, ref_resp, my_raw, my_resp = _dni_pair(DNI_TEXTS[name])
    assert my_raw == ref_raw
    assert my_resp == ref_resp


@pytest.mark.parametrize("name", sorted(PERMIS_TEXTS))
def test_permis_document_parity(name):
    ref_resp, my_resp = _permis_pair(PERMIS_TEXTS[name])
    assert my_resp == ref_resp


@pytest.mark.parametrize("name", sorted(NIF_TEXTS))
def test_nif_document_parity(name):
    ref_resp, my_resp = _nif_pair(NIF_TEXTS[name])
    assert my_resp == ref_resp


# ---------------------------------------------------------------------------
# Phase-2 structured-input parity (datos built directly — FIXTURES.md §4)
# ---------------------------------------------------------------------------

def _dni_datos(**kw):
    base = dict(numero_documento="77612097T", nombre="JOAQUIN",
                apellidos="COLL CEREZO", fecha_nacimiento="1973-01-24",
                fecha_caducidad="2028-08-28")
    base.update(kw)
    ref = DNIDatos(**{k: v for k, v in base.items() if k != "mrz_doc"})
    mine = empty_datos(DNI_FIELDS)
    mine.update({k: v for k, v in base.items() if k != "mrz_doc"})
    if base.get("mrz_doc"):
        ref.mrz = MRZData(document_number=base["mrz_doc"])
        m = {f: None for f in ("raw", "document_number", "surname", "name",
                               "nationality", "birth_date", "expiry_date", "sex")}
        m["document_number"] = base["mrz_doc"]
        mine["mrz"] = m
    return ref, mine


DNI_MUTATIONS = [
    {}, {"numero_documento": "77612097A"}, {"numero_documento": None},
    {"fecha_caducidad": "2020-01-01"},
    {"fecha_nacimiento": (RUN_DATE - timedelta(days=365 * 15)).isoformat()},
    {"fecha_nacimiento": (RUN_DATE + timedelta(days=30)).isoformat()},
    {"mrz_doc": "12345678Z"}, {"nombre": "JO@QUIN"},
    {"nombre": None, "apellidos": None},
    {"nacionalidad": "España"}, {"nacionalidad": "ESP"},
]


@pytest.mark.parametrize("idx", range(len(DNI_MUTATIONS)))
def test_dni_phase2_parity(idx):
    ref_data, my_data = _dni_datos(**DNI_MUTATIONS[idx])
    ref = ref_dni.DNIParser.validate_and_build_response(ref_data, None, "tesseract", 75.0)
    my = dni.validate(my_data, None, "tesseract", 75.0, RUN_DATE)
    assert my == ref.model_dump()


def _permis_datos(**kw):
    base = dict(matricula="1177MTM", numero_bastidor="YARKAAC3100018794",
                marca="TOYOTA", modelo="TOYOTA YARIS",
                titular_nombre="JOAQUIN COLL CEREZO", cilindrada_cc=1490,
                potencia_kw=92.0, combustible="GASOLINA", plazas=5,
                fecha_matriculacion="2024-08-08")
    base.update(kw)
    ref = PermisExtracted(**base)
    mine = empty_datos(PERMIS_FIELDS)
    mine.update(base)
    return ref, mine


PERMIS_MUTATIONS = [
    {}, {"matricula": None}, {"marca": None}, {"numero_bastidor": None},
    {"matricula": "1234AEI"}, {"numero_bastidor": "YAR123"},
    {"titular_nif": "77612097A"}, {"titular_nif": "77612097T"},
    {"potencia_fiscal": None}, {"masa_maxima": 1500, "masa_orden_marcha": 2000},
    {"cilindrada_cc": 1000, "potencia_kw": 300.0},
    {"modelo": "YETI"},
    {"fecha_matriculacion": "2050-01-01"},
    {"fecha_primera_matriculacion": "2025-01-01", "fecha_matriculacion": "2024-08-08"},
    {"fecha_expedicion": "2020-01-01", "fecha_matriculacion": "2024-08-08"},
]


@pytest.mark.parametrize("idx", range(len(PERMIS_MUTATIONS)))
def test_permis_phase2_parity(idx):
    ref_data, my_data = _permis_datos(**PERMIS_MUTATIONS[idx])
    ref = ref_permis.PermisParser.validate_and_build_response(ref_data, "tesseract", 60.0)
    my = permis.validate(my_data, "tesseract", 60.0, RUN_DATE)
    assert my == ref.model_dump()


def _nif_datos(**kw):
    base = dict(numero_nif="B76261874", razon_social="CASAACTIVA GESTION, S.L.",
                domicilio_fiscal="CALLE ORINOCO NUM. 5")
    base.update(kw)
    ref = NIFDatos(**base)
    mine = empty_datos(NIF_FIELDS)
    mine.update(base)
    return ref, mine


NIF_MUTATIONS = [
    {}, {"numero_nif": None}, {"razon_social": None}, {"domicilio_fiscal": None},
    {"numero_nif": "B76261875"}, {"fecha_nif_definitivo": "2099-12-31"},
    {"fecha_expedicion": "2099-12-31"},
]


@pytest.mark.parametrize("idx", range(len(NIF_MUTATIONS)))
def test_nif_phase2_parity(idx):
    ref_data, my_data = _nif_datos(**NIF_MUTATIONS[idx])
    ref = ref_nif.NIFParser.validate_and_build_response(ref_data, "google_vision", 95.0)
    my = nif.validate(my_data, "google_vision", 95.0, RUN_DATE)
    assert my == ref.model_dump()


# ---------------------------------------------------------------------------
# tier-routing parity (T5/T6)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("mutation, conf, text", [
    ({}, 75.0, ""), ({"numero_documento": None}, 75.0, ""),
    ({"numero_documento": "12345678A"}, 75.0, ""),
    ({"nombre": None}, 75.0, ""), ({"apellidos": None}, 75.0, ""),
    ({}, 30.0, ""), ({}, 65.0, "DOMICILIO ALGO"),
    ({"fecha_nacimiento": None, "fecha_caducidad": None}, 75.0, ""),
    ({}, 65.0, "IDESP<<<<"),
])
def test_dni_router_parity(mutation, conf, text):
    ref_data, my_data = _dni_datos(**mutation)
    assert (dni.needs_tier2(my_data, conf, text)
            == ref_dni.DNIParser.should_fallback_to_vision(ref_data, conf, text))


@pytest.mark.parametrize("mutation, conf", [
    ({}, 75.0), ({"matricula": None}, 75.0), ({"marca": None}, 75.0),
    ({}, 40.0), ({"matricula": "1234AEI"}, 75.0),
])
def test_permis_router_parity(mutation, conf):
    ref_data, my_data = _permis_datos(**mutation)
    assert (permis.needs_tier2(my_data, conf)
            == ref_permis.PermisParser.should_fallback_to_vision(ref_data, conf))


# ---------------------------------------------------------------------------
# property-based fuzz parity: random keyword-laced texts
# ---------------------------------------------------------------------------

_WORDS = st.sampled_from([
    "APELLIDOS", "COGNOMS", "NOMBRE", "NOM", "SEXO", "SEXE", "NACIONALIDAD",
    "DOMICILIO", "DOMICILI", "FECHA", "NACIMIENTO", "VALIDEZ", "LUGAR",
    "PADRE", "MADRE", "EQUIPO", "DNI", "IDESP", "HIJO", "PROVINCIA/PAÍS",
    "COLL CEREZO", "JOAQUIN", "77612097T", "X1234567L", "12345678A",
    "08348 CABRILS", "BARCELONA", "01/01/2015 21/03/2030", "24 01 1973",
    "M", "H", "F", "ESP", "España", "D", "<<<<", "C. ARTAIL 9 ESCB01",
    "IDESPBHV122738077612097T<<<<<<", "7301245M2808288ESP<<<<<<<<<<<<",
    "COLL<CEREZO<<JOAQUIN<<<<<<<<<<", "", "  ", "0", "J IVAN",
    "D.1", "D.3", "P.1", "P.2", "TOYOTA", "YARIS", "1490", "92", "GASOLINA",
    "S.1", "5", "C.1.1", "C.1.2", "I", "B", "G", "F.1", "1850", "1177MTM",
    "YARKAAC3100018794", "08/08/2024", "PROXIMA ITV 28/08/2028",
    "OBSERVACIONES", "CV", "125", "V.7", "120 g/km", "SEAT",
    "Denominación", "CASAACTIVA GESTION, S.L.", "B76261874", "Domicilio Fiscal",
    "Domicilio Social", "CALLE ORINOCO, NUM. 5, PLANTA 0, PUERTA 3",
    "35014 PALMAS DE GRAN CANARIA (LAS)", "PALMAS, LAS", "Social 35016 PALMAS",
    "Administración", "35601 PALMAS G.C", "Fecha N.I.F. Definitivo",
    "26-07-2016", "Código Electrónico", "A1B2C3D4E5F6", "Anagrama Comercial",
    "Razón Social: ACME", "MADRID",
])

_TEXTS = st.lists(_WORDS, min_size=0, max_size=25).map("\n".join)


@settings(max_examples=300, deadline=None)
@given(_TEXTS)
def test_fuzz_dni_parity(text):
    ref_raw, ref_resp, my_raw, my_resp = _dni_pair(text)
    assert my_raw == ref_raw
    assert my_resp == ref_resp


@settings(max_examples=300, deadline=None)
@given(_TEXTS)
def test_fuzz_permis_parity(text):
    ref_resp, my_resp = _permis_pair(text)
    assert my_resp == ref_resp


@settings(max_examples=300, deadline=None)
@given(_TEXTS)
def test_fuzz_nif_parity(text):
    ref_resp, my_resp = _nif_pair(text)
    assert my_resp == ref_resp
