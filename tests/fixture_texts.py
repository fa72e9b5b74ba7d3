"""Fixture corpus: post-OCR texts replayed through both engines.

Texts reproduce the reference's own test scenarios (inputs are data, not
code): tests/test_dni_parser.py, tests/test_permis_parser.py,
tests/test_nif_parser.py and test_adreces.py, per FIXTURES.md §2.
"""

from __future__ import annotations


def mrz(line1: str, line2: str, line3: str) -> str:
    """Pad each line with fill chevrons to the 30-char MRZ width."""
    return "\n".join(s.ljust(30, "<")[:30] for s in (line1, line2, line3))


DNI_TEXTS: dict[str, str] = {
    "mrz_basic": mrz("IDESPBHV122738077612097T", "7301245M2808288ESP",
                     "COLL<CEREZO<<JOAQUIN"),
    "mrz_nie": mrz("IDESPX1234567L", "8901015M3112311ESP",
                   "GARCIA<<LOPEZ<<MARIA"),
    "mrz_female": mrz("IDESP38752127W", "5809285F2312288ESP",
                      "CEREZO<BAS<<VICTORIA<MERCEDES"),
    "mrz_spaced_chevrons": mrz("IDESPBHV122738077612097T", "7301245M2808288ESP",
                               "COLL < CEREZO << JOAQUIN"),
    "mrz_2lines": "IDESPBHV12273807\n7301245M2808288ESP",
    "frontal_basic": ("APELLIDOS\nCOLL CEREZO\nNOMBRE\nJOAQUIN\nDNI\n77612097T\n"
                      "SEXO\nH\nNACIONALIDAD\nESP"),
    "frontal_catala": ("COGNOMS\nGARCIA LOPEZ\nNOM\nMARIA\nSEXE\nD\n"
                       "NACIONALITAT\nESP"),
    "frontal_nie": "APELLIDOS\nGARCIA LOPEZ\nNOMBRE\nMARIA\nNIE\nX1234567L",
    "nacimiento_bare": ("APELLIDOS\nCOLL CARRERAS\nNOMBRE\nMARTI\nNACIMIENTO\n"
                        "15/06/2010\nVALIDEZ\n01/01/2015 21/03/2030"),
    "validez_two_dates": "NOMBRE\nJOAN\nAPELLIDOS\nPUIG\nVALIDEZ\n01/01/2015 01/01/2025",
    "sexo_long_line": "SEXO\nNACIONALIDAD\nESP",
    "artifact_tokens": "APELLIDOS\nCEREZO JG17787 BAS\nNOMBRE\nVICTORIA",
    "nom_single_letter": "NOMBRE\nJ IVAN",
    "posterior_multiline_addr": """
ESPAÑA
DOCUMENTO NACIONAL DE IDENTIDAD
DNI 77612097T
APELLIDOS/COGNOMS
COLL CEREZO
NOMBRE/NOM
JOAQUIN
DOMICILIO
CARRER VENDRELL 5
08348 CABRILS
BARCELONA
FECHA DE NACIMIENTO
24 01 1973
""",
    "posterior_inline_addr": """
EQUIPO/EQUIP 0805516D1
DOMICILIO/DOMICILI C. ARTAIL 9 ESCB01 08908 VILASSAR DE DALT BARCELONA
LUGAR DE NACIMIENTO
VILASSAR DE DALT
""",
    "posterior_inline_addr_badcp": """
EQUIPO/EQUIP 0805516D1
DOMICILIO/DOMICILI C. ARTAIL 9 ESCB01 908 VILASSAR DE DALT BARCELONA
LUGAR DE NACIMIENTO LLOC DE NAIXEMENT
VILASSAR DE DALT BARCELONA
HIJO/A DE FILLA DE
JORDI
ASSUMPCIO
""",
    "frontal_no_addr": """
ESPAÑA
DOCUMENTO NACIONAL DE IDENTIDAD
DNI 77612097T
APELLIDOS/COGNOMS
COLL CEREZO
NOMBRE/NOM
JOAQUIN
SEXO/SEXE M
NACIONALIDAD/NACIONALITAT ESP
FECHA DE NACIMIENTO/DATA DE NAIXEMENT
24 01 1973
""",
    "mrz_plus_frontal": mrz("IDESPBHV122738077612097T", "7301245M2808288ESP",
                            "COLL<CEREZO<<JOAQUIN")
    + "\nAPELLIDOS\nCOLL CEREZO\nNOMBRE\nJOAQUIN\nDOMICILIO\nCARRER VENDRELL 5\n"
      "08348 CABRILS\nBARCELONA",
    "empty": "",
    "garbage": "zzz 123 %%%\n\n\nxx",
    "padre_madre": ("APELLIDOS\nCOLL CARRERAS\nNOMBRE\nMARTI\nHIJO/A DE\n"
                    "PADRE\nJORDI\nMADRE\nASSUMPCIO"),
    "lugar_nacimiento": ("APELLIDOS\nPUIG SERRA\nNOMBRE\nLAIA\n"
                         "LUGAR DE NACIMIENTO\nGIRONA"),
    "expedicion_validez": ("DNI\n38752127W\nAPELLIDOS\nCEREZO BAS\nNOMBRE\n"
                           "VICTORIA\nVALIDEZ\n28/08/2028"),
    "sexo_mujer_variants": "APELLIDOS\nROCA\nNOMBRE\nANA\nSEXO\nMUJER",
    "nacionalidad_espanola": ("APELLIDOS\nVIDAL\nNOMBRE\nPAU\nNACIONALIDAD\n"
                              "ESPAÑOLA"),
}

PERMIS_BASIC = """\
A 1177MTM
E YARKAAC3100018794
D.1
TOYOTA
D.3
TOYOTA YARIS
P.1
1490
P.2
92
P.3
GASOLINA
S.1
5
C.1.1
COLL CEREZO
C.1.2
JOAQUIN
I
08/08/2024
"""

PERMIS_TEXTS: dict[str, str] = {
    "toyota_basic": PERMIS_BASIC,
    "toyota_itv": PERMIS_BASIC + "\nPROXIMA ITV 28/08/2028\n",
    "fallback_brand": "SEAT\nIBIZA\n1234BCF\n",
    "empty": "",
    "d2_variant": PERMIS_BASIC + "D.2\nZAR/123(A)\n",
    "f1_with_b_sublabel": "A 1177MTM\nD.1\nSEAT\nF.1\nB\n1850\nG\nI\n1200\n",
    "v7_co2": "A 1177MTM\nD.1\nSEAT\nV.7\n120 g/km\n",
    "cv_fallback": "A 1177MTM\nD.1\nSEAT\nCV\n125\n",
    "old_plate": "A B1234CD\nD.1\nSEAT\n",
    "observaciones": PERMIS_BASIC + "OBSERVACIONES\nGANCHO REMOLQUE\nHOMOLOGADO\n",
    "provincia_line": "A 1177MTM\nD.1\nSEAT\nBARCELONA\n",
    "garbage": "lorem ipsum 99\n:::\n",
    "plate_needs_ocr_fix": "A 1I77MTM\nD.1\nTOYOTA\nD.3\nTOYOTA YARIS\n",
    "owner_nif": PERMIS_BASIC + "C.1.3\n77612097T\n",
    "owner_nif_ocr": PERMIS_BASIC + "C.1.3\n776I2O97T\n",
    "g_mass_with_sublabel": "A 1177MTM\nD.1\nSEAT\nF.1\n1850\nG\nI\n1200\n",
    "p1_with_sublabel": "A 1177MTM\nD.1\nSEAT\nP.1\n(1.2)\n1490\n",
    "registration_date_fallback": "SEAT IBIZA 1234BCF matriculado el 15/03/2019",
    "category_m2": PERMIS_BASIC.replace("S.1\n5", "S.1\n12"),
}

NIF_BASIC = """\
TARJETA DE IDENTIFICACIÓN FISCAL
Número de Identificación Fiscal Definitivo
B76261874
Denominación
CASAACTIVA GESTION, S.L.
Domicilio Fiscal
CALLE ORINOCO, NUM. 5, PLANTA 0, PUERTA 3
35014 PALMAS DE GRAN CANARIA (LAS)
PALMAS, LAS
Fecha N.I.F. Definitivo
26-07-2016
Administración
35601 PALMAS G.C
"""

NIF_COMPLETE = """\
TARJETA DE IDENTIFICACIÓN FISCAL
Número de Identificación Fiscal Definitivo
B76261874
Denominación
CASAACTIVA GESTION, S.L.
Anagrama Comercial
CASAACTIVA
Domicilio Social
CALLE EXAMPLE 123
28001 MADRID
MADRID
Domicilio Fiscal
CALLE ORINOCO, NUM. 5, PLANTA 0, PUERTA 3
35014 PALMAS DE GRAN CANARIA (LAS)
PALMAS, LAS
Fecha N.I.F. Definitivo
26-07-2016
Fecha de Expedición
15-01-2020
Administración
35601 PALMAS G.C
Código Electrónico
A1B2C3D4E5F6
"""

NIF_TEXTS: dict[str, str] = {
    "tif_basic": NIF_BASIC,
    "tif_complete": NIF_COMPLETE,
    "aeat_sameline": "B76261874\nAdministración de la AEAT 35601 PALMAS G.C\n",
    "razon_social_only": "B76261874\nRazón Social: ACME IBERIA S.A.\nDomicilio Fiscal\nCALLE MAYOR 1\n28001 MADRID\n",
    "empty": "",
    "garbage": "///???\n123\n",
    "domicilio_bare_social": ("B76261874\nDenominación\nACME S.L.\nDOMICILIO\n"
                              "SOCIAL\nCALLE EXAMPLE 123\n28001 MADRID\nMADRID\n"),
    "domicilio_bare_fiscal": ("B76261874\nDenominación\nACME S.L.\nDOMICILIO\n"
                              "FISCAL\nCALLE MAYOR 1\n08001 BARCELONA\nBARCELONA\n"),
    "denominacion_sameline": "B76261874\nDENOMINACIÓN: ACME IBERIA S.A.\n",
    "codigo_electronico": ("B76261874\nDenominación\nACME S.L.\n"
                           "Código Electrónico\nA1B2C3D4E5F6A7B8\n"),
    "invalid_cif_control": NIF_BASIC.replace("B76261874", "B76261875"),
}

# A one-row batch with this text made ``dni.validate`` raise
# ``ValueError: Invalid isoformat string: '20-2-76-37'`` (one space between
# ``819971`` and ``FÑN``; a newline or nothing there does not raise).  The
# parsers keep that behaviour for parity; the kernel isolates the row.
CRASH_TEXT = ('IDESP 5270507 4Q29/X;PQ"ÁT V3W\n'
              '-276379819971 FÑN/VM 00/0A G.C\n'
              '© corporation all rights reser')
