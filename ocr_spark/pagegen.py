"""Deterministic synthetic Common-Crawl-style page generator (FIXTURES.md §5).

Emits rows matching the ``input_hint`` schema ``(url, warc_ts, html, text,
lang)``: boilerplate HTML (nav/header/footer/ads markup) with one embedded
document block inside ``<pre>`` — the ``text`` column holds that block
byte-exactly, so ``pipeline(html) == text`` is the per-row invariant.

Key properties:
* fully deterministic from ``doc_id`` (seed folded into a splitmix-style
  hash) — no RNG state, so distributed generation is order-independent;
* Zipf-skewed host distribution (hot hosts ⇒ exercises the capture-hash
  repartition, whose salting is always on);
* document mix: DNI frontal / DNI with MRZ / Permís / NIF / plain prose,
  with valid *and* corrupted field values so every validation path fires;
* link-heavy wrapper on a slice of pages drives tier-1 confidence down and
  exercises the tier-2 fallback branch.

Usage::

    python -m ocr_spark.pagegen --rows 100000 --out /tmp/pages.parquet
"""

from __future__ import annotations

import argparse
from datetime import datetime, timedelta, timezone
from html import escape

from ocr_spark.validators import DNI_CHECK_LETTERS

SEED = 42
N_HOSTS = 1000
ZIPF_S = 1.2
_BASE_TS = datetime(2026, 1, 15, tzinfo=timezone.utc)

_SURNAMES = ("COLL CEREZO", "GARCIA LOPEZ", "MARTINEZ RUIZ", "PUIG SERRA",
             "FERRER BAS", "VIDAL SOLER", "ROCA PLANAS", "SANCHEZ MOLINA")
_GIVEN = ("JOAQUIN", "MARIA", "JORDI", "NURIA", "IVAN", "LAIA", "PAU", "CARME")
_CITIES = (("08348", "CABRILS", "BARCELONA"), ("28001", "MADRID", "MADRID"),
           ("46001", "VALENCIA", "VALENCIA"), ("41001", "SEVILLA", "SEVILLA"),
           ("50001", "ZARAGOZA", "ZARAGOZA"), ("17001", "GIRONA", "GIRONA"))
_BRANDS_MODELS = (("TOYOTA", "TOYOTA YARIS"), ("SEAT", "SEAT IBIZA"),
                  ("FORD", "FORD FOCUS"), ("RENAULT", "RENAULT CLIO"),
                  ("KIA", "KIA CEED"), ("OPEL", "OPEL CORSA"))
_PLATE_LETTERS = "BCDFGHJKLMNPRSTVWXYZ"
_PROSE = ("batch window spark order data column agg join small line",
          "the quick brown fox jumps over the lazy dog again and again",
          "niebla en la costa y sol en el interior durante la jornada",
          "informe anual de resultados y cuentas consolidadas del grupo")


def _mix(*parts: int) -> int:
    """Deterministic 64-bit hash of integers (splitmix64-style fold)."""
    h = 0x9E3779B97F4A7C15 * (SEED + 1)
    for p in parts:
        h ^= (p + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        h = (h * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        h ^= h >> 27
        h = (h * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        h ^= h >> 31
    return h


def _uniform(doc_id: int, salt: int) -> float:
    return _mix(doc_id, salt) / 2.0 ** 64


def host_of(doc_id: int) -> int:
    """Zipf(s≈1.2) host rank via inverse-CDF: a few hosts dominate."""
    u = max(_uniform(doc_id, 1), 1e-12)
    rank = int(u ** (-1.0 / (ZIPF_S - 1.0)))
    return min(rank, N_HOSTS - 1)


def _dni_number(doc_id: int, valid: bool) -> str:
    n = _mix(doc_id, 2) % 100_000_000
    letter = DNI_CHECK_LETTERS[n % 23]
    if not valid:
        letter = DNI_CHECK_LETTERS[(n + 1) % 23]
    return f"{n:08d}{letter}"


def _dni_frontal(doc_id: int) -> str:
    sur = _SURNAMES[_mix(doc_id, 3) % len(_SURNAMES)]
    giv = _GIVEN[_mix(doc_id, 4) % len(_GIVEN)]
    doc = _dni_number(doc_id, valid=_uniform(doc_id, 5) > 0.15)
    yy = 1950 + _mix(doc_id, 6) % 58
    dd, mm = 1 + _mix(doc_id, 7) % 28, 1 + _mix(doc_id, 8) % 12
    sexo = "H" if _mix(doc_id, 9) % 2 else "DONA"
    lines = ["ESPAÑA", "DOCUMENTO NACIONAL DE IDENTIDAD",
             "APELLIDOS", sur, "NOMBRE", giv, "DNI", doc, "SEXO", sexo,
             "NACIONALIDAD", "ESP", "FECHA DE NACIMIENTO",
             f"{dd:02d} {mm:02d} {yy}", "VALIDEZ", f"{dd:02d}/{mm:02d}/2031"]
    if _uniform(doc_id, 10) > 0.5:
        cp, town, prov = _CITIES[_mix(doc_id, 11) % len(_CITIES)]
        lines += ["DOMICILIO", f"CARRER MAJOR {1 + _mix(doc_id, 12) % 200}",
                  f"{cp} {town}", prov]
    return "\n".join(lines)


def _dni_mrz(doc_id: int) -> str:
    sur = _SURNAMES[_mix(doc_id, 3) % len(_SURNAMES)].replace(" ", "<")
    giv = _GIVEN[_mix(doc_id, 4) % len(_GIVEN)]
    doc = _dni_number(doc_id, valid=True)
    yy, mm, dd = _mix(doc_id, 6) % 99, 1 + _mix(doc_id, 7) % 12, 1 + _mix(doc_id, 8) % 28
    sex = "M" if _mix(doc_id, 9) % 2 else "F"
    l1 = f"IDESPBHV{_mix(doc_id, 13) % 10 ** 8:08d}{doc}".ljust(30, "<")[:30]
    l2 = f"{yy:02d}{mm:02d}{dd:02d}{sex[0]}2808288ESP".ljust(30, "<")[:30]
    l3 = f"{sur}<<{giv}".ljust(30, "<")[:30]
    return "\n".join([l1, l2, l3, "APELLIDOS",
                      _SURNAMES[_mix(doc_id, 3) % len(_SURNAMES)], "NOMBRE", giv])


def _permis(doc_id: int) -> str:
    brand, model = _BRANDS_MODELS[_mix(doc_id, 14) % len(_BRANDS_MODELS)]
    plate = (f"{_mix(doc_id, 15) % 10000:04d}"
             + "".join(_PLATE_LETTERS[_mix(doc_id, 16 + k) % len(_PLATE_LETTERS)]
                       for k in range(3)))
    vin_alpha = "ABCDEFGHJKLMNPRSTUVWXYZ0123456789"
    vin = "".join(vin_alpha[_mix(doc_id, 20 + k) % len(vin_alpha)] for k in range(17))
    cc = 900 + _mix(doc_id, 37) % 2200
    kw = 40 + _mix(doc_id, 38) % 200
    sur = _SURNAMES[_mix(doc_id, 3) % len(_SURNAMES)]
    giv = _GIVEN[_mix(doc_id, 4) % len(_GIVEN)]
    dd, mm = 1 + _mix(doc_id, 7) % 28, 1 + _mix(doc_id, 8) % 12
    yy = 1995 + _mix(doc_id, 39) % 30
    return "\n".join([
        "PERMISO DE CIRCULACIÓN", f"A {plate}", f"E {vin}",
        "D.1", brand, "D.3", model, "P.1", str(cc), "P.2", str(kw),
        "P.3", "GASOLINA" if _mix(doc_id, 40) % 2 else "DIESEL",
        "S.1", str(2 + _mix(doc_id, 41) % 7), "C.1.1", sur, "C.1.2", giv,
        "I", f"{dd:02d}/{mm:02d}/{yy}",
    ])


def _cif(doc_id: int, valid: bool) -> str:
    letters = "ABCDEFGHJKLMNPQRSUVW"
    letter = letters[_mix(doc_id, 42) % len(letters)]
    number = f"{_mix(doc_id, 43) % 10 ** 7:07d}"
    total = 0
    for i, ch in enumerate(number):
        d = int(ch)
        if i % 2 == 0:
            d *= 2
            if d >= 10:
                d -= 9
        total += d
    digit = (10 - total % 10) % 10
    if not valid:
        digit = (digit + 1) % 10
    control = "JABCDEFGHI"[digit] if letter in "KPQS" else str(digit)
    return f"{letter}{number}{control}"


def _nif(doc_id: int) -> str:
    cif = _cif(doc_id, valid=_uniform(doc_id, 44) > 0.15)
    name = f"{_SURNAMES[_mix(doc_id, 3) % len(_SURNAMES)].split()[0]} GESTION, S.L."
    cp, town, prov = _CITIES[_mix(doc_id, 11) % len(_CITIES)]
    return "\n".join([
        "TARJETA DE IDENTIFICACIÓN FISCAL",
        "Número de Identificación Fiscal Definitivo", cif,
        "Denominación", name,
        "Domicilio Fiscal",
        f"CALLE ORINOCO, NUM. {1 + _mix(doc_id, 45) % 99}, PLANTA 0, PUERTA 3",
        f"{cp} {town}", prov,
        "Fecha N.I.F. Definitivo", "26-07-2016",
        "Administración", f"{cp} {town[:8]} G.C",
    ])


def _prose(doc_id: int) -> str:
    return "\n".join(_PROSE[_mix(doc_id, 50 + k) % len(_PROSE)] for k in range(4))


_NAV = ('<nav><ul>' + "".join(f'<li><a href="/s/{k}">section {k} link</a></li>'
                              for k in range(12)) + "</ul></nav>")
_FOOTER = ('<footer><a href="/legal">legal</a> <a href="/privacy">privacy</a>'
           "<p>© example corporation all rights reserved worldwide</p></footer>")
_ADS = '<aside><a href="/ad1">buy now great offer</a><a href="/ad2">subscribe today</a></aside>'


def page_for(doc_id: int) -> dict:
    """Deterministic page row for *doc_id* (schema: url/warc_ts/html/text/lang)."""
    kind = _mix(doc_id, 0) % 10  # 0-2 dni, 3-4 mrz, 5-6 permis, 7-8 nif, 9 prose
    if kind <= 2:
        body, lang = _dni_frontal(doc_id), "es"
    elif kind <= 4:
        body, lang = _dni_mrz(doc_id), "es"
    elif kind <= 6:
        body, lang = _permis(doc_id), "es"
    elif kind <= 8:
        body, lang = _nif(doc_id), "es"
    else:
        body, lang = _prose(doc_id), "ca" if _mix(doc_id, 51) % 3 == 0 else "es"

    host = host_of(doc_id)
    url = f"https://host-{host}.example/doc/{doc_id}"
    # every 3rd page gets a link-heavy wrapper → low tier-1 confidence → tier-2
    heavy = _NAV * 3 + _ADS if doc_id % 3 == 0 else _NAV
    # escape the body (MRZ chevrons are raw '<'); the extractor's entity
    # decoding restores it byte-exactly
    html = (f"<!DOCTYPE html><html><head><title>doc {doc_id}</title>"
            f"<script>var x={doc_id};</script><style>.a{{color:red}}</style></head>"
            f"<body>{heavy}<main><article><h1>registro {doc_id}</h1>"
            f"<pre>{escape(body)}</pre></article></main>{_FOOTER}</body></html>")
    return {
        "url": url,
        "warc_ts": _BASE_TS + timedelta(seconds=doc_id % 86400),
        "html": html.encode("utf-8"),
        "text": body,
        "lang": lang,
    }


# ---------------------------------------------------------------------------
# writers
# ---------------------------------------------------------------------------

def write_local(rows: int, out: str) -> None:
    """Single-process parquet writer (tests / small benches)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    batch = [page_for(i) for i in range(rows)]
    table = pa.Table.from_pylist(batch)
    pq.write_table(table, out)


def generate_df(spark, rows: int, partitions: int | None = None):
    """Distributed generator: ``spark.range`` → ``mapInPandas``.

    Deterministic per id, so the result is identical at any parallelism —
    the property the N-vs-4N scaling runs rely on.
    """
    import pandas as pd

    from ocr_spark.schema import PAGES_SCHEMA

    def gen(iterator):
        for pdf in iterator:
            yield pd.DataFrame([page_for(int(i)) for i in pdf["id"]])

    return (spark.range(0, rows, numPartitions=partitions)
            .mapInPandas(gen, schema=PAGES_SCHEMA))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--rows", type=int, default=1000)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spark", action="store_true",
                    help="generate distributed via Spark (directory output)")
    args = ap.parse_args()
    if args.spark:
        from pyspark.sql import SparkSession
        spark = (SparkSession.builder.appName("pagegen")
                 .config("spark.sql.session.timeZone", "UTC").getOrCreate())
        generate_df(spark, args.rows).write.mode("overwrite").parquet(args.out)
    else:
        write_local(args.rows, args.out)
    print(f"wrote {args.rows} pages to {args.out}")


if __name__ == "__main__":
    main()
