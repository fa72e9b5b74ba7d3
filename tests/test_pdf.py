"""PDF acquisition tier: round-trip, escapes, filters, pipeline integration."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest

from ocr_spark import html_extract, pagegen
from ocr_spark.job import run_pipeline
from ocr_spark.sources import pdf
from tests.conftest import RUN_DATE

N_PDF = 24


def test_roundtrip_compressed_and_raw():
    text = "APELLIDOS\nGARCIA LOPEZ\nNOMBRE\nMARIA\nDNI\n12345678Z"
    for compress in (True, False):
        blob = pdf.make_pdf(text, compress=compress)
        assert blob.startswith(b"%PDF-")
        assert pdf.extract_pdf_text(blob) == text


def test_escapes_and_special_chars():
    text = "paren (dentro) y \\ backslash\nsegona línia àéü"
    assert pdf.extract_pdf_text(pdf.make_pdf(text)) == text


def test_tj_array_and_quote_operator():
    import zlib
    content = (b"BT [(Hola ) -250 (mon)] TJ 0 -12 Td (adeu) Tj ET"
               b" BT (bloc2) ' ET")
    stream = zlib.compress(content)
    blob = (b"%PDF-1.4\n1 0 obj\n<< /Length " + str(len(stream)).encode()
            + b" /Filter /FlateDecode >>\nstream\n" + stream
            + b"\nendstream\nendobj\n%%EOF")
    assert pdf.extract_pdf_text(blob) == "Hola mon\nadeu\nbloc2"


def test_garbage_and_encrypted_safe():
    assert pdf.extract_pdf_text(b"%PDF-1.4 nothing here") == ""
    assert pdf.extract_pdf_text(b"%PDF-1.4\nstream\n\x00\x01\x02endstream") == ""


from hypothesis import given, settings, strategies as st

# non-empty lines only: a blank line emits no text-showing operator in a
# PDF, so no extractor can round-trip it — same loss as any PDF-to-text
_line = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",),
                           blacklist_characters="\r"),
    min_size=1, max_size=80).map(lambda s: s.replace("\n", " ") or "x")


@settings(max_examples=60, deadline=None)
@given(st.lists(_line, min_size=1, max_size=8).map("\n".join))
def test_roundtrip_fuzz(text):
    for compress in (True, False):
        assert pdf.extract_pdf_text(pdf.make_pdf(text, compress=compress)) \
            == text


def test_sniff_routes_pdf_through_tiers():
    body = pagegen.page_for(3)["text"]
    blob = pdf.make_pdf(body)
    assert html_extract.sniff_kind(blob) == "pdf"
    t1, conf1 = html_extract.extract_tier1(blob)
    assert t1 == body and conf1 == 100.0
    t2, conf2, spans = html_extract.tier2_from_blocks(
        html_extract._segment(blob))
    assert t2 == body and conf2 == 95.0


def test_pdf_pages_through_pipeline(spark, tmp_path):
    """PDF payloads in the html column: text recovered byte-identically."""
    ts = datetime(2026, 1, 15, tzinfo=timezone.utc).replace(tzinfo=None)
    rows = []
    for i in range(N_PDF):
        body = pagegen.page_for(i)["text"]
        rows.append((f"pdf://doc/{i}", ts, pdf.make_pdf(body), body, "es"))
    df = spark.createDataFrame(
        rows, schema="url string, warc_ts timestamp, html binary, text string, lang string")
    out = str(tmp_path / "out")
    summary = run_pipeline(spark, None, out, RUN_DATE, partitions=2, input_df=df)
    assert summary["input_count"] == N_PDF
    data = {r["url"]: r["extracted_text"]
            for r in spark.read.parquet(f"{out}/data").collect()}
    for url, _, _, body, _ in rows:
        assert data[url] == body, url


def test_pdf_deflate_bomb_bounded():
    """A FlateDecode bomb inside a PDF must not inflate unbounded: each
    stream caps at MAX_STREAM_BYTES and the whole document at
    MAX_DOC_BYTES — hostile input degrades to truncated text, never a
    multi-GB allocation."""
    import time
    import zlib

    from ocr_spark.sources import pdf as p

    bomb = zlib.compress(b"BT (x) Tj ET " + b"\x00" * 500_000_000, 9)
    doc = (b"%PDF-1.4\nstream\n" + bomb + b"\nendstream\n"
           b"stream\n" + bomb + b"\nendstream\ntrailer")
    t0 = time.time()
    out = p.extract_pdf_text(doc)
    assert time.time() - t0 < 30.0
    assert isinstance(out, str)      # degraded, not job-fatal


def test_pdf_marker_flood_linear():
    """A document that is nothing but unclosed 'stream' markers must
    parse in linear time: the old regex walk re-scanned to EOF from
    every marker (O(n*k) — minutes at 700 KB)."""
    import time

    from ocr_spark.sources import pdf as p

    t0 = time.time()
    assert p.extract_pdf_text(b"%PDF-1.4\n" + b"stream\n" * 100_000) == ""
    assert p.extract_pdf_text(b"stream" * 50_000) == ""
    # token-scan floods inside a content stream: every unclosed "[" used
    # to re-scan to EOF (quadratic) — must all be linear now
    for flood in (b"[" * 300_000, b"[(" * 100_000, b"[(" + b"x" * 300_000,
                  b"(" * 300_000):
        p._stream_text(b"BT " + flood)
    assert time.time() - t0 < 10.0
    # nested-literal semantics survive the non-backtracking array body
    assert p._stream_text(b"BT [(a[b) 5 (c)] TJ ET") == [b"a[bc"]


def test_pdf_non_octal_escape_and_backslash_flood():
    """\\8 and \\9 are NOT octal (the PDF spec's \\ddd is octal-only):
    isdigit()-based scanning fed int(.., 8) a ValueError that nothing
    between here and the fused UDF catches — job-fatal on one hostile
    string.  And the TJ-array filler class must exclude backslash, or an
    unclosed '(' after a backslash flood backtracks exponentially
    (~1.6x per added char; 60 backslashes would be years)."""
    import time

    from ocr_spark.sources import pdf as p

    # spec behavior: the backslash before a non-octal digit is dropped
    assert p._unescape(rb"a\8b") == b"a8b"
    assert p._unescape(rb"a\9b") == b"a9b"
    assert p._unescape(rb"a\101b") == b"aAb"       # real octal still works
    assert p._unescape(rb"a\0601") == b"a01"       # 3-digit max, then '1'
    out = p.extract_pdf_text(b"stream\nBT (hello\\8world) Tj ET\nendstream")
    assert "hello8world" in out
    t0 = time.time()
    p._stream_text(b"BT [" + b"\\" * 200 + b"(")
    p._stream_text(b"BT [" + b"\\(" * 200_000)   # escaped-paren flood:
    p._stream_text(b"BT " + b"(\\(" * 200_000)   # linear in the scanner,
    assert time.time() - t0 < 5.0                 # quadratic in the twin
    # escaped chars inside array bodies still parse
    assert p._stream_text(rb"BT [(a\)b) (c)] TJ ET") == [b"a)bc"]


def test_stream_text_matches_regex_twin():
    """The linear procedural scanner must agree with the regex twin on
    well-formed streams (the twin IS the semantics; it is quadratic on
    escaped-paren floods, which is why the scanner exists)."""
    import random

    from ocr_spark.sources import pdf as p

    rng = random.Random(0xBEEF)
    frags = [b"BT ", b"ET ", b"Td ", b"TD ", b"T* ", b"(abc) Tj ",
             b"(x\\)y) Tj ", b"(a[b) 5 (c) ", b"[(a) (b)] TJ ",
             b"[(a\\)b) -2 (c)] TJ ", b"(lit) ", b"(nl) ' ",
             b"/F1 10 Tf ", b"12 700 Td ", b"(esc\\\\d) Tj ",
             b"(oct\\101) Tj ", b"q Q re W n ", b"(T* in lit) Tj ",
             b"(BT ET) Tj ", b"[(m)(n)] TJ ", b"xTdx ", b"TJ ", b"Tj ",
             b"' "]
    for _ in range(800):
        s = b"".join(rng.choice(frags)
                     for _ in range(rng.randint(1, 30)))
        assert p._stream_text(s) == p._stream_text_regex(s), s
