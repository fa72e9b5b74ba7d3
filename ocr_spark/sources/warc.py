"""WARC source: Common-Crawl archive files → the canonical pages DataFrame.

The batch job's parquet/Iceberg source assumes someone already landed the
crawl into a table; this connector does that landing step inside Spark.
WARC (ISO 28500) is the actual Common-Crawl container: a concatenation of
records, each ``WARC/1.x`` header block + CRLF CRLF + payload.  Crawl files
are gzip *member-per-record*, which ``gzip`` handles transparently as a
multi-member stream.

Reader design (scale notes):
* ``spark.read.format("binaryFile")`` lists and splits by FILE — a WARC
  member-gzip file is not block-splittable, so the parallel unit is the
  archive file, exactly how Common Crawl shards its dumps (~1 GB each,
  100k files per crawl → plenty of parallelism at 1000 executors).
* parsing runs in ``mapInPandas`` over the binary content — one Python pass
  per archive, emitting pages rows; no driver-side I/O.
* only ``response`` (and ``resource``) records become pages; request /
  metadata records are skipped, like every CC extraction pipeline does.

Writer (:func:`write_warc`) exists for tests and round-tripping — it emits
uncompressed or whole-file-gzip WARC that the reader accepts.
"""

from __future__ import annotations

import gzip
import io
import zlib
from datetime import datetime, timezone
from typing import Iterable, Iterator, Optional

_CRLF2 = b"\r\n\r\n"

PAGE_RECORD_TYPES = {"response", "resource"}


# gzip-bomb cap: inflate at most this many times the compressed size
MAX_GUNZIP_RATIO = 64


def _maybe_gunzip(data: bytes) -> bytes:
    """Inflate a (member-per-record, CC-style) gzip WARC, BOUNDED.

    Legit web archives inflate ~3-5:1; a hostile gzip bomb inflates up to
    ~1000:1, so an unbounded ``GzipFile.read()`` would turn a 10 MB blob
    into gigabytes on one executor.  Members are inflated incrementally
    via ``decompressobj`` up to :data:`MAX_GUNZIP_RATIO`× the compressed
    size — records past the cap are dropped (truncated archives already
    stop cleanly downstream), never job-fatal."""
    if data[:2] != b"\x1f\x8b":
        return data
    cap = MAX_GUNZIP_RATIO * max(len(data), 1 << 20)
    out = bytearray()
    rest: bytes = data
    while rest[:2] == b"\x1f\x8b" and len(out) < cap:
        d = zlib.decompressobj(31)          # gzip framing, one member
        buf = rest
        try:
            while buf and not d.eof and len(out) < cap:
                out += d.decompress(buf, min(1 << 20, cap - len(out)))
                buf = d.unconsumed_tail
        except zlib.error:
            break
        if not d.eof:
            break                           # cap hit mid-member / truncated
        rest = d.unused_data
    return bytes(out)


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(b"\r\n")[1:]:  # first line is WARC/1.x
        if b":" in line:
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode("ascii", "replace")] = \
                v.strip().decode("utf-8", "replace")
    return headers


def iter_warc_records(data: bytes) -> Iterator[tuple[dict[str, str], bytes]]:
    """Yield (warc_headers, payload) per record from raw WARC bytes."""
    data = _maybe_gunzip(data)
    pos, n = 0, len(data)
    while pos < n:
        while data[pos:pos + 2] == b"\r\n":
            pos += 2
        if not data[pos:pos + 5].startswith(b"WARC/"):
            break  # trailing junk / truncated archive: stop cleanly
        hdr_end = data.find(_CRLF2, pos)
        if hdr_end < 0:
            break
        headers = _parse_headers(data[pos:hdr_end])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            break
        if length < 0:
            # a negative length can move pos BACKWARD onto bytes inside
            # the same header block and re-parse the identical record
            # forever (verified: one 68-byte record yields infinitely) —
            # malformed archive, stop cleanly like every other break
            break
        payload = data[hdr_end + 4: hdr_end + 4 + length]
        yield headers, payload
        pos = hdr_end + 4 + length


def _http_body(payload: bytes) -> bytes:
    """Strip the HTTP response envelope from a ``response`` record payload."""
    if payload[:5] in (b"HTTP/",):
        split = payload.find(_CRLF2)
        if split >= 0:
            return payload[split + 4:]
    return payload


def _parse_ts(value: Optional[str]) -> Optional[datetime]:
    if not value:
        return None
    try:
        return datetime.fromisoformat(value.replace("Z", "+00:00")) \
            .astimezone(timezone.utc).replace(tzinfo=None)
    except ValueError:
        return None


def records_to_pages(data: bytes) -> Iterator[dict]:
    """WARC bytes → pages-schema dicts (url, warc_ts, html, text, lang)."""
    for headers, payload in iter_warc_records(data):
        if headers.get("warc-type") not in PAGE_RECORD_TYPES:
            continue
        url = headers.get("warc-target-uri")
        if not url:
            continue
        yield {
            "url": url,
            "warc_ts": _parse_ts(headers.get("warc-date")),
            "html": _http_body(payload),
            "text": None,       # filled by the extraction tiers
            "lang": None,
        }


def read_warc(spark, path: str):
    """Directory/glob of .warc(.gz) files → pages DataFrame.

    One Spark task per archive file (binaryFile source); the WARC parse is a
    single vectorized Python pass per file.
    """
    import pandas as pd

    from ocr_spark.schema import PAGES_SCHEMA

    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.warc*")
             .load(path)
             .select("content"))

    def parse(iterator):
        for pdf in iterator:
            rows = [page for blob in pdf["content"]
                    for page in records_to_pages(bytes(blob))]
            yield pd.DataFrame(rows, columns=[f.name for f in PAGES_SCHEMA])

    return files.mapInPandas(parse, PAGES_SCHEMA)


# ---------------------------------------------------------------------------
# writer (tests / round-trip)
# ---------------------------------------------------------------------------

def _format_record(headers: dict[str, str], payload: bytes) -> bytes:
    lines = [b"WARC/1.0"]
    for k, v in headers.items():
        lines.append(f"{k}: {v}".encode("utf-8"))
    lines.append(f"Content-Length: {len(payload)}".encode("ascii"))
    return b"\r\n".join(lines) + _CRLF2 + payload + _CRLF2


def write_warc(path: str, pages: Iterable[dict], compress: bool = True) -> int:
    """Write pages dicts as WARC ``response`` records; returns record count."""
    out = io.BytesIO()
    n = 0
    for page in pages:
        ts = page.get("warc_ts")
        headers = {
            "WARC-Type": "response",
            "WARC-Target-URI": page["url"],
            "WARC-Date": (ts.strftime("%Y-%m-%dT%H:%M:%SZ")
                          if ts else "2026-01-15T00:00:00Z"),
            "Content-Type": "application/http; msgtype=response",
        }
        body = page.get("html") or (page.get("text") or "").encode("utf-8")
        payload = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body)
        out.write(_format_record(headers, payload))
        n += 1
    blob = out.getvalue()
    if compress:
        blob = gzip.compress(blob)
    with open(path, "wb") as fh:
        fh.write(blob)
    return n
