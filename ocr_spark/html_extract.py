"""HTML → text extraction tiers (SURVEY.md §2.2-§2.3, T1/T2/T3, P1–P10).

The reference's OCR engines (Tesseract tier-1 / Google Vision tier-2,
``app/services/tesseract_service.py:36-75`` and
``google_vision_service.py:89-119``) are replaced by deterministic
main-content extraction over ``html: binary``:

* **tier 1** — cheap text-density/link-density boilerplate strip (the classic
  CETR/Boilerpipe-style block heuristic): parse the DOM once, score each
  block by length and link density, keep high-signal blocks.  Confidence =
  percentage of text kept, mirroring the Tesseract mean-word-confidence
  contract (``tesseract_service.py:65-67``).
* **tier 2** — permissive full tree walk that keeps nearly everything and
  additionally emits character **field spans** (doc numbers, plates, VINs,
  CIFs, dates) over the extracted text — the analog of Vision word boxes
  (T3, ``google_vision_service.py:46-87``).  Confidence is the reference's
  hardcoded 95.0 (``google_vision_service.py:117-118``).

``<pre>`` content is preserved byte-exactly (whitespace intact), which is the
invariant the fixture pages rely on (FIXTURES.md §1).

Everything here is pure Python over one document — it runs vectorized inside
``mapInPandas``/``pandas_udf`` batches; there is no per-row Spark dispatch.
"""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser
from typing import NamedTuple, Optional

from ocr_spark.sources import pdf as pdf_extract

# P2 analog: content sniffing — pick the right parser branch by magic bytes.
_PDF_MAGIC = b"%PDF"
# Reference SPEC for the charset sniff, not executed in the hot path:
# _find_meta_charset is the linear walk that replicates this regex's exact
# semantics (the regex backtracks quadratically on "<meta " floods), and the
# differential fuzz in tests/test_html_extract.py imports this constant as
# its ground truth.
_RE_META_CHARSET = re.compile(rb"""<meta[^>]+charset=["']?([A-Za-z0-9_\-]+)""", re.I)

# Tags whose subtree is never content (P4 analog: aggressive junk strip).
_SKIP_SUBTREE = frozenset({"script", "style", "noscript", "template", "head",
                           "svg", "iframe", "object"})
# Tags that open/close a text block.
_BLOCK_TAGS = frozenset({
    "p", "div", "section", "article", "main", "header", "footer", "aside",
    "nav", "ul", "ol", "li", "table", "tr", "td", "th", "h1", "h2", "h3",
    "h4", "h5", "h6", "blockquote", "figure", "figcaption", "form", "body",
})
# Boilerplate containers: text inside these counts against tier-1 keep rules.
_BOILERPLATE_TAGS = frozenset({"nav", "footer", "aside", "header", "form"})

_RE_WS = re.compile(r"[ \t\r\f\v]+")

# tier-1 block keep thresholds
_T1_MIN_CHARS = 8
_T1_MAX_LINK_DENSITY = 0.5
# tier-2 is permissive: drops only pure link lists
_T2_MAX_LINK_DENSITY = 0.9


class Block(NamedTuple):
    text: str
    n_chars: int
    link_chars: int
    is_pre: bool
    in_boilerplate: bool
    in_main: bool = False

    @property
    def link_density(self) -> float:
        return self.link_chars / self.n_chars if self.n_chars else 0.0


# Content-root containers (P8 analog: document-boundary detection).
_MAIN_TAGS = frozenset({"main", "article"})


class _BlockCollector(HTMLParser):
    """One-pass DOM walk segmenting text into scored blocks."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        self._buf: list[str] = []
        self._link_chars = 0
        self._skip_depth = 0
        self._a_depth = 0
        self._pre_depth = 0
        self._boiler_depth = 0
        self._main_depth = 0

    # -- block lifecycle ----------------------------------------------------

    def _flush(self) -> None:
        if not self._buf:
            return
        raw = "".join(self._buf)
        text = raw if self._pre_depth else _RE_WS.sub(" ", raw).strip()
        self._buf = []
        link_chars = self._link_chars
        self._link_chars = 0
        if text:
            self.blocks.append(Block(text, len(text), min(link_chars, len(text)),
                                     self._pre_depth > 0, self._boiler_depth > 0,
                                     self._main_depth > 0))

    # -- HTMLParser hooks ----------------------------------------------------

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_SUBTREE:
            self._skip_depth += 1
            return
        if self._skip_depth:
            return
        if tag == "a":
            self._a_depth += 1
        if tag == "br":
            self._buf.append("\n" if self._pre_depth else " ")
        if tag == "pre":
            self._flush()
            self._pre_depth += 1
        elif tag in _BLOCK_TAGS:
            self._flush()
            if tag in _BOILERPLATE_TAGS:
                self._boiler_depth += 1
            if tag in _MAIN_TAGS:
                self._main_depth += 1

    def handle_endtag(self, tag):
        if tag in _SKIP_SUBTREE:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if self._skip_depth:
            return
        if tag == "a":
            self._a_depth = max(0, self._a_depth - 1)
        if tag == "pre":
            self._flush()
            self._pre_depth = max(0, self._pre_depth - 1)
        elif tag in _BLOCK_TAGS:
            self._flush()
            if tag in _BOILERPLATE_TAGS:
                self._boiler_depth = max(0, self._boiler_depth - 1)
            if tag in _MAIN_TAGS:
                self._main_depth = max(0, self._main_depth - 1)

    def handle_data(self, data):
        if self._skip_depth or not data:
            return
        self._buf.append(data)
        if self._a_depth:
            self._link_chars += len(data)

    def close(self):
        super().close()
        self._flush()


_CHARSET_VALUE_CHARS = frozenset(b"ABCDEFGHIJKLMNOPQRSTUVWXYZ"
                                 b"abcdefghijklmnopqrstuvwxyz0123456789_-")


def _find_meta_charset(window: bytes) -> Optional[bytes]:
    """Linear replication of ``_RE_META_CHARSET.search(window)``.

    The regex ``<meta[^>]+charset=["']?([A-Za-z0-9_\\-]+)`` is quadratic under
    backtracking on hostile prefixes (a 4 KB ``<meta `` flood costs ~12 ms/doc
    vs ~0.2 ms for a normal page).  This walk is O(window) and reproduces the
    regex's exact match semantics (differential-fuzzed in
    tests/test_html_extract.py):

    * leftmost ``<meta`` start wins; its attribute run is every byte up to the
      next ``>`` (runs may span further ``<``s — ``[^>]+`` does);
    * within a run, greedy ``[^>]+`` backtracking selects the RIGHTMOST
      ``charset=`` that is followed by an optional quote and a non-empty
      ``[A-Za-z0-9_-]+`` value (and sits ≥1 byte after ``<meta``);
    * if a run has no such occurrence, later ``<meta`` starts inside the same
      run cannot match either (their search range is a subset), so the scan
      resumes after the run's ``>``.
    """
    lower = window.lower()
    n = len(lower)
    pos = 0
    while True:
        i = lower.find(b"<meta", pos)
        if i < 0:
            return None
        gt = lower.find(b">", i + 5)
        end = gt if gt >= 0 else n
        best = None
        j = i + 6  # [^>]+ must consume >=1 byte after "<meta"
        while True:
            k = lower.find(b"charset=", j, end)
            if k < 0:
                break
            v = k + 8
            if v < n and window[v] in b"\"'":
                v += 1
            e = v
            while e < n and window[e] in _CHARSET_VALUE_CHARS:
                e += 1
            if e > v:
                best = window[v:e]
            j = k + 1
        if best is not None:
            return best
        if gt < 0:
            return None
        pos = gt + 1


def decode_html(data: bytes) -> str:
    """Bytes → unicode (P1 analog): UTF-8, else declared charset, else latin-1.

    Deterministic — no statistical detection.
    """
    try:
        return data.decode("utf-8")
    except UnicodeDecodeError:
        pass
    charset = _find_meta_charset(data[:4096])
    if charset is not None:
        try:
            return data.decode(charset.decode("ascii"), errors="replace")
        except (LookupError, UnicodeError, ValueError):
            # LookupError: unknown codec name.  UnicodeError/ValueError:
            # a declared charset that IS a registered codec but not a
            # byte decoder for arbitrary content — 'idna'/'punycode'
            # raise even with errors='replace', and decode_html runs
            # BEFORE any per-page try/except, so an uncaught error here
            # is one hostile page killing the whole job
            pass
    return data.decode("latin-1", errors="replace")


def sniff_kind(data: bytes) -> str:
    """'pdf' | 'html' | 'text' by magic bytes (S3/P2 analog)."""
    head = data[:256].lstrip()
    if head.startswith(_PDF_MAGIC):
        return "pdf"
    if head[:1] == b"<" or b"<html" in head.lower() or b"<!doctype" in head.lower():
        return "html"
    return "text"


# --- fast tag scanner --------------------------------------------------------
#
# html.parser.HTMLParser spends most of its time in per-tag regex machinery
# (parse_starttag/parse_endtag/updatepos) — ~30 ms for a 100 KB page, which
# at Common-Crawl page sizes makes the DOM walk the pipeline bottleneck.
# This scanner finds tags with str.find and applies the SAME _BlockCollector
# handler semantics, so block semantics are identical (differential-tested);
# any surprise falls back to the HTMLParser path.

# Reuse html.parser's own tolerant tokenization regexes so tag/attr edge
# behavior ("<P<div" is a tag named "p<div"; quotes only delimit after "=")
# is identical by construction — the speedup comes from skipping the
# goahead/updatepos machinery, not from different lexing.
from html import parser as _hp

_RE_TAGNAME = _hp.tagfind_tolerant            # also consumes trailing ws
_RE_LOCATE_START = _hp.locatestarttagend_tolerant
_RE_ATTR = _hp.attrfind_tolerant
_RE_ENDTAGFIND = _hp.endtagfind               # </ \s* name \s* >
_CDATA_TAGS = ("script", "style")  # HTMLParser raw-text (CDATA) elements
_RE_CDATA_END = {t: re.compile(r"</\s*%s\s*>" % t, re.I) for t in _CDATA_TAGS}
# marked-section tokenization, byte-identical to _markupbase's privates
_RE_DECLNAME = re.compile(r"[a-zA-Z_:][-.a-zA-Z0-9_:]*\s*")
_RE_MARKEDCLOSE = re.compile(r"]\s*]\s*>")
_RE_MSMARKEDCLOSE = re.compile(r"]\s*>")
# html.parser's _commentclose: comments close on "--\s*>", NOT only "-->"
# (200k-fuzz finding: "<!---- >" is a complete, silently-consumed comment)
_RE_COMMENTCLOSE = re.compile(r"--\s*>")
_ATTR_CONTINUE = frozenset("abcdefghijklmnopqrstuvwxyz=/"
                           "ABCDEFGHIJKLMNOPQRSTUVWXYZ")

# Validated tag-outcome caches (per-process, shared across documents).
#
# Web corpora repeat the same literal tags billions of times (`<div
# class="nav">`, `</p>`, boilerplate blocks shared across a host), and the
# tolerant html.parser machinery re-derives the identical outcome with ~4
# regex matches every time.  These dicts map the EXACT tag byte slice —
# ``text[lt : find('>', lt) + 1]`` — to the outcome that machinery
# produced, and are populated ONLY when the slow path proves the outcome
# was fully determined inside that slice (``endpos == gt + 1``): a quoted
# ``>`` inside an attribute makes ``endpos`` land elsewhere, so such tags
# are simply never cached.  Replaying a cached outcome is therefore
# byte-identical to re-running the reference logic on the same slice (the
# 20k-example differential fuzz in tests/test_html_extract.py gates this).
# Outcome kinds: "s" start tag, "se" self-closing (start+end), "d" the
# whole slice is data (bogus tag), "e" end tag, "n" no handler (bogus
# comment / ``</>``).  The third tuple slot is the tag's precomputed
# collector CLASS (``_tag_class``) so the collector dispatch keys on one
# int instead of re-walking the frozenset memberships per occurrence.
_START_CACHE: dict[str, tuple[str, str, int]] = {}
_END_CACHE: dict[str, tuple[str, str, int]] = {}
_CACHE_MAX = 100_000        # ~10 MB ceiling per executor process
_CACHE_KEY_MAX = 256        # unique-attr tags (hrefs, ids) don't repeat —
#                             don't let them churn the cache

# Collector tag classes — a pure reindexing of the membership tests in
# _BlockCollector.handle_starttag/handle_endtag (the sets are disjoint:
# a/br/pre belong to none of the others, _BOILERPLATE_TAGS and _MAIN_TAGS
# are disjoint subsets of _BLOCK_TAGS).
_C_NOOP, _C_SKIP, _C_A, _C_BR, _C_PRE, _C_BLOCK, _C_BOILER, _C_MAIN = range(8)

# Flushed-block memo (per-process, shared across documents).  Boilerplate
# blocks — nav items, footers, shared host chrome — repeat VERBATIM across
# a host's pages, so the whitespace-collapse regex + strip + NamedTuple
# construction re-derive the identical immutable Block billions of times
# at crawl scale.  Keyed on the exact (raw_text, link_chars, boiler, main)
# tuple; Block is immutable, so sharing one instance across documents is
# safe.  ``None``-ish whitespace-only results are cached as _NO_BLOCK.
# ~20 MB ceiling per executor at the caps below.
_NO_BLOCK = Block("", 0, 0, False, False)
_BLOCK_CACHE: dict[tuple, Block] = {}
_BLOCK_CACHE_MAX = 100_000
_BLOCK_KEY_MAX = 512        # unique long paragraphs don't repeat — don't
#                             let them churn the cache


def _tag_class(tag: str) -> int:
    if tag in _SKIP_SUBTREE:
        return _C_SKIP
    if tag == "a":
        return _C_A
    if tag == "br":
        return _C_BR
    if tag == "pre":
        return _C_PRE
    if tag in _BLOCK_TAGS:
        if tag in _BOILERPLATE_TAGS:
            return _C_BOILER
        if tag in _MAIN_TAGS:
            return _C_MAIN
        return _C_BLOCK
    return _C_NOOP


def _fast_scan(text: str, col: _BlockCollector) -> None:
    n = len(text)
    pos = 0
    find = text.find
    start_cache_get = _START_CACHE.get
    end_cache_get = _END_CACHE.get

    # Collector state hoisted into locals — the per-tag bound-method call
    # plus 3-4 frozenset probes plus self-attribute loads/stores were ~35%
    # of end-to-end extraction CPU.  Each tag is lexed to an outcome
    # ``(kind, tag, cls)`` and applied by the ONE collector dispatch at the
    # bottom of the loop: an exact transliteration of
    # _BlockCollector.handle_starttag/handle_endtag keyed on the
    # precomputed ``_tag_class`` int (gated by the same 20k-example
    # differential fuzz as the scanner itself).  blocks and _buf are the
    # collector's OWN list objects (mutated in place); the int counters
    # are written back at every normal exit, so callers' ``col._flush()``
    # and the html.parser fallback see identical state.
    blocks = col.blocks
    buf = col._buf
    buf_append = buf.append
    skip_depth = col._skip_depth
    a_depth = col._a_depth
    pre_depth = col._pre_depth
    boiler_depth = col._boiler_depth
    main_depth = col._main_depth
    link_chars = col._link_chars
    ws_sub = _RE_WS.sub

    block_cache_get = _BLOCK_CACHE.get

    def flush() -> None:
        # exact inline of _BlockCollector._flush (guarded by `if buf:` at
        # call sites — an empty-buf flush is a no-op that must NOT reset
        # link_chars, same as the method's early return), plus the
        # repeated-boilerplate Block memo (see _BLOCK_CACHE)
        nonlocal link_chars
        if not buf:
            return
        raw = "".join(buf)
        del buf[:]
        lc = link_chars
        link_chars = 0
        if pre_depth:
            if raw:
                blocks.append(Block(raw, len(raw), min(lc, len(raw)),
                                    True, boiler_depth > 0, main_depth > 0))
            return
        key = (raw, lc, boiler_depth > 0, main_depth > 0)
        blk = block_cache_get(key)
        if blk is None:
            t = ws_sub(" ", raw).strip()
            blk = (Block(t, len(t), min(lc, len(t)), False,
                         boiler_depth > 0, main_depth > 0)
                   if t else _NO_BLOCK)
            if len(raw) <= _BLOCK_KEY_MAX and len(_BLOCK_CACHE) < _BLOCK_CACHE_MAX:
                _BLOCK_CACHE[key] = blk
        if blk is not _NO_BLOCK:
            blocks.append(blk)

    # EOF-scan memos (per document).  Absence of these needles is monotone:
    # every search here starts at a non-decreasing position, so a search
    # that failed once can never succeed later — each needle pays its O(n)
    # scan-to-EOF at most once.  Without this, a flood of "<!--x--" teasers
    # costs one full close-search per teaser: O(n²), ~8 min for a 1 MB page.
    no_gt = no_ccl = no_mcl = no_mscl = False

    # Locate-start work budget.  The tolerant locate regex can consume far
    # beyond where the parse then resumes (unclosed quotes, ">"-starved
    # attribute soup), so a crafted page repeats an O(remaining) scan every
    # few characters — quadratic, hours for a 5 MB page, and html.parser's
    # own goahead/check_for_whole_start_tag has the identical cost so the
    # fallback path cannot absorb it.  Deterministic guard: when cumulative
    # locate consumption exceeds ~4 passes over the document (plus slack no
    # real page approaches), emit the untouched remainder as data and stop.
    # This is the one disclosed divergence from html.parser semantics, and
    # it is reachable only by adversarial input: a benign page's locate
    # spans sum to ≈ its tag bytes ≤ n, and the differential-fuzz documents
    # (≤ ~0.5 KB) cannot reach the 1M floor even at their theoretical
    # worst (len²/2 ≈ 90K) — parity with html.parser is untouched there.
    scan_work = 0
    scan_budget = 4 * n + 1_000_000

    def emit(chunk: str) -> None:
        # inline of handle_data behind goahead's convert_charrefs decode
        nonlocal link_chars
        if not chunk:
            return
        data = unescape(chunk) if "&" in chunk else chunk
        if skip_depth or not data:
            return
        buf_append(data)
        if a_depth:
            link_chars += len(data)

    def recover(lt: int) -> int:
        """goahead's invalid-tag resync at EOF (end=1): when parse_*tag
        returns -1, emit data (unescaped — goahead's recovery applies
        convert_charrefs) up to and including the next ">", else up to the
        next "<", else one char — and CONTINUE parsing there; swallowing
        to EOF would hide any real tag in the remainder."""
        nonlocal no_gt
        if no_gt:
            k = -1
        else:
            k = find(">", lt + 1)
            if k < 0:
                no_gt = True
        if k < 0:
            k = find("<", lt + 1)
            if k < 0:
                k = lt + 1
        else:
            k += 1
        emit(text[lt:k])
        return k

    while pos < n:
        lt = find("<", pos)
        if lt < 0:
            emit(text[pos:])
            break
        if lt > pos:
            emit(text[pos:lt])
        nxt = text[lt + 1: lt + 2]
        if nxt == "/":
            # mirror of html.parser.parse_endtag
            if no_gt:
                gt_any = -1
            else:
                gt_any = find(">", lt + 1)
                if gt_any < 0:
                    no_gt = True
            if gt_any < 0:  # unterminated at EOF → goahead resync
                pos = recover(lt)
                continue
            # only materialize the cache key when it could ever be cached —
            # a far-away ">" would make this an O(distance) copy per tag
            # (quadratic on ">"-starved floods) for a guaranteed cache miss
            sl = text[lt:gt_any + 1] if gt_any - lt < _CACHE_KEY_MAX else None
            hit = end_cache_get(sl) if sl is not None else None
            if hit is not None:
                kind, tag, cls = hit
                pos = gt_any + 1
            else:
                m = _RE_ENDTAGFIND.match(text, lt)  # </ \s* name \s* >
                if m:
                    kind, tag = "e", m.group(1).lower()
                    pos = m.end()
                else:
                    nm = _RE_TAGNAME.match(text, lt + 2)
                    if nm:
                        kind, tag = "e", nm.group(1).lower()
                        # >= 0 because gt_any existed
                        pos = find(">", nm.end()) + 1
                    else:  # "</>" or a bogus comment: skip to ">"
                        kind, tag = "n", ""
                        pos = lt + 3 if text.startswith("</>", lt) else gt_any + 1
                cls = _tag_class(tag)
                if pos <= lt:  # defensive: always advance, never cache
                    pos = gt_any + 1
                # cache only slice-determined outcomes (every path above
                # ends exactly at gt_any + 1 — asserted by construction)
                elif (sl is not None and pos == gt_any + 1
                        and len(_END_CACHE) < _CACHE_MAX):
                    _END_CACHE[sl] = (kind, tag, cls)
        elif nxt == "!" or nxt == "?":
            if text.startswith("<!--", lt):
                cm = None if no_ccl else _RE_COMMENTCLOSE.search(text, lt + 4)
                if cm is None:
                    # unterminated comment: parse_comment returns -1 →
                    # goahead resync (data to next ">" and KEEP parsing)
                    no_ccl = True
                    pos = recover(lt)
                    continue
                pos = cm.end()
            elif text.startswith("<![", lt):  # marked section <![...]]>
                # mirror of _markupbase.parse_marked_section: known section
                # keywords close on "]\s*]\s*>" (MS-Office forms on
                # "]\s*>"); an unknown keyword hits ParserBase.error →
                # raises — so raise here too and let _segment fall back to
                # the html.parser path, which degrades the whole document
                # identically.
                if lt + 3 >= n:
                    pos = recover(lt)  # _scan_name at EOF → -1
                    continue
                dm = _RE_DECLNAME.match(text, lt + 3)
                if not dm:
                    raise ValueError("marked section: expected name token")
                if dm.end() == n:
                    pos = recover(lt)  # name runs to end of buffer → -1
                    continue
                sect = dm.group().strip().lower()
                if sect in ("temp", "cdata", "ignore", "include", "rcdata"):
                    cm = None if no_mcl else _RE_MARKEDCLOSE.search(text, lt + 3)
                    if not cm:
                        no_mcl = True
                elif sect in ("if", "else", "endif"):
                    cm = None if no_mscl else _RE_MSMARKEDCLOSE.search(text, lt + 3)
                    if not cm:
                        no_mscl = True
                else:
                    raise ValueError(
                        f"unknown status keyword in marked section: {sect!r}")
                if not cm:
                    pos = recover(lt)
                    continue
                pos = cm.end()
            else:
                if no_gt:
                    gt = -1
                else:
                    gt = find(">", lt)
                    if gt < 0:
                        no_gt = True
                if gt < 0:
                    pos = recover(lt)
                    continue
                pos = gt + 1
            continue
        elif nxt and ("a" <= nxt <= "z" or "A" <= nxt <= "Z"):
            if no_gt:
                gt_naive = -1
            else:
                gt_naive = find(">", lt)
                if gt_naive < 0:
                    no_gt = True
            # see the endtag branch: never materialize uncacheable far keys
            sl = (text[lt:gt_naive + 1]
                  if 0 < gt_naive and gt_naive - lt < _CACHE_KEY_MAX else None)
            hit = start_cache_get(sl) if sl is not None else None
            if hit is not None:
                kind, tag, cls = hit
                pos = gt_naive + 1
            else:
                # mirror of check_for_whole_start_tag + parse_starttag
                lm = _RE_LOCATE_START.match(text, lt)
                j = lm.end()
                scan_work += j - lt
                if scan_work > scan_budget:
                    emit(text[lt:])
                    break
                after = text[j: j + 1]
                if after == ">":
                    endpos = j + 1
                elif after == "/":
                    if text.startswith("/>", j):
                        endpos = j + 2
                    else:  # "/" then EOF/junk: incomplete → goahead resync
                        pos = recover(lt)
                        continue
                elif after == "" or after in _ATTR_CONTINUE:
                    # EOF inside tag / attribute value → goahead resync
                    pos = recover(lt)
                    continue
                else:
                    endpos = j if j > lt else lt + 1
                nm = _RE_TAGNAME.match(text, lt + 1)
                tag = nm.group(1).lower()
                k = nm.end()
                while k < endpos:  # walk attrs to find where they stop
                    am = _RE_ATTR.match(text, k)
                    if not am:
                        break
                    k = am.end()
                end = text[k:endpos].strip()
                if end not in (">", "/>"):
                    # bogus input: the whole tag text becomes data
                    kind, tag, cls = "d", "", _C_NOOP
                else:
                    kind = "se" if end == "/>" else "s"
                    cls = _tag_class(tag)
                pos = endpos
                # Soundness: ``endpos == gt_naive + 1`` guarantees the
                # outcome is a function of the slice alone, in ANY
                # document.  The only construct that reads past the naive
                # ">" is a quoted attribute value still open at it; whether
                # that scan *starts* is decided by the slice prefix, and
                # when it does start the parse can never land back exactly
                # on gt+1: either the closing quote is found beyond
                # (endpos > gt+1 → not cached) or the quoted alternative
                # fails and backtracks to a name-only attr, leaving the
                # next char "=" — which hits the ATTR_CONTINUE
                # incomplete-tag branch above (data-to-EOF, not cached).
                # So any slice that reaches this line with endpos == gt+1
                # parses identically wherever it appears.  (Names, bare
                # values and whitespace all exclude ">" by charset.)  Gated
                # empirically by the quote-adversarial differential fuzz.
                if (sl is not None and endpos == gt_naive + 1
                        and len(_START_CACHE) < _CACHE_MAX):
                    _START_CACHE[sl] = (kind, tag, cls)
        else:
            # stray "<" is literal text
            emit("<")
            pos = lt + 1
            continue

        # --- the one collector dispatch: apply (kind, tag, cls) ------------
        if kind == "s" or kind == "se":
            # handle_starttag, ordered by corpus frequency (a, then blocks)
            if cls == _C_A:
                if not skip_depth:
                    a_depth += 1
            elif cls == _C_BLOCK:
                if not skip_depth and buf:
                    flush()
            elif cls == _C_BOILER:
                if not skip_depth:
                    if buf:
                        flush()
                    boiler_depth += 1
            elif cls == _C_MAIN:
                if not skip_depth:
                    if buf:
                        flush()
                    main_depth += 1
            elif cls == _C_SKIP:
                skip_depth += 1
            elif cls == _C_BR:
                if not skip_depth:
                    buf_append("\n" if pre_depth else " ")
            elif cls == _C_PRE:
                if not skip_depth:
                    if buf:
                        flush()
                    pre_depth += 1
            # _C_NOOP start tags have no collector effect
            if kind == "s":
                if tag not in _CDATA_TAGS:
                    continue
                # raw-text element: scan for the FULL end tag, mirroring
                # html.parser.set_cdata_mode's r"</\s*script\s*>" — so
                # "</ script>" closes the element and "</scriptx>" stays in
                # CDATA mode.  em.end() is parse_endtag's gtpos (the "\s*"
                # cannot contain ">", so the regex's ">" is the first one);
                # the close then takes the end-tag effects below.
                em = _RE_CDATA_END[tag].search(text, pos)
                if em is None:
                    pos = n
                    break
                pos = em.end()
        elif kind == "d":
            # bogus tag: the raw slice is data, no charref conversion
            # (parse_starttag calls handle_data directly, bypassing the
            # convert_charrefs path)
            if not skip_depth:
                chunk = text[lt:pos]
                buf_append(chunk)
                if a_depth:
                    link_chars += len(chunk)
            continue
        # handle_endtag for "e", "se" and a CDATA close ("n" is _C_NOOP)
        if cls == _C_BLOCK:
            if not skip_depth and buf:
                flush()
        elif cls == _C_A:
            if not skip_depth and a_depth:
                a_depth -= 1
        elif cls == _C_SKIP:
            if skip_depth:
                skip_depth -= 1
        elif cls == _C_BOILER:
            if not skip_depth:
                if buf:
                    flush()
                if boiler_depth:
                    boiler_depth -= 1
        elif cls == _C_MAIN:
            if not skip_depth:
                if buf:
                    flush()
                if main_depth:
                    main_depth -= 1
        elif cls == _C_PRE:
            if not skip_depth:
                if buf:
                    flush()
                if pre_depth:
                    pre_depth -= 1
        # _C_BR / _C_NOOP end tags have no collector effect

    # write the hoisted counters back so col._flush() (every caller) and
    # any later feed through the collector see the exact post-scan state
    col._skip_depth = skip_depth
    col._a_depth = a_depth
    col._pre_depth = pre_depth
    col._boiler_depth = boiler_depth
    col._main_depth = main_depth
    col._link_chars = link_chars


def _segment(data: bytes) -> list[Block]:
    kind = sniff_kind(data)
    if kind == "pdf":
        # content-stream text extraction (P2 branch; sources/pdf.py)
        text = pdf_extract.extract_pdf_text(data)
        return [Block(text, len(text), 0, True, False)] if text else []
    text = decode_html(data)
    if kind != "html":
        # plain text: one pre-like block, kept verbatim
        return [Block(text, len(text), 0, True, False)] if text else []
    try:
        collector = _BlockCollector()
        _fast_scan(text, collector)
        collector._flush()
        return collector.blocks
    except Exception:
        pass
    return _segment_htmlparser(text)


def _segment_htmlparser(text: str) -> list[Block]:
    """Reference segmentation via html.parser (fallback + differential twin)."""
    collector = _BlockCollector()
    try:
        collector.feed(text)
        collector.close()
    except Exception:
        # malformed markup: degrade to tag-stripped text, never crash a batch
        stripped = unescape(re.sub(r"<[^>]*>", " ", text))
        stripped = _RE_WS.sub(" ", stripped).strip()
        return [Block(stripped, len(stripped), 0, False, False)] if stripped else []
    return collector.blocks


def extract_tier1(data: Optional[bytes], mode: str = "standard") -> tuple[str, float]:
    """Cheap boilerplate strip.  Returns (text, confidence 0-100).

    Keep rule: ``<pre>`` always; otherwise a block survives when it is long
    enough, not link-dominated, and (in ``aggressive`` mode) not inside a
    nav/footer/aside/header/form container.  ``layout`` mode (P8 analog —
    document-boundary detection) additionally restricts candidates to the
    ``<main>/<article>`` subtree when one exists.  Confidence is the
    kept-text fraction — the cheap tier *underreports* on boilerplate-heavy
    pages, which is exactly what routes them to tier 2 (T5/T6).
    """
    if not data:
        return "", 0.0
    return tier1_from_blocks(_segment(data), mode)


def tier1_from_blocks(blocks: list[Block], mode: str = "standard"
                      ) -> tuple[str, float]:
    """Tier-1 keep rule over a pre-segmented block list.

    Split out of :func:`extract_tier1` so a caller that needs BOTH tiers
    for one page (the single-pass fused pipeline stage) segments the DOM
    once and applies each tier's rule to the same blocks.
    """
    total = sum(b.n_chars for b in blocks)
    if total == 0:
        return "", 0.0
    candidates = blocks
    if mode == "layout" and any(b.in_main for b in blocks):
        candidates = [b for b in blocks if b.in_main or b.is_pre]
    kept: list[Block] = []
    for b in candidates:
        if b.is_pre:
            kept.append(b)
        elif b.n_chars >= _T1_MIN_CHARS and b.link_density <= _T1_MAX_LINK_DENSITY:
            if mode == "aggressive" and b.in_boilerplate:
                continue
            kept.append(b)
    text = "\n".join(b.text for b in kept)
    confidence = 100.0 * sum(b.n_chars for b in kept) / total
    return text, confidence


# T3 analog: field-span detection over extracted text.
_SPAN_PATTERNS = (
    ("doc_number", re.compile(r"\b(\d{8}[A-Z]|[XYZ]\d{7}[A-Z])\b")),
    ("cif", re.compile(r"\b[ABCDEFGHJKLMNPQRSUVW]\d{7}[A-J0-9]\b")),
    ("plate", re.compile(r"\b\d{4}[A-Z]{3}\b")),
    ("vin", re.compile(r"\b[A-HJ-NPR-Z0-9]{17}\b")),
    ("date", re.compile(r"\b\d{2}[-/.]\d{2}[-/.]\d{4}\b")),
    ("postal_code", re.compile(r"\b\d{5}\b")),
)


def detect_spans(text: str) -> list[dict]:
    """Character spans of recognizable field shapes (tier-2 extra, T3)."""
    spans = []
    for field, pattern in _SPAN_PATTERNS:
        for m in pattern.finditer(text):
            spans.append({"field": field, "start": m.start(), "end": m.end()})
    spans.sort(key=lambda s: (s["start"], s["end"], s["field"]))
    return spans


def tier2_from_blocks(blocks: list[Block], mode: str = "standard",
                      with_spans: bool = True) -> tuple[str, float, list[dict]]:
    """Permissive full-tree extraction + field spans over a pre-segmented
    block list (see :func:`tier1_from_blocks` for why it takes blocks).

    Keeps every block below 0.9 link density (only pure link lists drop), so
    short labeled values that tier 1 discards survive.  Confidence is the
    reference's hardcoded Vision 95.0.
    """
    kept = [b for b in blocks if b.is_pre or b.link_density <= _T2_MAX_LINK_DENSITY]
    text = "\n".join(b.text for b in kept)
    if not text:
        return "", 0.0, []
    return text, 95.0, (detect_spans(text) if with_spans else [])
