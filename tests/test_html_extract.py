"""HTML tier extraction: byte-identity of <pre> recovery + boilerplate strip."""

from __future__ import annotations

from html import escape

import pytest

from ocr_spark import pagegen
from ocr_spark.html_extract import (_segment, decode_html, detect_spans,
                                    extract_tier1, sniff_kind,
                                    tier2_from_blocks)
from tests.fixture_texts import DNI_TEXTS, NIF_TEXTS, PERMIS_TEXTS


def wrap(text: str) -> bytes:
    """FIXTURES.md §1 minimal wrapper."""
    return f"<html><body><pre>{escape(text)}</pre></body></html>".encode()


ALL_TEXTS = {f"dni/{k}": v for k, v in DNI_TEXTS.items()}
ALL_TEXTS.update({f"permis/{k}": v for k, v in PERMIS_TEXTS.items()})
ALL_TEXTS.update({f"nif/{k}": v for k, v in NIF_TEXTS.items()})


@pytest.mark.parametrize("name", sorted(ALL_TEXTS))
def test_pre_roundtrip_byte_identical(name):
    """pipeline(html) must recover the text column byte-exactly (both tiers)."""
    text = ALL_TEXTS[name]
    t1, conf1 = extract_tier1(wrap(text))
    t2, conf2, _ = tier2_from_blocks(_segment(wrap(text)))
    if text:
        assert t1 == text
        assert t2 == text
        assert conf1 == 100.0
        assert conf2 == 95.0  # reference Vision hardcode parity


def test_generated_pages_recoverable():
    for i in range(300):
        page = pagegen.page_for(i)
        t1, c1 = extract_tier1(page["html"])
        assert page["text"] in t1, i
        assert 0 < c1 <= 100


def test_boilerplate_is_stripped():
    page = pagegen.page_for(0)  # heavy nav wrapper
    t1, c1 = extract_tier1(page["html"])
    assert "section 3 link" not in t1          # nav link list dropped
    assert "var x=" not in t1                  # script dropped
    assert "color:red" not in t1               # style dropped
    t2, _, _ = tier2_from_blocks(_segment(page["html"]))
    assert c1 < 100.0


def test_aggressive_mode_drops_footer():
    page = pagegen.page_for(1)
    t_std, _ = extract_tier1(page["html"], mode="standard")
    t_aggr, _ = extract_tier1(page["html"], mode="aggressive")
    assert "example corporation" in t_std
    assert "example corporation" not in t_aggr
    assert page["text"] in t_aggr


def test_layout_mode_restricts_to_main():
    html = (b"<html><body><div>outside prose that is long enough to keep</div>"
            b"<main><article><p>inside the article body block</p>"
            b"<pre>FIELD\nVALUE</pre></article></main>"
            b"<div>trailing junk also long enough to keep</div></body></html>")
    t_std, _ = extract_tier1(html, mode="standard")
    t_lay, _ = extract_tier1(html, mode="layout")
    assert "outside prose" in t_std and "trailing junk" in t_std
    assert "outside prose" not in t_lay and "trailing junk" not in t_lay
    assert "inside the article" in t_lay and "FIELD\nVALUE" in t_lay
    # pages without a <main>/<article> fall back to the standard rule
    no_main = b"<html><body><div>just one block of prose here</div></body></html>"
    assert extract_tier1(no_main, mode="layout") == \
        extract_tier1(no_main, mode="standard")


NASTY_HTML = [
    "<div>a < b but <b>bold</b> & &lt;escaped&gt;</div>",
    "<script>if (a<b) { document.write('</div>'); }</script><p>after</p>",
    "<SCRIPT>x</SCRIPT><P>upper tags</P>",
    "<style>p > span { color: red }</style><p>styled</p>",
    "<!-- comment with <div> inside --><p>ok</p>",
    "<!doctype html><?xml version='1.0'?><p>decl</p>",
    '<img src="a>b.png"><p>gt inside quoted attr</p>',
    "<br/><br /><hr/><p>self closing</p>",
    "<pre>MRZ &lt;&lt;&lt; line\n  spaced   text</pre>",
    "<p>truncated <b>tag at end<",
    "<p>unterminated <div attr='x",
    "<div>&amp;&quot;&#65;&#x42;&lt</div>",
    "</bogus></><p>stray closers</p>",
    "text before any tag <em>x</em> text after",
    "<main><article><p>in main</p></article></main><footer>f</footer>",
    "",
    # CDATA end-tag edge cases (html.parser set_cdata_mode = r"</\s*tag\s*>")
    "<p>before</p><script>var x=1;</ script><p>content after a spaced close "
    "tag must survive extraction with enough length to form a block</p>",
    "<p>before</p><script>var x=1;</scriptfoo> still code </script>"
    "<p>a suffixed close tag must NOT end CDATA mode; this block appears</p>",
    "<style>a{}</ StYlE ><p>mixed-case spaced style close followed by a real "
    "paragraph of sufficient length to be kept as content</p>",
    "<script>a</script foo><p>an end tag with attributes keeps html.parser "
    "in CDATA mode so this paragraph is dropped by both parsers</p>",
    "<script>x</script\t ><p>tab and space before the closing bracket</p>",
    "<script>unclosed cdata to EOF",
    "<script>x</scriptx>",
]


def test_fast_scanner_matches_htmlparser():
    """The fast tag scanner must produce the identical block list as the
    html.parser twin on every page kind and on adversarial markup."""
    from ocr_spark.html_extract import (_BlockCollector, _fast_scan,
                                        _segment_htmlparser)

    def fast(text):
        col = _BlockCollector()
        _fast_scan(text, col)
        col._flush()
        return col.blocks

    samples = [pagegen.page_for(i)["html"].decode("utf-8") for i in range(300)]
    samples += [wrap(t).decode("utf-8") for t in ALL_TEXTS.values()]
    samples += NASTY_HTML
    for i, text in enumerate(samples):
        assert fast(text) == _segment_htmlparser(text), (i, text[:120])


# Differential-fuzz alphabet: tag and markup fragments that exercise every
# scanner path — start/end/self-closing outcomes and their class dispatch,
# CDATA closes, bogus tags, comments, marked sections, charrefs, quotes.
FUZZ_FRAGMENTS = [
    "<div>", "</div>", "<p>", "</p>", "<a href=x>", "</a>", "<pre>", "</pre>",
    "<script>", "</script>", "<br/>", "<!-- c -->", "<", ">", "&lt;",
    "&amp;", "&#65;", "&", "<main>", "</main>", "<nav>", "</nav>",
    '<img src="a>b">', "<b", "</", "<!doctype h>", "</p attr=x>", "</ p>",
    "<p/q>", "<p =>", "'", '"', "/", "<!", "<?", "<!-", "-->",
    "<![CDATA[x]]>", "<![CDATA[a>b]]>", "<?php x?>", "]]>", "<!--",
    "<style>", "</style>", "--",
    "</ script>", "</scriptx>", "</script >", "</ style>", "</stylex>",
    "</script foo>",
    # self-closing, upper-case and end-only forms of classed tags, and a
    # skipped subtree that is not raw text (its tags apply under skip)
    "<br>", "</br>", "<pre/>", "<script/>", "<A HREF=y>", "</A>", "</Div >",
    "<footer>", "<article>", "<noscript>", "</noscript>",
    # bogus tags: a NUL ends the tag name, and the tag text becomes raw data
    "<p\x00>", "<b\x00 c>",
    # quote-adversarial: tag-outcome cache aliasing — values spanning the
    # naive ">", mixed nesting, unterminated quotes (caches persist across
    # fuzz examples exactly as across documents)
    '<a b="x>y">', '<a b="x>', "<a b='x>y'>", '<a b=\'"\' c="x>z">',
    '<a b=">">', "<a b='>'>", '<a b="c" d=">">', '<a "x>', '<a b=">',
    '<a b= "x>y">', '<div class="nav">', "=", '"',
    # marked sections: spaced closes, EOF names, MS-Office forms (unknown
    # keywords raise in both engines → degraded path, covered separately)
    "<![CDATA[x] ]>", "<![if a]>", "<![cdata", "<![include q]]>", "<![",
    "<a b=", "<a /",
    # comments close on --\s*> (200k-fuzz regression)
    "<!---- >", "-- >", "<!-- x -- >", "<!--a--\t>",
]


def _assert_fast_scan_matches(text: str) -> None:
    """``_fast_scan`` builds the html.parser twin's block list, or raises
    the one deliberate escape: unknown/garbled marked sections raise
    ``ValueError`` so ``_segment`` re-runs through the html.parser path
    (which itself raises → degraded mode for these inputs).  Any other
    exception type is a crash regression and fails the fuzz, not a
    silent fallback."""
    from ocr_spark.html_extract import (_BlockCollector, _fast_scan,
                                        _segment_htmlparser)

    col = _BlockCollector()
    try:
        _fast_scan(text, col)
    except ValueError as exc:
        assert "marked section" in str(exc), exc
        return
    col._flush()
    assert col.blocks == _segment_htmlparser(text), repr(text[:200])


def test_fast_scanner_fuzz_matches_htmlparser():
    from hypothesis import given, settings, strategies as st

    # NUL bytes are excluded from free text (only the two bogus-tag
    # fragments carry one): html.parser has its own NUL quirks and no
    # decoded real-world page contains them; the scanner must merely not
    # crash there (covered by test_malformed_html_degrades_not_crashes).
    frag = st.one_of(
        st.sampled_from(FUZZ_FRAGMENTS),
        st.text(max_size=12,
                alphabet=st.characters(blacklist_characters="\x00")))

    @settings(max_examples=400, deadline=None)
    @given(st.lists(frag, max_size=25).map("".join))
    def inner(text):
        _assert_fast_scan_matches(text)

    inner()


# filler between fragments: markup-significant ASCII, whitespace, entity
# and quote characters, and non-ASCII (no NUL — see the hypothesis fuzz)
_FUZZ_FILLER = ("abcxyzABCXYZ0123456789 \t\n\r<>/=&;#'\"!?-[]"
                "\u00e9\u00d1\u20ac\u00a0")


def test_fast_scanner_seeded_differential_fuzz():
    """20,000 seeded documents over :data:`FUZZ_FRAGMENTS` plus filler:
    the scanner's block list equals the html.parser twin's on every one."""
    import random

    rng = random.Random(20_000)
    for _ in range(20_000):
        parts = []
        for _ in range(rng.randrange(26)):
            if rng.random() < 0.75:
                parts.append(rng.choice(FUZZ_FRAGMENTS))
            else:
                parts.append("".join(rng.choice(_FUZZ_FILLER)
                                     for _ in range(rng.randrange(13))))
        _assert_fast_scan_matches("".join(parts))


def test_tag_cache_no_cross_document_aliasing():
    """The tag-outcome cache keys on the naive to-first-'>' slice; a slice
    cached from a document where it was a complete tag must NOT be
    replayed in a document where the real tag extends past that '>'
    (quoted attribute value spanning it).  Parse order is arranged so the
    aliasing-prone slice is seen in its 'complete' form first."""
    from ocr_spark.html_extract import (_BlockCollector, _fast_scan,
                                        _segment_htmlparser)

    def fast(text):
        col = _BlockCollector()
        _fast_scan(text, col)
        col._flush()
        return col.blocks

    # doc A: `<a b=">` ends at EOF (incomplete); doc B: same bytes are a
    # prefix of a complete tag whose value contains the '>'
    pairs = [
        ('<p>x</p><a b=">', '<p>x</p><a b=">y" c=z>tail</a>'),
        ('<p>x</p><a b=">"><i>in</i>', '<p>x</p><a b=">zzz</p>'),
        ("<div d='v'>k</div>", "<div d='v>w'>k</div>"),
        ('<a b=\'"\' c="x>', '<a b=\'"\' c="x>q">w'),
    ]
    for doc_a, doc_b in pairs:
        assert fast(doc_a) == _segment_htmlparser(doc_a), repr(doc_a)
        assert fast(doc_b) == _segment_htmlparser(doc_b), repr(doc_b)
        # and again in reverse order against fresh reference parses
        assert fast(doc_b) == _segment_htmlparser(doc_b), repr(doc_b)
        assert fast(doc_a) == _segment_htmlparser(doc_a), repr(doc_a)


def test_sniff_and_decode():
    assert sniff_kind(b"%PDF-1.4 ...") == "pdf"
    assert sniff_kind(b"<!doctype html><html>") == "html"
    assert sniff_kind("plain words".encode()) == "text"
    assert decode_html("café".encode("utf-8")) == "café"
    latin = "a\xf1o".encode("latin-1")
    assert decode_html(latin) == "a\xf1o"
    declared = b'<meta charset="latin-1"><p>a\xf1o</p>'
    assert "a\xf1o" in decode_html(declared)


def test_meta_charset_walk_matches_regex_and_is_linear():
    """The linear charset sniff reproduces the old regex byte-for-byte and
    stays fast on hostile <meta floods (the regex was quadratic: ~12 ms/doc)."""
    import time as _time

    # the module-level regex IS the reference spec the walk must replicate —
    # import it rather than redefining, so the two can never drift apart
    from ocr_spark.html_extract import _RE_META_CHARSET as rx
    from ocr_spark.html_extract import _find_meta_charset

    def ref(window):
        m = rx.search(window)
        return m.group(1) if m else None

    cases = [
        b'<meta charset="latin-1"><p>x</p>',
        b"<meta charset=utf-8>",
        b"<META CHARSET='UTF-8'>",
        b"<meta foo> charset=x <meta charset=y>",
        b"<meta charset=a charset=b>",      # greedy [^>]+ -> rightmost wins
        b"<metacharset=x>",                  # [^>]+ needs >=1 byte: no match
        b"<metadata charset=iso-8859-15>",  # <meta prefix of a longer name
        b"<meta <meta charset=q>",          # runs span inner '<'
        b"<meta charset=>",                  # empty value: no match
        b'<meta charset="">fallback',
        b"<meta charset",                    # unterminated run, no '='
        b"<meta " * 680,
        (b"<meta " + b"charset=% " * 40) + b"<meta charset=ok>",
    ]
    import random

    rnd = random.Random(7)
    toks = [b"<meta", b"charset=", b">", b"<", b'"', b"'", b" ", b"utf-8",
            b"charse", b"<meta>", b"\xff", b"=", b"x"]
    cases += [b"".join(rnd.choice(toks) for _ in range(rnd.randint(0, 12)))
              for _ in range(2000)]
    for w in cases:
        assert _find_meta_charset(w) == ref(w), w

    flood = (b"<meta " * 680)[:4090] + b"\xff" + b" tail" * 1000
    t = _time.perf_counter()
    for _ in range(50):
        decode_html(flood)
    per_doc = (_time.perf_counter() - t) / 50
    assert per_doc < 0.002, f"charset sniff super-linear again: {per_doc*1e3:.2f} ms/doc"


def test_hostile_html_floods_are_bounded():
    """Adversarial tag soup cannot go quadratic: EOF-scan memos (comment /
    marked-section closes, '>' searches), cache-key slice gating, and the
    locate-start work budget keep every 1 MB flood under ~2 s (was minutes
    to hours for several of these shapes)."""
    import time as _time

    MB = 1_000_000
    hostiles = [
        b"<!--x--" * 140_000,            # comment-close teasers
        b"<![CDATA[" * 100_000,          # marked-section floods
        b"<![if x" * 140_000,            # MS marked-section floods
        b"</a " * 250_000,               # '>'-starved end tags
        b"</a x" * 190_000 + b">",       # far '>' cache-key slices
        b"<a " * 330_000,                # locate-start to EOF per tag
        b'<a b="c>' * 120_000,           # quoted '>' re-scan soup
        b"<?php " * 160_000,             # PI floods
        b"<meta " * 160_000,             # charset-sniff floods
    ]
    for h in hostiles:
        t0 = _time.perf_counter()
        out1 = extract_tier1(h)
        out2 = tier2_from_blocks(_segment(h))
        # generous smoke cap: the worst shape (locate-start budget) costs
        # ~3.6 s for both tiers on an idle box — the quadratic failure modes
        # this guards against took minutes to hours.  Linear growth itself
        # is evidenced by the committed scaling measurements (ROUND3_NOTES
        # §19), not by this wall-clock bound.
        assert _time.perf_counter() - t0 < 10.0, h[:24]
        # deterministic under repetition (budget is char-counted, not timed)
        assert extract_tier1(h) == out1
        assert tier2_from_blocks(_segment(h)) == out2


def test_malformed_html_degrades_not_crashes():
    text, conf = extract_tier1(b"<div><<<>>> <p unterminated")
    assert isinstance(text, str)
    t2, _, spans = tier2_from_blocks(
        _segment(b"\x00\xff\xfe garbage bytes <"))
    assert isinstance(t2, str) and isinstance(spans, list)


def test_spans_detect_field_shapes():
    text = "DNI 77612097T\nCIF B76261874\nmatricula 1177MTM\n26-07-2016"
    spans = detect_spans(text)
    fields = {s["field"] for s in spans}
    assert {"doc_number", "cif", "plate", "date"} <= fields
    for s in spans:
        assert text[s["start"]:s["end"]]  # spans index the extracted text


def test_decode_html_hostile_declared_charset():
    """'idna'/'punycode' are registered codecs but not byte decoders —
    they raise UnicodeError even with errors='replace', and decode_html
    runs BEFORE any per-page try/except, so an uncaught error is one
    hostile page killing the whole job.  Must degrade to latin-1."""
    from ocr_spark.html_extract import decode_html
    for cs in (b"idna", b"punycode", b"base64_codec", b"nonexistent-cs"):
        page = (b'<meta charset="' + cs + b'">\xff\xfe high bytes')
        out = decode_html(page)
        assert isinstance(out, str) and "high bytes" in out
