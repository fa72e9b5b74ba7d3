"""URL canonicalization — the identity step of a web-corpus pipeline.

Dedup, resume anti-joins, and lineage digests all key on ``url``; raw crawl
urls for the same resource differ in case, default ports, trailing slashes,
fragments, and query-parameter order.  :func:`canonical_url` normalizes
those, as a pure Column expression (JVM codegen, no Python), with a DuckDB
twin in ``__spark_entry__.oracle_sql()`` so the exact rule set is
value-checked across engines.

Rules (each deliberate, mirroring common crawl-dedup practice):
* strip the fragment (``#...`` never reaches the server);
* lowercase the scheme and the host (case-insensitive by RFC 3986);
* drop default ports (``http:80``, ``https:443``);
* drop a single trailing slash from a non-root path;
* sort query parameters bytewise (order is almost never semantic);
  a trailing lone ``?`` is dropped.

Path case, userinfo case (``user:pass@`` is case-SENSITIVE per RFC 3986),
non-default ports, and duplicate query keys are preserved — they CAN be
semantic, and a canonicalizer must never merge two genuinely different
resources.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window, functions as F


def host_of(url: Column) -> Column:
    """Lowercased host[:port] of a url, excluding any ``userinfo@`` prefix
    (empty string when unparseable)."""
    auth = F.regexp_extract(url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)
    # substring after the last '@' (whole string when none) — identical to
    # regexp_extract(auth, r"([^@]*)$", 1) but linear: the regex form makes
    # the JVM rescan to the late '@' from every start position, O(n^2) on an
    # "aaa...a@" authority flood (~9 s at 40 KB, measured).
    return F.lower(F.substring_index(auth, "@", -1))


def canonical_url(url: Column) -> Column:
    """Canonical form of *url* per the module rules (Column expression)."""
    u = F.regexp_replace(url, r"#.*$", "")          # strip fragment
    scheme = F.lower(F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    auth = F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?]*)", 1)
    userinfo = F.regexp_extract(auth, r"^(.*)@", 1)  # case preserved
    # linear last-'@' split; see host_of for the quadratic-regex rationale
    host = F.lower(F.substring_index(auth, "@", -1))
    host = (
        F.when((scheme == "http") & host.endswith(":80"),
               host.substr(F.lit(1), F.length(host) - 3))
        .when((scheme == "https") & host.endswith(":443"),
              host.substr(F.lit(1), F.length(host) - 4))
        .otherwise(host))
    hostport = F.when(userinfo != "",
                      F.concat(userinfo, F.lit("@"), host)).otherwise(host)
    path_q = F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*(.*)$", 1)
    path = F.regexp_extract(path_q, r"^([^?]*)", 1)
    query = F.regexp_extract(path_q, r"^[^?]*\?(.*)$", 1)
    path = F.when((F.length(path) > 1) & path.endswith("/"),
                  path.substr(F.lit(1), F.length(path) - 1)).otherwise(path)
    sorted_q = F.array_join(F.array_sort(F.split(query, "&")), "&")
    return F.when(scheme == "", url).otherwise(F.concat(
        scheme, F.lit("://"), hostport, path,
        F.when(F.length(sorted_q) > 0,
               F.concat(F.lit("?"), sorted_q)).otherwise(F.lit(""))))


def bare_host(url: Column) -> Column:
    """Lowercased host of a url with any ``:port`` stripped — the form
    domain blocklists are keyed on.  Empty string when unparseable.

    The strip is digits-after-colon-at-end, NOT first-colon: a bracketed
    IPv6 authority ``[::1]:8080`` yields ``[::1]`` (first-colon would
    collapse every IPv6 host to ``[`` — one shared cap/profile group).

    A single trailing dot (the DNS root label: ``bad.example.`` resolves
    identically to ``bad.example`` in every browser) is also stripped —
    otherwise a crawler-controlled root-dot FQDN bypasses the blocklist
    entirely (``host_domain_suffixes('bad.example.')`` yields only
    dotted suffixes, which never equal the dotless blocklist entries)
    and splits cap/profile groups.  One dot only: ``example.com..`` is
    not a resolvable DNS name and stays distinct rather than being
    silently merged."""
    return F.regexp_replace(
        F.regexp_replace(host_of(url), r":[0-9]+$", ""),
        r"^(.*[^.])\.$", "$1")


def host_domain_suffixes(host: Column) -> Column:
    """Array of every dot-suffix of *host*, most-specific first:
    ``a.b.example.com`` → ``[a.b.example.com, b.example.com,
    example.com, com]``.  Empty array for an empty host.

    ``host`` MUST be a materialized column reference (``F.col``) — the
    ``transform`` lambda would re-split an inlined expression once per
    label (see ``_word_ngrams``).  Call sites ``withColumn`` the host
    first.
    """
    parts = F.split(host, r"\.")
    n = F.size(parts)
    # null/empty guard first: size(null)=-1 would make sequence(1,-1)
    # DESCEND through [1,0,-1] and explode three null suffixes per row
    return F.when(host.isNull() | (host == ""),
                  F.array().cast("array<string>")).otherwise(
        F.transform(F.sequence(F.lit(1), n),
                    lambda i: F.array_join(F.slice(parts, i, n - i + 1),
                                           ".")))


def blocklist_annotate(df: DataFrame, blocked: DataFrame) -> DataFrame:
    """Annotate each ``doc_id`` row with the blocklist ``domain`` its
    ``url`` host falls under — the UT1/RefinedWeb-style adult/spam domain
    filter (Penedo et al. 2023 §3.1 run domain blocklists as the first URL
    gate).

    A host matches a blocklist entry when it IS the entry or is a
    subdomain of it (``news.bad.example`` matches ``bad.example`` but
    ``notbad.example`` does not — label-boundary, not substring).  When
    several entries match, the longest (most specific) wins
    deterministically.  Appends ``blocked_domain`` (string, null when
    clean) and ``url_blocked`` (bool).

    Scale shape (decontaminate's): the corpus side is one narrow pass —
    host → dot-suffix array → explode (≤ label-count rows per doc, id +
    suffix only) → **broadcast** equi-join against the blocklist (UT1's
    largest category is ~4M domains ≈ 10^2 MB, inside broadcast range;
    drop the hint and the same equi-join shuffles by suffix if a list
    ever outgrows it).  Only MATCHED ids reach the tiny longest-match
    aggregate, and the annotate join back is AQE-broadcastable for the
    same reason.  Nothing corpus-sized ever shuffles.  Punycode/IDN
    hosts are matched literally (blocklists ship punycode forms).
    """
    hosts = (df.select(F.col("doc_id").alias("_bid"),
                       bare_host(F.col("url")).alias("_bhost"))
             .withColumn("_bsuf",
                         F.explode(host_domain_suffixes(F.col("_bhost"))))
             .select("_bid", "_bsuf"))
    entries = (blocked
               .select(F.lower(F.trim(F.col("domain"))).alias("_bsuf"))
               .filter(F.col("_bsuf") != "").distinct())
    # two same-length suffixes of one host are necessarily equal, so
    # max_by on length is total — no hidden tie-break
    hits = (hosts.join(F.broadcast(entries), "_bsuf")
            .groupBy("_bid")
            .agg(F.max_by(F.col("_bsuf"),
                          F.length(F.col("_bsuf"))).alias("blocked_domain")))
    return (df.join(hits, F.col("doc_id") == F.col("_bid"), "left")
            .drop("_bid")
            .withColumn("url_blocked", F.col("blocked_domain").isNotNull()))


_ROBOTS_NAME_FIRST = (r"(?is)<meta\b[^>]*\bname\s*=\s*['\"]robots['\"]"
                      r"[^>]*\bcontent\s*=\s*['\"]([^'\"]*)['\"]")
_ROBOTS_CONTENT_FIRST = (r"(?is)<meta\b[^>]*\bcontent\s*=\s*"
                         r"['\"]([^'\"]*)['\"][^>]*\bname\s*=\s*"
                         r"['\"]robots['\"]")
_CANON_REL_FIRST = (r"(?is)<link\b[^>]*\brel\s*=\s*['\"]canonical['\"]"
                    r"[^>]*\bhref\s*=\s*['\"]([^'\"]*)['\"]")
_CANON_HREF_FIRST = (r"(?is)<link\b[^>]*\bhref\s*=\s*['\"]([^'\"]*)['\"]"
                     r"[^>]*\brel\s*=\s*['\"]canonical['\"]")


def meta_directives(df: DataFrame) -> DataFrame:
    """Crawl-directive extraction — the respect-the-publisher gates a
    training-corpus ingest applies before anything else:

    * ``noindex`` (bool): the page carries ``<meta name="robots">`` whose
      content lists the ``noindex`` token (either attribute order) —
      the publisher asked not to be indexed; a compliant corpus drops it.
    * ``canonical_url`` (string, null when absent): the
      ``<link rel="canonical">`` target — the publisher's own statement
      that this page duplicates another.
    * ``dedup_url``: ``coalesce(canonical_url, url)`` — the key exact
      dedup should group on, so the 50 pagination/tracking variants of
      one article collapse to the canonical member without content
      hashing.

    Pure JVM ``regexp_extract`` over the ``html`` column (string or binary —
    binary is UTF-8-cast; charset-exotic pages degrade to not-detected),
    so the gate costs a narrow scan projection and can run BEFORE the
    Python extraction stage.  Contract: QUOTED attribute values (single
    or double), first match wins; unquoted values — vanishingly rare for
    these two tags — are not detected.  The HTTP ``X-Robots-Tag`` header
    form lives outside the page bytes and is the crawler's job."""
    h = F.col("html").cast("string")
    robots = F.lower(F.coalesce(
        F.nullif(F.regexp_extract(h, _ROBOTS_NAME_FIRST, 1), F.lit("")),
        F.nullif(F.regexp_extract(h, _ROBOTS_CONTENT_FIRST, 1), F.lit("")),
        F.lit("")))
    canonical = F.coalesce(
        F.nullif(F.regexp_extract(h, _CANON_REL_FIRST, 1), F.lit("")),
        F.nullif(F.regexp_extract(h, _CANON_HREF_FIRST, 1), F.lit("")))
    return (df
            .withColumn("noindex",
                        robots.rlike(r"(^|[,\s])noindex([,\s]|$)"))
            .withColumn("canonical_url", canonical)
            .withColumn("dedup_url",
                        F.coalesce(F.col("canonical_url"), F.col("url"))))


def host_profile(df: DataFrame) -> DataFrame:
    """Per-host reputation rollup — the domain-statistics table web-corpus
    pipelines maintain for URL-level scoring and audits (doc counts,
    admission rates, volume per registrable host).

    Output: ``host`` (of ``url``), ``n_docs``, ``n_ok`` (rows where
    ``quality_ok`` is true), ``total_chars`` (of ``text``), ``ok_x1000``
    (floor ratio).  ``quality_ok`` is whatever boolean verdict the caller
    computed — the operator is the rollup, not the judgement.

    Scale: one map-side-combinable aggregate keyed on
    :func:`bare_host` — host cardinality (~10^8) is far below doc
    cardinality, so partial aggregation collapses each input partition
    before the exchange (plan-pinned).
    """
    return (df.groupBy(bare_host(F.col("url")).alias("host"))
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.sum(F.col("quality_ok").cast("bigint")).alias("n_ok"),
                 F.sum(F.length(F.col("text")).cast("bigint"))
                 .alias("total_chars"))
            .withColumn("ok_x1000",
                        F.floor(F.col("n_ok") * 1000 / F.col("n_docs"))))


def host_cap(df: DataFrame, max_per_host: int,
             order_col: Optional[str] = None) -> DataFrame:
    """Keep at most *max_per_host* rows per ``url`` host — the per-host
    output cap every crawl-curation pipeline applies so that mega-hosts
    (wikis, forges, link farms) cannot dominate the training mix.

    Selection is deterministic: rows are ranked within their host by
    ``order_col`` ascending (when given) then ``doc_id`` ascending, and
    ranks ≤ *max_per_host* survive.  Columns pass through unchanged.

    Scale: a window + ``rank <= k`` FILTER is the shape Spark ≥ 3.5's
    ``InferWindowGroupLimit`` rewrites with a partial
    ``WindowGroupLimit`` BELOW the exchange (plan-pinned in
    tests/test_plans.py), so every input partition ships at most
    *max_per_host* rows per host — a billion-page host costs the
    shuffle ``max_per_host × input-partitions`` rows, not a billion.
    (The tagging form of this rule — rank feeding an expression — loses
    that pruning; see docs/ROUND3_NOTES.md §24.)
    """
    if max_per_host <= 0:
        raise ValueError(f"max_per_host must be positive, got {max_per_host}")
    order = ([F.col(order_col).asc_nulls_last()] if order_col else []) \
        + [F.col("doc_id").asc()]
    w = Window.partitionBy(bare_host(F.col("url"))).orderBy(*order)
    return (df.withColumn("_hc_rn", F.row_number().over(w))
            .filter(F.col("_hc_rn") <= max_per_host)
            .drop("_hc_rn"))
