"""Text-analysis operators for training-data pipelines.

All four are pure Column-expression pipelines (JVM-side, whole-stage
codegen, no Python workers) and each has a DuckDB oracle twin in
``__spark_entry__.oracle_sql()``:

* :func:`token_count`        — whitespace tokenization count
* :func:`language_id`        — deterministic marker-based n-gram heuristic
* :func:`quality_features`   — length / punctuation / digit / token stats
  with a composite keep/drop verdict (the C4-style quality gate of a
  pretraining pipeline)
* :func:`fingerprint`        — md5 document fingerprint over the
  whitespace-canonicalized lowercased text (exact-dedup key)
* :func:`token_count_bpe`    — GPT-2-style pre-tokenizer count (RE2-safe
  regex, so the DuckDB oracle counts identically)
* :func:`winnowing_fingerprints` — rolling-hash winnowing (MOSS scheme);
  the one pandas-UDF operator here, numpy-vectorized per Arrow batch
* :func:`corpus_clean`       — the COMPOSED admission filter (quality +
  language allowlist + exact-dup keeper) with per-doc drop reasons
* :func:`drop_repeated_lines` — CCNet-style boilerplate-line removal
  (line document-frequency → anti-join → order-preserving reassembly)

The DataFrame operators read documents as ``doc_id``/``text`` (strata
from ``lang``).

Scale: the per-doc operators are narrow Column-expression maps — no
shuffle, no Python; a 100 TB scan stays I/O-bound.  corpus_clean adds one
window shuffle (dup keeper) and drop_repeated_lines one groupBy shuffle on
the line hash (map-side combinable) + an anti-join against the (tiny)
frequent-line set.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# Marker-token lists for the tiny deterministic language classifier.  Chosen
# for the harness corpus languages; the SQL oracle uses the same lists.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "und", "die", "nicht", "das"),
    "fr": ("le", "les", "des", "une", "est"),
    "es": ("el", "los", "que", "una", "del"),
    "en": ("the", "and", "of", "is", "that"),
}


def token_count(text: Column) -> Column:
    """Number of whitespace-separated tokens (0 for empty/blank; NULL
    passes through).

    Counts NON-EMPTY split pieces rather than trimming first: ``F.trim``
    removes only ASCII spaces, so ``'\\n'`` would read as two empty
    tokens and ``'\\na b'`` as three — every boundary tab/newline
    inflated the count by one, violating the 0-for-blank contract.  The
    DuckDB twin deliberately uses a DIFFERENT formulation (count of
    maximal ``\\S+`` runs) so the rule is cross-checked, not mirrored."""
    return F.size(F.filter(F.split(text, r"\s+"),
                           lambda t: t != "")).cast("bigint")


def _has_marker(text: Column, words: tuple[str, ...]) -> Column:
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    cond = F.lit(False)
    for w in words:
        cond = cond | padded.contains(f" {w} ")
    return cond


def language_id(text: Column) -> Column:
    """Deterministic language guess: CJK range, then marker words, else 'und'.

    A real pipeline would plug a fastText model in via
    :func:`language_id_model`; this operator keeps the *plan shape*
    (narrow projection) with a fully reproducible heuristic.
    """
    expr = F.when(text.rlike(r"[一-鿿]"), F.lit("zh"))
    for lang in ("de", "fr", "es", "en"):
        expr = expr.when(_has_marker(text, LANG_MARKERS[lang]), F.lit(lang))
    return expr.otherwise(F.lit("und"))


def language_id_model(df: DataFrame, model_fn=None) -> DataFrame:
    """Language-ID with a pluggable model slot (production shape):
    appends ``lang_pred``.

    ``model_fn`` has the fastText-style batch signature
    ``list[str] -> list[str]`` (one ISO-ish label per input).  It is
    wrapped in an Arrow-batched pandas UDF, so a real classifier loads
    once per executor (put the heavyweight load inside ``model_fn``'s
    closure/module, not per call) and scores thousands of rows per batch.
    With ``model_fn=None`` the oracle-checked :func:`language_id`
    heuristic is used — same output column, no Python workers.

    Either way the plan stays a NARROW projection over the input — no
    shuffle, no join — so a 100 TB scan remains I/O-bound (pinned by
    ``tests/test_operators.py::test_language_id_model_hook``).
    """
    if model_fn is None:
        return df.withColumn("lang_pred", language_id(F.col("text")))

    @pandas_udf(T.StringType())
    def _predict(text: pd.Series) -> pd.Series:
        labels = model_fn([t or "" for t in text])
        return pd.Series(list(labels), dtype="object")

    return df.withColumn("lang_pred", _predict(F.col("text")))


# function-word list shared by the stopword ratio in Spark and its DuckDB
# twin (en + es + de high-frequency words; lowercase match)
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "for",
             "el", "la", "los", "las", "de", "del", "y", "en", "un", "una",
             "que", "es", "der", "die", "das", "und", "ein")

# single-pass stopword-occurrence counter: ' word(?= )' over the
# space-canonicalized padded text counts exactly the whitespace tokens
# equal to a stopword (the lookahead leaves the trailing space for an
# adjacent stopword's leading-space match).  One JVM regex scan instead
# of an interpreted per-token HOF isin — ~5x cheaper per row; equality
# with the HOF formula is pinned by test_stopword_count_formulas_agree.
_STOP_COUNT_RE = " (?:" + "|".join(STOPWORDS) + ")(?= )"


def _stopword_count(text: Column) -> Column:
    canon = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    padded = F.concat(F.lit(" "), canon, F.lit(" "))
    return F.size(F.regexp_extract_all(padded, F.lit(_STOP_COUNT_RE), 0))


def quality_features(df: DataFrame) -> DataFrame:
    """Append quality-feature columns + a composite ``quality_ok`` verdict.

    Features (all integer arithmetic → engine-portable):
      n_chars, n_tokens, avg_token_len ×100 (int), digit_ratio ×1000 (int),
      upper_ratio ×1000 (int), punct_ratio ×1000 (non-letter non-digit
      non-space chars), stopword_ratio ×1000 (function-word tokens — a
      natural-language-ness signal: prose has plenty, boilerplate/menus and
      gibberish have few).  Verdict: 20 ≤ n_chars, ≥ 5 tokens, 2 ≤ avg
      token len ≤ 12, digits < 30%.
    """
    text = F.col("text")
    # materialize the shared regex scans ONCE as helper columns: the ratio
    # and verdict expressions below reference each of them several times,
    # and inlined (non-aliased) subtrees are re-evaluated per reference —
    # measured 4-6x the per-row cost on real corpora
    base = (df
            .withColumn("_qf_nc", F.length(text))
            .withColumn("_qf_nt", token_count(text))
            .withColumn("_qf_nd",
                        F.length(F.regexp_replace(text, r"[0-9]", "")))
            .withColumn("_qf_nu",
                        F.length(F.regexp_replace(text, r"[A-Z]", "")))
            .withColumn("_qf_np",
                        F.length(F.regexp_replace(text,
                                                  r"[^\p{L}\p{N}\s]", "")))
            .withColumn("_qf_ns", _stopword_count(text)))
    n_chars, n_tokens = F.col("_qf_nc"), F.col("_qf_nt")
    avg_len_x100 = F.when(n_tokens > 0,
                          (n_chars * 100 / n_tokens).cast("bigint")).otherwise(F.lit(0))
    digit_x1000 = F.when(n_chars > 0,
                         ((n_chars - F.col("_qf_nd")) * 1000 / n_chars).cast("bigint")
                         ).otherwise(F.lit(0))
    upper_x1000 = F.when(n_chars > 0,
                         ((n_chars - F.col("_qf_nu")) * 1000 / n_chars).cast("bigint")
                         ).otherwise(F.lit(0))
    punct_x1000 = F.when(n_chars > 0,
                         ((n_chars - F.col("_qf_np")) * 1000 / n_chars).cast("bigint")
                         ).otherwise(F.lit(0))
    stop_x1000 = F.when(n_tokens > 0,
                        (F.col("_qf_ns") * 1000 / n_tokens).cast("bigint")
                        ).otherwise(F.lit(0))
    quality_ok = ((n_chars >= 20) & (n_tokens >= 5)
                  & avg_len_x100.between(200, 1200) & (digit_x1000 < 300))
    return (base
            .withColumn("n_chars_calc", n_chars.cast("bigint"))
            .withColumn("n_tokens", n_tokens)
            .withColumn("avg_token_len_x100", avg_len_x100)
            .withColumn("digit_ratio_x1000", digit_x1000)
            .withColumn("upper_ratio_x1000", upper_x1000)
            .withColumn("punct_ratio_x1000", punct_x1000)
            .withColumn("stopword_ratio_x1000", stop_x1000)
            .withColumn("quality_ok", quality_ok)
            .drop("_qf_nc", "_qf_nt", "_qf_nd", "_qf_nu", "_qf_np",
                  "_qf_ns"))


def fingerprint(text: Column) -> Column:
    """md5 over lowercased whitespace-canonicalized text — exact-dedup key.

    Canonicalization (lower + collapse whitespace + trim) makes the key
    robust to formatting-only differences while staying engine-portable.
    """
    canon = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    return F.md5(canon)


# GPT-2-style pre-tokenizer, restricted to the RE2-compatible subset (no
# lookahead) so Spark (Java regex) and DuckDB (RE2) count identically:
# contractions | optional-space letters | optional-space digits |
# optional-space punctuation run | whitespace run.
BPE_PRETOKEN_RE = (r"'(?:s|t|re|ve|m|ll|d)"
                   r"| ?\p{L}+"
                   r"| ?\p{N}+"
                   r"| ?[^\s\p{L}\p{N}]+"
                   r"|\s+")


def token_count_bpe(text: Column) -> Column:
    """Token count under a BPE-ish pre-tokenizer regex (whitespace runs are
    tokens too, as in GPT-2 pre-tokenization) — the cheap proxy for "how
    many LLM tokens is this document" used for corpus budgeting."""
    return F.when(F.length(text) == 0, F.lit(0)).otherwise(
        F.size(F.regexp_extract_all(text, F.lit(BPE_PRETOKEN_RE), 0))
    ).cast("bigint")


def winnowing_fingerprints(df: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03).

    Rolling polynomial hash over character 8-grams; within every window
    of 4 consecutive hashes the minimum is selected (rightmost on ties),
    giving a position-robust fingerprint set whose overlap measures local
    near-duplication — the classic MOSS scheme.  Vectorized numpy per
    Arrow batch; output is the sorted distinct selected hashes.
    """
    k, window = 8, 4
    BASE = np.uint64(1000003)
    POWERS = BASE ** np.arange(k - 1, -1, -1, dtype=np.uint64)  # mod 2^64

    def _one(text: str) -> list[int]:
        data = np.frombuffer(text.lower().encode("utf-8"), dtype=np.uint8)
        n = len(data) - k + 1
        if n <= 0:
            return []
        # polynomial hash of every k-gram, ring Z/2^64 (numpy wraparound) —
        # fully vectorized: n×k window view · powers
        sw = np.lib.stride_tricks.sliding_window_view(data, k).astype(np.uint64)
        h = (sw * POWERS).sum(axis=1, dtype=np.uint64)
        if n <= window:
            return [int(h.min())]
        mins = np.lib.stride_tricks.sliding_window_view(h, window).min(axis=1)
        return sorted({int(x) for x in mins})

    @pandas_udf(T.ArrayType(T.LongType()))
    def _winnow(text: pd.Series) -> pd.Series:
        return pd.Series([
            [v - (1 << 64) if v >= (1 << 63) else v for v in _one(t or "")]
            for t in text])

    return df.select(F.col("doc_id").alias("id"),
                     _winnow(F.col("text")).alias("fingerprints"))


# ---------------------------------------------------------------------------
# corpus-level cleaning (what a pretraining pipeline actually runs)
# ---------------------------------------------------------------------------

def corpus_clean(df: DataFrame) -> DataFrame:
    """The composed pretraining admission filter: quality gate + language
    allowlist (en, es, de, fr) + exact-dup keeper, with a reason code per
    dropped doc.

    Output: every input row + ``keep`` boolean + ``drop_reason`` (null when
    kept; first failing gate otherwise: quality → lang → duplicate).  The
    dup keeper is a map-side-combinable min-id-per-fingerprint aggregate
    joined back on the fingerprint (null-safe key) — NOT a window: a
    pathologically hot fingerprint (billions of identical soft-404 pages)
    partially aggregates before its shuffle and the join side is
    AQE-skew-splittable, where a window would sort the whole duplicate
    group in one unsplittable task.  The gates are Column expressions.
    This is the operator a data pipeline runs nightly — the per-feature
    queries exist for inspection, this one for production.
    """
    feats = quality_features(df)
    lang = language_id(F.col("text"))
    fp = fingerprint(F.col("text"))
    keepers = (df.groupBy(fp.alias("_keep_fp"))
               .agg(F.min(F.col("doc_id")).alias("_keep_id")))
    joined = (feats.withColumn("_fp", fp)
              .join(keepers,
                    F.col("_fp").eqNullSafe(F.col("_keep_fp")), "inner"))
    reason = (F.when(~F.col("quality_ok"), F.lit("low_quality"))
              .when(~lang.isin("en", "es", "de", "fr"), F.lit("lang_filtered"))
              .when(F.col("doc_id") != F.col("_keep_id"),
                    F.lit("exact_duplicate")))
    return (joined
            .withColumn("drop_reason", reason)
            .withColumn("keep", F.col("drop_reason").isNull())
            .select("doc_id", "keep", "drop_reason", "n_chars_calc",
                    "n_tokens"))


def drop_repeated_lines(df: DataFrame, max_doc_freq: int = 2) -> DataFrame:
    """CCNet-style repeated-line removal: drop every line that appears in
    more than ``max_doc_freq`` documents (nav menus, cookie banners,
    copyright footers survive boilerplate stripping as text lines), then
    reassemble each document preserving line order.

    Plan shape: explode lines with position → line-hash document
    frequency (one groupBy shuffle on the hash, map-side combinable) →
    anti-join the frequent set → re-aggregate with ``array_agg`` sorted by
    position.  The joined key is the line hash, never the line text.
    """
    lines = (df.select(F.col("doc_id").alias("id"),
                       F.posexplode(F.split(F.col("text"), "\n"))
                       .alias("pos", "line"))
             .withColumn("lh", F.md5(F.trim(F.lower("line")))))
    # the exploded line frame feeds the document-frequency aggregate AND the
    # anti-join side — materialize once (GC-managed checkpoint blocks, same
    # rationale as dedup.ngram_jaccard_pairs) instead of re-exploding
    lines = lines.localCheckpoint(eager=False)
    freq = (lines.filter(F.trim("line") != "")
            .select("id", "lh").distinct()
            .groupBy("lh").agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_doc_freq)
            .select("lh"))
    kept = lines.join(freq, "lh", "left_anti")
    agg = (kept.groupBy("id")
           .agg(F.array_join(
               F.transform(F.array_sort(F.collect_list(F.struct("pos", "line"))),
                           lambda s: s["line"]),
               "\n").alias("clean_text"),
                F.count("*").alias("n_lines_kept")))
    # every input doc must appear in the output — a 100%-boilerplate page
    # (all lines frequent) keeps an empty clean_text instead of vanishing
    return (df.select(F.col("doc_id").alias("id")).join(agg, "id", "left")
            .select("id",
                    F.coalesce("clean_text", F.lit("")).alias("clean_text"),
                    F.coalesce("n_lines_kept", F.lit(0)).cast("bigint")
                    .alias("n_lines_kept")))


# PII scrub patterns — ordered (specific before general so the phone rule
# cannot eat id/iban digits), Java-regex AND RE2 compatible so the DuckDB
# twin applies the byte-identical rules.  Corpus-level analog of the
# lineage-side Z6 redaction in ocr_spark/textops.py.
#
# The email quantifiers are bounded to the RFC 5321 limits (local part 64,
# domain 255, DNS label 63) rather than open-ended `+`: with `[class]+@`,
# every position inside a class-char run is a match start that the JVM
# engine rescans to the run's end before failing, so a megabyte of
# "aaaa..." with no '@' costs O(n^2) (measured: 16 s at 40 KB, 4x per
# doubling — days at the 5 MB page cap).  Bounding caps the per-start work
# at the quantifier limit, making the scrub linear (1 MB flood: 2.5 s).
# Outputs differ from the unbounded rule only for local parts > 64 chars,
# domains > 255 chars, or a final DNS label > 63 chars (where the excess
# label tail survives after the 63-char window is scrubbed) — none of which
# are deliverable addresses.  The remaining
# rules are safe as-is: IBAN/ID are fully bounded, and the phone rule's
# greedy run is self-limiting — any digit-dense run it rescans is itself a
# match that consumes the input.
PII_RULES: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,255}\.[A-Za-z]{2,63}",
     "[EMAIL]"),
    (r"\b[A-Z]{2}\d{2}[A-Z0-9]{10,30}\b", "[IBAN]"),
    (r"\b[0-9]{8}[A-Z]\b", "[ID]"),          # DNI
    (r"\b[XYZ][0-9]{7}[A-Z]\b", "[ID]"),     # NIE
    (r"\+?[0-9][0-9 .-]{7,}[0-9]", "[PHONE]"),
)


def scrub_pii(text: Column) -> Column:
    """Replace emails, IBANs, Spanish id numbers, and phone-shaped digit
    runs with typed placeholders — the pre-training privacy scrub.

    Pure chained ``regexp_replace`` (JVM codegen, no Python); rule order is
    part of the contract (see :data:`PII_RULES`).
    """
    out = text
    for pattern, repl in PII_RULES:
        out = F.regexp_replace(out, pattern, repl)
    return out


def token_frequencies(df: DataFrame, min_count: int = 2) -> DataFrame:
    """Corpus token-frequency table — the input to tokenizer/vocab training.

    Lowercased whitespace tokens → (token, n_occurrences, n_docs), keeping
    tokens seen at least ``min_count`` times.  One explode + one groupBy
    shuffle on the token (map-side combinable; Zipf head terms partially
    aggregate before the shuffle), so the shuffled volume is the partial
    vocabulary, not the corpus.
    """
    toks = _ws_tokens(df).withColumnRenamed("doc_id", "_doc")
    return (toks.groupBy("token")
            .agg(F.count("*").alias("n_occurrences"),
                 F.countDistinct("_doc").alias("n_docs"))
            .filter(F.col("n_occurrences") >= min_count))


def _ws_tokens(df: DataFrame) -> DataFrame:
    """Shared whitespace tokenization — (doc_id, token) rows, lowercased,
    empties dropped.  :func:`token_frequencies` and :func:`tfidf_top_terms`
    both build on this so their tokenization contract (and the DuckDB
    ``string_split_regex`` twin) can never silently desynchronize."""
    return (df.select("doc_id",
                      F.explode(F.split(F.lower(F.trim(F.col("text"))),
                                        r"\s+")).alias("token"))
            .filter(F.col("token") != ""))


def tfidf_top_terms(df: DataFrame, k: int = 3) -> DataFrame:
    """Per-document top-``k`` TF-IDF terms — the standard keyword /
    topical-signature extractor for corpus curation and search indexing.

    Lowercased whitespace tokens; ``tf`` = in-document term count, ``df`` =
    number of documents containing the term, idf = ln(N/df).  The idf is
    quantized FIRST (``idf_x1e6 = floor(ln(N/df)·1e6)``, one value per
    distinct df) and the score is the exact integer product
    ``score_x1e6 = tf · idf_x1e6``, ranked with a token-string tie-break —
    so ranking and the hash-checked output never touch a float comparison.
    Residual cross-engine float exposure is the ``floor`` boundary of
    ``ln`` itself, confined to the handful of distinct df values (a
    last-ulp ``ln`` divergence between engines only matters if
    ``ln(N/df)·1e6`` lands within ~1e-10 of an integer), not to the
    per-(doc, token) rows.

    Plan shape at corpus scale: one explode feeding two map-side-combinable
    groupBys (per-(doc, token) tf, then per-token df over the tf table — the
    shuffled volume is the partial vocabulary, not the corpus), N as a
    single-row broadcast (no eager ``count()`` action), one join on the
    token (df side is one row per vocab term; Zipf-head skew sits on the
    join key, which AQE's skew-join splits), and one per-document window
    for the top-k.
    """
    toks = _ws_tokens(df)
    # both the join's left side and the df aggregation read the tf table —
    # checkpoint it so the corpus is exploded ONCE, not once per consumer
    tf = (toks.groupBy("doc_id", "token")
          .agg(F.count("*").cast("bigint").alias("tf"))
          .localCheckpoint(eager=False))
    dfreq = tf.groupBy("token").agg(F.count("*").cast("bigint").alias("df"))
    total = df.select(F.count("*").cast("double").alias("_n"))
    scored = (tf.join(dfreq, "token")
              .crossJoin(F.broadcast(total))
              .withColumn(
                  "score_x1e6",
                  F.col("tf")
                  * F.floor(F.log(F.col("_n") / F.col("df")) * F.lit(1e6))
                  .cast("bigint"))
              .drop("_n"))
    w = (Window.partitionBy("doc_id")
         .orderBy(F.col("score_x1e6").desc(), F.col("token").asc()))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("doc_id", "token", "tf", "df", "score_x1e6",
                    F.col("rank").cast("bigint").alias("rank")))


def deterministic_sample(df: DataFrame, fraction: float,
                         salt: str = "sample") -> DataFrame:
    """Reproducible corpus sample: keep rows whose md5(doc_id || salt)
    falls under the fraction threshold.

    Unlike ``DataFrame.sample``/``sampleBy`` (partition-order-dependent
    RNG), the decision is a pure function of the row key — the SAME rows
    are kept at any parallelism level, on re-runs, and in any engine (the
    DuckDB oracle applies the identical rule).  ``salt`` decorrelates
    independent samples over the same corpus.

    The bucket spans [0, 0xFFFFFF] (24 bits), so the keep threshold scales
    by 0x1000000: fraction=1.0 keeps EVERY row (threshold 0x1000000 >
    max bucket) rather than silently dropping the ~1-in-16.7M rows whose
    md5 prefix is ffffff.
    """
    return df.filter(_sample_bucket(salt) < _sample_threshold(fraction))


def stratified_sample(df: DataFrame, fractions: dict[str, float]) -> DataFrame:
    """Per-stratum deterministic sampling — the training-mix operator
    ("keep 100% of lang A, 10% of lang B"), strata from ``lang``.  Strata
    absent from ``fractions`` are dropped; the per-row rule is the same
    keyed md5 bucket as :func:`deterministic_sample` (salt ``mix``), so
    mixes are reproducible and engine-portable (fraction=1.0 strata are
    lossless — see :func:`deterministic_sample`)."""
    bucket = _sample_bucket("mix")
    cond = F.lit(False)
    for stratum, frac in sorted(fractions.items()):
        cond = cond | ((F.col("lang") == stratum)
                       & (bucket < _sample_threshold(frac)))
    return df.filter(cond)


def temperature_mix(df: DataFrame, budget_tokens: int,
                    tau: float = 0.5) -> DataFrame:
    """Temperature-flattened training mix: sample each ``lang`` stratum so
    the kept token mass approximates ``budget_tokens`` split ∝
    ``n_s^tau`` — the multilingual-upsampling recipe of CCNet/XLM-R/LLaMA
    (tau < 1 lifts low-resource strata relative to their raw frequency;
    tau=1 is proportional, tau=0 is uniform across strata).

    Every quantity is INTEGER-exact so the rule is engine-portable and
    hash-checkable: weights are 1 / isqrt(n_s) / n_s for tau 0 / 0.5 / 1
    (``floor(sqrt())`` — IEEE-correctly-rounded sqrt cannot misfloor below
    ~2^40 token counts, and both engines use it), and the per-stratum keep
    threshold over the 24-bit md5 bucket is
    ``min(2^24, (2^24 * budget * w_s) div (W * n_s))`` in arbitrary-
    precision arithmetic (Python int here, HUGEINT in the DuckDB twin).
    Only those three tau values are accepted — a general float power
    cannot be made bit-identical across engines, and these are the three
    canonical settings.

    Per-row selection is the keyed-md5 rule of
    :func:`deterministic_sample` (salt ``mix``): reproducible at any
    parallelism, on re-runs, and across engines.  Rows with a NULL stratum
    are dropped (no meaningful n_s).  Expected kept tokens land under
    ``budget_tokens`` when some stratum clips at keep-all (its excess is
    NOT redistributed — redistribution would make every threshold depend
    on the clip set and the rule no longer a pure function of (stratum,
    counts)).

    Scale shape: one map-side-combinable groupBy on the stratum (stratum
    cardinality ~10^1-10^3 — languages or sources), a driver-side
    threshold computation over that tiny table, and a broadcast equi-join
    + narrow bucket filter back on the corpus.  Nothing corpus-sized
    shuffles.
    """
    import math

    from ocr_spark.localrel import local_df

    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be positive: {budget_tokens}")
    if tau not in (0.0, 0.5, 1.0):
        raise ValueError(f"tau must be 0, 0.5 or 1.0, got {tau!r}")
    counts = (df.filter(F.col("lang").isNotNull())
              .groupBy("lang")
              .agg(F.sum(F.coalesce(token_count(F.col("text")),
                                    F.lit(0))).alias("_n"))
              .collect())  # one row per stratum — tiny by construction
    n_by = {r["lang"]: int(r["_n"]) for r in counts}
    w_by = {s: (1 if tau == 0.0 else
                (math.isqrt(n) if tau == 0.5 else n))
            for s, n in n_by.items()}
    w_total = sum(w_by.values())
    rows = []
    for s, n in sorted(n_by.items()):
        thr = 0 if (n == 0 or w_total == 0) else min(
            1 << 24, ((1 << 24) * budget_tokens * w_by[s]) // (w_total * n))
        rows.append((s, thr))
    stype = df.schema["lang"].dataType.simpleString()
    thr_df = local_df(df.sparkSession, rows,
                      f"lang {stype}, _thr long")  # explicit: rows may be []
    return (df.join(F.broadcast(thr_df), "lang")
            .filter(_sample_bucket("mix") < F.col("_thr"))
            .select(*df.columns))


def _ws_token_array(text: Column) -> Column:
    """Lowercased whitespace token ARRAY — the same tokenization contract
    as :func:`_ws_tokens` (lower + trim + split ``\\s+`` + drop empties)
    in array form, for operators that need per-document n-grams without
    an explode."""
    return F.filter(F.split(F.lower(F.trim(text)), r"\s+"),
                    lambda t: t != "")


def _word_ngrams(toks: Column, n: int) -> Column:
    """Word ``n``-grams (space-joined strings) of a token array — empty
    array when the document has fewer than ``n`` tokens.  Pure Column
    expression (sequence + transform + slice), no Python.

    ``toks`` MUST be a materialized column reference (``F.col``), not a
    computed expression: the lambda body references it per sequence
    element, and an inlined expression subtree (e.g. the regex
    tokenization) would be re-evaluated O(tokens) times per row —
    measured ~9x the per-row cost.  Call sites ``withColumn`` the token
    array first.

    n=2/3 (the repetition-signal hot path) use a ``zip_with`` over
    shifted slices instead of transform+slice: the slices are argument
    arrays evaluated ONCE per row, so per-element work is a plain
    bound-reference concat rather than an O(n) slice copy."""
    if n == 2:
        shift1 = F.slice(toks, 2,
                         F.greatest(F.size(toks) - 1, F.lit(0)))
        z = F.zip_with(toks, shift1,
                       lambda a, b: F.when(b.isNotNull(),
                                           F.concat_ws(" ", a, b)))
        return F.filter(z, lambda x: x.isNotNull())
    if n == 3:
        shift1 = F.slice(toks, 2,
                         F.greatest(F.size(toks) - 1, F.lit(0)))
        shift2 = F.slice(toks, 3,
                         F.greatest(F.size(toks) - 2, F.lit(0)))
        pairs = F.zip_with(toks, shift1,
                           lambda a, b: F.when(b.isNotNull(),
                                               F.concat_ws(" ", a, b)))
        z = F.zip_with(pairs, shift2,
                       lambda ab, c: F.when(ab.isNotNull()
                                            & c.isNotNull(),
                                            F.concat_ws(" ", ab, c)))
        return F.filter(z, lambda x: x.isNotNull())
    return F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    ).otherwise(F.array().cast("array<string>"))


def decontaminate(df: DataFrame, bench: DataFrame, n: int = 13) -> DataFrame:
    """Benchmark decontamination — flag training documents sharing any
    word ``n``-gram with an evaluation set (the standard 13-gram overlap
    rule used for pre-training eval-set hygiene).

    Appends ``n_contaminated_ngrams`` (distinct contaminated grams in the
    document, bigint) and ``contaminated`` (bool).  Tokenization is the
    shared whitespace contract of :func:`_ws_tokens`; grams are compared
    by md5 so the broadcast set and join keys stay fixed-width regardless
    of gram text length.

    Plan shape at corpus scale: the eval set is tiny by definition → its
    distinct gram-md5 set is BROADCAST; the corpus side is one narrow
    pass (token array → per-doc ``array_distinct`` n-grams → explode →
    broadcast semi-join), so nothing corpus-sized ever shuffles — the
    only exchange is the (doc_id, hit-count) pairs of matched docs, and
    the final annotate join is AQE-broadcastable for the same reason.
    Per-doc ``array_distinct`` happens BEFORE the explode, so distinct
    counting needs no corpus-wide shuffle.
    """
    # token arrays materialize as columns before `_word_ngrams` — see
    # repetition_features: an inlined tokenization inside the transform
    # lambda re-runs per sequence element
    bench_grams = (bench
                   .withColumn("_toks",
                               _ws_token_array(F.col("text")))
                   .select(F.explode(
                       _word_ngrams(F.col("_toks"), n)).alias("_gram"))
                   .select(F.md5(F.col("_gram")).alias("_gram_md5"))
                   .distinct())
    doc_grams = (df
                 .withColumn("_toks", _ws_token_array(F.col("text")))
                 .select(
                     F.col("doc_id").alias("_did"),
                     F.explode(F.array_distinct(
                         _word_ngrams(F.col("_toks"), n))).alias("_gram"))
                 .select("_did", F.md5(F.col("_gram")).alias("_gram_md5")))
    hits = (doc_grams.join(F.broadcast(bench_grams), "_gram_md5")
            .groupBy("_did")
            .agg(F.count("*").cast("bigint").alias("n_contaminated_ngrams")))
    out = (df.join(hits, F.col("doc_id") == F.col("_did"), "left")
           .drop("_did"))
    return (out
            .withColumn("n_contaminated_ngrams",
                        F.coalesce(F.col("n_contaminated_ngrams"),
                                   F.lit(0).cast("bigint")))
            .withColumn("contaminated",
                        F.col("n_contaminated_ngrams") > 0))


def repetition_features(df: DataFrame) -> DataFrame:
    """Within-document repetition signals (Gopher-style repetition rules,
    Rae et al. 2021 §A1.1): fraction of duplicate word 2-grams and
    3-grams, and fraction of duplicate non-empty lines.  Highly
    repetitive pages (keyword stuffing, templated listings, degenerate
    boilerplate) score high and fail the ``repetitive`` verdict.

    All ratios are integer ×1000 (portable across engines); duplicates
    are counted per document as ``size(g) - size(array_distinct(g))`` —
    pure array Column expressions, no shuffle, no Python.  Verdict
    thresholds: >20% duplicate 2-grams or >30% duplicate lines
    (Gopher's dup-line-fraction 0.30 / top-2gram 0.20 neighborhood).
    """
    # materialize the token/line arrays as columns FIRST: `_word_ngrams`
    # references its input inside a `transform` lambda, and an inlined
    # expression there is re-evaluated once per sequence element — the
    # regex tokenization would run O(tokens) times per document
    # (measured ~9x slower).  A column reference is a row-value read.
    base = (df.withColumn("_rep_toks",
                          _ws_token_array(F.col("text")))
            .withColumn("_rep_lines", F.filter(
                F.transform(F.split(F.col("text"), r"\r?\n"),
                            lambda l: F.trim(l)),
                lambda l: l != "")))

    def dup_x1000(arr: Column) -> Column:
        size = F.size(arr)
        ndup = size - F.size(F.array_distinct(arr))
        return F.when(size > 0,
                      (ndup * 1000 / size).cast("bigint")).otherwise(
            F.lit(0).cast("bigint"))

    base = (base
            .withColumn("dup_2gram_x1000",
                        dup_x1000(_word_ngrams(F.col("_rep_toks"), 2)))
            .withColumn("dup_3gram_x1000",
                        dup_x1000(_word_ngrams(F.col("_rep_toks"), 3)))
            .withColumn("dup_line_x1000", dup_x1000(F.col("_rep_lines"))))
    return (base
            .withColumn("repetitive",
                        (F.col("dup_2gram_x1000") > 200)
                        | (F.col("dup_line_x1000") > 300))
            .drop("_rep_toks", "_rep_lines"))


def token_shards(df: DataFrame, budget_tokens: int,
                 partitions: int | None = None) -> DataFrame:
    """Token-budget sharding: assign documents, in deterministic id
    order, to training shards of ≈``budget_tokens`` whitespace tokens —
    ``shard_id = floor(tokens_before_this_doc / budget)`` — the corpus →
    fixed-token-budget-shard step of a training-data writer.

    The naive formulation (``sum() over (order by id)`` with no
    partition key) plans as ONE unsplittable global sort+window task —
    a non-starter at corpus scale.  This runs the classic two-phase
    prefix scan instead: range-partition on id + sort within
    partitions, aggregate per-partition token totals (one tiny row per
    partition) to the driver, ship the exclusive prefix offsets back in
    the task closure, and complete the cumulative sum within each
    partition in one vectorized Arrow pass (a running numpy cumsum with
    a cross-batch carry — no second shuffle, and a per-partition window
    would have forced one: the range layout doesn't satisfy a window's
    hash-clustering requirement).  The result is the exact global
    cumsum, and it is partitioning-invariant by construction: offset +
    within-partition cumsum reconstructs the same global prefix no
    matter where the range boundaries fall.

    Returns the skinny assignment table ``(id, n_tokens, shard_id)`` —
    join back on id if full rows are needed; only (id, token-count)
    pairs ever shuffle or cross the Python boundary.
    """
    if budget_tokens <= 0:
        raise ValueError(f"budget_tokens must be positive: {budget_tokens}")
    return (_token_prefix_scan(df, partitions)
            .select("doc_id", "n_tokens",
                    F.expr(f"_tokens_before DIV {int(budget_tokens)}")
                    .alias("shard_id")))


def pack_sequences(df: DataFrame, seq_tokens: int,
                   partitions: int | None = None) -> DataFrame:
    """Fixed-length sequence PACKING assignment: where each document's
    token stream lands when the corpus is concatenated in id order and
    cut into back-to-back ``seq_tokens``-token training sequences (the
    GPT-style packed-pretraining writer — no padding, documents span
    sequence boundaries).

    Returns ``(id, n_tokens, seq_id, seq_offset)``: the document's
    tokens start at offset ``seq_offset`` of sequence ``seq_id`` and run
    forward from there (spanning into following sequences when
    ``seq_offset + n_tokens > seq_tokens``).  Derived entirely from the
    exact global token prefix — same two-phase scan, scale shape, and
    partitioning-invariance as :func:`token_shards`."""
    if seq_tokens <= 0:
        raise ValueError(f"seq_tokens must be positive: {seq_tokens}")
    return (_token_prefix_scan(df, partitions)
            .select("doc_id", "n_tokens",
                    F.expr(f"_tokens_before DIV {int(seq_tokens)}")
                    .alias("seq_id"),
                    F.expr(f"_tokens_before % {int(seq_tokens)}")
                    .alias("seq_offset")))


def _token_prefix_scan(df: DataFrame, partitions: int | None) -> DataFrame:
    """``(id, n_tokens, _tokens_before)`` — the exact exclusive global
    token-prefix sum in id order, via the two-phase scan described in
    :func:`token_shards` (whose docstring is the design note)."""
    n_part = partitions or df.sparkSession.sparkContext.defaultParallelism
    # narrow projection FIRST: only (id, token-count) is ever shuffled or
    # crosses Arrow — document text stays in the scan.  localCheckpoint
    # pins partition placement + within-partition order so the totals
    # pass and the cumsum pass see identical layout (and the corpus is
    # tokenized once, not once per consumer).  NULL text counts as 0
    # tokens: token_count(NULL) is NULL, which pandas' int64 conversion
    # would silently turn into INT64_MIN, poisoning every shard offset
    # after it (while sum() skips NULLs, so the driver totals would
    # disagree with the rows — corrupt assignments, no error).
    rp = (df.select("doc_id",
                    F.coalesce(token_count(F.col("text")),
                               F.lit(0)).alias("_tok"))
          .repartitionByRange(n_part, F.col("doc_id"))
          .sortWithinPartitions("doc_id")
          .withColumn("_pid", F.spark_partition_id())
          .localCheckpoint(eager=False))
    totals = {r["_pid"]: r["t"] for r in
              rp.groupBy("_pid").agg(F.sum("_tok").alias("t")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += int(totals[pid])
    id_type = rp.schema["doc_id"].dataType.simpleString()

    def gen(batches):
        import pandas as pd
        carry = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if carry is None:  # first batch of this partition
                # direct indexing: every non-empty partition produced a
                # totals row (same checkpointed layout) — a missing key
                # is a broken invariant and must fail, not shard from 0
                carry = offsets[int(pdf["_pid"].iloc[0])]
            tok = pdf["_tok"].to_numpy(dtype="int64")
            before = carry + np.concatenate(
                ([0], np.cumsum(tok)[:-1])).astype("int64")
            carry += int(tok.sum())
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "n_tokens": tok,
                                "_tokens_before": before})

    return rp.mapInPandas(
        gen, f"doc_id {id_type}, n_tokens long, _tokens_before long")


def _sample_bucket(salt: str) -> Column:
    return F.conv(F.substring(F.md5(F.concat(F.col("doc_id").cast("string"),
                                             F.lit(salt))), 1, 6),
                  16, 10).cast("bigint")


def _sample_threshold(fraction: float) -> int:
    """Keep threshold over the 24-bit bucket: ``bucket < frac * 2^24``.
    The bucket's maximum value is 0xFFFFFF = 2^24 - 1, so fraction 1.0
    maps to 2^24 and keeps all rows."""
    return int(fraction * 0x1000000)


# --------------------------------------------------------------- surprisal


def _lm_canon(text: Column) -> Column:
    """Casefolded, whitespace-collapsed text — the character stream both
    the model builder and the scorer gram over.  MUST stay expressible
    identically in Spark and the DuckDB twin (lower + '\\s+'→' ' +
    trim), so canonicalization never diverges between engines."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def surprisal_model(seed: DataFrame, n: int = 3,
                    top_vocab: int = 50_000) -> dict:
    """Train a quantized character-``n``-gram surprisal model on *seed*
    — the CCNet recipe (Wenzek et al. 2020 §3.3) of scoring crawl text
    against a small clean reference corpus (they use a Wikipedia KenLM;
    this is the engine-portable integer form).

    Per gram, surprisal is ``floor(log2(total / count))`` bits — an
    exact INTEGER on exact counts, so model and scores are bit-identical
    across engines (no ``ln`` ulp hazards; a power-of-two-quantized LM
    is coarse, but ranking fluency does not need calibrated
    probabilities).  The vocabulary keeps the ``top_vocab`` most
    frequent grams (ties broken bytewise on the gram — deterministic);
    everything else scores the out-of-vocabulary penalty
    ``floor(log2(total)) + 1``, one bit worse than a count-1 gram.

    Scale: *seed* is small by contract (a reference corpus, not the
    crawl — same asymmetry as :func:`decontaminate`'s ``bench``); its
    gram counting is one explode + groupBy on the seed only, and the
    capped vocabulary (≤ ``top_vocab`` rows) collects to the driver for
    closure shipping.  Returns ``{"grams": {gram: bits}, "oov": bits,
    "n": n}``.
    """
    if n < 1:
        raise ValueError(f"n must be positive, got {n}")
    canon = _lm_canon(F.col("text"))
    c = seed.select(canon.alias("_c")).filter(F.length("_c") >= n)
    grams = c.select(F.explode(F.transform(
        F.sequence(F.lit(1), F.length("_c") - F.lit(n - 1)),
        lambda i: F.substring(F.col("_c"), i, n))).alias("_g"))
    counts = grams.groupBy("_g").agg(F.count("*").alias("_cnt"))
    counts = counts.localCheckpoint(eager=False)   # two consumers below
    total = counts.agg(F.sum("_cnt")).collect()[0][0] or 0
    if total == 0:
        return {"grams": {}, "oov": 1, "n": n}
    vocab = (counts.orderBy(F.col("_cnt").desc(), F.col("_g"))
             .limit(top_vocab).collect())
    # exact integer quantization on the driver: floor(log2(x)) of a
    # positive int is bit_length-1
    model = {r["_g"]: (total // r["_cnt"]).bit_length() - 1
             for r in vocab}
    return {"grams": model, "oov": total.bit_length(), "n": n}


def surprisal_score(df: DataFrame, model: dict) -> DataFrame:
    """Append ``lm_grams`` (bigint) and ``surprisal_x1000`` (bigint,
    milli-bits per gram; null when the text is too short to gram) from a
    :func:`surprisal_model`.  Low scores = fluent-under-the-seed text;
    CCNet keeps the low-perplexity head of exactly this ranking.

    Scale shape: the model ships in the task closure (≤ ``top_vocab``
    entries); scoring is ONE Arrow-batched pandas UDF over the
    JVM-canonicalized text — no explode (a per-gram explode would emit
    ~n_chars rows per document), no join, no shuffle; the plan stays a
    narrow projection (plan-pinned).  Canonicalization stays JVM-side so
    the Python worker only slices codepoints — it never re-implements
    case folding.  The DuckDB twin is the explode + left-join + groupBy
    formulation over the same integer model — independent shape, exact
    same values.
    """
    grams, oov, n = model["grams"], int(model["oov"]), int(model["n"])

    @pandas_udf(T.LongType())
    def _gram_bits(canon: pd.Series) -> pd.Series:
        get = grams.get
        out = []
        for s in canon:
            if s is None:
                out.append(0)
                continue
            out.append(sum(get(s[i:i + n], oov)
                           for i in range(len(s) - n + 1)))
        return pd.Series(out, dtype="int64")

    out = (df.withColumn("_lm_c", _lm_canon(F.col("text")))
           .withColumn("lm_grams",
                       F.greatest(F.length("_lm_c") - F.lit(n - 1),
                                  F.lit(0)).cast("bigint"))
           .withColumn("_lm_sum", _gram_bits(F.col("_lm_c"))))
    return (out.withColumn(
        "surprisal_x1000",
        F.when(F.col("lm_grams") > 0,
               F.floor(F.col("_lm_sum") * 1000 / F.col("lm_grams"))))
        .drop("_lm_c", "_lm_sum"))

# -------------------------------------------------- quality classifier

def _tok_counts(df: DataFrame) -> DataFrame:
    """Corpus token counts under the shared whitespace contract —
    ``(_t, _c)`` rows; one explode + one map-side-combinable groupBy."""
    return (df.select(F.explode(
                _ws_token_array(F.col("text"))).alias("_t"))
            .groupBy("_t").agg(F.count("*").alias("_c")))


def quality_classifier_model(seed: DataFrame, background: DataFrame,
                             top_vocab: int = 50_000) -> dict:
    """Train the seed-vs-background QUALITY CLASSIFIER of the GPT-3 /
    CCNet / PaLM curation recipe (Brown et al. 2020 §A; Wenzek et al.
    2020 §3.4; Chowdhery et al. 2022 §B): positive examples are a small
    clean reference corpus, negatives a sample of the raw crawl, and
    every document is scored by how seed-like its tokens are.  This is
    the engine-portable integer Naive-Bayes form of that classifier:
    per-token log-odds in whole bits,

        score(t) = floor(log2((cs+1) * (Tb+V)))
                 - floor(log2((cb+1) * (Ts+V)))

    with cs/cb the token's seed/background counts, Ts/Tb the corpus
    totals, V the distinct-token universe (add-one smoothing) — every
    factor an exact integer, so ``floor(log2(x)) = bit_length(x)-1``
    makes model and scores bit-identical across engines (a whole-bit
    classifier is coarse, but classifier FILTERING only consumes the
    ranking).  Out-of-vocabulary tokens score 0 (neutral) — with
    add-one smoothing an unseen token carries no evidence either way.

    Vocabulary keeps the ``top_vocab`` most frequent tokens by combined
    count (ties bytewise on the token — deterministic across engines).
    At 10^12-doc scale counts fit int64 and the smoothed products stay
    under 2^63 for any real corpus (~2^40 tokens × 2^20 count).

    Scale: BOTH inputs are small by contract — the seed is a reference
    corpus and the background should be a :func:`deterministic_sample`
    of the crawl (the GPT-3 recipe trains on a sample, never the full
    crawl), so counting is two explode+groupBys over small frames and
    the capped vocabulary collects to the driver for closure shipping.
    Returns ``{"tokens": {tok: bits}, "ts": Ts, "tb": Tb, "v": V}``.
    """
    sc = _tok_counts(seed).localCheckpoint(eager=False)
    bc = _tok_counts(background).localCheckpoint(eager=False)
    merged = (sc.withColumnRenamed("_c", "_cs")
              .join(bc.withColumnRenamed("_c", "_cb"), "_t", "full_outer")
              .select("_t",
                      F.coalesce("_cs", F.lit(0)).alias("_cs"),
                      F.coalesce("_cb", F.lit(0)).alias("_cb"))
              .localCheckpoint(eager=False))
    tots = merged.agg(F.sum("_cs").alias("ts"), F.sum("_cb").alias("tb"),
                      F.count("*").alias("v")).collect()[0]
    ts, tb, v = int(tots["ts"] or 0), int(tots["tb"] or 0), int(tots["v"])
    if v == 0:
        return {"tokens": {}, "ts": 0, "tb": 0, "v": 0}
    top = (merged.orderBy((F.col("_cs") + F.col("_cb")).desc(), F.col("_t"))
           .limit(top_vocab).collect())
    tokens = {r["_t"]: ((r["_cs"] + 1) * (tb + v)).bit_length()
              - ((r["_cb"] + 1) * (ts + v)).bit_length()
              for r in top}
    return {"tokens": tokens, "ts": ts, "tb": tb, "v": v}


def quality_classifier_score(df: DataFrame, model: dict) -> DataFrame:
    """Append ``clf_tokens`` (bigint) and ``logodds_x1000`` (bigint,
    milli-bits per token; null for token-less text) from a
    :func:`quality_classifier_model`.  HIGH scores = seed-like text;
    the GPT-3 recipe keeps high-scoring documents (optionally with a
    stochastic Pareto acceptance — compose with
    :func:`deterministic_sample` for the reproducible analog).

    Scale shape (same contract as :func:`surprisal_score`, plan-pinned
    narrow): the model ships in the task closure; canonicalization is
    JVM-side (:func:`_lm_canon`), the Python worker only splits on the
    single canonical space and sums dict lookups — ONE Arrow pass, no
    explode, no join, no shuffle.  The DuckDB twin recomputes the same
    integer model as an explode + full-join + ``length(bin(x))``
    formulation — independent shape, identical values.
    """
    toks = model["tokens"]

    @pandas_udf(T.LongType())
    def _tok_logodds(canon: pd.Series) -> pd.Series:
        get = toks.get
        out = []
        for s in canon:
            if not s:
                out.append(0)
                continue
            out.append(sum(get(t, 0) for t in s.split(" ")))
        return pd.Series(out, dtype="int64")

    out = (df.withColumn("_clf_c", _lm_canon(F.col("text")))
           .withColumn("clf_tokens",
                       F.when(F.length("_clf_c") == 0, F.lit(0))
                       .otherwise(F.size(F.split(F.col("_clf_c"), " ")))
                       .cast("bigint"))
           .withColumn("_clf_sum", _tok_logodds(F.col("_clf_c"))))
    return (out.withColumn(
        "logodds_x1000",
        F.when(F.col("clf_tokens") > 0,
               F.floor(F.col("_clf_sum") * 1000 / F.col("clf_tokens"))))
        .drop("_clf_c", "_clf_sum"))

# ------------------------------------------------------- corpus audit stats

def corpus_stats(df: DataFrame) -> DataFrame:
    """Per-``lang`` corpus audit rollup — the summary table a curation run
    publishes per language/source: document count, token and char
    volumes, and EXACT discrete length percentiles (p50, p90).

    Percentiles are integers (percent) and the rule is integer-exact on
    both engines: ``pK_chars`` is the smallest length ``v`` with
    ``|{len <= v}| >= ceil(K*n/100)`` — i.e. the element at 1-based
    position ``ceil(K*n/100)`` of the sorted multiset.  The threshold is
    computed as ``(K*n + 99) // 100`` so no float multiplication ever
    decides a boundary (``0.9 * 10`` is 9.000000000000002 in IEEE — an
    approx/interpolated percentile could not be hash-checked across
    engines).

    Scale shape: totals are one map-side-combinable groupBy on the
    stratum; percentiles run on the ``(stratum, length) -> count``
    aggregate (also map-side combinable — the shuffled volume is the
    number of DISTINCT lengths per stratum, bounded by the page-size cap
    rather than the corpus), then a cumulative-sum window over those
    skinny rows.  Nothing corpus-sized is ever sorted, unlike a naive
    per-stratum ``sort + pick`` (one unsplittable task per hot language
    at 10^12 docs).
    """
    base = df.select(F.col("lang").alias("stratum"),
                     F.length(F.col("text")).cast("bigint").alias("_len"),
                     token_count(F.col("text")).alias("_tok"))
    base = base.localCheckpoint(eager=False)   # totals + histogram consumers
    totals = (base.groupBy("stratum")
              .agg(F.count("*").alias("n_docs"),
                   F.sum("_tok").alias("total_tokens"),
                   F.sum("_len").alias("total_chars")))
    hist = (base.groupBy("stratum", "_len")
            .agg(F.count("*").alias("_c")))
    w = (Window.partitionBy("stratum").orderBy("_len")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = hist.withColumn("_cum", F.sum("_c").over(w))
    # eqNullSafe joins: groupBy and window both treat NULL as its own
    # stratum, but a plain equi-join would silently drop that row between
    # the two aggregates — an audit table must SHOW the unlabeled slice,
    # not lose it (the DuckDB twin joins IS NOT DISTINCT FROM)
    joined = (cum.join(
        F.broadcast(totals.select(F.col("stratum").alias("_ts"), "n_docs")),
        F.col("stratum").eqNullSafe(F.col("_ts"))).drop("_ts"))
    picks = joined.groupBy("stratum").agg(*[
        F.min(F.when(
            F.col("_cum") >= F.expr(f"(n_docs * {int(p)} + 99) div 100"),
            F.col("_len"))).alias(f"p{p}_chars")
        for p in (50, 90)])
    return (totals.join(picks.withColumnRenamed("stratum", "_ps"),
                        F.col("stratum").eqNullSafe(F.col("_ps")))
            .drop("_ps")
            .select(F.col("stratum").alias("lang"), "n_docs",
                    "total_tokens", "total_chars", "p50_chars", "p90_chars"))
