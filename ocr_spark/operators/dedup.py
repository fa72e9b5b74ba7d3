"""Deduplication operators for web-scale corpora.

Five families, each a standard pretraining-pipeline building block:

* :func:`exact_duplicates` / :func:`dedup_exact` — md5-fingerprint groupBy
  (one shuffle; the canonical keeper is min(id) per group)
* :func:`minhash_signatures` + :func:`minhash_candidates` +
  :func:`near_duplicates_minhash` — MinHash (k permutations, numpy-
  vectorized in a pandas UDF) banded JVM-side into LSH buckets; candidate
  pairs come from a band-key self-join (shuffle on band key, never a cross
  join), then exact shingle-Jaccard verification
  (:func:`_shingle_jaccard_udf`)
* :func:`simhash64` + :func:`near_duplicates_simhash` — 64-bit SimHash;
  Hamming-≤k retrieval via the pigeonhole trick (split into k+1 chunks,
  exact-match join on any chunk), verification with native ``bit_count``
* :func:`ngram_jaccard_pairs` — exact token-n-gram Jaccard via
  explode→self-join→count (fully SQL-expressible)
* :func:`near_duplicates_embedding` — cosine near-dup over an
  ``array<float>`` column; brute pair path for verification and a BANDED
  (OR-amplified) random-hyperplane LSH path for scale
* :func:`duplicate_clusters` + :func:`dedup_near_minhash` — connected-
  component resolution of any pair list into keeper-per-cluster (the
  near-dup analog of :func:`dedup_exact`)

Scale notes (10^12 docs): every candidate generator here is
join-on-short-key — the shuffles are on (band, key) pairs whose
cardinality is O(rows·bands), and hot buckets (boilerplate n-grams) are
bounded by :data:`MAX_BUCKET` to keep the self-join from exploding on skew
(AQE skew-join handles the rest).  Signatures are fixed-width arrays —
~1 KB/row at k=128 — so the signature shuffle is far cheaper than text.

Text operators read ``doc_id``/``text``, embedding operators
``vec_id``/``embedding``.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ocr_spark.operators.textstats import fingerprint, _ws_token_array

SEED = 0x5EED
# MinHash: signature length, LSH bands, shingle width in words.  One set
# for every MinHash path, so the signature history fold_history writes and
# the banding near_dedup_incremental reads always share a key universe.
K = 128
BANDS = 32
SHINGLE_WIDTH = 3
# n-grams shared by more than this many docs are dropped before the
# ngram_jaccard_pairs self-join (the skew guard)
MAX_BUCKET = 1000
# embedding LSH: bands × hyperplanes per band
EMBED_BANDS = 8
PLANES_PER_BAND = 8


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------

def exact_duplicates(df: DataFrame) -> DataFrame:
    """Duplicate groups: (fingerprint, n_dups, keep_id) for groups of ≥2."""
    return (df
            .select(F.col("doc_id").alias("id"), fingerprint(F.col("text")).alias("fp"))
            .groupBy("fp")
            .agg(F.count("*").alias("n_dups"), F.min("id").alias("keep_id"))
            .filter(F.col("n_dups") >= 2)
            .select(F.col("fp").alias("fingerprint"), "n_dups", "keep_id"))


def dedup_exact(df: DataFrame) -> DataFrame:
    """Keep the lowest-id row per fingerprint (stable, deterministic).

    groupBy + ``min_by(struct)``: ``partial_min_by`` collapses a
    pathologically hot fingerprint (billions of identical soft-404 /
    empty pages — real at crawl scale) to ONE candidate row per input
    partition before the shuffle.  A ``row_number``-window-plus-
    ``rn == 1``-filter compiles to the same map-side pruning in Spark ≥
    3.5 (partial ``WindowGroupLimit``), but only when the optimizer's
    filter-shape inference fires — the aggregate states the top-1-per-
    group intent directly instead of relying on that rule."""
    cols = df.columns
    return (df.groupBy(fingerprint(F.col("text")).alias("_fp"))
            .agg(F.min_by(F.struct(*cols), F.col("doc_id")).alias("_row"))
            .select("_row.*"))


# ---------------------------------------------------------------------------
# shingling + MinHash
# ---------------------------------------------------------------------------

_MERSENNE = (1 << 61) - 1
_MAX_HASH = (1 << 32) - 1


def _hash_params() -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(SEED)
    a = rng.randint(1, _MERSENNE, size=K, dtype=np.int64)
    b = rng.randint(0, _MERSENNE, size=K, dtype=np.int64)
    return a, b


def _hash64(s: str) -> int:
    """Stable 64-bit string hash (Python's ``hash()`` is salted per-process;
    blake2b runs at C speed, unlike a per-byte Python FNV loop)."""
    return int.from_bytes(
        hashlib.blake2b(s.encode("utf-8"), digest_size=8).digest(), "big")


def _hash64_md5(s: str) -> int:
    """64-bit token hash = little-endian first 8 md5 bytes — chosen so an
    independent SQL engine can recompute it (DuckDB ``md5_number_upper``),
    making the SimHash pair set exact-oracle-checkable.  Any uniform
    64-bit hash is equally correct for SimHash; this one is the only one
    both engines share."""
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8],
                          "little")


def _gram_coef(width: int) -> np.ndarray:
    """Position coefficients for the w-gram combine (odd → invertible mod
    2^64, so token order matters: "a b c" and "c b a" hash differently).
    Deterministic for ANY width (seeded, memoized)."""
    coef = _GRAM_COEF_CACHE.get(width)
    if coef is None:
        rng = np.random.RandomState(SEED ^ width)
        coef = (rng.randint(0, 1 << 62, size=width).astype(np.uint64)
                * np.uint64(2) + np.uint64(1))  # force odd
        _GRAM_COEF_CACHE[width] = coef
    return coef


_GRAM_COEF_CACHE: dict[int, np.ndarray] = {}


def _shingles(text: str, width: int,
              cache: dict[str, int] | None = None) -> np.ndarray:
    """Hashed word-``width``-gram shingles (uint64), deduplicated.

    Vectorized: each UNIQUE token is blake2b-hashed once (``cache`` memo —
    Zipfian reuse makes this ~100x fewer hash calls than per-gram hashing),
    then w-gram hashes are a numpy sliding-window linear combine in the
    2^64 ring.  Any stable hash works here: shingle hashes only feed
    MinHash/LSH and set-Jaccard, both hash-universe-agnostic.
    """
    tokens = text.lower().split()
    if not tokens:
        return np.zeros(0, dtype=np.uint64)
    if cache is None:
        cache = {}
    get = cache.get
    th = np.empty(len(tokens), dtype=np.uint64)
    for i, t in enumerate(tokens):
        h = get(t)
        if h is None:
            h = _hash64(t)
            cache[t] = h
        th[i] = h
    w = min(width, len(tokens))
    sw = np.lib.stride_tricks.sliding_window_view(th, w)
    grams = (sw * _gram_coef(w)[None, :]).sum(axis=1, dtype=np.uint64)
    return np.unique(grams)


def _minhash_from_shingles(sh: np.ndarray, a: np.ndarray,
                           b: np.ndarray) -> np.ndarray:
    """(a·x + b) mod p, min over shingles — the ONE MinHash kernel, behind
    :func:`minhash_signatures`.  Zeros for the empty document, which
    :func:`_sig_band_buckets` never bands."""
    if sh.size == 0:
        return np.zeros(K, dtype=np.uint64)
    x = (sh % np.uint64(_MERSENNE)).astype(np.int64)
    vals = (a[:, None] * x[None, :] + b[:, None]) % _MERSENNE % _MAX_HASH
    return vals.min(axis=1).astype(np.uint64)


def minhash_signatures(df: DataFrame) -> DataFrame:
    """(id, sig array<bigint>[K]) — numpy-vectorized MinHash per Arrow batch."""
    a, b = _hash_params()

    @pandas_udf(T.ArrayType(T.LongType()))
    def _sig(text: pd.Series) -> pd.Series:
        out = []
        cache: dict[str, int] = {}  # token-hash memo shared across the batch
        for t in text:
            sh = _shingles(t or "", SHINGLE_WIDTH, cache)
            out.append(_minhash_from_shingles(sh, a, b).astype(
                np.int64).tolist())
        return pd.Series(out)

    return df.select(F.col("doc_id").alias("id"), _sig(F.col("text")).alias("sig"))


def band_candidates(buckets: DataFrame) -> DataFrame:
    """(band, key) equi-self-join of ``(id, band, key)`` LSH bucket rows →
    candidate pairs (id_a < id_b), deduplicated — the one LSH self-join,
    for MinHash (:func:`minhash_candidates`) and the embedding hyperplane
    keys alike.  It shuffles on (band, key), never a cross join.  Both
    join sides read *buckets*: materialize any Python stage upstream of
    it once, or it runs twice."""
    left = buckets.alias("l")
    right = buckets.alias("r")
    return (left.join(right, ["band", "key"])
            .filter(F.col("l.id") < F.col("r.id"))
            .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
            .distinct())


def _sig_band_buckets(sigs: DataFrame) -> DataFrame:
    """(id, band, key) LSH bucket rows derived JVM-side from
    :data:`K`-long signatures in :data:`BANDS` bands: band key = xxhash64
    of the signature slice, salted by the band index.  The one band-key
    rule of every MinHash search — :func:`minhash_candidates` (and so
    :func:`near_duplicates_minhash`) and :func:`near_dedup_incremental`'s
    batch and history keys all come from here, so they always live in the
    same universe.

    All-zero signatures (``_minhash_from_shingles``'s encoding of a
    gramless document) are excluded — the one blank-document rule: the
    exact kernel defines their Jaccard as 0 against everything, so they
    can never verify — and in :func:`near_dedup_incremental`'s
    signature-ESTIMATE tier two blank docs would otherwise estimate J=1.0
    (all positions equal) and wrongly drop.  Excluding them here also keeps a corpus with many
    blank docs from flooding one bucket per band with identical keys
    (the quadratic self-join hazard)."""
    sigs = sigs.filter(F.exists("sig", lambda x: x != F.lit(0)))
    rows_per_band = K // BANDS
    band_cols = [
        F.struct(F.lit(i).alias("band"),
                 F.xxhash64(F.slice("sig", i * rows_per_band + 1, rows_per_band),
                            F.lit(i)).alias("key"))
        for i in range(BANDS)
    ]
    return (sigs
            .select("id", F.explode(F.array(*band_cols)).alias("bk"))
            .select("id", F.col("bk.band").alias("band"),
                    F.col("bk.key").alias("key")))


def minhash_candidates(sigs: DataFrame) -> DataFrame:
    """LSH banding of :func:`minhash_signatures` output → candidate pairs
    (id_a < id_b), deduplicated: :func:`_sig_band_buckets` keys,
    self-joined by :func:`band_candidates`."""
    return band_candidates(_sig_band_buckets(sigs))


def ngram_jaccard_pairs(df: DataFrame, n: int = 3,
                        threshold: float = 0.5) -> DataFrame:
    """Exact token-n-gram Jaccard pairs ≥ threshold, via explode + self-join.

    N-grams shared by more than :data:`MAX_BUCKET` docs (stopword
    boilerplate) are dropped — the standard skew guard: those n-grams
    carry no signal and would quadratically blow up the join.
    """
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    grams = F.array_distinct(F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))))
    exploded = (df
                .select(F.col("doc_id").alias("id"), grams.alias("grams"))
                .withColumn("n_grams", F.size("grams"))
                .select("id", "n_grams", F.explode("grams").alias("gram")))
    # the exploded gram frame feeds the document-frequency aggregate AND
    # both sides of the self-join — without materialization the
    # tokenize+gram+explode work runs ~4x (measured ~2x wall at sf0.1).
    # localCheckpoint rather than persist: a persist() on a frame returned
    # lazily can never be unpersisted by this function, leaking a
    # corpus×grams-sized CacheManager entry per call; checkpoint blocks are
    # reclaimed by the ContextCleaner once the result is consumed.
    exploded = exploded.localCheckpoint(eager=False)
    # skew guard: drop grams present in too many docs
    gram_df = exploded.join(
        exploded.groupBy("gram").agg(F.count("*").alias("df_count"))
        .filter(F.col("df_count") <= MAX_BUCKET).select("gram"),
        "gram")
    a = gram_df.alias("a")
    b = gram_df.alias("b")
    inter = (a.join(b, "gram")
             .filter(F.col("a.id") < F.col("b.id"))
             .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                      F.col("a.n_grams").alias("na"), F.col("b.n_grams").alias("nb"))
             .agg(F.count("*").alias("inter")))
    return (inter
            .withColumn("jaccard", F.col("inter")
                        / (F.col("na") + F.col("nb") - F.col("inter")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")))


def near_duplicates_minhash(df: DataFrame,
                            threshold: float = 0.7) -> DataFrame:
    """MinHash-LSH candidates verified by exact shingle Jaccard.

    Returns (id_a, id_b, jaccard ≥ threshold).  The signatures are the
    one Python pass over the text; they are checkpointed, so both sides
    of the band self-join read them without re-running it, and the band
    keys are JVM expressions (:func:`minhash_candidates`).  The verify
    join re-reads only candidate texts — at web scale the candidate set
    is orders of magnitude smaller than the corpus.
    """
    sigs = minhash_signatures(df).localCheckpoint(eager=False)
    return _verify_candidate_pairs(df, minhash_candidates(sigs), threshold)


def _shingle_jaccard_udf():
    """Arrow-batched exact shingle-Jaccard of two text columns — the ONE
    exact-verify kernel, shared by :func:`_verify_candidate_pairs` and
    :func:`near_dedup_incremental`'s recent-tier cross-batch check so the
    two paths can never drift."""

    @pandas_udf(T.DoubleType())
    def _jaccard(ta: pd.Series, tb: pd.Series) -> pd.Series:
        out = []
        cache: dict[str, int] = {}
        for x, y in zip(ta, tb):
            sa = set(_shingles(x or "", SHINGLE_WIDTH, cache).tolist())
            sb = set(_shingles(y or "", SHINGLE_WIDTH, cache).tolist())
            union = len(sa | sb)
            out.append(len(sa & sb) / union if union else 0.0)
        return pd.Series(out)

    return _jaccard


def _verify_candidate_pairs(df: DataFrame, cands: DataFrame,
                            threshold: float) -> DataFrame:
    """Exact-shingle-Jaccard verification of LSH candidate ``(id_a,
    id_b)`` pairs against the texts in *df* — the shared verify stage of
    :func:`near_duplicates_minhash` and :func:`near_dedup_incremental`.
    Re-reads only candidate texts; returns (id_a, id_b, jaccard ≥
    threshold)."""
    texts = df.select(F.col("doc_id").alias("id"), "text")
    paired = (cands
              .join(texts.withColumnsRenamed({"id": "id_a", "text": "text_a"}), "id_a")
              .join(texts.withColumnsRenamed({"id": "id_b", "text": "text_b"}), "id_b"))
    _jaccard = _shingle_jaccard_udf()
    return (paired
            .withColumn("jaccard", F.round(_jaccard("text_a", "text_b"), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64(df: DataFrame) -> DataFrame:
    """(id, simhash bigint) — 64-bit sign-aggregated token hash."""

    _BITS = np.arange(64, dtype=np.uint64)

    @pandas_udf(T.LongType())
    def _simhash(text: pd.Series) -> pd.Series:
        cache: dict[str, int] = {}  # token-hash memo (Zipfian token reuse)
        out = []
        for t in text:
            tokens = (t or "").lower().split()
            if not tokens:
                out.append(0)
                continue
            hs = np.fromiter(
                (cache.get(tok) or cache.setdefault(tok, _hash64_md5(tok))
                 for tok in tokens),
                dtype=np.uint64, count=len(tokens))
            # vectorized sign aggregation: n_tokens × 64 bit matrix
            bits = (hs[:, None] >> _BITS[None, :]) & np.uint64(1)
            acc = (2 * bits.astype(np.int64) - 1).sum(axis=0)
            sim = int(((acc > 0).astype(np.uint64) << _BITS)
                      .sum(dtype=np.uint64))
            # reinterpret as signed 64-bit for Spark LongType
            out.append(sim - (1 << 64) if sim >= (1 << 63) else sim)
        return pd.Series(out, dtype="int64")

    return df.select(F.col("doc_id").alias("id"), _simhash(F.col("text")).alias("simhash"))


def near_duplicates_simhash(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Hamming-≤k pairs via pigeonhole banding + native bit_count verify.

    With k+1 = 4 chunks of 16 bits, any pair within Hamming distance 3
    agrees exactly on ≥1 chunk — so an exact-match join on each chunk finds
    every qualifying pair without a cross join.
    """
    hashes = simhash64(df)
    n_chunks = max_hamming + 1
    width = 64 // n_chunks
    chunk_cols = [
        F.struct(F.lit(c).alias("chunk"),
                 F.shiftrightunsigned(F.col("simhash"), c * width)
                 .bitwiseAND(F.lit((1 << width) - 1)).alias("key"))
        for c in range(n_chunks)
    ]
    buckets = (hashes
               .select("id", "simhash", F.explode(F.array(*chunk_cols)).alias("ck"))
               .select("id", "simhash", F.col("ck.chunk").alias("chunk"),
                       F.col("ck.key").alias("key"))
               # materialized once: both self-join sides would otherwise
               # re-run the simhash UDF over the whole corpus
               .localCheckpoint(eager=False))
    a = buckets.alias("a")
    b = buckets.alias("b")
    pairs = (a.join(b, ["chunk", "key"])
             .filter(F.col("a.id") < F.col("b.id"))
             .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                     F.col("a.simhash").alias("ha"), F.col("b.simhash").alias("hb"))
             .distinct())
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (pairs.withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------

def near_duplicates_embedding(df: DataFrame, threshold: float = 0.95,
                              brute_force: bool = False) -> DataFrame:
    """Cosine-similar pairs ≥ threshold over the ``array<float>``
    ``embedding`` column, ids from ``vec_id``.

    ``brute_force=True`` is the exact O(n²) verifier (test scale only).
    The scale path is BANDED random-hyperplane LSH (OR-amplified, same
    shape as the MinHash path): :data:`EMBED_BANDS` × :data:`PLANES_PER_BAND`
    fixed random hyperplanes; each band's sign bits pack into one
    integer key, a pair is a candidate if ANY band key collides
    (:func:`band_candidates` (band, key) equi-join), and every candidate
    is verified with the exact cosine.

    Recall math — why banding is load-bearing: a single 16-plane key has
    P(collide) = (1 − θ/π)^16 ≈ 0.08 for a true cosine-0.9 pair
    (θ ≈ 0.45 rad), i.e. it silently MISSES >90% of genuine near-dups.
    With 8 bands × 8 planes the per-band probability is
    ≈ 0.856^8 ≈ 0.29 and OR-amplification lifts recall to
    1 − (1 − 0.29)^8 ≈ 0.94 at cosine 0.9 (≈ 0.999 at 0.95).  False
    positives cost only verification work, never correctness.
    """
    ids = df.select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))

    dot = F.expr("aggregate(zip_with(a.v, b.v, (x, y) -> CAST(x AS DOUBLE) * y), "
                 "0D, (acc, x) -> acc + x)")
    norm = "sqrt(aggregate(transform({0}.v, x -> CAST(x AS DOUBLE) * x), 0D, (acc, x) -> acc + x))"
    # a zero vector makes this 0/0 — job-fatal DIVIDE_BY_ZERO under ANSI
    # mode (Spark 4 default); score it 0.0, matching the scale path
    _den = F.expr(norm.format("a")) * F.expr(norm.format("b"))
    cosine = F.when(_den != 0, dot / _den).otherwise(F.lit(0.0))

    if brute_force:
        pairs = (ids.alias("a").crossJoin(ids.alias("b"))
                 .filter(F.col("a.id") < F.col("b.id"))
                 .select(F.col("a.id").alias("id_a"),
                         F.col("b.id").alias("id_b"),
                         F.round(cosine, 6).alias("cosine")))
        return pairs.filter(F.col("cosine") >= threshold).distinct()

    dim_row = df.select(F.size("embedding").alias("d")).first()
    dim = dim_row["d"] if dim_row else 0
    rng = np.random.RandomState(SEED)
    planes = rng.normal(size=(EMBED_BANDS * PLANES_PER_BAND, dim)).astype("float64")
    weights = (1 << np.arange(PLANES_PER_BAND)).astype(np.int64)

    @pandas_udf(T.ArrayType(T.LongType()))
    def _band_keys(vec: pd.Series) -> pd.Series:
        if not len(vec):
            return pd.Series([], dtype="object")
        mat = np.array(list(vec), dtype="float64")      # n × dim
        signs = (mat @ planes.T) > 0                    # one BLAS call/batch
        keys = signs.reshape(len(mat), EMBED_BANDS, PLANES_PER_BAND) @ weights
        return pd.Series(list(keys.astype(np.int64).tolist()))

    # the exploded (band, key) frame is materialized once, so both
    # self-join sides reuse a single hyperplane-UDF pass
    buckets = (ids.select("id", _band_keys("v").alias("keys"))
               .select("id", F.posexplode("keys").alias("band", "key"))
               .localCheckpoint(eager=False))
    cands = band_candidates(buckets)
    va = ids.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"))
    vb = ids.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"))

    # exact verify over Arrow batches: one einsum per batch instead of a
    # per-row Catalyst higher-order-function fold (the fold interprets a
    # lambda per element — at candidate-list scale that is the dominant
    # cost of the whole operator).  Zero vectors verify to cosine 0.0
    # (never a near-dup) rather than NaN.
    @pandas_udf(T.DoubleType())
    def _pair_cosine(va_s: pd.Series, vb_s: pd.Series) -> pd.Series:
        if not len(va_s):
            return pd.Series([], dtype="float64")
        a = np.array(list(va_s), dtype="float64")
        b = np.array(list(vb_s), dtype="float64")
        dots = np.einsum("ij,ij->i", a, b)
        denom = (np.sqrt(np.einsum("ij,ij->i", a, a))
                 * np.sqrt(np.einsum("ij,ij->i", b, b)))
        out = np.where(denom > 0, dots / np.maximum(denom, 1e-300), 0.0)
        return pd.Series(out)

    return (cands.join(va, "id_a").join(vb, "id_b")
            .select("id_a", "id_b",
                    F.round(_pair_cosine("v_a", "v_b"), 6).alias("cosine"))
            .filter(F.col("cosine") >= threshold)
            .distinct())


# ---------------------------------------------------------------------------
# cluster resolution (what a pretraining pipeline actually consumes)
# ---------------------------------------------------------------------------

def duplicate_clusters(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over undirected near-dup pairs → (id, cluster_id).

    Near-dup similarity is not transitive pairwise, but a dedup pass must
    treat it as such (A~B, B~C ⇒ one keeper for {A,B,C}).  This resolves
    the pair list into components by iterative min-label propagation — the
    standard graphframes-free loop: every node repeatedly adopts the
    minimum label among itself and its neighbours until a fixpoint.

    Scale shape: each round is one shuffle join + one aggregate over the
    EDGE list (not the corpus), and the label frame is localCheckpoint-ed
    every round so the plan stays flat instead of growing linearly with
    iterations.  Rounds needed = component diameter; near-dup clusters are
    dense (diameter 2-4 in practice), so the loop converges in a handful of
    rounds even at 10^12 docs.  ``cluster_id`` is the component's minimum
    id — the same deterministic keeper rule as :func:`dedup_exact`.
    """
    # pin the edge list NOW: it is referenced in every propagation round,
    # and pairs is typically the whole LSH+verify pipeline — without the
    # eager checkpoint each round would recompute it from scratch
    edges = pairs.select("id_a", "id_b").localCheckpoint(eager=True)
    sym = edges.unionByName(edges.select(F.col("id_b").alias("id_a"),
                                         F.col("id_a").alias("id_b")))
    labels = (sym.select(F.col("id_a").alias("id")).distinct()
              .withColumn("label", F.col("id"))
              .localCheckpoint(eager=True))
    for _ in range(max_iter):
        nbr = (sym.join(labels.select(F.col("id").alias("id_b"),
                                      F.col("label").alias("nbr_label")),
                        "id_b")
               .groupBy(F.col("id_a").alias("id"))
               .agg(F.min("nbr_label").alias("min_nbr")))
        updated = (labels.join(nbr, "id", "left")
                   .select("id", F.least("label",
                                         F.coalesce("min_nbr", "label"))
                           .alias("label"))
                   .localCheckpoint(eager=True))
        changed = (updated.join(labels.select("id",
                                              F.col("label").alias("old")),
                                "id")
                   .filter(F.col("label") != F.col("old"))
                   .limit(1).count())
        labels = updated
        if changed == 0:
            return labels.select("id", F.col("label").alias("cluster_id"))
    # exhausting the rounds means a component with diameter > max_iter is
    # still split — returning the partial labels would silently keep
    # multiple "keepers" for one cluster, so fail loudly instead
    raise RuntimeError(
        f"duplicate_clusters did not converge in {max_iter} rounds — a "
        f"component has diameter > {max_iter}; raise max_iter")


def dedup_near_minhash(df: DataFrame, threshold: float = 0.7) -> DataFrame:
    """Keeper rows after MinHash near-dup clustering.

    Pairs → connected components → keep the min-id row of every component
    plus every row in no component.  This is the near-dup analog of
    :func:`dedup_exact`: the output is the deduplicated corpus itself,
    which is what a pretraining data pipeline consumes downstream.
    """
    pairs = near_duplicates_minhash(df, threshold=threshold)
    return _keep_cluster_minima(df, pairs, "doc_id")


def dedup_near_embedding(df: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Keeper rows after embedding cosine near-dup clustering (the
    semantic-dedup pass of a pretraining pipeline): banded-LSH cosine
    pairs → connected components → min-id keeper per component."""
    pairs = near_duplicates_embedding(df, threshold=threshold)
    return _keep_cluster_minima(df, pairs, "vec_id")


def _keep_cluster_minima(df: DataFrame, pairs: DataFrame,
                         id_col: str) -> DataFrame:
    clusters = duplicate_clusters(pairs)
    return (df.join(clusters.withColumnRenamed("id", id_col), id_col, "left")
            .filter(F.col("cluster_id").isNull()
                    | (F.col(id_col) == F.col("cluster_id")))
            .drop("cluster_id"))


# ---------------------------------------------------------------------------
# incremental (cross-batch) dedup
# ---------------------------------------------------------------------------

def dedup_incremental(new_df: DataFrame, history_fps: DataFrame) -> DataFrame:
    """Exact dedup of a new batch AGAINST an already-admitted corpus — the
    daily-crawl-increment workflow (dedup today's crawl both within itself
    and against everything ingested before, without re-reading history).

    ``history_fps`` carries one md5 fingerprint per historical document
    (column ``fingerprint``); a new row survives iff its fingerprint (a) is
    the lowest-``doc_id`` holder within the new batch and (b) is absent
    from history.  The result keeps a ``fingerprint`` column so the caller
    folds it straight into the next increment's history
    (``history.unionByName(result.select("fingerprint"))``).

    Scale notes (10^12-doc history, 10^9-doc daily increment): the history
    side is fingerprints ONLY (~32 B/row vs multi-KB documents), and the
    plan is one map-side-combinable min_by keeper shuffle plus one
    ``left_anti`` join on it.  Persist history as a table bucketed by
    fingerprint and the anti-join needs no shuffle on the big side at all —
    only the (much smaller) increment moves; AQE turns the join into a
    broadcast when the surviving increment is small enough.
    """
    batch = new_df.withColumn("fingerprint", fingerprint(F.col("text")))
    cols = batch.columns
    # min_by keeper, not a window — map-side combinable, hot-fingerprint
    # safe (see dedup_exact)
    firsts = (batch.groupBy(F.col("fingerprint").alias("_fp"))
              .agg(F.min_by(F.struct(*cols), F.col("doc_id")).alias("_row"))
              .select("_row.*"))
    # no distinct() on the history side: right-side duplicates cannot
    # change a left_anti join's output, and a distinct would force a full
    # shuffle+aggregate of the (huge) history before the join
    hist = history_fps.select("fingerprint")
    return firsts.join(hist, "fingerprint", "left_anti")


def fingerprint_history(df: DataFrame) -> DataFrame:
    """The compact history frame :func:`dedup_incremental` consumes: one
    distinct md5 fingerprint per admitted document."""
    return df.select(fingerprint(F.col("text")).alias("fingerprint")).distinct()


def near_dedup_incremental(new_df: DataFrame, history_sigs: DataFrame,
                           threshold: float = 0.7,
                           recent_texts: DataFrame | None = None) -> DataFrame:
    """Near-dup dedup of a new crawl increment against the admitted
    corpus's compact MinHash history AND within itself — the semantic
    analog of :func:`dedup_incremental`.

    ``history_sigs`` is :func:`minhash_signatures` output over everything
    already admitted — ~``k`` longs per historical doc (1 KB at k=128 vs
    multi-KB text), which is what makes the daily increment run WITHOUT
    re-reading history text.  Steps:

    1. batch signatures (one Arrow pass) → band keys derived JVM-side
       (:func:`_sig_band_buckets` — the same key universe as history's);
    2. batch↔history candidates from the (band, key) equi-join — never a
       cross join; shuffles are O(rows·bands) key rows;
    3. cross-batch verification by SIGNATURE-estimated Jaccard (fraction
       of equal signature positions, a JVM ``zip_with`` — std err
       ≈ sqrt(J(1-J)/k) ≈ 0.04 at k=128), since history text is not
       retained — this is the one asymmetry vs the within-batch pass.
       Error envelope is ASSERTED by
       ``tests/test_operators.py::test_near_dedup_incremental_estimate_precision``:
       estimates sit within ±0.10 of exact-constructed Jaccard at
       0.70/0.77/0.83/0.93, pairs ≥3σ from the threshold classify
       correctly, and pairs inside the ±0.10 band may flip either way —
       the disclosed precision trade of a text-free history.
       **Opt-in exact tier**: pass ``recent_texts`` — a (``doc_id``,
       ``text``) frame for the newest slice of the admitted corpus
       (e.g. the last few increments, where near-dup pressure
       concentrates) — and candidates whose history doc is in that tier
       are verified by EXACT shingle Jaccard (the same kernel as the
       within-batch pass) instead of the estimate; only candidates
       against older, text-free history keep the estimate.  Scale shape:
       the exact tier adds one candidate-bounded equi-join against the
       recent texts (the candidate set, not the corpus, moves), so
       keeping ~days of text alongside the signature history buys exact
       classification exactly where threshold-adjacent pairs live;
    4. batch rows estimated ≥ ``threshold`` against ANY history doc are
       dropped (``left_anti``);
    5. the survivors are near-deduped within the batch — candidates from
       the SAME checkpointed signatures (a second
       :func:`_sig_band_buckets` derivation, pure JVM), verified by the
       full exact-Jaccard path over the texts in hand
       (:func:`_verify_candidate_pairs`), keepers by cluster minima.

    Fold the survivors into the next day's history (and age the recent
    tier) with :func:`fold_history`.

    ``history_sigs`` is read TWICE (band buckets + the verify join) — pass
    a materialized table (the parquet the previous increment wrote), not a
    freshly computed frame, or the signature UDF runs twice over history.
    The batch side is localCheckpoint-ed here and BOTH the cross-batch and
    within-batch passes derive band keys from it JVM-side, so the
    increment's dominant Python cost — shingling + hashing its text — is
    paid exactly once; only candidate pairs ever reach the verify UDF.
    """
    bsigs = minhash_signatures(new_df).localCheckpoint(eager=False)
    bbuck = _sig_band_buckets(bsigs)
    hbuck = _sig_band_buckets(history_sigs.select("id", "sig"))
    cand = (bbuck.alias("b").join(hbuck.alias("h"), ["band", "key"])
            .select(F.col("b.id").alias("batch_id"),
                    F.col("h.id").alias("hist_id"))
            .distinct())
    exact_dups = None
    if recent_texts is not None:
        # candidate rows split by history tier: text-carrying recent docs
        # verify exactly, everything older falls back to the estimate.
        # Checkpoint the candidate frame — both branches consume it and
        # it is the whole banding pipeline upstream.
        cand = cand.localCheckpoint(eager=False)
        recent = recent_texts.select(F.col("doc_id").alias("hist_id"),
                                     F.col("text").alias("hist_text"))
        recent_ids = recent.select("hist_id")
        bt = new_df.select(F.col("doc_id").alias("batch_id"),
                           F.col("text").alias("batch_text"))
        _jaccard = _shingle_jaccard_udf()
        exact_dups = (cand.join(recent_ids, "hist_id", "left_semi")
                      .join(bt, "batch_id").join(recent, "hist_id")
                      .withColumn("j", F.round(
                          _jaccard("batch_text", "hist_text"), 6))
                      .filter(F.col("j") >= threshold)
                      .select("batch_id"))
        cand = cand.join(recent_ids, "hist_id", "left_anti")
    est = (F.size(F.filter(F.zip_with("bsig", "hsig",
                                      lambda x, y: x == y),
                           lambda v: v))
           / F.lit(float(K)))
    dup_ids = (cand
               .join(bsigs.select(F.col("id").alias("batch_id"),
                                  F.col("sig").alias("bsig")), "batch_id")
               .join(history_sigs.select(F.col("id").alias("hist_id"),
                                         F.col("sig").alias("hsig")),
                     "hist_id")
               .filter(est >= F.lit(threshold))
               .select("batch_id"))
    if exact_dups is not None:
        dup_ids = dup_ids.unionByName(exact_dups)
    dup_ids = dup_ids.distinct()
    fresh = new_df.join(dup_ids.withColumnRenamed("batch_id", "doc_id"),
                        "doc_id", "left_anti")
    fresh_sigs = bsigs.join(dup_ids.withColumnRenamed("batch_id", "id"),
                            "id", "left_anti")
    pairs = _verify_candidate_pairs(fresh, minhash_candidates(fresh_sigs),
                                    threshold)
    return _keep_cluster_minima(fresh, pairs, "doc_id")


def fold_history(kept: DataFrame,
                 prev_sigs: DataFrame | None,
                 prev_recent: DataFrame | None,
                 run_date,
                 ttl_days: int = 7) -> tuple[DataFrame, DataFrame]:
    """Retention bookkeeping between :func:`near_dedup_incremental` runs
    (VERDICT r4 Next-round #5): fold today's admitted docs forward and age
    text out of the exact-verify recent tier.

    Inputs: ``kept`` — the survivors :func:`near_dedup_incremental`
    returned today (rows of the original batch); ``prev_sigs`` — the
    signature history the run consumed (``None`` on day one); and
    ``prev_recent`` — the text-carrying recent tier, a (``doc_id``,
    ``text``, ``admitted_on`` date) frame (``None`` on day one).
    ``run_date`` is the increment's date — always explicit, never wall
    clock, so replaying an increment is deterministic.

    Returns ``(sigs, recent)`` for tomorrow's run:

    * ``sigs`` = ``prev_sigs`` ∪ today's signatures — signatures are
      forever (the permanent ~1 KB/doc near-dup memory);
    * ``recent`` = rows of ``prev_recent`` admitted within ``ttl_days``
      of ``run_date`` (exclusive lower bound: a doc admitted exactly
      ``ttl_days`` ago ages out today) ∪ today's texts stamped
      ``admitted_on = run_date``.  Pass ``recent.drop("admitted_on")``
      as the next run's ``recent_texts``.

    Today's texts are shingled+hashed here (one Arrow pass over the
    ADMITTED subset — the operator's own pass over the full batch is
    not reusable because its checkpointed frame dies with the run; at
    a typical admit rate this re-pass is a fraction of the increment
    cost and happens once per day).  Write both outputs to tables and
    read them back before the next increment: ``sigs`` feeds TWO joins
    there (:func:`near_dedup_incremental` docstring).

    Scale shape: ``sigs`` growth is the admitted corpus × k longs;
    ``recent`` is bounded by ``ttl_days`` × daily admits of raw text —
    the knob that trades exact-verify coverage (threshold-adjacent
    precision where near-dup pressure concentrates, i.e. the newest
    crawls) against storage.  Both unions are metadata-only; the age
    filter is partition-prunable when ``recent`` is stored partitioned
    by ``admitted_on``.
    """
    from datetime import timedelta

    new_sigs = minhash_signatures(kept)
    sigs = (prev_sigs.select("id", "sig").unionByName(new_sigs)
            if prev_sigs is not None else new_sigs)
    today = kept.select(
        "doc_id", "text", F.lit(run_date).cast("date").alias("admitted_on"))
    if prev_recent is not None:
        cutoff = run_date - timedelta(days=ttl_days)
        survivors = prev_recent.filter(F.col("admitted_on") > F.lit(cutoff))
        recent = survivors.unionByName(today)
    else:
        recent = today
    return sigs, recent


# ---------------------------------------------------------------------------
# exact substring dedup (duplicated k-token spans, keep-first)
# ---------------------------------------------------------------------------

def duplicated_windows(df: DataFrame, k: int = 50) -> DataFrame:
    """Every ``k``-token window occurrence whose content already appeared
    earlier in the corpus (corpus order = ``(id, pos)``) — the detection
    half of Lee et al. 2022 "Deduplicating Training Data Makes Language
    Models Better" (ExactSubstr), at word-window granularity.

    Returns ``(id, pos)`` rows: ``pos`` is the 0-based token index where a
    NON-FIRST occurrence of a duplicated window starts.  Tokenization is
    the shared whitespace contract of ``textstats._ws_token_array``
    (lower + trim + split + drop-empties); windows are keyed by md5 of the
    space-joined gram (128-bit — no birthday collisions at 10^12-doc
    window counts, unlike a 64-bit hash).

    Plan shape at corpus scale: one tokenize pass → per-doc window-hash
    array (pure Column: sequence + slice, no Python) → posexplode to
    skinny ``(id, pos, wh)`` rows (~50 B/row regardless of document size).
    First-occurrence resolution is a map-side-combinable
    ``min(struct(id, pos)) + count`` groupBy — NOT a row_number window, so
    a boilerplate window shared by 10^8 pages partially aggregates before
    the shuffle instead of sorting one hot partition.  The groupBy output
    keeps only duplicated windows (``cnt > 1``), so the annotate join's
    right side is the (small) duplicated-window set — AQE broadcasts it
    when it fits, and it is exactly one row per key either way, so join
    skew cannot amplify rows.  The suffix-array formulation of the paper
    removes byte-level duplicates but needs a global sorted index; this
    window formulation distributes with one shuffle and is the standard
    Spark-shaped approximation (fixed k, whole-window granularity).
    """
    base = df.select(F.col("doc_id").alias("id"),
                     _ws_token_array(F.col("text")).alias("_toks"))
    return _duplicated_window_occurrences(base, k)


def _duplicated_window_occurrences(base: DataFrame, k: int) -> DataFrame:
    """Non-first duplicated-window occurrences of a pre-tokenized
    ``(id, _toks)`` frame — the shared core of :func:`duplicated_windows`
    and :func:`dedup_substrings` (so the removal path tokenizes ONCE).

    The md5 is fused INTO the per-window lambda (rather than
    ``transform(_word_ngrams(...), md5)``) so the intermediate gram-STRING
    array never materializes — per-row peak memory is n_windows × 32 B of
    hashes instead of n_windows × k tokens of text (~300 B/token at the
    k=50 default, tens of MB for a long document)."""
    toks = F.col("_toks")
    win_hashes = F.when(
        F.size(toks) >= k,
        F.transform(F.sequence(F.lit(1), F.size(toks) - F.lit(k - 1)),
                    lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, k))))
    ).otherwise(F.array().cast("array<string>"))
    occ = base.select("id", F.posexplode(win_hashes).alias("pos", "wh"))
    # occ feeds both the first-occurrence aggregate and the annotate join —
    # materialize once (same rationale as ngram_jaccard_pairs)
    occ = occ.localCheckpoint(eager=False)
    firsts = (occ.groupBy("wh")
              .agg(F.min(F.struct("id", "pos")).alias("first"),
                   F.count("*").alias("cnt"))
              .filter(F.col("cnt") > 1)
              .select("wh", "first"))
    return (occ.join(firsts, "wh")
            .filter(~((F.col("id") == F.col("first.id"))
                      & (F.col("pos") == F.col("first.pos"))))
            .select("id", "pos"))


def dedup_substrings(df: DataFrame, k: int = 50) -> DataFrame:
    """Remove duplicated ``k``-token spans from every document, keeping the
    corpus-first occurrence — the removal half of ExactSubstr dedup
    (Lee et al. 2022): verbatim boilerplate, licence blocks, and quoted
    passages shared across pages are cut from every copy but one, while
    each document's unique prose survives.

    A token is dropped iff it is covered by ANY non-first duplicated
    window occurrence ``[pos, pos+k)`` (overlapping occurrences merge
    naturally — including self-overlap inside a run like ``a a a …``).
    Output per input document (every doc survives, possibly empty):
    ``(doc_id, text_clean, n_tokens, n_tokens_removed)`` where
    ``text_clean`` re-joins the kept tokens of the CANONICAL token stream
    (lowercased, whitespace-collapsed — the same contract every dedup
    operator here compares under).

    Scale: :func:`duplicated_windows` (one shuffle) → per-doc removed-
    position lists (groupBy on id over the small duplicate set) → one
    AQE-broadcastable join back to the corpus → a pure-Column
    filter-with-index pass (``F.filter((t, i) -> !exists(rpos, …))``) —
    per-token cost is O(removed windows in that doc), no Python stage.
    """
    base = (df
            .select(F.col("doc_id").alias("id"),
                    _ws_token_array(F.col("text")).alias("_toks"))
            .localCheckpoint(eager=False))
    dup_occ = _duplicated_window_occurrences(base, k)
    rem = dup_occ.groupBy("id").agg(F.collect_list("pos").alias("_rpos"))
    kept = F.filter(
        F.col("_toks"),
        lambda t, i: ~F.exists(F.col("_rpos"),
                               lambda p: (i >= p) & (i < p + F.lit(k))))
    return (base.join(rem, "id", "left")
            .withColumn("_rpos",
                        F.coalesce(F.col("_rpos"),
                                   F.array().cast("array<int>")))
            .withColumn("_kept", kept)
            .select(F.col("id").alias("doc_id"),
                    F.array_join("_kept", " ").alias("text_clean"),
                    F.size("_toks").cast("bigint").alias("n_tokens"),
                    (F.size("_toks") - F.size("_kept")).cast("bigint")
                    .alias("n_tokens_removed")))
