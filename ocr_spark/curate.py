"""Corpus curation job: the composed training-data admission pipeline.

Chains the operator suite end-to-end over a documents-shaped table
(``doc_id``, ``text``, ...):

    [optional URL domain blocklist] → quality gate → repetition gate →
    language allowlist → eval-set decontamination → [optional LM
    surprisal gate] → [optional seed-vs-background quality classifier]
    → exact dedup → [optional MinHash near-dedup] →
    [optional per-host cap] → [optional ExactSubstr span removal] →
    PII scrub → token-budget shard assignment

Every document gets a first-failing-gate reason code (precedence:
``url_blocked`` → ``low_quality`` → ``repetitive`` → ``lang_filtered``
→ ``contaminated`` → ``high_surprisal`` → ``classifier_rejected`` →
``exact_duplicate`` → ``near_duplicate`` → ``host_capped``); kept
documents additionally get
scrubbed text, a post-scrub token count, and a training-shard id.
As in :func:`ocr_spark.operators.textstats.corpus_clean`, gate verdicts
are independent per document: a duplicate copy is reported
``exact_duplicate`` even when its group's min-id keeper was itself
dropped by an earlier gate — group membership is a property of the full
input, not of the survivors.  The two set-dependent stages are the
explicit exceptions: near-dedup and the per-host cap rank only the
SURVIVORS of every earlier gate (dropping a host's spam pages must free
its cap slots for clean ones), so their verdicts depend on the admitted
set by design.

Scale notes — gate order is cost order:

* The narrow gates (quality, repetition, lang: pure Column
  expressions) and the broadcast decontamination run first and fuse
  into the scan stage; nothing corpus-sized shuffles for them.
* The exact-dup keeper is the skew-safe min-id-per-fingerprint
  aggregate of ``corpus_clean`` (map-side combinable; never a window
  over a pathologically hot fingerprint).
* MinHash near-dedup — the expensive stage — sees only survivors of
  every cheaper gate (opt-in: its verdict is not SQL-expressible, so
  the oracle-checked driver query runs with it off and the pytest
  exercises it on).
* Shard assignment runs :func:`textstats.token_shards`' two-phase
  prefix scan over a skinny (id, token-count) projection of the
  SCRUBBED text; the one id-keyed join back to the verdict frame is
  the same clustering the shard-ordered write wants anyway.
* The PII scrub expression is evaluated in two narrow consumers
  (token counting and output text/md5) rather than materialized —
  trading a regex re-evaluation for not shuffling scrubbed text.
* The chain is deliberately **scan-heavy, shuffle-light**: evaluating
  the gate chain reads the corpus parquet ~3× (gate expressions,
  dup-keeper aggregate, eval-gram join), each scan column-pruned to
  (id, text) — but the only corpus-sized exchanges are the map-side-
  combined fingerprint aggregate and the skinny (id, token-count)
  range partition.  On columnar storage, repeated pruned scans
  parallelize embarrassingly; shuffles do not.  The verdict frame is
  lazily ``localCheckpoint``-ed (one corpus-sized disk copy) so its
  three consumers — the near-dup survivor set, the shard pass's totals
  action, and the final annotate join — trigger that evaluation ONCE,
  and the near-dup drop list (ids only) is checkpointed so no
  downstream re-evaluation can re-run the MinHash stage.
"""

from __future__ import annotations

import argparse
import time
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark import lineage as lin
from ocr_spark.job import build_session, size_partitions
from ocr_spark.localrel import local_df
from ocr_spark.operators import dedup, textstats, urls

DEFAULT_LANGS = ("en", "es", "de", "fr")

REASONS = ("url_blocked", "low_quality", "repetitive", "lang_filtered",
           "contaminated", "high_surprisal", "classifier_rejected",
           "exact_duplicate", "near_duplicate", "host_capped")


def curate(df: DataFrame, bench: Optional[DataFrame] = None,
           langs: tuple[str, ...] = DEFAULT_LANGS,
           budget_tokens: int = 2000,
           near_dup: bool = False, with_text: bool = False,
           blocklist: Optional[DataFrame] = None,
           max_per_host: Optional[int] = None,
           lm_model: Optional[dict] = None,
           max_surprisal_x1000: Optional[int] = None,
           clf_model: Optional[dict] = None,
           min_logodds_x1000: Optional[int] = None,
           substr_dedup_k: Optional[int] = None) -> DataFrame:
    """Per-document curation verdicts over a ``(doc_id, text[, url])``
    frame: (doc_id, keep, drop_reason, n_tokens, shard_id,
    scrubbed_md5[, scrubbed_text]).

    ``n_tokens``/``shard_id``/``scrubbed_md5`` are null for dropped
    docs; token counts and shards are computed over the SCRUBBED text
    (what a training run would actually read).  ``bench`` (optional) is
    the eval table for decontamination (13-gram overlap); ``near_dup``
    enables the MinHash near-dedup stage over survivors.  ``blocklist``
    (optional, a ``domain`` DataFrame) turns on the URL domain gate and
    ``max_per_host`` the per-host cap — both require a ``url`` column in
    *df*; the cap ranks survivors by id within
    :func:`ocr_spark.operators.urls.bare_host` of the url.
    ``lm_model`` (a trained :func:`textstats.surprisal_model`) +
    ``max_surprisal_x1000`` turn on the CCNet-style fluency gate:
    docs scoring above the threshold (milli-bits/gram vs the seed)
    drop as ``high_surprisal``.  ``clf_model`` (a trained
    :func:`textstats.quality_classifier_model`) + ``min_logodds_x1000``
    turn on the GPT-3-style classifier gate: docs scoring BELOW the
    threshold (milli-bits/token of seed-vs-background log-odds) drop as
    ``classifier_rejected``.  Score-less documents — too short to
    produce any gram/token under either model — are EXEMPT from both
    score gates by design: their NULL score makes the ``score > lit``
    comparison NULL, so they can never drop as ``high_surprisal`` or
    ``classifier_rejected`` (degenerate shortness is the min-token
    quality gate's job, which runs first).

    ``substr_dedup_k`` turns on the ExactSubstr REWRITE stage
    (RefinedWeb's exact-substring removal after document-level dedup):
    duplicated ``k``-token spans are cut from every admitted copy but
    the corpus-first one (:func:`ocr_spark.operators.dedup.
    dedup_substrings`) before scrubbing/token counting/sharding.  Not a
    gate — no doc drops — but it rewrites kept text to the CANONICAL
    token stream (lowercased, whitespace-collapsed) and, like near-dedup
    and the host cap, it is set-dependent by design (spans are
    deduplicated among survivors only).
    """
    if (lm_model is None) != (max_surprisal_x1000 is None):
        raise ValueError(
            "lm_model and max_surprisal_x1000 must be given together")
    if (clf_model is None) != (min_logodds_x1000 is None):
        raise ValueError(
            "clf_model and min_logodds_x1000 must be given together")
    if blocklist is not None or max_per_host is not None:
        if "url" not in df.columns:
            raise ValueError(
                f"url gates need column 'url'; have {df.columns}")
    if blocklist is not None:
        df = urls.blocklist_annotate(df, blocklist).drop("blocked_domain")
    else:
        df = df.withColumn("url_blocked", F.lit(False))
    feats = textstats.quality_features(df)
    feats = textstats.repetition_features(feats)
    if bench is not None:
        feats = textstats.decontaminate(feats, bench)
    else:
        feats = feats.withColumn("contaminated", F.lit(False))
    if lm_model is not None:
        feats = textstats.surprisal_score(feats, lm_model)
    else:
        feats = feats.withColumn("surprisal_x1000",
                                 F.lit(None).cast("bigint"))
    if clf_model is not None:
        feats = textstats.quality_classifier_score(feats, clf_model)
    else:
        feats = feats.withColumn("logodds_x1000",
                                 F.lit(None).cast("bigint"))
    lang = textstats.language_id(F.col("text"))
    fp = textstats.fingerprint(F.col("text"))
    keepers = (df.groupBy(fp.alias("_keep_fp"))
               .agg(F.min(F.col("doc_id")).alias("_keep_id")))
    joined = (feats.withColumn("_fp", fp)
              .join(keepers,
                    F.col("_fp").eqNullSafe(F.col("_keep_fp")), "inner"))
    reason = (F.when(F.col("url_blocked"), F.lit("url_blocked"))
              .when(~F.col("quality_ok"), F.lit("low_quality"))
              .when(F.col("repetitive"), F.lit("repetitive"))
              .when(~lang.isin(*langs), F.lit("lang_filtered"))
              .when(F.col("contaminated"), F.lit("contaminated"))
              .when(F.col("surprisal_x1000")
                    > F.lit(max_surprisal_x1000 or 0),
                    F.lit("high_surprisal"))
              # null logodds (gate off, or token-less text) never fires
              .when(F.col("logodds_x1000")
                    < F.lit(min_logodds_x1000 or 0),
                    F.lit("classifier_rejected"))
              .when(F.col("doc_id") != F.col("_keep_id"),
                    F.lit("exact_duplicate")))
    carry = ["doc_id", "text"] + (["url"] if max_per_host is not None else [])
    verdicts = (joined.withColumn("drop_reason", reason)
                .select(*carry, "drop_reason"))
    # three consumers follow (near-dup survivors, the shard pass's totals
    # collect, the final annotate join) — materialize the gate chain ONCE
    # (one corpus-sized disk copy) instead of re-running quality/
    # repetition/decontaminate/dup joins per consumer
    verdicts = verdicts.localCheckpoint(eager=False)

    if near_dup:
        verdicts = _drop_unkept_survivors(
            verdicts, ["doc_id", "text"], dedup.dedup_near_minhash,
            "near_duplicate")
    if max_per_host is not None:
        verdicts = _drop_unkept_survivors(
            verdicts, ["doc_id", "url"],
            lambda survivors: urls.host_cap(survivors, max_per_host),
            "host_capped").drop("url")

    out = verdicts.withColumn("keep", F.col("drop_reason").isNull())
    survivors = verdicts.filter(F.col("drop_reason").isNull())
    if substr_dedup_k is None:
        final_text = textstats.scrub_pii(F.col("text"))
        kept = survivors.select("doc_id", final_text.alias("text"))
    else:
        # rewrite path: admitted text goes through ExactSubstr removal,
        # so the final text is join-carried (it no longer equals any
        # expression over the input column)
        kept = (dedup.dedup_substrings(survivors.select("doc_id", "text"),
                                       k=substr_dedup_k)
                .select("doc_id",
                        textstats.scrub_pii(F.col("text_clean"))
                        .alias("text"))
                .localCheckpoint(eager=False))   # shards + annotate join
        out = out.join(kept.select("doc_id",
                                   F.col("text").alias("_final_text")),
                       "doc_id", "left")
        final_text = F.col("_final_text")
    shards = textstats.token_shards(kept, budget_tokens)
    out = (out.withColumn("scrubbed_md5",
                          F.when(F.col("keep"), F.md5(final_text)))
           .join(shards.select("doc_id", "n_tokens", "shard_id"),
                 "doc_id", "left"))
    cols = ["doc_id", "keep", "drop_reason", "n_tokens", "shard_id",
            "scrubbed_md5"]
    if with_text:
        out = out.withColumn("scrubbed_text",
                             F.when(F.col("keep"), final_text))
        cols.append("scrubbed_text")
    return out.select(*cols)


def _drop_unkept_survivors(verdicts: DataFrame, cols: list[str],
                           keep: Callable[[DataFrame], DataFrame],
                           reason: str) -> DataFrame:
    """One set-dependent gate: the survivors of every earlier gate (their
    *cols*) go to *keep*, and each survivor whose ``doc_id`` it does not
    return drops with *reason*.  The skinny drop list is checkpointed so
    downstream re-evaluation never re-runs the gate's own stage (MinHash,
    host window)."""
    survivors = (verdicts.filter(F.col("drop_reason").isNull())
                 .select(*cols))
    drops = (survivors.select("doc_id")
             .join(keep(survivors).select("doc_id"), "doc_id", "left_anti")
             .withColumn("_drop", F.lit(True))
             .localCheckpoint(eager=False))
    return (verdicts.join(drops, "doc_id", "left")
            .withColumn("drop_reason",
                        F.coalesce(F.col("drop_reason"),
                                   F.when(F.col("_drop"), F.lit(reason))))
            .drop("_drop"))


def run_curation(spark: SparkSession, input_path: str, output_path: str,
                 bench_path: Optional[str] = None,
                 langs: tuple[str, ...] = DEFAULT_LANGS,
                 budget_tokens: int = 2000, near_dup: bool = False,
                 partitions: Optional[int] = None,
                 blocklist_path: Optional[str] = None,
                 max_per_host: Optional[int] = None,
                 lm_seed_path: Optional[str] = None,
                 max_surprisal_x1000: Optional[int] = None,
                 clf_seed_path: Optional[str] = None,
                 min_logodds_x1000: Optional[int] = None,
                 substr_dedup_k: Optional[int] = None) -> dict:
    """Execute the curation job: parquet in → three sinks out.

    * ``{out}/data``    — kept docs (doc_id, text=scrubbed, n_tokens,
      shard_id), clustered by shard id so a training reader streams
      whole shards sequentially; *partitions* of them, by default
      :func:`ocr_spark.job.size_partitions` of the input.
    * ``{out}/report``  — per-doc verdict (doc_id, keep, drop_reason).
    * ``{out}/summary`` — one row: counts per reason, kept count, total
      tokens, shard count, XOR-aggregate digest of
      ``xxhash64(doc_id, scrubbed_text)`` (order-free and overflow-free
      → identical at any parallelism), wall ms.

    The summary is observed on the two sink writes
    (:func:`ocr_spark.lineage.write_observed`): the counts on ``report/``,
    the token total, shard count and digest on ``data/`` — no job re-reads
    the verdicts for it, and it is written strictly after both sinks.
    ``n_shards`` is ``size(collect_set(shard_id))``, so the driver holds
    one long per shard (about one per *budget_tokens* kept tokens).

    Returns the summary as a dict.
    """
    t0 = time.monotonic()
    docs = spark.read.parquet(input_path)
    bench = spark.read.parquet(bench_path) if bench_path else None
    blocklist = (spark.read.parquet(blocklist_path)
                 if blocklist_path else None)
    lm_model = (textstats.surprisal_model(spark.read.parquet(lm_seed_path))
                if lm_seed_path else None)
    # GPT-3 recipe: classifier positives = the clean seed corpus,
    # negatives = a reproducible 10% sample of the raw input itself
    clf_model = (textstats.quality_classifier_model(
                     spark.read.parquet(clf_seed_path),
                     textstats.deterministic_sample(docs, 0.1, salt="clfbg"))
                 if clf_seed_path else None)
    verdicts = curate(docs, bench=bench, langs=langs,
                      budget_tokens=budget_tokens, near_dup=near_dup,
                      with_text=True, blocklist=blocklist,
                      max_per_host=max_per_host,
                      lm_model=lm_model,
                      max_surprisal_x1000=max_surprisal_x1000,
                      clf_model=clf_model,
                      min_logodds_x1000=min_logodds_x1000,
                      substr_dedup_k=substr_dedup_k)
    # the verdict frame feeds both sinks — materialize once (eagerly: the
    # two sink jobs below run concurrently and must not race to compute an
    # unmaterialized checkpoint) instead of re-running the gates per sink
    verdicts = verdicts.localCheckpoint(eager=True)
    kept = (verdicts.filter("keep")
            .select("doc_id", F.col("scrubbed_text").alias("text"),
                    "n_tokens", "shard_id")
            .repartition(partitions or size_partitions(docs), "shard_id")
            .sortWithinPartitions("shard_id", "doc_id"))
    # the summary is observed on the two sink writes; the counts never
    # see NULL, but over ZERO kept rows sum() is NULL, and createDataFrame
    # cannot infer a type from None — an empty crawl day must publish a
    # zero-count summary, not die at the last step
    summary = lin.write_observed(spark, [
        (verdicts.select("doc_id", "keep", "drop_reason"),
         f"{output_path}/report", None,
         [F.count("*").alias("input_count"),
          F.count(F.when(F.col("keep"), 1)).alias("kept_count"),
          *[F.count(F.when(F.col("drop_reason") == r, 1)).alias(f"n_{r}")
            for r in REASONS]]),
        (kept, f"{output_path}/data", None,
         [F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("total_tokens"),
          F.size(F.collect_set("shard_id")).alias("n_shards"),
          lin.xor_digest("doc_id", "text").alias("digest")]),
    ], "overwrite")
    summary["wall_ms"] = int((time.monotonic() - t0) * 1000)
    local_df(spark, [summary]).write.mode("overwrite") \
        .json(f"{output_path}/summary")
    return summary


def main() -> None:
    ap = argparse.ArgumentParser(
        description="ocr_spark corpus curation pipeline")
    ap.add_argument("--input", required=True, help="documents parquet")
    ap.add_argument("--output", required=True)
    ap.add_argument("--bench", default=None,
                    help="eval-set parquet for decontamination (optional)")
    ap.add_argument("--langs", default=",".join(DEFAULT_LANGS),
                    help="comma-separated language allowlist")
    ap.add_argument("--budget-tokens", type=int, default=2000)
    ap.add_argument("--near-dup", action="store_true",
                    help="enable the MinHash near-dedup stage")
    ap.add_argument("--blocklist", default=None,
                    help="domain-blocklist parquet (column: domain)")
    ap.add_argument("--max-per-host", type=int, default=None,
                    help="keep at most N surviving docs per url host")
    ap.add_argument("--lm-seed", default=None,
                    help="clean seed parquet to train the surprisal LM on")
    ap.add_argument("--max-surprisal", type=int, default=None,
                    help="drop docs above this milli-bits/gram score")
    ap.add_argument("--clf-seed", default=None,
                    help="clean seed parquet for the quality classifier "
                         "(negatives come from a deterministic sample of "
                         "the input)")
    ap.add_argument("--min-logodds", type=int, default=None,
                    help="drop docs below this milli-bits/token "
                         "seed-vs-background log-odds score")
    ap.add_argument("--substr-dedup-k", type=int, default=None,
                    help="remove duplicated k-token spans from admitted "
                         "docs (ExactSubstr rewrite; keeps corpus-first)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = build_session(app="ocr_spark-curate", master=args.master)
    summary = run_curation(
        spark, args.input, args.output, bench_path=args.bench,
        langs=tuple(l for l in args.langs.split(",") if l),
        budget_tokens=args.budget_tokens, near_dup=args.near_dup,
        blocklist_path=args.blocklist, max_per_host=args.max_per_host,
        lm_seed_path=args.lm_seed, max_surprisal_x1000=args.max_surprisal,
        clf_seed_path=args.clf_seed, min_logodds_x1000=args.min_logodds,
        substr_dedup_k=args.substr_dedup_k)
    print(summary)


if __name__ == "__main__":
    main()
