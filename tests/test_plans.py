"""Plan-shape assertions: pushdown, pruning, broadcast, partial agg, fusion.

These pin the physical properties the 100 TB design depends on — a
regression here is a silent 10-100x cost multiplier at scale even when every
value-level test stays green.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entry
from tests import plans

SF = "/root/testdata/sf0.01"


def test_filter_pushdown_and_pruning(spark):
    docs = (spark.read.parquet(f"{SF}/documents.parquet")
            .filter(F.col("lang") == "es").select("doc_id", "n_chars"))
    pushed = plans.pushed_filters(docs)
    assert any("lang" in f for f in pushed), pushed
    cols = plans.read_schema_columns(docs)
    assert "text" not in cols, f"projection not pruned: {cols}"


def test_revenue_join_broadcasts_dims(spark):
    df = entry.q_revenue_by_region(spark, SF)
    assert plans.has_broadcast_join(df)


def test_tpch_q1_partial_aggregation(spark):
    df = entry.q_tpch_q1(spark, SF)
    assert plans.has_partial_aggregation(df)
    df.collect()  # AQE only annotates codegen stages in the finalized plan
    # (count() would build a different plan — execute this exact df)
    assert plans.codegen_stage_count(df) >= 1


def _kernel_frame(spark, policy):
    from datetime import date
    from ocr_spark import job, pagegen
    from ocr_spark.functions import udfs
    pages = pagegen.generate_df(spark, 8, partitions=2)
    kernel = udfs.extract_udf(date(2026, 8, 16), "standard", policy)
    return (job.spread_partitions(pages, 4)
            .mapInPandas(kernel, udfs.FUSED_SCHEMA))


def test_pipeline_one_python_pass_per_tier(spark):
    """The tier-1 policy (streaming, compare) crosses JVM↔Python exactly
    once (§4.2-2), its routing filter included."""
    tier1 = _kernel_frame(spark, "tier1").filter(~F.col("needs_tier2"))
    # pagegen itself is one mapInPandas; the kernel adds exactly one more
    assert plans.python_eval_count(tier1) == 2


def test_pipeline_single_pass_one_python_stage_total(spark):
    """The fused pipeline crosses JVM↔Python exactly once for the whole
    dual-tier extraction — no second stage, no union."""
    unified = _kernel_frame(spark, "fused")
    # pagegen itself is one mapInPandas; the whole pipeline adds ONE more
    assert plans.python_eval_count(unified) == 2
    assert "Union" not in plans.physical_plan(unified)


def _assert_metrics_above_exchange(frame, exchange_key):
    """*frame*'s CollectMetrics node has no Exchange above it and an
    Exchange on *exchange_key* below it."""
    lines = plans.physical_plan(frame).splitlines()
    top = next(i for i, line in enumerate(lines) if "CollectMetrics" in line)
    assert not any("Exchange" in line for line in lines[:top]), lines
    assert any("Exchange" in line and exchange_key in line
               for line in lines[top:]), lines


def test_pipeline_observes_summary_above_the_exchange(spark, tmp_path,
                                                     monkeypatch):
    """The shared sink writer observes each summary on the exact frame it
    writes, with no Exchange above the CollectMetrics node: the metrics
    are collected in the write's result stage, where Spark merges each
    partition's accumulators once, so task retries and speculation never
    double-count.  Checked on run_pipeline's ``data/`` frame (above the
    url repartition) and run_curation's ``data/`` frame (above the
    shard_id repartition)."""
    from datetime import date

    from ocr_spark import curate, job, pagegen

    observed = []
    frame_cls = type(spark.range(1))
    observe = frame_cls.observe

    def spy(self, observation, *exprs):
        out = observe(self, observation, *exprs)
        observed.append(out)
        return out

    monkeypatch.setattr(frame_cls, "observe", spy)
    out = tmp_path / "obs"
    job.run_pipeline(spark, "", str(out), date(2026, 8, 16),
                     partitions=2,
                     input_df=pagegen.generate_df(spark, 8, partitions=2))
    (data,) = [f for f in observed if "response_json" in f.columns]
    _assert_metrics_above_exchange(data, "xxhash64")

    (spark.read.parquet(str(out / "data"))
     .select(F.xxhash64("url").alias("doc_id"),
             F.col("extracted_text").alias("text"))
     .write.parquet(str(tmp_path / "docs")))
    curate.run_curation(spark, str(tmp_path / "docs"), str(tmp_path / "cur"),
                        partitions=2)
    (kept,) = [f for f in observed if "shard_id" in f.columns]
    _assert_metrics_above_exchange(kept, "shard_id")


def test_scan_reads_no_filters_for_full_count(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    assert plans.read_schema_columns(docs) == ["doc_id"]


def test_read_datos_prunes_partitions(spark, tmp_path):
    """The doc_type filter on the partitioned data sink must prune to one
    partition directory — per-type consumers scan 1/3 of the corpus."""
    from datetime import date

    from ocr_spark import job, pagegen

    out = str(tmp_path / "prune")
    pages = pagegen.generate_df(spark, 60, partitions=2)
    job.run_pipeline(spark, "", out, date(2026, 8, 16), partitions=2,
                     input_df=pages)
    typed = job.read_datos(spark, out, "dni")
    plan = plans.physical_plan(typed)
    assert "PartitionFilters" in plan and "doc_type" in plan.split(
        "PartitionFilters", 1)[1].split("]", 1)[0], plan
    # and the decoded struct arrives intact
    row = typed.limit(1).collect()[0]
    assert row["response"]["tipo_documento"] == "dni"


def test_pages_source_prunes_crawl_date_partitions(spark, tmp_path):
    """SCALE.md's input layout: pages partitioned by crawl date. A warc_day
    filter must prune the scan to matching partition directories — the
    mechanism that keeps a 10^12-doc backfill proportional to the date
    range processed."""
    from ocr_spark import pagegen

    src = str(tmp_path / "pages_by_day")
    pages = pagegen.generate_df(spark, 120, partitions=4).withColumn(
        "warc_day", F.date_format("warc_ts", "yyyy-MM-dd-HH-mm"))
    pages.write.partitionBy("warc_day").parquet(src)
    days = [r["warc_day"] for r in
            spark.read.parquet(src).select("warc_day").distinct().collect()]
    assert len(days) >= 2  # generator's 1s-spaced timestamps span several partitions
    one = (spark.read.parquet(src)
           .filter(F.col("warc_day") == days[0])
           .select("url", "warc_ts"))
    plan = plans.physical_plan(one)
    assert "PartitionFilters" in plan and "warc_day" in plan.split(
        "PartitionFilters", 1)[1].split("]", 1)[0], plan


def test_local_df_arrow_relation(spark):
    """local_df must produce the same rows/schema as plain-list
    createDataFrame, land as a local relation (no RDD scan of
    defaultParallelism partitions), and survive the empty-list edge."""
    from ocr_spark.localrel import local_df

    rows = [(1, [1.0, 2.0]), (2, [3.0, 4.0])]
    schema = "cell int, centroid array<double>"
    got = local_df(spark, rows, schema)
    ref = spark.createDataFrame(rows, schema)
    assert got.schema == ref.schema
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))
    # local relation: one partition, not defaultParallelism
    assert got.rdd.getNumPartitions() <= 2

    empty = local_df(spark, [], schema)
    assert empty.count() == 0 and empty.schema == ref.schema

    # nested-struct DDL split must not break on the comma inside struct<>
    nested = local_df(spark, [(1, {"a": 2})],
                      "id int, s struct<a: int>")
    assert nested.collect()[0]["s"]["a"] == 2


def test_decontaminate_broadcasts_eval_grams(spark):
    """The eval gram set must broadcast (corpus side never shuffles for
    the semi-join) and no sort-merge join may appear anywhere."""
    df = entry.q_decontaminate(spark, SF)
    plan = plans.physical_plan(df)
    assert plans.has_broadcast_join(df)
    assert "SortMergeJoin" not in plan, plan


def test_token_shards_no_global_window(spark):
    """The shard assignment must plan WITHOUT a window (the naive global
    sum-over-order-by formulation is one unsplittable sort task).  The
    final frame reads the checkpointed skinny projection — no further
    exchange, one Arrow pass, and document text never in the plan."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    from ocr_spark.operators import textstats
    df = textstats.token_shards(docs, 2000)
    plan = plans.physical_plan(df)
    assert "Window" not in plan, plan
    assert "Exchange" not in plan, plan     # shuffle is inside the
    # checkpointed prefix; nothing re-shuffles per consumer
    assert "text" not in plan, plan         # skinny (id, _tok, _pid) only
    assert plan.count("MapInPandas") == 1, plan
    # and the pre-checkpoint prefix is the single range exchange on id
    pre = (docs.select("doc_id",
                       textstats.token_count(F.col("text")).alias("_tok"))
           .repartitionByRange(8, F.col("doc_id"))
           .sortWithinPartitions("doc_id"))
    pre_plan = plans.physical_plan(pre)
    assert pre_plan.count("Exchange") == 1, pre_plan
    assert "rangepartitioning(doc_id" in pre_plan, pre_plan


def test_repetition_features_narrow(spark):
    """Repetition ratios are pure per-row array expressions — no exchange,
    no python, no join may appear."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    from ocr_spark.operators import textstats
    df = textstats.repetition_features(docs)
    plan = plans.physical_plan(df)
    assert "Exchange" not in plan and "Join" not in plan, plan
    assert plans.python_eval_count(df) == 0


def test_host_cap_partial_window_group_limit(spark):
    """host_cap's rank <= k FILTER shape must keep the partial
    WindowGroupLimit BELOW the exchange — every input partition ships at
    most k rows per host instead of the whole host (ROUND3_NOTES §24:
    the tagging form of this rule silently loses the pruning)."""
    from ocr_spark.operators import urls
    docs = spark.createDataFrame(
        [(i, f"https://h{i % 3}.example/p") for i in range(30)],
        ["doc_id", "url"])
    plan = plans.physical_plan(urls.host_cap(docs, 2))
    assert "WindowGroupLimit" in plan, plan
    assert plan.index("WindowGroupLimit", plan.index("Exchange")) \
        > plan.index("Exchange"), plan      # a partial limit below it
    assert "Partial" in plan.split("WindowGroupLimit")[-1].splitlines()[0], plan


def test_blocklist_broadcasts_entries(spark):
    """The blocklist suffix equi-join must broadcast the entry set, and
    the corpus side must reach its suffix explode with NO exchange
    before it (one narrow scan-side pass; only matched ids shuffle
    afterwards).  The final annotate join is AQE-broadcastable, not
    statically pinned — stats-free test frames plan it as SMJ."""
    from ocr_spark.operators import urls
    docs = spark.createDataFrame([(1, "https://a.bad.example/x")],
                                 ["doc_id", "url"])
    bl = spark.createDataFrame([("bad.example",)], ["domain"])
    df = urls.blocklist_annotate(docs, bl)
    plan = plans.physical_plan(df)
    assert plans.has_broadcast_join(df)
    # between the explode (Generate) and the corpus scan lies no Exchange
    gen = plan.index("Generate")
    assert "Exchange" not in plan[gen:plan.index("Scan", gen)], plan


def test_surprisal_score_narrow(spark):
    """Scoring is one Arrow pass over a narrow projection — no explode
    (Generate), no join, no exchange; exactly one python stage."""
    from ocr_spark.operators import textstats
    docs = spark.createDataFrame([(1, "abab")], ["doc_id", "text"])
    model = {"grams": {"aba": 1}, "oov": 2, "n": 3}
    df = textstats.surprisal_score(docs, model)
    plan = plans.physical_plan(df)
    assert "Exchange" not in plan and "Join" not in plan, plan
    assert "Generate" not in plan, plan
    assert plans.python_eval_count(df) == 1


def test_host_profile_partial_aggregation(spark):
    df = entry.q_host_profile(spark, SF)
    assert plans.has_partial_aggregation(df)


def test_dedup_substrings_partial_agg_no_window(spark):
    """ExactSubstr first-occurrence resolution must be a map-side-
    combinable aggregate (partial_min + partial_count BEFORE the
    exchange), never a row_number window — a boilerplate window shared
    by 10^8 pages would otherwise sort one hot partition.  The
    duplicated-window annotate join must not be a sort-merge join (the
    firsts side is one row per key and broadcastable)."""
    df = entry.q_dedup_substrings(spark, SF)
    plan = plans.physical_plan(df)
    assert "Window" not in plan, plan
    assert "partial_min" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_quality_classifier_score_narrow(spark):
    """Classifier scoring is one Arrow pass over a narrow projection —
    no explode, no join, no exchange; exactly one python stage (the
    model ships in the closure)."""
    from ocr_spark.operators import textstats
    docs = spark.createDataFrame([(1, "good spam")], ["doc_id", "text"])
    model = {"tokens": {"good": 1, "spam": -1}, "ts": 1, "tb": 1, "v": 2}
    df = textstats.quality_classifier_score(docs, model)
    plan = plans.physical_plan(df)
    assert "Exchange" not in plan and "Join" not in plan, plan
    assert "Generate" not in plan, plan
    assert plans.python_eval_count(df) == 1


def test_corpus_stats_histogram_not_corpus_sort(spark):
    """Percentiles must run over the (stratum, length) histogram — the
    window sorts distinct lengths per stratum, never raw corpus rows: the
    plan's Window input is the map-side-combined count aggregate (partial
    before exchange), not the scan."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    from ocr_spark.operators import textstats
    df = textstats.corpus_stats(docs)
    plan = plans.physical_plan(df)
    assert "partial_count" in plan, plan
    # the Window must consume the aggregated histogram: it appears after
    # a HashAggregate in the plan tree, and no sort-merge join exists
    assert "SortMergeJoin" not in plan, plan


def test_plan_helpers_parse_nested_entries(spark, tmp_path):
    """The helper parsers must survive nested brackets: a naive
    first-closing-bracket capture drops every entry after a nested
    struct (ReadSchema) or an In(col, [a,b]) filter (PushedFilters),
    making pruning/pushdown pins silently pass."""
    p = str(tmp_path / "nested.parquet")
    df0 = spark.sql("""
        SELECT id AS doc_id,
               array(named_struct('field', 'f', 'start', 1, 'end', 2))
                   AS spans,
               CAST('h' AS BINARY) AS html,
               CASE WHEN id % 2 = 0 THEN 'es' ELSE 'ca' END AS lang
        FROM range(10)""")
    df0.write.parquet(p)
    # nested struct FIRST, plain columns after — the truncation victim
    scan = spark.read.parquet(p).select("spans", "lang")
    cols = plans.read_schema_columns(scan)
    assert "spans" in cols and "lang" in cols
    assert "html" not in cols                  # pruning actually pinned
    assert "start" not in cols                 # no phantom inner fields
    # In-filter (nested bracket) followed by another filter
    flt = (spark.read.parquet(p)
           .filter(F.col("lang").isin("es", "ca") & F.col("html").isNotNull()))
    pf = " ".join(plans.pushed_filters(flt))
    assert "In(lang" in pf and "IsNotNull(html)" in pf
    # partial aggregation still detected by the per-node matcher
    agg = spark.read.parquet(p).groupBy("lang").count()
    assert plans.has_partial_aggregation(agg)
    # and a plan with no aggregate at all must NOT pass
    assert not plans.has_partial_aggregation(scan)
