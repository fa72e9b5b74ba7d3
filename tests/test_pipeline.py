"""Spark pipeline integration: routing, tiers, run summary, determinism,
resume."""

from __future__ import annotations

from datetime import date
from html import escape

import pytest
from pyspark.sql import functions as F

from ocr_spark import pagegen
from ocr_spark.functions.native import doc_type_router
from ocr_spark.job import admission_split, run_pipeline
from ocr_spark.parsers import dni as dni_parser
from tests.conftest import RUN_DATE, count_jobs, global_summary, job_tasks
from tests.fixture_texts import DNI_TEXTS

N_PAGES = 240


@pytest.fixture(scope="module")
def pages_path(tmp_path_factory):
    path = tmp_path_factory.mktemp("pages") / "pages.parquet"
    pagegen.write_local(N_PAGES, str(path))
    return str(path)


@pytest.fixture(scope="module")
def pipeline_out(spark, pages_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("out") / "run1")
    summary = run_pipeline(spark, pages_path, out, RUN_DATE, partitions=8)
    return out, summary


def test_counts_and_coverage(spark, pipeline_out, pages_path):
    out, summary = pipeline_out
    assert summary["input_count"] == N_PAGES
    assert summary["extracted_count"] == N_PAGES
    data = spark.read.parquet(f"{out}/data")
    assert data.count() == N_PAGES
    assert data.select("url").distinct().count() == N_PAGES  # exactly-once
    types = {r["doc_type"] for r in data.select("doc_type").distinct().collect()}
    assert types == {"dni", "permiso_circulacion", "nif"}


def test_extracted_text_contains_source_block(spark, pipeline_out, pages_path):
    out, _ = pipeline_out
    data = spark.read.parquet(f"{out}/data")
    src = spark.read.parquet(pages_path).select("url", F.col("text").alias("expected"))
    lost = data.join(src, "url").filter(F.instr("extracted_text", F.col("expected")) == 0)
    assert lost.count() == 0


def test_typed_outputs_match_pure_parser(spark, pipeline_out, pages_path):
    """Spark response struct == pure-Python kernel on the same extracted text."""
    out, _ = pipeline_out
    from ocr_spark.job import read_datos
    rows = (read_datos(spark, out, "dni")
            .select("url", "extracted_text", "response").limit(30).collect())
    assert rows
    for row in rows:
        datos, raw_mrz = dni_parser.parse(row["extracted_text"], RUN_DATE)
        resp = dni_parser.validate(datos, raw_mrz,
                                   row["response"]["raw"]["ocr_engine"],
                                   row["response"]["raw"]["ocr_confidence"], RUN_DATE)
        got = row["response"].asDict(recursive=True)
        assert got["valido"] == resp["valido"]
        assert got["confianza_global"] == resp["confianza_global"]
        assert got["datos"]["numero_documento"] == resp["datos"]["numero_documento"]
        assert got["datos"]["apellidos"] == resp["datos"]["apellidos"]
        assert [e["code"] for e in got["errores_detectados"]] == \
               [e["code"] for e in resp["errores_detectados"]]


def test_rerun_digest_identical(spark, pages_path, tmp_path):
    """Same input + same run-date ⇒ identical global digest (determinism),
    at any partition count."""
    s1 = run_pipeline(spark, pages_path, str(tmp_path / "a"), RUN_DATE, partitions=8)
    s2 = run_pipeline(spark, pages_path, str(tmp_path / "b"), RUN_DATE, partitions=4)
    assert s1["digest"] == s2["digest"]
    assert s1["valid_count"] == s2["valid_count"]


_OBSERVED = ("input_count", "extracted_count", "valid_count", "tier2_count",
             "digest")


def _reference_summary(spark, out: str) -> dict:
    """:func:`global_summary` over the read-back ``data/``."""
    row = global_summary(spark.read.parquet(f"{out}/data"))
    return {k: row[k] for k in _OBSERVED}


@pytest.mark.parametrize("partitions", [8, 4])
def test_observed_summary_equals_global_summary(spark, pages_path, tmp_path,
                                                partitions):
    """The summary observed on the sink writes equals a separate aggregate
    over the written output, at any parallelism, and its one
    ``lineage_summary`` row is the returned dict."""
    out = str(tmp_path / "obs")
    s = run_pipeline(spark, pages_path, out, RUN_DATE,
                     partitions=partitions, run_id="obs")
    assert {k: s[k] for k in _OBSERVED} == _reference_summary(spark, out)
    assert s["input_count"] == N_PAGES
    assert s["quarantined_count"] == 0
    assert (s["run_id"], s["partition_id"]) == ("obs", -1)
    rows = spark.read.parquet(f"{out}/lineage_summary").collect()
    assert len(rows) == 1
    assert rows[0].asDict() == s


def test_observed_summary_over_resumed_drops(spark, pages_path, tmp_path):
    """Resumed drops: each summary covers exactly the rows its run
    appended — counts add up and digests XOR to the whole output's; an
    all-done drop digests to the XOR identity 0, and every returned
    summary is its persisted ``lineage_summary`` row."""
    out = str(tmp_path / "drops")
    half = spark.read.parquet(pages_path).limit(N_PAGES // 2)
    s1 = run_pipeline(spark, pages_path, out, RUN_DATE, partitions=4,
                      input_df=half, resume=True, run_id="d1")
    assert {k: s1[k] for k in _OBSERVED} == _reference_summary(spark, out)
    s2 = run_pipeline(spark, pages_path, out, RUN_DATE, partitions=4,
                      resume=True, run_id="d2")
    assert s2["input_count"] == N_PAGES - N_PAGES // 2
    both = {k: s1[k] + s2[k] for k in _OBSERVED if k != "digest"}
    both["digest"] = s1["digest"] ^ s2["digest"]
    assert both == _reference_summary(spark, out)
    s3 = run_pipeline(spark, pages_path, out, RUN_DATE, partitions=4,
                      resume=True, run_id="d3")
    assert s3["input_count"] == 0 and s3["digest"] == 0
    rows = spark.read.parquet(f"{out}/lineage_summary").collect()
    assert sorted(r["run_id"] for r in rows) == ["d1", "d2", "d3"]
    assert {r["run_id"]: r.asDict() for r in rows} == \
        {"d1": s1, "d2": s2, "d3": s3}


def test_summary_counts_quarantined_rows(spark, tmp_path):
    """Quarantined rows are in the summary: ``input_count`` counts the rows
    written to ``data/``, ``quarantined_count`` the rows quarantined."""
    out = str(tmp_path / "q")
    s = run_pipeline(spark, None, out, RUN_DATE, partitions=2,
                     input_df=_quarantine_frame(spark))
    assert s["input_count"] == 1
    assert s["quarantined_count"] == 2
    assert spark.read.parquet(f"{out}/quarantine").count() == 2
    row = spark.read.parquet(f"{out}/lineage_summary").collect()[0]
    assert (row["input_count"], row["quarantined_count"]) == (1, 2)


def test_fresh_run_replaces_summary(spark, tmp_path):
    """A fresh run overwrites ``data/`` and ``quarantine/``, so it replaces
    the summary too: two fresh runs into one output leave one summary row,
    and it describes the rows in ``data/``."""
    out = str(tmp_path / "fresh")
    pages = pagegen.generate_df(spark, 40, partitions=2)
    for run_id in ("f1", "f2"):
        run_pipeline(spark, "", out, RUN_DATE, partitions=2, input_df=pages,
                     run_id=run_id)
    rows = spark.read.parquet(f"{out}/lineage_summary").collect()
    assert [r["run_id"] for r in rows] == ["f2"]
    assert rows[0]["input_count"] == \
        spark.read.parquet(f"{out}/data").count() == 40


def test_build_session_enables_speculation():
    """T7 straggler reaper: build_session (not the shared test session)
    turns speculation on — assert the configs are in its builder recipe."""
    import inspect

    from ocr_spark.job import build_session
    src = inspect.getsource(build_session)
    assert '"spark.speculation", "true"' in src


def test_preflight_rejects_wrong_schema(spark, tmp_path):
    from ocr_spark.job import preflight
    bad = spark.createDataFrame([(1, "x")], ["id", "body"])
    with pytest.raises(ValueError, match="missing pages columns"):
        preflight(bad)


def _quarantine_frame(spark):
    """One admissible page, one oversize page, one with no payload."""
    big = b"x" * (6 * 1024 * 1024)
    return spark.createDataFrame(
        [("u-big", None, big, None, "es"), ("u-null", None, None, None, "es"),
         ("u-ok", None, b"<html><body><pre>APELLIDOS</pre></body></html>", None, "es")],
        schema="url string, warc_ts timestamp, html binary, text string, lang string")


def test_quarantine(spark, tmp_path):
    admitted, quarantined = admission_split(_quarantine_frame(spark))
    q = {r["url"]: r["reason"] for r in quarantined.collect()}
    assert q == {"u-big": "oversize", "u-null": "empty_payload"}
    assert [r["url"] for r in admitted.collect()] == ["u-ok"]


def test_resume_skips_done(spark, pages_path, tmp_path):
    out = str(tmp_path / "resume")
    run_pipeline(spark, pages_path, out, RUN_DATE, partitions=4)
    # second run with resume: everything already extracted → 0 new rows
    s2 = run_pipeline(spark, pages_path, out, RUN_DATE, partitions=4, resume=True,
                      run_id="resume2")
    assert s2["input_count"] == 0
    # resume appends — the rows committed by run 1 must survive run 2
    data = spark.read.parquet(f"{out}/data")
    assert data.count() == N_PAGES
    assert data.select("url").distinct().count() == N_PAGES


def test_resume_completes_partial_run(spark, pages_path, tmp_path):
    """Kill-and-resume: a first run over half the input, then a resumed run
    over the full input, must land every row exactly once."""
    out = str(tmp_path / "partial")
    pages = spark.read.parquet(pages_path)
    half = pages.limit(N_PAGES // 2)
    run_pipeline(spark, pages_path, out, RUN_DATE, partitions=4, input_df=half)
    s2 = run_pipeline(spark, pages_path, out, RUN_DATE, partitions=4,
                      resume=True, run_id="resume-fill")
    assert s2["input_count"] == N_PAGES - N_PAGES // 2
    data = spark.read.parquet(f"{out}/data")
    assert data.count() == N_PAGES
    assert data.select("url").distinct().count() == N_PAGES


def test_resume_quarantines_url_less_row_once(spark, tmp_path):
    """Resumed reruns re-derive quarantine, and the anti-join matches urls
    null-safe: a url-less row already quarantined is done like any other
    url.  Three resumed runs over one frame leave every row once, and only
    the first counts its quarantined rows.  The anti-join stays a
    broadcast hash join."""
    import re

    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark import lineage as lin
    from tests.plans import physical_plan

    ts = pagegen._BASE_TS
    rows = [pagegen.page_for(i) for i in range(4)] + [
        {"url": None, "warc_ts": ts, "html": b"<p>APELLIDOS</p>",
         "text": None, "lang": "es"},
        {"url": "gate://empty", "warc_ts": ts, "html": None, "text": None,
         "lang": "es"}]
    path = str(tmp_path / "pages.parquet")
    pq.write_table(pa.Table.from_pylist(rows), path)
    out = str(tmp_path / "out")
    counts = [run_pipeline(spark, path, out, RUN_DATE, resume=True,
                           run_id=f"r{i}")["quarantined_count"]
              for i in range(3)]
    assert counts == [2, 0, 0]
    assert spark.read.parquet(f"{out}/data").count() == 4
    reasons = sorted(r["reason"] for r in
                     spark.read.parquet(f"{out}/quarantine").collect())
    assert reasons == ["empty_payload", "missing_url"]
    _, quarantined = admission_split(spark.read.parquet(path))
    plan = physical_plan(lin.anti_join_done(quarantined,
                                            f"{out}/quarantine"))
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan


def test_doc_router(spark):
    rows = [("PERMISO DE CIRCULACIÓN\nA 1177MTM", "permiso_circulacion"),
            ("TARJETA DE IDENTIFICACIÓN FISCAL\nB76261874", "nif"),
            ("APELLIDOS\nCOLL", "dni"),
            ("IDESPBHV1227380", "dni"),
            ("random prose", "dni"),
            ("B76261874 something", "nif"),
            ("D.1\nTOYOTA", "permiso_circulacion")]
    df = spark.createDataFrame([(t,) for t, _ in rows], ["text"])
    got = [r[0] for r in df.select(doc_type_router(F.col("text"))).collect()]
    assert got == [expected for _, expected in rows]


def test_capture_placement_spreads_duplicate_urls(spark):
    """Re-crawls of one hot url spread over the partitions: placement
    hashes the capture identity, not the url alone, which would land all
    400 captures in one partition (the adversarial-skew guard of §4.2-1)."""
    from ocr_spark.job import spread_partitions
    rows = [("https://hot.example/page", None, None, f"crawl {i}", "es")
            for i in range(400)]
    rows += [(f"https://host-{i}.example/x", None, None, "t", "es")
             for i in range(100)]
    df = spark.createDataFrame(
        rows, schema="url string, warc_ts timestamp, html binary, text string, lang string")
    largest = (spread_partitions(df, 16)
               .withColumn("p", F.spark_partition_id())
               .groupBy("p").count().agg(F.max("count")).collect()[0][0])
    assert largest <= 2 * len(rows) // 16, largest   # 2x the mean


def test_python_router_matches_native(spark):
    """The fused stage's Python router is a byte-exact twin of the native
    Column form (R4) — checked over every generated page kind."""
    from ocr_spark.functions.udfs import route_doc_type
    texts = [pagegen.page_for(i)["text"] for i in range(200)]
    texts += ["", "PERMIS DE CIRCULACIO", "tarjeta de identificación fiscal",
              "1234BCD", "X1234567L", "B76261874", "D.1", "cognoms"]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    native_got = [r[0] for r in df.select(doc_type_router(F.col("text"))).collect()]
    python_got = [route_doc_type(t) for t in texts]
    assert native_got == python_got


def test_fixture_pages_through_pipeline(spark, tmp_path):
    """FIXTURES.md §2 replay: per-url extracted text byte-identical."""
    rows = [(f"fixture://dni/{name}", None,
             f"<html><body><pre>{escape(text)}</pre></body></html>".encode(),
             text, "es")
            for name, text in DNI_TEXTS.items() if text.strip()]
    df = spark.createDataFrame(
        rows, schema="url string, warc_ts timestamp, html binary, text string, lang string")
    out = str(tmp_path / "fixtures")
    run_pipeline(spark, None, out, RUN_DATE, partitions=2, input_df=df)
    data = spark.read.parquet(f"{out}/data").select("url", "extracted_text").collect()
    expected = {f"fixture://dni/{n}": t for n, t in DNI_TEXTS.items()}
    assert len(data) == len(rows)
    for row in data:
        assert row["extracted_text"] == expected[row["url"]], row["url"]


def test_raising_row_does_not_fail_the_run(spark, tmp_path):
    """A page whose parse raises lands in ``data/`` as a failure row with
    its exception class in ``error``; the run completes and every other
    row has ``error`` NULL."""
    from tests.fixture_texts import CRASH_TEXT

    crash = spark.createDataFrame(
        [("edge://crash", None, None, CRASH_TEXT, "es")],
        schema="url string, warc_ts timestamp, html binary, text string, lang string")
    pages = pagegen.generate_df(spark, 40, partitions=2).unionByName(crash)
    out = str(tmp_path / "crash")
    s = run_pipeline(spark, None, out, date(2026, 8, 16), partitions=2,
                     input_df=pages)
    assert s["input_count"] == 41
    failed = (spark.read.parquet(f"{out}/data")
              .filter(F.col("error").isNotNull()).collect())
    assert [(r["url"], r["error"], r["valido"], r["confianza_global"])
            for r in failed] == [("edge://crash", "extract_error:ValueError",
                                  False, 0)]


def test_incremental_backfill_by_partition(spark, tmp_path):
    """The 10^12-doc operating mode: a date/hour-partitioned source is
    processed slice by slice into ONE output with resume on — each run
    reads only its partition (pruned scan) and the union is exactly-once
    even when slices overlap (re-crawled urls)."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    pages = pagegen.generate_df(spark, 180, partitions=4).withColumn(
        "slice", F.date_format("warc_ts", "yyyy-MM-dd-HH-mm"))
    pages.write.partitionBy("slice").parquet(src)
    slices = sorted(r["slice"] for r in
                    spark.read.parquet(src).select("slice").distinct().collect())
    assert len(slices) >= 2
    for i, s in enumerate(slices):
        batch = (spark.read.parquet(src)
                 .filter(F.col("slice") == s)
                 .drop("slice"))
        # overlap: each batch re-includes the previous slice too (re-crawl)
        if i > 0:
            batch = batch.unionByName(
                spark.read.parquet(src)
                .filter(F.col("slice") == slices[i - 1]).drop("slice"))
        run_pipeline(spark, "", out, RUN_DATE, partitions=4,
                     input_df=batch, resume=i > 0, run_id=f"slice-{i}")
    data = spark.read.parquet(f"{out}/data")
    assert data.count() == 180
    assert data.select("url").distinct().count() == 180


def test_canonicalize_urls_unifies_identity(spark, tmp_path):
    """With canonical urls in ``input_df``, messy variants of one resource
    share the SAME url key in the output (so resume anti-joins and exact
    dedup see one identity); a resumed re-crawl under a different variant
    is then skipped as already-done."""
    from ocr_spark.operators.urls import canonical_url

    body = b"<html><body><pre>APELLIDOS\nCOLL</pre></body></html>"
    mk = lambda rows: spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    ).withColumn("url", canonical_url(F.col("url")))
    out = str(tmp_path / "canon")
    run_pipeline(spark, "", out, RUN_DATE, partitions=2,
                 input_df=mk([("HTTP://Example.COM:80/a/?b=2&a=1#x",
                               None, body, None, "es"),
                              ("http://example.com/other", None, body,
                               None, "es")]))
    data = spark.read.parquet(f"{out}/data")
    assert sorted(r["url"] for r in data.collect()) == [
        "http://example.com/a?a=1&b=2", "http://example.com/other"]
    # resumed run with ANOTHER variant of the same resource: anti-joined out
    s2 = run_pipeline(spark, "", out, RUN_DATE, partitions=2,
                      input_df=mk([("http://Example.com/a?a=1&b=2#frag2",
                                    None, body, None, "es")]),
                      resume=True, run_id="r2")
    assert s2["input_count"] == 0
    assert spark.read.parquet(f"{out}/data").count() == 2


@pytest.mark.parametrize("partitions", [4, None])
def test_pipeline_job_count_budget(spark, pages_path, tmp_path, partitions):
    """Fixed-cost regression guard: one pipeline run must stay within its
    Spark job budget: the quarantine write, the data write (one job for
    its repartition shuffle's map stage, one for the write itself — the
    summary counts and digest are observed on it) and the one-row summary
    write; measures 4 on a 240-page input at local[4]. A regression (e.g.
    reintroducing per-type sinks, a cache, or an output read-back) is
    invisible to value tests but caps small-input scaling efficiency.
    With P unset the budget is the same: sizing reads plan statistics
    and runs no job."""
    n_jobs = count_jobs(spark, lambda: run_pipeline(
        spark, pages_path, str(tmp_path / "budget"), RUN_DATE,
        partitions=partitions))
    assert 0 < n_jobs <= 4, f"pipeline ran {n_jobs} Spark jobs"


def test_size_partitions_from_input_and_slots(spark, pages_path):
    """P is one partition per task slot for an input under one scan split
    per slot, grows with the input past that, and falls back to the slots
    when the frame has no statistics."""
    from ocr_spark.job import size_partitions

    slots = spark.sparkContext.defaultParallelism
    pages = spark.read.parquet(pages_path)
    assert size_partitions(pages) == slots
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    spark.conf.set(key, "4096")
    try:
        assert size_partitions(pages) > slots
    finally:
        spark.conf.set(key, before)
    rdd = spark.createDataFrame(
        spark.sparkContext.parallelize([("u", "t")]), "url string, text string")
    assert size_partitions(rdd) == slots


def test_resume_job_count_budget(spark, pages_path, tmp_path):
    """A resumed drop over pages half already written stays within its
    job budget: the fresh run's 4 plus one schema-inference job per
    done-set read (``data/``, ``quarantine/``) and one broadcast build
    per anti-join; measures 8 at local[4].  Checkpointing the done-sets
    eagerly would add 2 more."""
    out = str(tmp_path / "resume_budget")
    half = spark.read.parquet(pages_path).limit(N_PAGES // 2)
    run_pipeline(spark, pages_path, out, RUN_DATE, partitions=4,
                 input_df=half)
    n_jobs = count_jobs(spark, lambda: run_pipeline(
        spark, pages_path, out, RUN_DATE, partitions=4, resume=True))
    assert 0 < n_jobs <= 8, f"resumed drop ran {n_jobs} Spark jobs"


def test_summary_write_runs_one_task(spark, pages_path, tmp_path):
    """The run's one-row ``lineage_summary/`` write — its last job — runs
    ONE task; built from a local list it ran ``defaultParallelism`` (4)
    tasks."""
    tasks = job_tasks(spark, lambda: run_pipeline(
        spark, pages_path, str(tmp_path / "ex"), RUN_DATE, partitions=4))
    assert tasks[-1] == 1, tasks


def test_sink_jobs_keep_caller_job_group(spark, pages_path, tmp_path):
    """run_pipeline and run_curation submit their sink writes from pool
    threads; PySpark local properties are per thread, so without
    inheritance those jobs ran with no job group. Every job either entry
    point runs must carry the caller's group."""
    from ocr_spark import curate

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    untagged_before = set(tracker.getJobIdsForGroup(None) or [])
    sc.setJobGroup("sink_group_test", "sink jobs inherit the job group")
    try:
        out = str(tmp_path / "ex")
        run_pipeline(spark, pages_path, out, RUN_DATE, partitions=4)
        docs = str(tmp_path / "docs")
        (spark.read.parquet(f"{out}/data")
         .select(F.xxhash64("url").alias("doc_id"),
                 F.col("extracted_text").alias("text"))
         .write.parquet(docs))
        curate.run_curation(spark, docs, str(tmp_path / "cur"),
                            partitions=4)
        tagged = tracker.getJobIdsForGroup("sink_group_test") or []
    finally:
        # the shared session's later tests count jobs under group None
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    untagged = set(tracker.getJobIdsForGroup(None) or []) - untagged_before
    assert tagged
    assert not untagged, f"{len(untagged)} jobs ran without the job group"


def test_extract_then_curate_integration(spark, tmp_path):
    """The two halves of the engine compose: extracted tier-1/2 text from
    the HTML pipeline feeds the curation chain directly, and the chain
    produces a non-trivial admission split over it."""
    from datetime import date
    from ocr_spark import curate, job, pagegen
    from pyspark.sql import functions as F

    out = str(tmp_path / "ex")
    pages = pagegen.generate_df(spark, 80, partitions=4)
    job.run_pipeline(spark, "", out, date(2026, 8, 16), partitions=4,
                     input_df=pages)
    docs = (spark.read.parquet(f"{out}/data")
            .select(F.xxhash64("url").alias("doc_id"),
                    F.col("extracted_text").alias("text")))
    n_docs = docs.count()
    assert n_docs > 0
    verdicts = curate.curate(docs, langs=("es", "und"), budget_tokens=500)
    by_reason = {r["drop_reason"]: r["n"] for r in
                 verdicts.groupBy("drop_reason")
                 .agg(F.count("*").alias("n")).collect()}
    assert sum(by_reason.values()) == n_docs
    assert by_reason.get(None, 0) > 0          # something survives
    kept = verdicts.filter("keep")
    assert kept.filter("shard_id is null").count() == 0


def test_known_answer_extraction_and_curation(spark, tmp_path):
    """The 20k-page contract: extraction reproduces the digest unchanged
    since round 1, and curating its ``(doc_id, text)`` handoff reproduces
    the whole curation summary (recorded before the summary moved onto
    the sink writes)."""
    from ocr_spark import curate

    out = str(tmp_path / "ex")
    s = run_pipeline(spark, "", out, date(2026, 8, 16), partitions=8,
                     input_df=pagegen.generate_df(spark, 20000))
    assert s["digest"] == -2518734284186716871
    assert s["input_count"] == 20000
    docs = str(tmp_path / "docs")
    (spark.read.parquet(f"{out}/data")
     .select(F.xxhash64("url").alias("doc_id"),
             F.coalesce(F.col("extracted_text"), F.lit("")).alias("text"))
     .repartition(8).write.parquet(docs))
    c = curate.run_curation(spark, docs, str(tmp_path / "cur"),
                            budget_tokens=2000)
    want = {
        "input_count": 20000, "kept_count": 743, "n_url_blocked": 0,
        "n_low_quality": 0, "n_repetitive": 1242, "n_lang_filtered": 18015,
        "n_contaminated": 0, "n_high_surprisal": 0,
        "n_classifier_rejected": 0, "n_exact_duplicate": 0,
        "n_near_duplicate": 0, "n_host_capped": 0, "total_tokens": 37656,
        "n_shards": 19, "digest": 4916869636476366793}
    assert list(c) == [*want, "wall_ms"]   # the summary/ sink's key order
    assert {k: c[k] for k in want} == want


def test_resume_anti_join_surfaces_non_path_errors(spark, tmp_path):
    """anti_join_done may swallow ONLY path-not-found: any other read
    failure (here: a mispointed path whose parquet lacks a url column)
    must raise — silently skipping the anti-join would re-extract and
    append rows already committed."""
    import pytest as _pytest
    from pyspark.errors import AnalysisException

    from ocr_spark import lineage as _lin

    pages = spark.createDataFrame([("http://a", b"<p>x</p>")],
                                  ["url", "html"])
    # missing path: passthrough
    assert _lin.anti_join_done(
        pages, str(tmp_path / "nope")).count() == 1
    # existing parquet WITHOUT a url column: must surface
    bad = str(tmp_path / "bad")
    spark.range(3).write.parquet(bad)
    with _pytest.raises(AnalysisException):
        _lin.anti_join_done(pages, bad).count()


def test_resume_done_set_pinned_by_listing(spark, tmp_path):
    """The done-set is the output as listed when the anti-join frame is
    built: rows appended afterwards — into an existing ``doc_type=``
    directory or a new one — are never dropped from the frame, so a
    re-executed scan cannot lose this run's in-flight pages."""
    from ocr_spark import lineage as _lin

    data = str(tmp_path / "data")
    spark.createDataFrame([("http://a", "dni"), ("http://b", "nif")],
                          ["url", "doc_type"]) \
        .write.partitionBy("doc_type").parquet(data)
    pages = spark.createDataFrame(
        [(u,) for u in ("http://a", "http://b", "http://c", "http://d")],
        ["url"])
    todo = _lin.anti_join_done(pages, data)
    spark.createDataFrame([("http://c", "dni"), ("http://d", "zz_new")],
                          ["url", "doc_type"]) \
        .write.mode("append").partitionBy("doc_type").parquet(data)
    assert sorted(r["url"] for r in todo.collect()) == ["http://c",
                                                        "http://d"]
    assert spark.read.parquet(data).count() == 4


@pytest.mark.parametrize("doc_type", ["dni", "permiso_circulacion", "nif"])
def test_parse_udfs_null_confidence_routes_to_tier2(spark, doc_type):
    """Arrow delivers NULL doubles to pandas UDFs as NaN, not None: a
    None-only guard let NaN through, and `NaN < 50.0` is False — a
    null-confidence row was reported tier1_acceptat instead of routed.
    The parse UDF must treat null as 0.0 for every doc type."""
    from ocr_spark.functions import udfs as u

    df = spark.createDataFrame(
        [("APELLIDOS GARCIA", None)],
        "text string, confidence double")
    fn = u.parse_udf(doc_type, RUN_DATE)
    row = df.select(fn("text", "confidence").alias("r")).collect()[0]["r"]
    assert row["needs_tier2"] is True
