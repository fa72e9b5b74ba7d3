"""End-to-end corpus curation: composed gates, reason precedence, job sinks."""

from __future__ import annotations

import glob
import json

from pyspark.sql import functions as F

from ocr_spark import curate
from tests.conftest import count_jobs, job_tasks

BASE = ("the quick brown fox jumps over the lazy dog and runs far away "
        "into the green forest while the rain keeps falling all day long")
OTHER = ("columnar engines scan the compressed pages and the vectors of "
         "every batch keep flowing through the operators all night")


def _corpus(spark, with_near=False):
    rows = [
        (0, BASE),                               # kept
        (1, BASE),                               # exact dup of 0
        (2, "tiny junk"),                        # low_quality (<5 tokens)
        (3, "be be be be be be be be be be"),    # repetitive 2-grams
        (4, "数据库 系统 的 查询 优化 引擎 执行 计划 代价 模型"),  # lang zh
        (5, OTHER),                              # kept
    ]
    if with_near:
        rows.append((6, BASE.replace("green", "dark")))  # near dup of 0
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_curate_reason_codes_and_outputs(spark):
    docs = _corpus(spark)
    bench = spark.createDataFrame([(99, OTHER)], ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           curate.curate(docs, bench=bench, budget_tokens=20).collect()}
    assert got[0]["keep"] and got[0]["drop_reason"] is None
    assert got[1]["drop_reason"] == "exact_duplicate"
    assert got[2]["drop_reason"] == "low_quality"
    assert got[3]["drop_reason"] == "repetitive"
    assert got[4]["drop_reason"] == "lang_filtered"
    assert got[5]["drop_reason"] == "contaminated"  # 13-gram overlap w/ bench
    # kept docs carry tokens/shard/md5; dropped docs carry nulls
    assert got[0]["n_tokens"] and got[0]["scrubbed_md5"]
    assert got[0]["shard_id"] == 0
    for d in (1, 2, 3, 4, 5):
        assert got[d]["n_tokens"] is None and got[d]["shard_id"] is None


def test_curate_near_dup_stage(spark):
    docs = _corpus(spark, with_near=True)
    got = {r["doc_id"]: r["drop_reason"] for r in
           curate.curate(docs, near_dup=True).collect()}
    assert got[6] == "near_duplicate"     # swept by MinHash, min-id kept
    assert got[0] is None
    got_off = {r["doc_id"]: r["drop_reason"] for r in
               curate.curate(docs, near_dup=False).collect()}
    assert got_off[6] is None             # stage off: near dup survives


def test_curate_dup_verdict_independent_of_keeper_fate(spark):
    """A duplicate copy reports exact_duplicate even when the group's
    min-id keeper was itself dropped by an earlier gate (corpus_clean
    semantics — group membership is a property of the full input)."""
    junk = "x1 2 3 4 5 6 7 8 9 10 11 12"   # digit-heavy: fails quality
    docs = spark.createDataFrame(
        [(0, junk), (1, junk), (2, BASE)], ["doc_id", "text"])
    got = {r["doc_id"]: r["drop_reason"] for r in
           curate.curate(docs).collect()}
    assert got[0] == "low_quality"
    assert got[1] == "low_quality"        # quality precedes duplicate
    assert got[2] is None


def test_curate_scrub_reflected_in_tokens_and_md5(spark):
    """Shards and md5 are computed over SCRUBBED text: an email collapses
    to [EMAIL], changing the token count vs the raw text."""
    text = BASE + " contact someone@example.com here"
    docs = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    row = curate.curate(docs, with_text=True).collect()[0]
    assert "[EMAIL]" in row["scrubbed_text"]
    assert row["n_tokens"] == len(text.split())  # email is one token both ways
    import hashlib
    assert row["scrubbed_md5"] == hashlib.md5(
        row["scrubbed_text"].encode()).hexdigest()


def test_run_curation_sinks_and_digest_invariance(spark, tmp_path):
    docs = _corpus(spark, with_near=True)
    inp = str(tmp_path / "docs.parquet")
    docs.write.parquet(inp)
    s1 = curate.run_curation(spark, inp, str(tmp_path / "out1"),
                             near_dup=True, partitions=2)
    s2 = curate.run_curation(
        spark, inp, str(tmp_path / "out2"), near_dup=True, partitions=5)
    assert s1["digest"] == s2["digest"] != 0
    assert s1["kept_count"] == 2          # docs 0 and 5
    assert s1["n_exact_duplicate"] == 1 and s1["n_near_duplicate"] == 1
    assert s1["n_low_quality"] == 1 and s1["n_repetitive"] == 1
    assert s1["n_lang_filtered"] == 1 and s1["n_contaminated"] == 0
    data = spark.read.parquet(str(tmp_path / "out1/data"))
    assert data.count() == 2
    assert set(data.columns) == {"doc_id", "text", "n_tokens", "shard_id"}
    report = spark.read.parquet(str(tmp_path / "out1/report"))
    assert report.count() == 7
    summary = [json.loads(line)
               for p in glob.glob(str(tmp_path / "out1/summary/*.json"))
               for line in open(p) if line.strip()]
    assert summary[0]["input_count"] == 7
    assert summary[0]["digest"] == s1["digest"]


def test_run_curation_empty_input(spark, tmp_path):
    """An empty crawl day publishes a zero-count summary instead of
    dying at the summary step (sums over zero rows are NULL, and
    createDataFrame cannot infer types from None)."""
    docs = _corpus(spark).limit(0)
    inp = str(tmp_path / "empty.parquet")
    docs.write.parquet(inp)
    s = curate.run_curation(spark, inp, str(tmp_path / "out"), partitions=2)
    assert s["input_count"] == 0 and s["kept_count"] == 0
    assert s["total_tokens"] == 0 and s["digest"] == 0
    assert all(s[k] == 0 for k in s if k.startswith("n_"))
    assert spark.read.parquet(str(tmp_path / "out/report")).count() == 0


def test_curation_job_count_budget(spark, tmp_path):
    """Fixed-cost regression guard: one curation run stays within its
    Spark job budget.  The summary is observed on the ``report/`` and
    ``data/`` writes, so no job re-reads the verdicts for it; measures 15
    on this corpus at local[4] (an aggregate-and-collect summary adds
    three jobs)."""
    inp = str(tmp_path / "docs.parquet")
    _corpus(spark).write.parquet(inp)
    n_jobs = count_jobs(spark, lambda: curate.run_curation(
        spark, inp, str(tmp_path / "out"), partitions=2))
    assert 0 < n_jobs <= 15, f"curation ran {n_jobs} Spark jobs"


def test_curation_summary_write_runs_one_task(spark, tmp_path):
    """Curation's one-row ``summary/`` JSON write — its last job — runs
    ONE task; built from a local list it ran ``defaultParallelism`` (4)
    tasks."""
    inp = str(tmp_path / "docs.parquet")
    _corpus(spark).write.parquet(inp)
    tasks = job_tasks(spark, lambda: curate.run_curation(
        spark, inp, str(tmp_path / "out"), partitions=2))
    assert tasks[-1] == 1, tasks


def test_curate_url_gates(spark):
    """Blocklist gate outranks every later reason; the host cap ranks
    only SURVIVORS (a host's blocked/junk pages must not consume its cap
    slots) and drops lowest-priority ids last."""
    rows = [
        (0, BASE + " spam body", "https://spam.bad.example/x"),  # url_blocked
        (1, "tiny junk", "https://big.example/junk"),   # low_quality
        (2, BASE, "https://big.example/a"),             # kept
        (3, OTHER, "https://big.example/b"),            # kept (slot 2)
        (4, BASE + " extra tail words here", "https://big.example/c"),
        (5, OTHER + " more trailing content", "https://small.example/y"),
        (6, BASE, "https://bad.example/dup"),           # url_blocked
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "url"])
    bl = spark.createDataFrame([("bad.example",)], ["domain"])
    got = {r["doc_id"]: r for r in
           curate.curate(docs, blocklist=bl, max_per_host=2,
                         budget_tokens=50).collect()}
    assert got[0]["drop_reason"] == "url_blocked"
    # url_blocked outranks exact_duplicate: doc 6 duplicates doc 2's
    # text (and 2 is its group's min-id keeper)
    assert got[6]["drop_reason"] == "url_blocked"
    assert got[1]["drop_reason"] == "low_quality"
    # big.example survivors are 2,3,4 — cap 2 keeps lowest ids 2,3;
    # doc 1 (dropped earlier) did NOT consume a slot
    assert got[2]["keep"] and got[3]["keep"]
    assert got[4]["drop_reason"] == "host_capped"
    assert got[5]["keep"]
    # the url column does not leak into the verdict schema
    assert "url" not in curate.curate(
        docs, blocklist=bl, max_per_host=2).columns


def test_curate_url_gates_require_url_column(spark):
    import pytest
    docs = spark.createDataFrame([(0, BASE)], ["doc_id", "text"])
    bl = spark.createDataFrame([("bad.example",)], ["domain"])
    with pytest.raises(ValueError):
        curate.curate(docs, blocklist=bl)
    with pytest.raises(ValueError):
        curate.curate(docs, max_per_host=3)


def test_curate_surprisal_gate(spark):
    """Gibberish above the LM threshold drops as high_surprisal, which
    outranks exact_duplicate but yields to earlier gates."""
    from ocr_spark.operators import textstats
    seed = spark.createDataFrame([(0, BASE), (1, OTHER)],
                                 ["doc_id", "text"])
    model = textstats.surprisal_model(seed)
    gib = ("qzx vkj wqp zzk jjx qqw xqv kjz bqx cvk dwq fzk gjx "
           "hqw jqv kkz lzx mvk nwq pzk rjx sqw tqv vkz")
    rows = [
        (0, BASE),          # fluent under its own seed — kept
        (1, gib),           # high_surprisal
        (2, gib),           # dup of 1 — but high_surprisal wins precedence
        (3, "tiny junk"),   # low_quality outranks surprisal
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["drop_reason"] for r in
           curate.curate(docs, lm_model=model,
                         langs=curate.DEFAULT_LANGS + ("und",),
                         max_surprisal_x1000=7000).collect()}
    assert got[0] is None
    assert got[1] == "high_surprisal"
    assert got[2] == "high_surprisal"
    assert got[3] == "low_quality"
    # both knobs must come together
    import pytest
    with pytest.raises(ValueError):
        curate.curate(docs, lm_model=model)
    with pytest.raises(ValueError):
        curate.curate(docs, max_surprisal_x1000=5000)


def test_curate_classifier_gate(spark):
    """Background-like (spammy) docs below the log-odds threshold drop as
    classifier_rejected, which outranks exact_duplicate but yields to the
    surprisal gate and every earlier one."""
    from ocr_spark.operators import textstats
    seed = spark.createDataFrame([(0, BASE), (1, OTHER)],
                                 ["doc_id", "text"])
    # spammy VOCABULARY without repeated 2-grams, so the earlier
    # repetition gate stays quiet and the classifier is what fires
    spam = ("casino bonus winner pills deals offers jackpot prize coins "
            "tokens spins bets odds chips stakes")
    background = spark.createDataFrame([(0, spam)], ["doc_id", "text"])
    model = textstats.quality_classifier_model(seed, background)
    rows = [
        (0, BASE),    # seed-like — kept
        (1, spam),    # classifier_rejected
        (2, spam),    # dup of 1 — classifier wins precedence
        (3, "casino bonus"),  # low_quality (<5 tokens) outranks classifier
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["drop_reason"] for r in
           curate.curate(docs, clf_model=model,
                         langs=curate.DEFAULT_LANGS + ("und",),
                         min_logodds_x1000=0).collect()}
    assert got[0] is None
    assert got[1] == "classifier_rejected"
    assert got[2] == "classifier_rejected"
    assert got[3] == "low_quality"
    # both knobs must come together
    import pytest
    with pytest.raises(ValueError):
        curate.curate(docs, clf_model=model)
    with pytest.raises(ValueError):
        curate.curate(docs, min_logodds_x1000=0)


def test_curate_substr_dedup_rewrite(spark):
    """ExactSubstr rewrite: a duplicated 8-token span is cut from the
    later admitted copy (not the corpus-first one); dropped docs and the
    no-rewrite path are unaffected."""
    span = "v1 v2 v3 v4 v5 v6 v7 v8"
    rows = [
        (0, BASE),                                   # kept, untouched
        (1, span + " alpha beta gamma delta own"),   # first span holder
        (2, "pre1 pre2 pre3 pre4 pre5 " + span),     # later copy -> cut
        (3, "tiny junk"),                            # low_quality drop
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           curate.curate(docs, substr_dedup_k=8, with_text=True,
                         langs=curate.DEFAULT_LANGS + ("und",)).collect()}
    assert got[0]["keep"] and got[1]["keep"] and got[2]["keep"]
    assert got[3]["drop_reason"] == "low_quality"
    assert got[3]["scrubbed_text"] is None and got[3]["n_tokens"] is None
    # first holder keeps its span (canonical lowercase stream)
    assert got[1]["scrubbed_text"] == span + " alpha beta gamma delta own"
    assert got[1]["n_tokens"] == 13
    # later copy loses exactly the 8 span tokens
    assert got[2]["scrubbed_text"] == "pre1 pre2 pre3 pre4 pre5"
    assert got[2]["n_tokens"] == 5
    # md5 reflects the rewritten text
    import hashlib
    assert got[2]["scrubbed_md5"] == hashlib.md5(
        b"pre1 pre2 pre3 pre4 pre5").hexdigest()
    # default path unchanged: span survives in both copies
    off = {r["doc_id"]: r for r in
           curate.curate(docs, with_text=True,
                         langs=curate.DEFAULT_LANGS + ("und",)).collect()}
    assert off[2]["scrubbed_text"].endswith(span)


def test_curate_substr_dedup_only_among_survivors(spark):
    """Set dependence: when the corpus-first span holder is DROPPED by a
    gate, the surviving copy becomes first and keeps its span."""
    span = "va vb vc vd ve vf vg vh"
    rows = [
        # corpus-first span holder, dropped by the repetition gate
        (0, span + " qq qq qq qq qq qq qq qq qq qq qq qq"),
        (1, span + " tail1 tail2 tail3 tail4 tail5"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           curate.curate(docs, substr_dedup_k=8, with_text=True,
                         langs=curate.DEFAULT_LANGS + ("und",)).collect()}
    assert got[0]["drop_reason"] == "repetitive"
    # doc 1 is now the FIRST holder among survivors — span survives
    assert got[1]["keep"]
    assert got[1]["scrubbed_text"] == span + " tail1 tail2 tail3 tail4 tail5"
