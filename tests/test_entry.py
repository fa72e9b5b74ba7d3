"""Driver-contract smoke: entry() runs, queries()/oracle_sql() are consistent."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_runs(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    cols = set(df.columns)
    assert {"doc_type", "n_docs", "n_valido", "sum_conf", "n_tier2",
            "digest"} == cols
    assert sum(r["n_docs"] for r in rows) > 0
    # every doc type reached the written output, some rows took tier 2,
    # and the global digest is attached (same value on every row)
    assert {r["doc_type"] for r in rows} == {"dni", "nif",
                                             "permiso_circulacion"}
    assert sum(r["n_tier2"] for r in rows) > 0
    assert len({r["digest"] for r in rows}) == 1


def test_queries_registry_shape():
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 25
    # every oracle key must have a query
    assert set(oracles) <= set(qs)
    # the SQL-expressible core is oracle-covered
    for name in ("token_count", "dni_check_letter", "cif_control", "tpch_q1",
                 "embedding_topk", "confidence_score", "fingerprint"):
        assert name in oracles


def test_sample_query_runs(spark):
    qs = entrymod.queries()
    df = qs["token_count"](spark, "/root/testdata/sf0.001")
    assert df.count() > 0


def test_extract_parity_not_vacuous(spark):
    """extract_parity's oracle is the EMPTY relation, so an accidentally
    always-false comparison would pass forever.  Positive control: the
    un-filtered two-path comparison must produce one row per (doc, type)
    with non-empty, EQUAL json on both sides — proving the filter
    compares real payloads — and the registered query must return 0
    disagreement rows."""
    from pyspark.sql import functions as F

    from ocr_spark.functions import udfs

    sf = "/root/testdata/sf0.001"
    docs = entrymod._docs(spark, sf).select("doc_id", "text").limit(40)
    fused = udfs.parse_udf("dni", entrymod.RUN_DATE)
    both = (docs.withColumn("_a", fused(F.col("text"), F.lit(95.0)))
            .select(F.to_json("_a").alias("j")).collect())
    assert len(both) == 40
    assert all(r["j"] and len(r["j"]) > 20 for r in both), \
        "fused path produced empty json — parity filter would be vacuous"
    assert entrymod.q_extract_parity(spark, sf).count() == 0


def test_extract_parity_detects_divergence(spark):
    """The parity machinery CAN fire: run the same fused UDF with two
    different confidences (a genuine semantic divergence — the router
    and confianza fields change) through the exact to_json-inequality
    comparison the query uses, and assert disagreement rows surface."""
    from pyspark.sql import functions as F

    from ocr_spark.functions import udfs

    sf = "/root/testdata/sf0.001"
    docs = entrymod._docs(spark, sf).select("doc_id", "text").limit(10)
    fused = udfs.parse_udf("dni", entrymod.RUN_DATE)
    cmp = (docs.withColumn("_a", fused(F.col("text"), F.lit(95.0)))
           .withColumn("_b", fused(F.col("text"), F.lit(10.0)))
           .select(F.to_json("_a").alias("a"), F.to_json("_b").alias("b"))
           .filter(F.col("a") != F.col("b")))
    assert cmp.count() > 0, "to_json comparison failed to flag divergence"


def test_json_diff_detects_divergence(spark):
    """Positive control for the stream_vs_batch / pipeline_curate
    empty-diff oracles: the shared _canon_json + _full_outer_json_diff
    kernel must FIRE on every divergence class — a changed value, a row
    missing on one side, a row missing on the other — and must NOT fire
    on frames that differ only in physical column order (canonical JSON
    sorts columns by name)."""
    a = spark.createDataFrame(
        [("u1", 1, "x"), ("u2", 2, "y"), ("u3", 3, "z")],
        ["url", "n", "t"])
    b = spark.createDataFrame(
        [("u1", 1, "x"), ("u2", 99, "y"), ("u4", 4, "w")],
        ["url", "n", "t"])
    diff = {r["key"]: (r["a_json"], r["b_json"]) for r in
            entrymod._full_outer_json_diff(
                entrymod._canon_json(a, "url"),
                entrymod._canon_json(b, "url"), "s").collect()}
    assert set(diff) == {"u2", "u3", "u4"}
    assert diff["u2"][0] != diff["u2"][1]          # changed value
    assert diff["u3"][1] is None                   # missing in b
    assert diff["u4"][0] is None                   # missing in a

    # column-order immunity: same data, reordered physical columns
    b_reordered = a.select("t", "url", "n")
    assert entrymod._full_outer_json_diff(
        entrymod._canon_json(a, "url"),
        entrymod._canon_json(b_reordered, "url"), "s").count() == 0


def test_stream_vs_batch_diff_empty(spark):
    """The registered stream_vs_batch query must return the empty diff
    (its oracle is the empty relation) — streaming and batch produce
    byte-identical rows per url on the same input."""
    assert entrymod.q_stream_vs_batch(spark, "/root/testdata/sf0.001") \
        .count() == 0


def test_pipeline_curate_diff_empty(spark):
    """The registered pipeline_curate query must return the empty diff:
    the extraction→curation capstone is row-identical across two
    partition counts (8 vs 3) on the same input."""
    assert entrymod.q_pipeline_curate(spark, "/root/testdata/sf0.001") \
        .count() == 0


def test_ivf_artifact_hygiene(spark):
    """The digest-keyed IVF artifact dir must be concurrency- and
    crash-safe (review-found classes): (1) sibling pruning may NEVER
    remove an in-flight `<path>.build.<pid>` scratch of the live digest
    — deleting one mid-save lets its rename publish a partial index;
    (2) pruning is AGE-GATED (round-4 ADVICE fix): a recently-touched
    sibling digest may belong to a concurrently running harness built
    from a different code revision and must survive, while an aged-out
    one is garbage-collected; (3) a partial dir under the CURRENT digest
    (e.g. a killed writer) must trigger a rebuild, not be trusted as a
    complete index."""
    import os
    import shutil
    import time

    idx_path = entrymod._ivf_index_path("/root/testdata/sf0.001")
    prefix = idx_path.rsplit("_", 1)[0]
    aged = prefix + "_deadbeef0000"
    fresh = prefix + "_cafecafe0000"
    scratch = f"{idx_path}.build.99999"
    for d in (aged, fresh, scratch):
        os.makedirs(d, exist_ok=True)
    old = time.time() - 7 * 3600  # past the 6 h idle threshold
    os.utime(aged, (old, old))
    try:
        entrymod._prune_stale_siblings(idx_path)
        assert not os.path.isdir(aged)           # aged-out digest pruned
        assert os.path.isdir(fresh)              # possibly-live sibling kept
        assert os.path.isdir(scratch)            # live scratch untouched
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        shutil.rmtree(aged, ignore_errors=True)
        shutil.rmtree(fresh, ignore_errors=True)

    # partial dir: centroids written, 'assigned' (the completion marker,
    # written last by ivf_save) missing -> the query must rebuild and
    # still answer correctly
    shutil.rmtree(idx_path, ignore_errors=True)
    os.makedirs(f"{idx_path}/centroids", exist_ok=True)
    try:
        out = entrymod.q_embedding_ann_ivf(spark, "/root/testdata/sf0.001")
        assert out.count() > 0
        assert os.path.isdir(f"{idx_path}/assigned")   # rebuilt, complete
    finally:
        shutil.rmtree(idx_path, ignore_errors=True)
