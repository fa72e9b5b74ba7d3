"""Structured Streaming ingest variant: batch-equivalence, resume, watermark."""

from __future__ import annotations

import pytest

from ocr_spark import lineage as lin
from ocr_spark import pagegen, streaming
from ocr_spark.job import run_pipeline
from tests.conftest import RUN_DATE

N_PAGES = 120


@pytest.fixture(scope="module")
def stream_input(tmp_path_factory):
    """Two page files in one source dir — two+ micro-batches available."""
    d = tmp_path_factory.mktemp("stream_in")
    pagegen.write_local(N_PAGES // 2, str(d / "part0.parquet"))
    import pyarrow as pa
    import pyarrow.parquet as pq
    rows = [pagegen.page_for(i) for i in range(N_PAGES // 2, N_PAGES)]
    pq.write_table(pa.Table.from_pylist(rows), str(d / "part1.parquet"))
    return str(d)


def test_stream_matches_batch_digest(spark, stream_input, tmp_path):
    """availableNow streaming output digest == batch pipeline digest."""
    out = str(tmp_path / "stream_out")
    streaming.run_streaming_pipeline(
        spark, stream_input, out, RUN_DATE, partitions=4,
        max_files_per_trigger=1)

    batch_out = str(tmp_path / "batch_out")
    batch = run_pipeline(spark, stream_input, batch_out, RUN_DATE, partitions=4)

    written = spark.read.parquet(f"{out}/data")
    stream_summary = lin.global_summary(written, "check", 0).collect()[0]
    assert stream_summary["input_count"] == N_PAGES
    assert stream_summary["digest"] == batch["digest"]
    assert stream_summary["valid_count"] == batch["valid_count"]
    # one observed summary row per micro-batch; together they are the batch
    # run's summary
    rows = spark.read.parquet(f"{out}/lineage_summary").collect()
    assert sorted(r["batch_id"] for r in rows) == [0, 1]
    assert sorted(r["run_id"] for r in rows) == ["stream-0", "stream-1"]
    for key in ("input_count", "valid_count", "tier2_count",
                "quarantined_count"):
        assert sum(r[key] for r in rows) == batch[key], key
    assert rows[0]["digest"] ^ rows[1]["digest"] == batch["digest"]


def test_stream_resume_is_idempotent(spark, stream_input, tmp_path):
    """Restarting with the same checkpoint processes nothing new."""
    out = str(tmp_path / "resume_out")
    streaming.run_streaming_pipeline(spark, stream_input, out, RUN_DATE,
                                     partitions=4)
    n1 = spark.read.parquet(f"{out}/data").count()
    streaming.run_streaming_pipeline(spark, stream_input, out, RUN_DATE,
                                     partitions=4)
    n2 = spark.read.parquet(f"{out}/data").count()
    assert n1 == N_PAGES and n2 == n1


def test_stream_batch_replay_is_idempotent(spark, stream_input, tmp_path):
    """foreachBatch is at-least-once: simulate a replay of EVERY batch
    (checkpoint lost, output kept) — the batch_id-keyed overwrite writes
    must leave counts and digest unchanged, not append duplicates."""
    import shutil

    out = str(tmp_path / "replay_out")
    streaming.run_streaming_pipeline(spark, stream_input, out, RUN_DATE,
                                     partitions=4)
    data1 = spark.read.parquet(f"{out}/data")
    n1 = data1.count()
    d1 = lin.global_summary(data1, "chk", 0).collect()[0]["digest"]
    shutil.rmtree(f"{out}/_checkpoint")  # lose the commit log → full replay
    # without the checkpoint the existing output would be wiped — that is
    # never implicit: the un-authorized call must fail loudly...
    with pytest.raises(FileExistsError, match="allow_reset"):
        streaming.run_streaming_pipeline(spark, stream_input, out, RUN_DATE,
                                         partitions=4)
    # ...and the refused call must not have touched the committed output
    assert spark.read.parquet(f"{out}/data").count() == n1
    streaming.run_streaming_pipeline(spark, stream_input, out, RUN_DATE,
                                     partitions=4, allow_reset=True)
    data2 = spark.read.parquet(f"{out}/data")
    assert data2.count() == n1 == N_PAGES
    assert lin.global_summary(data2, "chk", 0).collect()[0]["digest"] == d1
    assert data2.select("url").distinct().count() == N_PAGES


def test_host_profiles_stateful(spark, stream_input, tmp_path):
    """applyInPandasWithState accumulates per-host counters across batches."""
    stream = streaming.read_pages_stream(spark, stream_input,
                                         max_files_per_trigger=1)
    extracted = streaming.transform_stream(stream, RUN_DATE)
    profiles = streaming.host_profiles(extracted)
    q = (profiles.writeStream.outputMode("update")
         .format("memory").queryName("hp")
         .option("checkpointLocation", str(tmp_path / "ck_hp"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.sql("select * from hp").collect()
    assert rows
    # update mode re-emits a host each batch it appears in; the max per host
    # is the final running total, and totals must cover every input page
    final = {}
    for r in rows:
        final[r["host"]] = max(final.get(r["host"], 0), r["pages_seen"])
    assert sum(final.values()) == N_PAGES
    assert all(h.startswith("host-") for h in final)


def test_quality_rollup_watermark(spark, stream_input, tmp_path):
    """Watermarked windowed rollup drains under availableNow and sums to input."""
    stream = streaming.read_pages_stream(spark, stream_input)
    extracted = streaming.transform_stream(stream, RUN_DATE)
    rollup = streaming.quality_rollup(extracted, window="1 hour",
                                      watermark="2 hours")
    # complete mode: every window is visible even before the watermark closes
    # it (the fixture's pages all land inside one hour, so append mode would
    # emit nothing until a later event advanced the watermark past the window)
    q = (rollup.writeStream.outputMode("complete")
         .format("memory").queryName("qr")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.sql("select * from qr").collect()
    assert rows, "no windows emitted"
    assert sum(r["n_docs"] for r in rows) == N_PAGES
    assert {r["doc_type"] for r in rows} == {"dni", "permiso_circulacion", "nif"}


def test_dedup_stream_bounded_state(spark, stream_input, tmp_path):
    """Streaming per-url dedup: duplicate urls across micro-batches are
    suppressed.  Uses dropDuplicatesWithinWatermark — plain
    dropDuplicates(['url']) would never evict state (the event-time
    column is not in the key), growing unboundedly on a continuous
    crawl."""
    import shutil

    dup_dir = tmp_path / "dup_in"
    dup_dir.mkdir()
    # the same two files twice -> every url appears in >= 2 batches
    shutil.copy(f"{stream_input}/part0.parquet", dup_dir / "a.parquet")
    shutil.copy(f"{stream_input}/part1.parquet", dup_dir / "b.parquet")
    shutil.copy(f"{stream_input}/part0.parquet", dup_dir / "c.parquet")
    shutil.copy(f"{stream_input}/part1.parquet", dup_dir / "d.parquet")
    stream = streaming.read_pages_stream(spark, str(dup_dir),
                                         max_files_per_trigger=1)
    deduped = streaming.dedup_stream(stream.withColumn(
        "warc_ts", stream["warc_ts"].cast("timestamp")))
    q = (deduped.select("url").writeStream.outputMode("append")
         .format("memory").queryName("dd")
         .option("checkpointLocation", str(tmp_path / "ck_dd"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    urls = [r["url"] for r in spark.sql("select url from dd").collect()]
    assert len(urls) == N_PAGES            # each url exactly once
    assert len(set(urls)) == N_PAGES
