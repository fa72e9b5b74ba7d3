"""Structured Streaming ingest variant: batch-equivalence, resume,
admission."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from ocr_spark import pagegen, streaming
from ocr_spark.job import run_pipeline
from tests.conftest import RUN_DATE, global_summary

N_PAGES = 120


@pytest.fixture(scope="module")
def stream_input(tmp_path_factory):
    """Two page files in one source dir."""
    d = tmp_path_factory.mktemp("stream_in")
    pagegen.write_local(N_PAGES // 2, str(d / "part0.parquet"))
    import pyarrow as pa
    import pyarrow.parquet as pq
    rows = [pagegen.page_for(i) for i in range(N_PAGES // 2, N_PAGES)]
    pq.write_table(pa.Table.from_pylist(rows), str(d / "part1.parquet"))
    return str(d)


def _stream_file_by_file(spark, src: str, tmp_path, out: str) -> None:
    """Land *src*'s page files one at a time in a fresh source directory,
    running the stream after each: every run resumes from the checkpoint
    and commits the new file as the next micro-batch (``batch_id`` 0, 1,
    ...)."""
    landing = tmp_path / "landing"
    landing.mkdir()
    for f in sorted(Path(src).glob("*.parquet")):
        shutil.copy(f, landing / f.name)
        streaming.run_streaming_pipeline(spark, str(landing), out, RUN_DATE)


def test_stream_matches_batch_digest(spark, stream_input, tmp_path):
    """availableNow streaming output digest == batch pipeline digest."""
    out = str(tmp_path / "stream_out")
    _stream_file_by_file(spark, stream_input, tmp_path, out)

    batch_out = str(tmp_path / "batch_out")
    batch = run_pipeline(spark, stream_input, batch_out, RUN_DATE, partitions=4)

    stream_summary = global_summary(spark.read.parquet(f"{out}/data"))
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
    streaming.run_streaming_pipeline(spark, stream_input, out, RUN_DATE)
    n1 = spark.read.parquet(f"{out}/data").count()
    streaming.run_streaming_pipeline(spark, stream_input, out, RUN_DATE)
    n2 = spark.read.parquet(f"{out}/data").count()
    assert n1 == N_PAGES and n2 == n1


def test_stream_batch_replay_is_idempotent(spark, stream_input, tmp_path):
    """foreachBatch is at-least-once: a crash after the sink writes but
    before the commit replays the batch from its offsets.  Dropping the
    last commit file makes the next run re-execute that batch — its
    batch_id-keyed overwrite writes must leave counts and digest
    unchanged, not append duplicates."""
    out = str(tmp_path / "replay_out")
    _stream_file_by_file(spark, stream_input, tmp_path, out)
    data1 = spark.read.parquet(f"{out}/data")
    n1 = data1.count()
    d1 = global_summary(data1)["digest"]

    def files(batch_id):
        part = Path(out, "data", f"batch_id={batch_id}")
        return sorted(p.name for p in part.rglob("*.parquet"))

    before = files(0), files(1)
    commits = Path(out, "_checkpoint", "commits")
    for name in ("1", ".1.crc"):
        (commits / name).unlink(missing_ok=True)
    streaming.run_streaming_pipeline(
        spark, str(tmp_path / "landing"), out, RUN_DATE)
    assert (commits / "1").exists()   # the replayed batch committed
    assert files(0) == before[0]      # batch 0 untouched...
    assert files(1) != before[1]      # ...batch 1 rewritten in place
    data2 = spark.read.parquet(f"{out}/data")
    assert data2.count() == n1 == N_PAGES
    assert global_summary(data2)["digest"] == d1
    assert data2.select("url").distinct().count() == N_PAGES
    summaries = spark.read.parquet(f"{out}/lineage_summary").collect()
    assert sorted(r["run_id"] for r in summaries) == ["stream-0", "stream-1"]

    # with the whole checkpoint lost the stream would renumber its batches
    # from 0: it refuses to start, and leaves the committed output alone
    shutil.rmtree(f"{out}/_checkpoint")
    with pytest.raises(FileExistsError, match="no _checkpoint"):
        streaming.run_streaming_pipeline(spark, stream_input, out, RUN_DATE)
    assert spark.read.parquet(f"{out}/data").count() == n1


@pytest.fixture(scope="module")
def gated_input(tmp_path_factory):
    """Two page files, each with rows the admission gates quarantine: a
    missing url, an empty payload and an oversize html page."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ocr_spark.job import MAX_HTML_BYTES

    d = tmp_path_factory.mktemp("gated_in")
    ts = pagegen._BASE_TS
    gated = [
        [{"url": None, "warc_ts": ts, "html": b"<p>APELLIDOS</p>",
          "text": None, "lang": "es"}],
        [{"url": "gate://empty", "warc_ts": ts, "html": None, "text": None,
          "lang": "es"},
         {"url": "gate://oversize", "warc_ts": ts,
          "html": b"x" * (MAX_HTML_BYTES + 1), "text": None, "lang": "es"}],
    ]
    for part, extra in enumerate(gated):
        rows = [pagegen.page_for(i) for i in range(part * 20, part * 20 + 20)]
        pq.write_table(pa.Table.from_pylist(rows + extra),
                       str(d / f"part{part}.parquet"))
    return str(d)


def test_stream_quarantines_like_batch(spark, gated_input, tmp_path):
    """Every streamed row passes the batch job's admission gates: the
    stream's ``quarantine/`` holds the same (url, reason) rows as a batch
    run over the same files, and the per-batch ``quarantined_count``
    values sum to the batch run's count."""
    out = str(tmp_path / "stream_out")
    _stream_file_by_file(spark, gated_input, tmp_path, out)
    batch_out = str(tmp_path / "batch_out")
    batch = run_pipeline(spark, gated_input, batch_out, RUN_DATE,
                         partitions=2)

    def quarantine(path):
        return sorted((r["url"] or "", r["reason"]) for r in
                      spark.read.parquet(f"{path}/quarantine").collect())

    expected = [("", "missing_url"), ("gate://empty", "empty_payload"),
                ("gate://oversize", "oversize")]
    assert quarantine(batch_out) == expected
    assert quarantine(out) == expected
    rows = spark.read.parquet(f"{out}/lineage_summary").collect()
    assert sorted(r["batch_id"] for r in rows) == [0, 1]
    assert sorted(r["quarantined_count"] for r in rows) == [1, 2]
    assert sum(r["quarantined_count"] for r in rows) == \
        batch["quarantined_count"] == 3
    assert sum(r["input_count"] for r in rows) == batch["input_count"] == 40
