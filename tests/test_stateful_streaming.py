"""applyInPandasWithState sessionization vs the batch twin.

Determinism strategy: events are written time-sorted into 4 parquet
files streamed one-file-per-trigger (AvailableNow), so watermark
progression is fixed by the data.  The assertion avoids watermark-timing
sensitivity: every session the batch twin closes BEFORE the user's last
one MUST be emitted (gap-closures don't depend on the watermark), every
emitted row must exactly match a batch session, and at least one
session must close via event-time timeout across the batches.
"""

import pytest
from pyspark.sql import functions as F

from html_parser_spark.operators.temporal import sessionize
from html_parser_spark.sources.tables import read_corpus
from html_parser_spark.streaming.stateful import sessionize_stream

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def event_files(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ev_stream"))
    ev = read_corpus(spark, SF_DIR, "events").orderBy("ts")
    n = ev.count()
    rows = ev.collect()
    per = (n + 3) // 4
    for i in range(4):
        chunk = rows[i * per : (i + 1) * per]
        if chunk:
            spark.createDataFrame(chunk, ev.schema).coalesce(1).write.parquet(
                f"{d}/f{i}", mode="overwrite"
            )
    # one flat dir of files, lexicographic order == time order
    import glob
    import os
    import shutil

    flat = str(tmp_path_factory.mktemp("ev_flat"))
    k = 0
    for i in range(4):
        for f in sorted(glob.glob(f"{d}/f{i}/part-*.parquet")):
            dst = os.path.join(flat, f"{k:03d}.parquet")
            shutil.copy(f, dst)
            # the file source orders micro-batches by modification time;
            # copies land with near-identical mtimes, which scrambles
            # trigger order and turns early files into watermark-late
            # data — pin strictly increasing mtimes for determinism
            os.utime(dst, (1_000_000_000 + k, 1_000_000_000 + k))
            k += 1
    return flat


def test_stateful_sessionize_matches_batch(spark, event_files, tmp_path):
    ev_schema = read_corpus(spark, SF_DIR, "events").schema
    stream = (
        spark.readStream.schema(ev_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(event_files)
    )
    sessions = sessionize_stream(stream)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.user_id, r.session_start_sec, r.session_end_sec, r.n_events): r.closed_by
        for r in spark.sql("SELECT * FROM sess").collect()
    }

    batch = sessionize(read_corpus(spark, SF_DIR, "events")).collect()
    batch_keys = {
        (r.user_id, r.start_sec, r.end_sec, r.n_events) for r in batch
    }
    last_seq = {}
    for r in batch:
        last_seq[r.user_id] = max(last_seq.get(r.user_id, 0), r.session_seq)

    # 1. every emitted session is a real batch session (exact values)
    assert got, "stream emitted nothing"
    for key in got:
        assert key in batch_keys, f"spurious stream session {key}"
    # 2. all non-final sessions (gap-closed, watermark-independent) emitted
    expected_gap_closed = {
        (r.user_id, r.start_sec, r.end_sec, r.n_events)
        for r in batch
        if r.session_seq < last_seq[r.user_id]
    }
    missing = expected_gap_closed - set(got)
    assert not missing, f"{len(missing)} gap-closed sessions missing"
    # 3. the event-time timeout path fired for at least one session
    assert any(v == "timeout" for v in got.values()) or not any(
        True
        for r in batch
        if r.session_seq == last_seq[r.user_id]
    )


def test_sessionize_backfill_removes_staging(spark, tmp_path, monkeypatch):
    """The gate-form backfill stages events and its stream checkpoint in
    a ``sess_stage_*`` temp dir; the memory sink holds the output, so
    the dir must be gone once the call returns, and the returned frame
    must still read."""
    import tempfile

    from html_parser_spark.streaming.stateful import run_sessionize_backfill

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = run_sessionize_backfill(read_corpus(spark, SF_DIR, "events"))
    assert list(tmp_path.glob("sess_stage_*")) == []
    assert out.count() > 0
