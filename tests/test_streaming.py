"""Structured Streaming extraction: exactly-once file-source resume +
batch-equivalence of the streamed results."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from html_parser_spark.fixtures import ensure_transcripts
from html_parser_spark.functions.extract import extract
from html_parser_spark.streaming.stream import run_stream_backfill


@pytest.fixture(scope="module")
def split_input(spark, tmp_path_factory):
    """sf0.001 transcripts split into two file batches."""
    src = spark.read.parquet(ensure_transcripts(0.001))
    d = str(tmp_path_factory.mktemp("stream_in"))
    a = src.filter(F.crc32("conv_id") % 2 == 0)
    b = src.filter(F.crc32("conv_id") % 2 == 1)
    a.coalesce(1).write.mode("overwrite").parquet(d + "/batch_a")
    b.coalesce(1).write.mode("overwrite").parquet(d + "/batch_b")
    live = str(tmp_path_factory.mktemp("stream_live"))
    return d, live, a.count(), b.count()


def _move_in(staging, live, batch):
    for f in os.listdir(os.path.join(staging, batch)):
        if f.endswith(".parquet"):
            shutil.copy(
                os.path.join(staging, batch, f),
                os.path.join(live, f"{batch}_{f}"),
            )


def test_availablenow_resume_is_exactly_once(spark, split_input, tmp_path_factory):
    staging, live, n_a, n_b = split_input
    out = str(tmp_path_factory.mktemp("stream_out"))

    _move_in(staging, live, "batch_a")
    run_stream_backfill(spark, live, out, with_metrics=False)
    got_a = spark.read.parquet(f"{out}/extracted")
    assert got_a.count() == n_a

    # new files land; re-run with the same checkpoint → only batch_b
    _move_in(staging, live, "batch_b")
    run_stream_backfill(spark, live, out, with_metrics=False)
    final = spark.read.parquet(f"{out}/extracted")
    assert final.count() == n_a + n_b
    assert final.select("conv_id", "turn_idx").distinct().count() == n_a + n_b


def test_stream_matches_batch_extractor(spark, split_input, tmp_path_factory):
    staging, live2, n_a, n_b = split_input
    live = str(tmp_path_factory.mktemp("stream_live2"))
    out = str(tmp_path_factory.mktemp("stream_out2"))
    _move_in(staging, live, "batch_a")
    run_stream_backfill(spark, live, out)

    raw = {
        (r.conv_id, r.turn_idx): r.text
        for r in spark.read.parquet(f"{live}").select(
            "conv_id", "turn_idx", "text"
        ).collect()
    }
    for row in spark.read.parquet(f"{out}/extracted").limit(300).collect():
        want = extract(raw[(row.conv_id, row.turn_idx)])
        assert row.main_text == want["main_text"]
        assert row.parse_status == want["parse_status"]

    # watermarked windowed metrics: append mode emits only windows the
    # final watermark has closed — the tail windows stay in checkpoint
    # state until later data advances event time (correct late-data
    # semantics, not loss)
    m = spark.read.parquet(f"{out}/metrics")
    emitted = m.agg(F.sum("turns")).first()[0]
    assert 0 < emitted <= n_a
    assert {c for c in m.columns} >= {"window_start", "parse_status", "turns"}


def test_metrics_query_reads_the_extracted_sink(spark, split_input, tmp_path_factory):
    """The metrics query streams the committed ``extracted`` sink, not
    the input directory, so each input file goes through the
    extraction UDF once per backfill."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    staging, _, n_a, _ = split_input
    live = str(tmp_path_factory.mktemp("stream_live3"))
    out = str(tmp_path_factory.mktemp("stream_out3"))
    _move_in(staging, live, "batch_a")

    progress = []

    class Sources(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            progress.append(
                (p.sink.description, [s.description for s in p.sources])
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Sources()
    spark.streams.addListener(listener)
    try:
        run_stream_backfill(spark, live, out)
        deadline = time.time() + 60
        while time.time() < deadline and not any(
            os.path.join(out, "metrics") in sink for sink, _ in progress
        ):
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)

    metrics_sources = [
        src for sink, srcs in progress
        if os.path.join(out, "metrics") in sink for src in srcs
    ]
    assert metrics_sources, progress
    for src in metrics_sources:
        assert os.path.join(out, "extracted") in src, src
        assert live not in src, src
    assert spark.read.parquet(f"{out}/extracted").count() == n_a
