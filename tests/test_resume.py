"""Resumability contract: kill-and-resume never loses or duplicates turns."""

import os
import pytest
from pyspark.sql import functions as F

from conftest import REPO
from html_parser_spark.fixtures import ensure_transcripts
from html_parser_spark.operators.resume import (
    filter_uncommitted,
    run_resumable,
)

CORPUS_JOB = os.path.join(REPO, "tools", "submit", "corpus_job.py")
INCREMENTAL_JOB = os.path.join(REPO, "tools", "submit", "incremental_job.py")


@pytest.fixture(scope="module")
def transcripts(spark):
    return spark.read.parquet(ensure_transcripts(0.001))


def test_interrupted_run_resumes_exactly(spark, transcripts, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("resume_out"))
    # simulate a killed first run: only half the conversations committed
    half = transcripts.filter(F.crc32("conv_id") % 2 == 0)
    r1 = run_resumable(spark, half, out, num_partitions=4)
    assert r1["n_written"] == half.count() > 0

    # resume over the FULL input: only the missing half is processed
    r2 = run_resumable(spark, transcripts, out, num_partitions=4)
    assert r2["n_new"] == transcripts.count() - r1["n_written"]

    final = spark.read.parquet(f"{out}/extracted")
    assert final.count() == transcripts.count()
    assert final.select("conv_id", "turn_idx").distinct().count() == transcripts.count()

    # idempotent re-run: nothing new, nothing written
    r3 = run_resumable(spark, transcripts, out, num_partitions=4)
    assert r3["n_new"] == 0
    assert spark.read.parquet(f"{out}/extracted").count() == transcripts.count()


def test_lineage_covers_all_turns(spark, transcripts, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("lineage_out"))
    run_resumable(spark, transcripts, out, num_partitions=4)
    lineage = spark.read.parquet(f"{out}/lineage")
    agg = lineage.agg(
        F.sum("n_turns").alias("turns"), F.count(F.lit(1)).alias("parts")
    ).first()
    assert agg["turns"] == transcripts.count()
    assert 0 < agg["parts"] <= 4
    metrics = spark.read.parquet(f"{out}/metrics")
    assert metrics.filter(F.col("parse_status") == "ok").count() == 1


def test_unreadable_output_stops_the_run(spark, transcripts, tmp_path):
    """Only a missing output, or one holding no data files (a first write
    killed before its commit leaves just ``_temporary``), reads as
    "nothing committed".  An output that cannot be read stops the run:
    re-extracting the whole input would append a duplicate of every
    committed turn."""
    from py4j.protocol import Py4JJavaError

    killed = tmp_path / "killed"
    (killed / "extracted" / "_temporary" / "0").mkdir(parents=True)
    r = run_resumable(spark, transcripts, str(killed), num_partitions=4)
    assert r["n_written"] == transcripts.count()

    out = tmp_path / "corrupt"
    extracted = out / "extracted"
    extracted.mkdir(parents=True)
    (extracted / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Py4JJavaError):
        run_resumable(spark, transcripts, str(out), num_partitions=4)
    assert os.listdir(extracted) == ["part-00000.parquet"]
    assert not (out / "lineage").exists()
    assert not (out / "metrics").exists()


def test_filter_uncommitted_none_passthrough(transcripts):
    assert filter_uncommitted(transcripts, None) is transcripts


def test_corpus_job_stage_resume(tmp_path_factory):
    """The multi-stage corpus job's --resume contract: a killed run
    restarts by skipping every committed stage (identical counts
    reported, flagged skipped) and recomputing only from the kill point,
    with bit-identical final row counts.  Runs the real CLI twice as a
    subprocess at sf0.001."""
    import json
    import shutil
    import subprocess
    import sys

    inp = os.path.dirname(ensure_transcripts(0.001))
    root = tmp_path_factory.mktemp("cjob")
    work, out = str(root / "work"), str(root / "out")

    def run(*extra):
        env = dict(os.environ, PYTHONPATH=REPO)
        p = subprocess.run(
            [sys.executable, CORPUS_JOB,
             "--input", inp, "--work", work, "--output", out, *extra],
            capture_output=True, text=True, env=env, timeout=900,
        )
        assert p.returncode == 0, p.stderr[-2000:]
        return [json.loads(l) for l in p.stdout.splitlines()
                if l.startswith('{"stage"')]

    fresh = run()
    assert not any(m.get("skipped") for m in fresh)

    # kill simulation: split + pack artifacts never committed
    for d in (f"{out}/splits", f"{out}/documents", f"{out}/sequences"):
        shutil.rmtree(d, ignore_errors=True)
    resumed = run("--resume")
    # the pack stage reads the train split as a frame, never a re-write
    assert sorted(os.listdir(work)) == [
        "clean", "deduped", "extracted", "fused", "quality"]

    by = {m["stage"]: m for m in resumed}
    for st in ("extract", "linkrank", "quality", "dedup", "decontaminate"):
        assert by[st]["skipped"] is True, st
    for st in ("split", "pack"):
        assert "skipped" not in by[st], st
    # counts identical stage for stage, skipped or recomputed
    for f, r in zip(fresh, resumed):
        assert (f["stage"], f["rows_in"], f["rows_out"]) == (
            r["stage"], r["rows_in"], r["rows_out"]
        )

    # --bucket-docs: identical row flow with bucketed checkpoints (the
    # exchange-free join layout is plan-pinned in test_bucketed_join)
    shutil.rmtree(work), shutil.rmtree(out)
    bucketed = run("--bucket-docs", "8")
    for f, b in zip(fresh, bucketed):
        assert (f["stage"], f["rows_in"], f["rows_out"]) == (
            b["stage"], b["rows_in"], b["rows_out"]
        )
    # resuming a bucketed checkpoint without the flag must refuse
    # (registering the wrong layout would corrupt every downstream join)
    env = dict(os.environ, PYTHONPATH=REPO)
    p = subprocess.run(
        [sys.executable, CORPUS_JOB,
         "--input", inp, "--work", work, "--output", out, "--resume"],
        capture_output=True, text=True, env=env, timeout=900,
    )
    assert p.returncode != 0
    assert "bucket_docs=8" in (p.stdout + p.stderr)


def test_incremental_job_stage_flow(tmp_path):
    """The incremental ingest CLI over an sf0.001 corpus and an sf0.001
    transcripts batch: every stage's rows out are the next stage's rows
    in, each kept document appends one band key per band, and a
    band-key bootstrap killed before its job commit (a directory
    holding only ``_temporary``) is rebuilt, then reused verbatim by
    the next submit."""
    import json
    import shutil
    import subprocess
    import sys

    import pyarrow.parquet as pq

    from html_parser_spark.operators.dedup import N_BANDS

    docs = "/root/testdata/sf0.001/documents.parquet"
    batch = ensure_transcripts(0.001)
    corpus = tmp_path / "corpus"
    (corpus / "band_keys.parquet" / "_temporary" / "0").mkdir(parents=True)
    shutil.copy(docs, corpus / "documents.parquet")
    out = str(tmp_path / "out")

    def run():
        env = dict(os.environ, PYTHONPATH=REPO)
        p = subprocess.run(
            [sys.executable, INCREMENTAL_JOB, "--corpus", str(corpus),
             "--batch-input", batch, "--output", out],
            capture_output=True, text=True, env=env, timeout=900,
        )
        assert p.returncode == 0, p.stderr[-2000:]
        with open(os.path.join(out, "metrics.json")) as f:
            return {m["stage"]: (m["rows_in"], m["rows_out"])
                    for m in map(json.loads, f)}

    first = run()
    committed = corpus / "band_keys.parquet" / "_SUCCESS"
    assert committed.exists()
    assert list(first) == ["keys", "extract", "dedup", "append"]
    n_docs, n_turns = pq.read_metadata(docs).num_rows, pq.read_metadata(batch).num_rows
    assert first["keys"] == (n_docs, n_docs * N_BANDS)
    assert first["extract"][0] == n_turns >= first["extract"][1] > 0
    assert first["dedup"][0] == first["extract"][1] >= first["dedup"][1] > 0
    assert first["append"] == (first["dedup"][1], first["dedup"][1] * N_BANDS)

    stamp = committed.stat().st_mtime_ns
    assert run() == first
    assert committed.stat().st_mtime_ns == stamp
