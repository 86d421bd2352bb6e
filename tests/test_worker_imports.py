"""Python-worker task start-up: zipimporters keep their directory.

A Python worker calls ``importlib.invalidate_caches()`` at the start of
every task, which before Python 3.13 makes each cached ``zipimporter``
re-read its whole archive directory.  Importing ``html_parser_spark`` in
a Python worker turns that refresh off (``html_parser_spark/__init__.py``).
"""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKER_ENV = "PYTHON_WORKER_FACTORY_SECRET"
SF_DIR = "/root/testdata/sf0.001"

# run in a child interpreter: it edits sys.path and zipimport's classes
_ZIP_PROBE = r"""
import importlib, os, sys, tempfile, zipfile, zipimport

archive = os.path.join(tempfile.mkdtemp(), "pkgs.zip")
with zipfile.ZipFile(archive, "w") as z:
    z.writestr("outer/__init__.py", "")
    z.writestr("outer/inner/__init__.py", "")
    z.writestr("outer/inner/mod_a.py", "A = 1\n")
    z.writestr("outer/inner/mod_b.py", "B = 2\n")
sys.path.insert(0, archive)
import outer.inner.mod_a

reads = []
read_directory = zipimport._read_directory
def counted(path):
    if path == archive:
        reads.append(path)
    return read_directory(path)
zipimport._read_directory = counted

importlib.invalidate_caches()
before = len(reads)
import html_parser_spark
reads.clear()
importlib.invalidate_caches()
after = len(reads)
reads.clear()
import outer.inner.mod_b
print(before, after, len(reads), outer.inner.mod_b.B)
"""


@pytest.mark.parametrize("in_worker", [True, False], ids=["worker", "driver"])
def test_package_import_stops_archive_rereads_in_workers(in_worker):
    env = {k: v for k, v in os.environ.items() if k != WORKER_ENV}
    env["PYTHONPATH"] = REPO
    if in_worker:
        env[WORKER_ENV] = "x"
    out = subprocess.run(
        [sys.executable, "-c", _ZIP_PROBE],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    ).stdout.split()
    before, after, import_reads, value = map(int, out)
    # one importer per package level of the zip, each re-reading it
    assert before > 0, "the probe's importers never re-read their archive"
    if in_worker:
        assert after == 0, f"{after} archive re-reads after importing the package"
    else:
        assert after == before, "the package changed invalidate_caches() outside a worker"
    # a first-time import still works, from the importer's directory
    assert value == 2
    assert import_reads == 0


# run in a child interpreter: a fresh local[1] session, so each stage's
# Python worker is one that no earlier test has warmed.  Each stage gets
# its own worker pool (Spark keys the pool by the function's environment)
# and one worker (one task slot): the probe tasks after it run on
# exactly the worker that ran the stage.
_STAGE_PROBE = r"""
import json, os, sys

import pandas as pd
from pyspark.sql import functions as F

from html_parser_spark.fixtures import ensure_transcripts
from html_parser_spark.operators.linkops import run_link_extraction
from html_parser_spark.operators.pipeline import run_extraction
from html_parser_spark.operators.similarity import (
    NEAR_DUP_BAND_BITS, NEAR_DUP_BANDS, NEAR_DUP_SEED, band_signature_udf)
from html_parser_spark.operators.udx import user_value_median
from html_parser_spark.plans.session import get_spark
from html_parser_spark.sources.tables import read_corpus


def count_rereads(batches):
    import importlib
    import zipimport

    finders = sum(
        isinstance(f, zipimport.zipimporter)
        for f in sys.path_importer_cache.values()
    )
    reads = []
    read_directory = zipimport._read_directory
    zipimport._read_directory = lambda p: reads.append(p) or read_directory(p)
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read_directory
    for _ in batches:
        pass
    yield pd.DataFrame(
        {"pid": [os.getpid()], "zip_finders": [finders], "rereads": [len(reads)]}
    )


sf_dir = sys.argv[1]
spark = get_spark(master="local[1]", extra_conf={"spark.driver.memory": "1g"})
sc = spark.sparkContext
transcripts = spark.read.parquet(ensure_transcripts(0.001))
bands = band_signature_udf(NEAR_DUP_BANDS, NEAR_DUP_BAND_BITS, NEAR_DUP_SEED)
stages = {
    # shipped by value, referring to no package code
    "user_value_median": lambda: user_value_median(
        read_corpus(spark, sf_dir, "events")).collect(),
    "band_signature": lambda: read_corpus(spark, sf_dir, "embeddings").agg(
        F.sum(F.size(bands("embedding")))).collect(),
    # referring to package code
    "extraction": lambda: run_extraction(transcripts).agg(
        F.sum(F.length("main_text"))).collect(),
    "links": lambda: run_link_extraction(transcripts).agg(
        F.count("href")).collect(),
}
for name, run in stages.items():
    sc.environment["STAGE_PROBE_POOL"] = name
    run()
    rows = spark.range(0, 16, numPartitions=4).mapInPandas(
        count_rereads, "pid long, zip_finders long, rereads long"
    ).collect()
    print(json.dumps([name, [[r.pid, r.zip_finders, r.rereads] for r in rows]]))
spark.stop()
"""


def test_stage_tasks_leave_no_archive_rereads():
    """After each Python stage ran on a fresh worker — the two stages
    shipped by value (``udx``'s UDAFs, ``similarity``'s ``_bands``), then
    the extraction and link stages — a task that imports nothing of the
    package itself re-reads no archive in
    ``importlib.invalidate_caches()``, the call each task starts with."""
    env = {k: v for k, v in os.environ.items() if k != WORKER_ENV}
    env["PYTHONPATH"] = REPO
    out = subprocess.run(
        [sys.executable, "-c", _STAGE_PROBE, SF_DIR],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    probes = dict(json.loads(line) for line in out.stdout.splitlines()
                  if line.startswith("["))
    assert list(probes) == ["user_value_median", "band_signature", "extraction", "links"]
    # one worker per stage, a different one for each
    pids = [{pid for pid, _, _ in rows} for rows in probes.values()]
    assert all(len(p) == 1 for p in pids) and len(set.union(*pids)) == 4, pids
    assert all(f for rows in probes.values() for _, f, _ in rows), (
        "no zipimporter to refresh: the probe cannot fail")
    held = {name: sorted({tuple(r) for r in rows if r[2]})
            for name, rows in probes.items()}
    held = {name: rows for name, rows in held.items() if rows}
    assert not held, f"(worker pid, zipimporters, archive re-reads) after each stage: {held}"
