"""Python-worker task start-up: zipimporters keep their directory.

A Python worker calls ``importlib.invalidate_caches()`` at the start of
every task, which before Python 3.13 makes each cached ``zipimporter``
re-read its whole archive directory.  Importing ``html_parser_spark`` in
a Python worker turns that refresh off (``html_parser_spark/__init__.py``).
"""

import os
import subprocess
import sys

import pandas as pd
import pytest
from pyspark.sql import functions as F

from html_parser_spark.fixtures import ensure_transcripts
from html_parser_spark.operators.linkops import run_link_extraction
from html_parser_spark.operators.pipeline import run_extraction

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKER_ENV = "PYTHON_WORKER_FACTORY_SECRET"

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


def test_stage_tasks_leave_no_archive_rereads(spark):
    """After the extraction and link stages ran on every worker, a task
    that imports nothing of the package itself re-reads no archive in
    ``importlib.invalidate_caches()``, the call each task starts with."""

    # nested, so Spark ships it by value (workers cannot import tests/)
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

    n_parts = 2 * spark.sparkContext.defaultParallelism
    transcripts = spark.read.parquet(ensure_transcripts(0.001))
    run_extraction(transcripts, num_partitions=n_parts).agg(
        F.sum(F.length("main_text"))
    ).collect()
    run_link_extraction(transcripts, num_partitions=n_parts).agg(
        F.count("href")
    ).collect()

    rows = spark.range(0, 16 * n_parts, numPartitions=n_parts).mapInPandas(
        count_rereads, "pid long, zip_finders long, rereads long"
    ).collect()
    assert len(rows) == n_parts
    assert any(r.zip_finders for r in rows), "no zipimporter to refresh: the probe cannot fail"
    held = sorted({(r.pid, r.zip_finders, r.rereads) for r in rows if r.rereads})
    assert not held, f"(worker pid, zipimporters, archive re-reads) after the stages: {held}"
