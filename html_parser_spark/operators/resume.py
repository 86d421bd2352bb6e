"""Resumable batch extraction with per-partition lineage + metrics.

North_rule contract: the 10^12-turn backfill must be killable at any
point and resumed without reprocessing or duplicating turns.  In
production the output is an Iceberg table (snapshot isolation gives
all-or-nothing commits per write); the sandbox stand-in is a parquet
directory written with Spark's job-commit protocol, which has the same
all-or-nothing visibility per write (files appear only on commit).

Resume = left-anti join of the input against the committed output's
(conv_id, turn_idx) keys — the same primitive every snapshot-checkpoint
scheme reduces to.  The key scan reads ONLY the two key columns (column
pruning makes this cheap even on a 10^12-row output table; on Iceberg it
would also prune by partition).

Cost discipline: the expensive extraction runs EXACTLY ONCE, as the
write job — no pre-``count()`` over the input, no full-output
``.cache()`` (at 10^12 turns those would be two extra input scans plus
an output-sized cache that cannot fit).  Lineage and metrics are derived
afterwards from the COMMITTED output of this run (tagged with
``run_id``): column-pruned scans of the files just written, never a
recompute of the Python extraction.

Lineage: one row per scan partition of the committed run — (partition_id,
key range, turns, main-text chars, parse errors) — from built-in
aggregates grouped on ``spark_partition_id()``, so no column crosses
into Python.  Each committed write carries the evidence of which data it
produced.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.tables import append_table, read_table
from .pipeline import extraction_metrics, run_extraction

KEYS = ("conv_id", "turn_idx")

# read errors that mean "nothing committed yet": no output path, or a
# path holding no data files (a first write killed before its job commit
# leaves only ``_temporary``)
_NO_OUTPUT = ("PATH_NOT_FOUND", "TABLE_OR_VIEW_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def committed_keys(spark: SparkSession, out_path: str) -> DataFrame | None:
    """Keys already present in the committed output (None if no output).

    Any other read failure propagates: treating an unreadable output as
    empty would re-extract and append every committed turn again."""
    try:
        return read_table(spark, out_path).select(*KEYS)
    except AnalysisException as e:
        if e.getCondition() in _NO_OUTPUT:
            return None
        raise


def filter_uncommitted(transcripts: DataFrame, done: DataFrame | None) -> DataFrame:
    if done is None:
        return transcripts
    return transcripts.join(done, list(KEYS), "left_anti")


def lineage_rows(extracted: DataFrame, run_id: str) -> DataFrame:
    """One lineage row per scan partition of ``extracted``."""
    return extracted.groupBy(
        F.spark_partition_id().alias("partition_id")
    ).agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.sum(F.length("main_text")).alias("main_text_chars"),
        F.sum("err_count").alias("err_count"),
        F.min("conv_id").alias("min_conv_id"),
        F.max("conv_id").alias("max_conv_id"),
        F.min("turn_idx").alias("min_turn_idx"),
        F.max("turn_idx").alias("max_turn_idx"),
    ).select(F.lit(run_id).alias("run_id"), "*")


def run_resumable(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    *,
    num_partitions: int | None = None,
    run_id: str | None = None,
) -> dict:
    """One resumable extraction pass.

    Writes (all parquet append, job-commit-atomic per write):
      - ``{out_dir}/extracted``  — the output table (+ ``run_id`` column)
      - ``{out_dir}/lineage``    — per-partition lineage rows for this run
      - ``{out_dir}/metrics``    — per-status rollup for this run

    Returns a summary dict {run_id, n_new, n_written}, both counts derived
    from the written lineage rows (no extra pass over the input; n_new ==
    n_written by construction of the anti-join).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    out_path = os.path.join(out_dir, "extracted")
    done = committed_keys(spark, out_path)
    todo = filter_uncommitted(transcripts, done)

    # THE extraction job — the only pass over the input text
    extracted = run_extraction(todo, num_partitions=num_partitions).withColumn(
        "run_id", F.lit(run_id)
    )
    append_table(extracted, out_path)

    # lineage + metrics from the committed files of this run (column-pruned
    # scans of just-written parquet; run_id filter prunes older runs).
    # mergeSchema: outputs written by the pre-run_id layout would
    # otherwise win the footer-sampling race and the run_id column could
    # vanish from the inferred schema (upgrade-resume path).
    committed = read_table(
        spark, out_path, options={"mergeSchema": "true"}
    ).filter(F.col("run_id") == run_id)
    append_table(
        lineage_rows(committed, run_id), os.path.join(out_dir, "lineage")
    )
    append_table(
        extraction_metrics(committed)
        .withColumn("run_id", F.lit(run_id))
        .withColumn("run_ts", F.lit(int(time.time())).cast("long")),
        os.path.join(out_dir, "metrics"),
    )
    n_written = (
        read_table(spark, os.path.join(out_dir, "lineage"))
        .filter(F.col("run_id") == run_id)
        .agg(F.coalesce(F.sum("n_turns"), F.lit(0)).alias("n"))
        .first()["n"]
    )
    return {
        "run_id": run_id,
        "n_new": int(n_written),
        "n_written": int(n_written),
    }
