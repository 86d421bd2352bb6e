#!/usr/bin/env python3
"""Cluster entrypoint: resumable transcript extraction backfill.

    bash tools/submit/make_zip.sh                    # → dist/engine.zip
    spark-submit --py-files dist/engine.zip \
        tools/submit/extract_job.py \
        --input  <transcripts path: parquet, or .json/.jsonl/.csv> \
        --output <output dir> \
        [--shuffle-partitions N]

On a real cluster pass the usual --master/--num-executors etc.
``--shuffle-partitions`` sizes the job's AQE-coalescible shuffles (the
resume anti-join, the metrics and lineage aggregates) and, for an input
too large for one wave of tasks, the extraction's salted exchange too
(``pipeline.exchange_partitions``).  The job is
resumable: re-submitting after a failure processes
only uncommitted (conv_id, turn_idx) keys.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from html_parser_spark.operators.resume import run_resumable
    from html_parser_spark.plans.session import get_spark
    from html_parser_spark.sources.tables import read_transcripts

    spark = get_spark(
        app_name="transcript-extraction",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    transcripts = read_transcripts(spark, args.input)
    summary = run_resumable(spark, transcripts, args.output)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
