#!/usr/bin/env python3
"""Cluster entrypoint: incremental corpus ingest with stored-key dedup.

    bash tools/submit/make_zip.sh                    # → dist/engine.zip
    spark-submit --driver-memory 8g --py-files dist/engine.zip \
        tools/submit/incremental_job.py \
        --corpus <dir with documents.parquet (an existing corpus,
                  e.g. corpus_job's work/deduped)> \
        --batch-input <transcripts path for the NEW crawl/ingest> \
        --output <dir for decisions + appended artifacts> \
        [--ingest-label ingest-001] [--shuffle-partitions N]

The ingest-time half of the dedup story (the batch-vs-corpus pattern
the `dedup_incremental` gate row oracles on one table, executed here
against real artifacts on two):

  1. KEYS      the corpus band-key table (doc_id, band, band_key).  In
               production this parquet/Iceberg table is MAINTAINED by
               prior ingests; the job bootstraps it from the corpus
               documents when absent and reuses it verbatim afterwards
               — re-submitting never recomputes corpus signatures.
  2. EXTRACT   the new batch of transcripts → documents, ids salted
               with the ingest label so batch and corpus id spaces are
               disjoint (a re-crawled page must look like a NEW doc
               that dedup drops, not an id collision).
  3. DEDUP     `incremental_dedup_against`: batch band keys BROADCAST
               against ONE scan of the stored key table (the corpus
               never shuffles, corpus text is only read semi-joined
               down to candidate match ids), plus the batch-internal
               greedy pass.
  4. APPEND    kept batch docs appended to <output>/appended_docs and
               their band keys to <output>/appended_keys — the next
               ingest's key-table increment.  Decisions for every batch
               doc land in <output>/decisions.

Metrics: one JSON line per stage in <output>/metrics.json.
"""

from __future__ import annotations

import argparse
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True, help="dir with documents.parquet")
    ap.add_argument("--batch-input", required=True, help="transcripts path (format by suffix)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--ingest-label", default="ingest-001")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from html_parser_spark.operators import dedup
    from html_parser_spark.operators.pipeline import run_extraction
    from html_parser_spark.plans.runrecord import StageRecord
    from html_parser_spark.plans.session import get_spark
    from html_parser_spark.sources.tables import (
        corpus_path,
        read_corpus,
        read_transcripts,
    )

    spark = get_spark(
        app_name="incremental-ingest",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    record = StageRecord()

    def band_keys(docs):
        """(doc_id, band, band_key) of ``docs`` in the fast MinHash family."""
        return dedup.minhash_band_keys(
            dedup.minhash_signatures(docs, hash_family="fast"),
            hash_family="fast",
        )

    # 1. KEYS — bootstrap the stored corpus band-key table unless a
    # committed one is there (a bootstrap killed before its job commit
    # leaves a directory holding only _temporary)
    t0 = time.time()
    corpus_docs = read_corpus(spark, args.corpus, "documents")
    keys_dir = corpus_path(args.corpus, "band_keys")
    if not os.path.exists(os.path.join(keys_dir, "_SUCCESS")):
        band_keys(corpus_docs).write.mode("overwrite").parquet(keys_dir)
    corpus_keys = spark.read.parquet(keys_dir)
    n_corpus = corpus_docs.count()
    record.stage("keys", n_corpus, corpus_keys.count(), t0)

    # 2. EXTRACT — new batch transcripts → documents with salted ids
    t0 = time.time()
    transcripts = read_transcripts(spark, args.batch_input)
    n_turns = transcripts.count()
    batch_docs = (
        run_extraction(transcripts)
        .filter(F.length("main_text") > 0)
        .select(
            F.xxhash64(F.lit(args.ingest_label), "conv_id", "turn_idx").alias(
                "doc_id"
            ),
            F.col("main_text").alias("text"),
        )
    )
    batch_dir = f"{args.output}/batch_docs"
    batch_docs.write.mode("overwrite").parquet(batch_dir)
    batch_docs = spark.read.parquet(batch_dir)
    n_batch = batch_docs.count()
    record.stage("extract", n_turns, n_batch, t0)

    # 3. DEDUP — batch vs stored keys (broadcast) + batch-internal
    t0 = time.time()
    decisions = dedup.incremental_dedup_against(
        batch_docs, corpus_keys, corpus_docs, hash_family="fast"
    )
    decisions.write.mode("overwrite").parquet(f"{args.output}/decisions")
    decisions = spark.read.parquet(f"{args.output}/decisions")
    n_kept = decisions.filter(F.col("status") == "kept").count()
    record.stage("dedup", n_batch, n_kept, t0)

    # 4. APPEND — kept docs + their band keys (next ingest's increment)
    t0 = time.time()
    kept_ids = decisions.filter(F.col("status") == "kept").select("doc_id")
    kept_docs = batch_docs.join(kept_ids, "doc_id", "left_semi")
    kept_docs.write.mode("overwrite").parquet(f"{args.output}/appended_docs")
    band_keys(kept_docs).write.mode("overwrite").parquet(
        f"{args.output}/appended_keys"
    )
    n_keys = spark.read.parquet(f"{args.output}/appended_keys").count()
    record.stage("append", n_kept, n_keys, t0)

    record.write(args.output)
    spark.stop()


if __name__ == "__main__":
    main()
