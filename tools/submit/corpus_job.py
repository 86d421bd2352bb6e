#!/usr/bin/env python3
"""Cluster entrypoint: transcripts → training corpus, end to end.

    bash tools/submit/make_zip.sh                    # → dist/engine.zip
    spark-submit --driver-memory 16g --py-files dist/engine.zip \
        tools/submit/corpus_job.py \
        --input  <transcripts path: parquet, or .json/.jsonl/.csv> \
        --work   <scratch dir for stage checkpoints> \
        --output <output dir> \
        [--shuffle-partitions N] [--resume] [--bucket-docs N]

The whole training-data pipeline as ONE submitted job, composed from the
oracled operators:

  1. EXTRACT    fused main-content + link-graph extraction over every
                turn (ONE tokenize per turn feeds both policies; salted
                one-shuffle Arrow stage): kept turns become corpus
                documents, harvested links become <output>/links
  2. QUALITY    Gopher/C4 repetition gates (zero-shuffle projections)
  3. DEDUP      exact + verified near-dup connected components →
                keeper semi-join (ids-only joins; text never shuffles
                for clustering)
  4. DECONTAM   eval-set word-8-gram overlap, eval grams broadcast;
                the eval slice itself is routed to <output>/heldout
                (never into the train corpus)
  5. SPLIT      deterministic md5-bucket train/val/test assignment
                (pure projection, stable under incremental ingest)
  6. PACK       fixed-seq_len sequence packing of the train split
                (sharded prefix sums — only (doc_id, n_tokens) rows
                shuffle)

Every stage boundary is a parquet checkpoint under --work: exactly the
materialization points a 100 TB run needs for restart, and each stage's
reader prunes to the columns it uses.  Document ids are
xxhash64(conv_id, turn_idx) — stable under reprocessing and cheap at
10^12 turns (collision odds ~n²/2⁶⁵; a 128-bit md5 pair upgrade is the
documented path if that ever matters).  Metrics: one JSON line per
stage (rows in/out, wall seconds, generated classes compiled) in
<output>/metrics.json.

In local[...] mode the driver heap IS the whole cluster's memory —
spark-submit defaults to 1g, which OOMs on the clustering persist; pass
--driver-memory.  On a real cluster executor memory carries the work
and the driver only holds per-round convergence counts.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcripts path (format by suffix)")
    ap.add_argument("--work", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--bucket-docs",
        type=int,
        default=0,
        metavar="N",
        help="write every stage's documents checkpoint as a doc_id-"
        "bucketed (and per-bucket sorted) table with N buckets instead "
        "of plain parquet.  This is the 10^12-doc shape for the id "
        "joins (keeper semi-join, decontamination anti-join, train "
        "split semi-join): at sandbox scale the id lists broadcast, but "
        "at full scale a keeper list is ~terabytes and the joins "
        "degrade to SortMergeJoin — bucketed checkpoints keep the TEXT "
        "side exchange-free forever (only the id side hashes into the "
        "bucket layout).  Stage outputs stay at the same paths and "
        "remain plain-parquet-readable; tables are re-registered from "
        "the path on --resume.  Sizing: pure-compute scans stay "
        "file-split parallel (measured: 32 partitions over an 8-bucket "
        "table), so N sizes the JOIN parallelism — use ~2x cores "
        "locally, thousands at 10^12 docs.  Cost: bucketed writes emit "
        "up to tasks x N files per checkpoint (Spark writes per-task "
        "bucket files); a production deployment compacts via Iceberg "
        "maintenance, which preserves bucket membership.",
    )
    ap.add_argument(
        "--resume",
        action="store_true",
        help="restart a KILLED run: skip any stage whose outputs are "
        "already committed (every artifact carries Spark's job-commit "
        "_SUCCESS marker, so a stage killed mid-write is recomputed, a "
        "committed one never is).  The guard is per-stage, not a "
        "dependency graph: to force recompute FROM stage N, delete that "
        "stage's artifacts and everything downstream.  On a real "
        "cluster the same check goes through the Hadoop FileSystem API "
        "or the Iceberg snapshot log instead of os.path.",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from html_parser_spark.operators import chunking, sampling, textstats
    from html_parser_spark.operators.dedup import (
        EVAL_MODULUS,
        dedup_cluster_keep_list,
        decontaminate,
    )
    from html_parser_spark.operators.pipeline import extract_stage
    from html_parser_spark.plans.runrecord import StageRecord
    from html_parser_spark.plans.session import get_spark
    from html_parser_spark.sources.tables import corpus_path, read_transcripts

    # zstd shuffle/spill blocks: the sf10 dedup stage's transient scratch
    # is ~38 GB with zstd against >80 GB with lz4
    spark = get_spark(
        app_name="corpus-pipeline",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
        extra_conf={"spark.io.compression.codec": "zstd"},
    )
    record = StageRecord(spark)

    def committed(*paths: str) -> bool:
        """True iff --resume and every artifact has its job-commit
        marker (files only become visible on commit, so a marker means
        the whole stage output is present and consistent)."""
        return args.resume and all(
            os.path.exists(os.path.join(p, "_SUCCESS")) for p in paths
        )

    def docs_dir(stage_name: str) -> str:
        return os.path.join(args.work, stage_name)

    def docs_path(stage_name: str) -> str:
        return corpus_path(docs_dir(stage_name), "documents")

    DOCS_SCHEMA = "doc_id BIGINT, text STRING, source STRING, n_chars BIGINT"

    def write_docs(df, stage_name: str) -> None:
        path = docs_path(stage_name)
        if args.bucket_docs:
            tbl = f"docs_{stage_name}"
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            (
                df.write.bucketBy(args.bucket_docs, "doc_id")
                .sortBy("doc_id")
                .option("path", path)
                .mode("overwrite")
                .saveAsTable(tbl)
            )
            spec_path = os.path.join(docs_dir(stage_name), "bucket_spec.json")
            with open(spec_path, "w") as f:
                json.dump({"buckets": args.bucket_docs, "key": "doc_id"}, f)
        else:
            df.write.mode("overwrite").parquet(path)

    def _check_bucket_spec(stage_name: str) -> None:
        """Registering a bucket layout the files don't actually have
        silently corrupts every downstream join — refuse to resume a
        checkpoint written under a different --bucket-docs."""
        spec_path = os.path.join(docs_dir(stage_name), "bucket_spec.json")
        found = None
        if os.path.exists(spec_path):
            with open(spec_path) as f:
                found = json.load(f)["buckets"]
        if found != (args.bucket_docs or None):
            raise SystemExit(
                f"checkpoint '{stage_name}' was written with "
                f"bucket_docs={found}, this run has "
                f"bucket_docs={args.bucket_docs or None}; re-run with the "
                f"matching --bucket-docs or delete the checkpoint"
            )

    def read_docs(stage_name: str):
        """Stage-checkpoint reader: with --bucket-docs the catalog table
        carries the bucket spec, so joins against it need no exchange on
        this (text) side; re-registered from the path when resuming in a
        fresh session (the in-memory catalog does not survive restarts,
        the files + bucket layout do)."""
        path = docs_path(stage_name)
        _check_bucket_spec(stage_name)
        if args.bucket_docs:
            tbl = f"docs_{stage_name}"
            if not spark.catalog.tableExists(tbl):
                spark.sql(
                    f"CREATE TABLE {tbl} ({DOCS_SCHEMA}) USING parquet "
                    f"CLUSTERED BY (doc_id) SORTED BY (doc_id) "
                    f"INTO {args.bucket_docs} BUCKETS LOCATION '{path}'"
                )
            return spark.table(tbl)
        return spark.read.parquet(path)

    # 1. EXTRACT — turns with non-empty extracted text become documents;
    # the SAME tokenize pass harvests the link graph (written once here,
    # before dedup — provenance should cover removed near-dups too)
    t0 = time.time()
    if committed(
        os.path.join(args.work, "fused"),
        docs_path("extracted"),
        f"{args.output}/links",
    ):
        n_turns = read_transcripts(spark, args.input).count()
        n1 = read_docs("extracted").count()
        record.stage("extract", n_turns, n1, t0, skipped=True)
    else:
        transcripts = read_transcripts(spark, args.input)
        n_turns = transcripts.count()
        extracted = extract_stage(transcripts, {"main", "links"})
        extracted.write.mode("overwrite").parquet(
            os.path.join(args.work, "fused")
        )
        fused = spark.read.parquet(os.path.join(args.work, "fused"))
        fused.filter(F.size("links") > 0).select(
            "conv_id", "turn_idx", F.explode("links").alias("lk")
        ).select("conv_id", "turn_idx", "lk.*").write.mode(
            "overwrite"
        ).parquet(f"{args.output}/links")
        docs = fused.filter(F.length("main_text") > 0).select(
            F.xxhash64("conv_id", "turn_idx").alias("doc_id"),
            F.col("main_text").alias("text"),
            F.lit("transcripts").alias("source"),
            F.length("main_text").cast("long").alias("n_chars"),
        )
        write_docs(docs, "extracted")
        n1 = read_docs("extracted").count()
        record.stage("extract", n_turns, n1, t0)

    # 1b. LINKRANK — per-target link-graph signals over the links the
    # fused pass just wrote (no second harvest): inlink counts, distinct
    # source conversations, anchor consensus.  Ids/counts-only shuffles.
    t0 = time.time()
    if committed(f"{args.output}/link_stats"):
        n_links = spark.read.parquet(f"{args.output}/links").count()
        n_targets = spark.read.parquet(f"{args.output}/link_stats").count()
        record.stage("linkrank", n_links, n_targets, t0, skipped=True)
    else:
        from html_parser_spark.operators.linkrank import (
            target_stats_from_links,
        )

        link_rows = spark.read.parquet(f"{args.output}/links")
        n_links = link_rows.count()
        stats = target_stats_from_links(link_rows, top_k=10000)
        stats.write.mode("overwrite").parquet(f"{args.output}/link_stats")
        n_targets = spark.read.parquet(f"{args.output}/link_stats").count()
        record.stage("linkrank", n_links, n_targets, t0)

    # 2. QUALITY — Gopher/C4 repetition gates, computed INLINE on the
    # document rows (scan → project → filter, zero shuffle).  A keep-list
    # + left_semi form scans the stage input twice and shuffles the full
    # text through a SortMergeJoin (7.8× per 10× at sf1.0, BENCH.md).
    t0 = time.time()
    if committed(docs_path("quality")):
        n2 = read_docs("quality").count()
        record.stage("quality", n1, n2, t0, skipped=True)
    else:
        write_docs(textstats.filter_quality(read_docs("extracted")), "quality")
        n2 = read_docs("quality").count()
        record.stage("quality", n1, n2, t0)

    # 3. DEDUP — exact + verified near-dup clusters, keep representatives
    t0 = time.time()
    if committed(docs_path("deduped"), f"{args.output}/clusters"):
        n3 = read_docs("deduped").count()
        record.stage("dedup", n2, n3, t0, skipped=True)
    else:
        quality = read_docs("quality")
        clusters = dedup_cluster_keep_list(quality, hash_family="fast").persist()
        clusters.write.mode("overwrite").parquet(f"{args.output}/clusters")
        keepers = clusters.filter(F.col("is_keeper") == 1).select("doc_id")
        write_docs(quality.join(keepers, "doc_id", "left_semi"), "deduped")
        clusters.unpersist()
        # the edge builders persist their sketch/signature frames
        # internally (each is read 2-3× inside one stage); nothing cached
        # is wanted past this boundary, so drop it all rather than carry
        # executor storage into the text-scanning stages that follow
        spark.catalog.clearCache()
        n3 = read_docs("deduped").count()
        record.stage("dedup", n2, n3, t0)

    # 4. DECONTAM — drop training docs sharing 8-grams with the eval
    # slice, AND route the eval slice itself out of the training corpus
    # (ADVICE r03: leaving the held-out docs in the corpus trains on
    # them).  The eval docs land in <output>/heldout for eval builds.
    t0 = time.time()
    if committed(docs_path("clean"), f"{args.output}/heldout"):
        n4 = read_docs("clean").count()
        record.stage("decontaminate", n3, n4, t0, skipped=True)
    else:
        d3_docs = read_docs("deduped")
        contaminated = decontaminate(d3_docs).select("doc_id")
        is_eval = F.col("doc_id") % EVAL_MODULUS == 0
        d3_docs.filter(is_eval).write.mode("overwrite").parquet(
            f"{args.output}/heldout"
        )
        clean = d3_docs.filter(~is_eval).join(
            contaminated, "doc_id", "left_anti"
        )
        write_docs(clean, "clean")
        n4 = read_docs("clean").count()
        record.stage("decontaminate", n3, n4, t0)

    # 5. SPLIT — deterministic assignment, written alongside the corpus
    t0 = time.time()
    if committed(f"{args.output}/splits", f"{args.output}/documents"):
        splits = spark.read.parquet(f"{args.output}/splits")
        n_train = splits.filter(F.col("split") == "train").count()
        record.stage("split", n4, n_train, t0, skipped=True)
    else:
        clean = read_docs("clean")
        sampling.corpus_splits(clean).write.mode("overwrite").parquet(
            f"{args.output}/splits"
        )
        clean.write.mode("overwrite").parquet(f"{args.output}/documents")
        splits = spark.read.parquet(f"{args.output}/splits")
        n_train = splits.filter(F.col("split") == "train").count()
        record.stage("split", n4, n_train, t0)

    # 6. PACK — fixed-length training sequences over the train split only.
    # pack_sequences shards by a doc_id hash, so restricting to the train
    # docs first keeps the shard prefix sums train-only.
    t0 = time.time()
    if committed(f"{args.output}/sequences"):
        n_seq = (
            spark.read.parquet(f"{args.output}/sequences")
            .select("group_id", "seq_id")
            .distinct()
            .count()
        )
        record.stage("pack", n_train, n_seq, t0, skipped=True)
    else:
        train = read_docs("clean").join(
            splits.filter(F.col("split") == "train").select("doc_id"),
            "doc_id",
            "left_semi",
        )
        packed = chunking.pack_sequences(train)
        packed.write.mode("overwrite").parquet(f"{args.output}/sequences")
        n_seq = (
            spark.read.parquet(f"{args.output}/sequences")
            .select("group_id", "seq_id")
            .distinct()
            .count()
        )
        record.stage("pack", n_train, n_seq, t0)

    record.write(args.output)
    print(json.dumps({"stages": record.stages}))
    spark.stop()


if __name__ == "__main__":
    main()
