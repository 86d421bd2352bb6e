#!/usr/bin/env python3
"""Substage attribution for the corpus job's DEDUP stage.

Times, in one Spark session over a quality-stage checkpoint, each
component the stage composes: MinHash candidates + exact-Jaccard verify
(ngram_jaccard), SimHash component-equivalent edges, the edge union, the
connected-components iteration, and the keeper semi-join + write.  Each
timing materializes with a count (or the job's own parquet write for the
last one), so the walls are comparable to the job's stage metric.

    python tools/profile_dedup.py <docs_dir> [--hash-family fast]

<docs_dir> holds documents.parquet (e.g. the job's --work quality dir).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("docs_dir")
    ap.add_argument("--hash-family", default="fast", choices=("md5", "fast"))
    ap.add_argument("--n-hashes", type=int, default=128)
    ap.add_argument("--n-bands", type=int, default=16)
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--steps",
        default="simhash,edges,cc,keeper",
        help="comma-list of steps to run (simhash,edges,cc,keeper,fine; "
        "'fine' times near_dup_edges' internals incrementally).  "
        "cc/keeper need edges in the same run; the standalone simhash "
        "step is independent attribution and is the one to drop when "
        "re-running after a failure (its wall is in the earlier log).",
    )
    ap.add_argument(
        "--io-codec",
        default="zstd",
        help="spark.io.compression.codec for shuffle/spill blocks.  "
        "zstd matches the sf10 corpus-job submit conf and compresses "
        "text shuffle ~2x tighter than the lz4 default — at sf10 the "
        "edges step's transient scratch fits the sandbox disk with "
        "zstd (~37 GB job-measured peak) and disk-fulls with lz4.",
    )
    args = ap.parse_args()
    selected = set(args.steps.split(","))
    _KNOWN_STEPS = {"simhash", "edges", "cc", "keeper", "fine"}
    unknown = selected - _KNOWN_STEPS
    if unknown:
        ap.error(
            f"unknown step(s) {sorted(unknown)}; valid: {sorted(_KNOWN_STEPS)}"
        )
    # step dependencies: cc consumes the persisted edges frame, keeper
    # consumes cc's labels — selecting a dependent without its producer
    # used to NameError mid-run (ADVICE r4); fail before the session spins up
    if "cc" in selected and "edges" not in selected:
        ap.error("--steps cc requires edges in the same run")
    if "keeper" in selected and "cc" not in selected:
        ap.error("--steps keeper requires cc (and edges) in the same run")

    from pyspark.sql import functions as F

    from html_parser_spark.operators.dedup import (
        connected_components,
        near_dup_edges,
        simhash_component_edges,
    )
    from html_parser_spark.plans.session import clear_residents, get_spark

    spark = get_spark(
        app_name="profile-dedup",
        extra_conf={"spark.io.compression.codec": args.io_codec},
    )
    rows: list[dict] = []

    def step(name: str, fn) -> object:
        t0 = time.time()
        v = fn()
        rows.append({"step": name, "wall_sec": round(time.time() - t0, 2), "n": v})
        print(json.dumps(rows[-1]), flush=True)
        return v

    def reclaim() -> None:
        """Step-boundary scratch reclamation.  Shuffle files live until
        the ContextCleaner sees their ShuffleDependency get GC'd on the
        driver, and a big driver heap may not GC for the whole run — at
        sf10 the standalone simhash step left ~65 GB of dead shuffle
        scratch under the next step (disk-full, round 4).  Dropping the
        operator-resident cached frames and forcing one driver-JVM GC
        lets the cleaner delete dead shuffles/broadcasts now.  The
        corpus job needs none of this: its dedup stage runs ONE
        pipeline, then clearCache() at the stage boundary."""
        clear_residents()
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        time.sleep(5)

    d = args.docs_dir
    step("warm_scan", lambda: spark.read.parquet(f"{d}/documents.parquet").count())

    if "fine" in selected:
        # fine-grained attribution INSIDE near_dup_edges: each sub-frame
        # is persisted before the next step times on top of it, so the
        # walls are incremental (reps_build pays the text shuffle once,
        # minhash_candidates pays signatures+band join but not reps,
        # jaccard_verify pays only the collision re-score, sketch_udf
        # pays the pandas UDF, sketch_lp_edges pays label propagation)
        from html_parser_spark.operators.dedup import (
            JACCARD_THRESHOLD,
            _exact_text_collapse,
            _sh64,
            _verify_candidates,
            minhash_candidates_of,
            simhash_component_edges_of,
            simhash_sketches_of,
        )

        docs = spark.read.parquet(f"{d}/documents.parquet")
        stars, reps = _exact_text_collapse(docs)
        step("fine_exact_stars", stars.count)
        step("fine_reps_build", reps.count)
        cand = minhash_candidates_of(
            reps, args.n_hashes, args.n_bands, args.hash_family
        ).persist()
        step("fine_minhash_candidates", cand.count)
        step(
            "fine_jaccard_verify",
            lambda: _verify_candidates(reps, cand, JACCARD_THRESHOLD).count(),
        )
        sk = simhash_sketches_of(reps).select(
            "doc_id", _sh64().alias("sh64")
        ).persist()
        step("fine_sketch_udf", sk.count)
        step(
            "fine_sketch_lp_edges",
            lambda: simhash_component_edges_of(sk).count(),
        )
        for f in (reps, cand, sk):
            f.unpersist()
        reclaim()

    if "simhash" in selected:
        # construction is NOT lazy here — simhash_component_edges runs
        # its label-propagation rounds (localCheckpoint + count per
        # round) at call time, so build INSIDE the timed step
        step(
            "simhash_component_edges",
            lambda: simhash_component_edges(spark, d).count(),
        )
        reclaim()

    if "edges" in selected:
        edges_box: list = []

        def _all_edges():
            e = near_dup_edges(
                spark, d, n_hashes=args.n_hashes,
                n_bands=args.n_bands, hash_family=args.hash_family,
            ).persist()
            edges_box.append(e)
            return e.count()

        step("near_dup_edges_total", _all_edges)
        edges = edges_box[0]

    if "cc" in selected:
        docs = spark.read.parquet(f"{d}/documents.parquet").select("doc_id")
        cc = connected_components(docs, edges, 25)
        cc = cc.persist()
        step("connected_components", cc.count)
        # edges' blocks are dead now, but do NOT clearCache() here:
        # reclaim() unpersists the still-needed cc frame, silently
        # charging its recompute to the keeper step's wall (ADVICE r4)
        edges.unpersist()

    if "keeper" in selected:
        keepers = cc.filter(F.col("is_keeper") == 1).select("doc_id")
        deduped = spark.read.parquet(f"{d}/documents.parquet").join(
            keepers, "doc_id", "left_semi"
        )
        step(
            "keeper_semijoin_write",
            lambda: deduped.write.mode("overwrite").parquet(
                "/tmp/profile_dedup_out"
            )
            or spark.read.parquet("/tmp/profile_dedup_out").count(),
        )
        reclaim()

    total = round(sum(r["wall_sec"] for r in rows[1:]), 2)
    print(json.dumps({"total_sec": total, "steps": rows}))
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"total_sec": total, "steps": rows}, f, indent=1)


if __name__ == "__main__":
    main()
