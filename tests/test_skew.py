"""Adversarial-skew mechanisms compose (VERDICT r4 item 7).

The wall-clock half of the proof is a corpus-job A/B over
``tools/gen_skew_corpus.py``'s equal-bytes rewrite (committed metrics
pair, BENCH.md round 5) — wall assertions don't belong in pytest on a
steal-prone host.  This file pins the DETERMINISTIC structural halves:

1. a 10³-deep exact-duplicate document group produces an O(docs) edge
   set (stars), never the k(k−1)/2 clique, and cluster resolution keeps
   exactly one representative;
2. the salted repartition spreads a hot conversation holding half the
   corpus across multiple shuffle partitions (the conv_id-keyed hazard
   the north rule names), while preserving (conv_id, turn_idx) order
   within partitions.
"""

import pytest
from pyspark.sql import functions as F

DUP_DEPTH = 1_000
N_SINGLETONS = 200


@pytest.fixture(scope="module")
def skewed_docs(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("skew") / "docs")
    rows = [
        (i, "the exact duplicated boilerplate body text " * 5)
        for i in range(DUP_DEPTH)
    ]
    rows += [
        (DUP_DEPTH + j, f"distinct document body {j} with its own words "
                        f"{'x' * (j % 17)} tail {j * 31}")
        for j in range(N_SINGLETONS)
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(d)
    return spark.read.parquet(d)


def test_deep_exact_dup_group_yields_linear_edges(skewed_docs):
    from html_parser_spark.operators.dedup import near_dup_edges

    edges = near_dup_edges(skewed_docs).collect()
    n_docs = DUP_DEPTH + N_SINGLETONS
    # stars: DUP_DEPTH-1 rows for the big group; the clique form would
    # emit ~k²/2 ≈ 500k rows
    assert len(edges) < 2 * n_docs, (
        f"{len(edges)} edges for {n_docs} docs — quadratic clique leaked"
    )
    star = [e for e in edges if e.doc_a == 0]
    assert len(star) == DUP_DEPTH - 1


def test_deep_exact_dup_group_resolves_to_one_keeper(skewed_docs):
    from html_parser_spark.operators.dedup import dedup_cluster_keep_list

    cc = dedup_cluster_keep_list(skewed_docs).collect()
    group = [r for r in cc if r.doc_id < DUP_DEPTH]
    assert all(r.cluster_id == 0 for r in group)
    assert sum(r.is_keeper for r in group) == 1
    keepers = sum(r.is_keeper for r in cc)
    # every singleton keeps itself unless the LSH verify genuinely ties
    # two of them (the distinct texts are constructed not to)
    assert keepers == 1 + N_SINGLETONS


def test_salted_repartition_spreads_hot_conversation(spark):
    from html_parser_spark.operators.pipeline import run_extraction

    n_hot, n_cold = 2_000, 2_000
    rows = [("c_hot", i, f"<p>hot turn {i}</p>") for i in range(n_hot)] + [
        (f"c{j % 100}", j // 100, f"<p>cold {j}</p>") for j in range(n_cold)
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    ext = run_extraction(df, num_partitions=32)
    per_part = (
        ext.withColumn("pid", F.spark_partition_id())
        .filter(F.col("conv_id") == "c_hot")
        .groupBy("pid")
        .count()
        .collect()
    )
    assert len(per_part) >= 4, (
        f"hot conversation landed in only {len(per_part)} partitions"
    )
    assert max(r["count"] for r in per_part) <= n_hot * 0.6, (
        "salting left one partition holding most of the hot conversation"
    )


def test_skew_corpus_rewrite_matches_its_report(tmp_path):
    """``tools/gen_skew_corpus.py`` run as a script on the sf0.001
    transcripts: the rewrite keeps every row, moves ``HOT_FRAC`` of them
    into one densely renumbered conversation, gives up to ``DUP_DEPTH``
    others the donor text, and its JSON line describes the written
    parquet."""
    import collections
    import importlib.util
    import json
    import os
    import subprocess
    import sys

    import pyarrow.parquet as pq

    from conftest import REPO
    from html_parser_spark.fixtures import ensure_transcripts

    script = os.path.join(REPO, "tools", "gen_skew_corpus.py")
    spec = importlib.util.spec_from_file_location("gen_skew_corpus", script)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)

    inp = os.path.dirname(ensure_transcripts(0.001))
    out = str(tmp_path / "skew")
    p = subprocess.run(
        [sys.executable, script, inp, out],
        capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    report = json.loads(p.stdout.strip().splitlines()[-1])

    before = pq.read_table(inp).to_pylist()
    after = pq.read_table(out).to_pylist()
    n = len(before)
    assert len(after) == n == report["rows"]
    assert len({(r["conv_id"], r["turn_idx"]) for r in after}) == n

    n_hot = int(gen.HOT_FRAC * n)
    hot = sorted(r["turn_idx"] for r in after if r["conv_id"] == "c_hot_0")
    assert hot == list(range(n_hot)) and report["hot_turns"] == n_hot

    donor, depth = collections.Counter(
        r["text"] for r in after if r["conv_id"] != "c_hot_0"
    ).most_common(1)[0]
    assert depth == min(gen.DUP_DEPTH, n - n_hot) == report["dup_depth"]
    assert len(donor.encode()) == report["donor_len"]

    assert report["bytes_in"] == sum(len(r["text"].encode()) for r in before)
    assert report["bytes_out"] == sum(len(r["text"].encode()) for r in after)
