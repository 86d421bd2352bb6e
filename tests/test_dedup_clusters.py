"""Cluster resolution (connected components) + MinHash geometry params.

The corpus-level truth for ``dedup_cluster_keep_list`` lives in the
entry-contract mirror (recursive-CTE DuckDB twin); these tests pin the
component solver on crafted graphs where the expected partition is known
by hand, and prove the parameterized MinHash geometry actually varies
with its arguments.
"""

import pytest

from html_parser_spark.operators import dedup
from html_parser_spark.sources.tables import read_corpus

SF_DIR = "/root/testdata/sf0.001"


def _cc(spark, doc_ids, pairs):
    docs = spark.createDataFrame([(d,) for d in doc_ids], "doc_id long")
    edges = spark.createDataFrame(
        pairs or [(-1, -2)], "doc_a long, doc_b long"
    )
    if not pairs:
        edges = edges.filter("doc_a > 0")
    rows = dedup.connected_components(docs, edges).collect()
    return {r.doc_id: (r.cluster_id, r.is_keeper) for r in rows}


def test_chain_triangle_singleton(spark):
    # chain 1-2-3-4 (diameter > 1 forces multiple rounds), triangle
    # 10-11-12, singleton 99
    got = _cc(spark, [1, 2, 3, 4, 10, 11, 12, 99],
              [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)])
    assert got == {
        1: (1, 1), 2: (1, 0), 3: (1, 0), 4: (1, 0),
        10: (10, 1), 11: (10, 0), 12: (10, 0),
        99: (99, 1),
    }


def test_no_edges_all_keepers(spark):
    got = _cc(spark, [5, 6, 7], [])
    assert got == {5: (5, 1), 6: (6, 1), 7: (7, 1)}


def test_bridge_merges_components(spark):
    # two triangles joined by one edge → ONE component (the failure mode
    # the verified-edges policy guards against, shown explicitly)
    got = _cc(spark, [1, 2, 3, 7, 8, 9],
              [(1, 2), (2, 3), (1, 3), (7, 8), (8, 9), (7, 9), (3, 7)])
    assert {v[0] for v in got.values()} == {1}
    assert sum(v[1] for v in got.values()) == 1


def test_nonconvergence_raises(spark, monkeypatch):
    monkeypatch.setattr(dedup, "MAX_ITER", 2)  # label needs 5 hops down the chain
    with pytest.raises(RuntimeError):
        _cc_long = dedup.connected_components(
            spark.createDataFrame([(i,) for i in range(6)], "doc_id long"),
            spark.createDataFrame(
                [(i, i + 1) for i in range(5)], "doc_a long, doc_b long"
            ),
        ).collect()


def test_minhash_geometry_is_parameterized(spark):
    docs = read_corpus(spark, SF_DIR, "documents")
    sig_default = dedup.minhash_signatures(docs)  # 128 hashes
    assert len(sig_default.columns) == 1 + dedup.N_HASHES == 129
    sig_gate = dedup.minhash_signatures(docs, n_hashes=dedup.GATE_N_HASHES)
    assert len(sig_gate.columns) == 1 + 8
    keys = dedup.minhash_band_keys(sig_default)  # 16 bands
    bands = {r.band for r in keys.select("band").distinct().collect()}
    assert bands == set(range(dedup.N_BANDS)) and len(bands) == 16


def test_default_geometry_finds_planted_dup(spark):
    """The 128/16 corpus-scale geometry end to end on a planted corpus:
    an exact duplicate has identical signatures at ANY geometry, so the
    banded self-join must surface exactly that pair."""
    dup = "the same long document text appears twice in this corpus " * 3
    docs = spark.createDataFrame(
        [(1, dup), (2, dup), (3, "a completely different short text")],
        "doc_id long, text string",
    )
    cand = dedup.minhash_candidates(docs).collect()
    assert [(r.doc_a, r.doc_b) for r in cand] == [(1, 2)]


# ------------------------------------------------------- incremental dedup
# Batch membership under seed "incr-v1"/10 buckets is a pure hash of
# doc_id: ids 7, 17, 25, 38 land in the batch bucket; 1-6, 8, 9 in the
# corpus (precomputed from the md5 bucket definition).


def _incr_corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_incremental_dedup_statuses(spark):
    """Planted semantics: a batch doc duplicating a corpus doc drops as
    dup_of_corpus; two batch dups of each other resolve greedily by id
    (smaller kept, larger dup_in_batch); corpus wins over batch when a
    doc matches both; unmatched batch docs are kept."""
    dup_a = "alpha beta gamma delta epsilon zeta eta theta " * 4
    dup_b = "one two three four five six seven eight nine ten " * 4
    docs = _incr_corpus(
        spark,
        [
            (1, dup_a),                       # corpus
            (2, "unrelated corpus text that matches nothing else here"),
            (7, dup_a),                       # batch: dup of corpus 1
            (17, dup_b),                      # batch: kept (first of pair)
            (25, dup_b),                      # batch: dup_in_batch of 17
            (38, "a fresh unique batch document with its own words"),
        ],
    )
    rows = {r.doc_id: r for r in dedup.incremental_dedup(docs).collect()}
    assert set(rows) == {7, 17, 25, 38}  # corpus docs never appear
    assert (rows[7].status, rows[7].dup_of) == ("dup_of_corpus", 1)
    assert (rows[17].status, rows[17].dup_of) == ("kept", None)
    assert (rows[25].status, rows[25].dup_of) == ("dup_in_batch", 17)
    assert (rows[38].status, rows[38].dup_of) == ("kept", None)


def test_incremental_dedup_corpus_precedence(spark):
    """A batch doc matching BOTH a corpus doc and a smaller batch doc
    reports the corpus match (the corpus keeper is the survivor that
    already exists downstream)."""
    dup = "same text everywhere in corpus and batch alike repeated " * 4
    docs = _incr_corpus(spark, [(5, dup), (17, dup), (25, dup)])
    rows = {r.doc_id: r for r in dedup.incremental_dedup(docs).collect()}
    assert (rows[17].status, rows[17].dup_of) == ("dup_of_corpus", 5)
    assert (rows[25].status, rows[25].dup_of) == ("dup_of_corpus", 5)


def _against_fixture(spark):
    """Corpus (1, 2) + batch (101..104): 101 dups corpus 1; 102/103 dup
    each other; 104 matches BOTH corpus 2 and batch 102 (corpus wins)."""
    dup_a = "alpha beta gamma delta epsilon zeta eta theta " * 4
    dup_b = "one two three four five six seven eight nine ten " * 4
    dup_c = "red orange yellow green blue indigo violet colors " * 4
    corpus = spark.createDataFrame(
        [(1, dup_a), (2, dup_c)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (101, dup_a),
            (102, dup_b),
            (103, dup_b),
            (104, dup_c),
            (105, "a fresh unique batch document with its own words"),
        ],
        "doc_id long, text string",
    )
    keys = dedup.minhash_band_keys(
        dedup.minhash_signatures(corpus, 8, "fast"), 8, 4, "fast"
    )
    return batch, keys, corpus


def test_incremental_against_stored_keys(spark):
    batch, keys, corpus = _against_fixture(spark)
    rows = {
        r.doc_id: r
        for r in dedup.incremental_dedup_against(
            batch, keys, corpus, n_hashes=8, n_bands=4
        ).collect()
    }
    assert set(rows) == {101, 102, 103, 104, 105}
    assert (rows[101].status, rows[101].dup_of) == ("dup_of_corpus", 1)
    assert (rows[102].status, rows[102].dup_of) == ("kept", None)
    assert (rows[103].status, rows[103].dup_of) == ("dup_in_batch", 102)
    assert (rows[104].status, rows[104].dup_of) == ("dup_of_corpus", 2)
    assert (rows[105].status, rows[105].dup_of) == ("kept", None)


def test_incremental_against_broadcasts_batch(spark):
    """The stored key table must never shuffle: the batch-vs-corpus
    candidate join is a BroadcastHashJoin."""
    batch, keys, corpus = _against_fixture(spark)
    plan = (
        dedup.incremental_dedup_against(batch, keys, corpus, n_hashes=8, n_bands=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_incremental_against_empty_batch(spark):
    """An ingest where nothing extracted must produce an empty decision
    frame, not an error (the job writes it and appends nothing)."""
    _, keys, corpus = _against_fixture(spark)
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert (
        dedup.incremental_dedup_against(
            empty, keys, corpus, n_hashes=8, n_bands=4
        ).count()
        == 0
    )


@pytest.mark.parametrize(
    "op", ["ngram_jaccard", "incremental_against", "decontaminate"]
)
def test_member_limit_fallback(spark, monkeypatch, op):
    """Past ``BROADCAST_MEMBER_LIMIT`` rows each guarded semi-join (the
    Jaccard verify's candidate members, decontamination's distinct eval
    grams) is a shuffled join instead of a broadcast; the output is
    identical.  The
    incremental op's batch-key broadcast against the stored key table is
    not guarded and stays."""
    docs = read_corpus(spark, SF_DIR, "documents")
    if op == "ngram_jaccard":
        run = lambda: dedup.ngram_jaccard(docs, n_hashes=8, n_bands=4)  # noqa: E731
    elif op == "incremental_against":
        batch, keys, corpus = _against_fixture(spark)
        run = lambda: dedup.incremental_dedup_against(  # noqa: E731
            batch, keys, corpus, n_hashes=8, n_bands=4
        )
    else:
        run = lambda: dedup.decontaminate(docs, gram_width=3)  # noqa: E731
    # only the operators' own hints may broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        got = []
        for limit in (dedup.BROADCAST_MEMBER_LIMIT, 0):
            monkeypatch.setattr(dedup, "BROADCAST_MEMBER_LIMIT", limit)
            out = run()
            plan = out._jdf.queryExecution().executedPlan().toString()
            bhj = [ln for ln in plan.splitlines() if "BroadcastHashJoin" in ln]
            assert any("LeftSemi" in ln for ln in bhj) == bool(limit), limit
            assert bool(bhj) == (bool(limit) or op == "incremental_against")
            got.append(sorted(tuple(r) for r in out.collect()))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert got[0] and got[0] == got[1]


def test_incremental_dedup_broadcasts_batch_side(spark):
    """The batch→corpus candidate join must broadcast the batch keys —
    the corpus band-key table never shuffles for it."""
    plan = (
        dedup.incremental_dedup(
            read_corpus(spark, SF_DIR, "documents"), n_hashes=8, n_bands=4
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_iterative_checkpoints_release_storage(spark):
    """Each round's superseded label table (and each caller's static
    graph frame: the doc adjacency, the keyed sketch buckets) must
    actually leave executor storage, for both users of the shared
    label-propagation loop.  Plain .unpersist() is a NO-OP on
    localCheckpoint()ed frames — nothing registers in the CacheManager —
    so this pins the LogicalRDD-level release
    (plans.session.free_local_checkpoint): after a multi-round run, at
    most the RETURNED frame's own blocks remain."""
    jsc = spark.sparkContext._jsc.sc()

    def n_stored():
        return len(jsc.getRDDStorageInfo())

    # a diameter-7 doc chain and a 16-sketch chain (consecutive values
    # one bit apart, so neighbours reach 3 steps) force ≥3 propagation
    # rounds → ≥3 superseded checkpoints would leak without the release
    docs = spark.createDataFrame([(d,) for d in range(1, 9)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 8)], "doc_a long, doc_b long"
    )
    sketches = spark.createDataFrame(
        [((1 << i) - 1,) for i in range(16)], "sh64 long"
    )
    for name, run in (
        ("connected_components", lambda: dedup.connected_components(docs, edges)),
        ("_sketch_components", lambda: dedup._sketch_components(sketches)),
    ):
        spark.catalog.clearCache()
        base = n_stored()
        out = run().collect()
        assert len({r[1] for r in out}) == 1, name
        leaked = n_stored() - base
        assert leaked <= 1, (
            f"{name}: {leaked} RDDs left in storage (expected ≤1: the returned frame)"
        )


def test_pagerank_releases_superseded_checkpoints(spark):
    """PageRank frees every superseded checkpoint, with rounds and with
    none."""
    from html_parser_spark.operators.linkrank import FP_SCALE, pagerank_fixed

    jsc = spark.sparkContext._jsc.sc()

    def n_stored():
        return len(jsc.getRDDStorageInfo())

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")], "src string, dst string"
    )
    spark.catalog.clearCache()
    base = n_stored()
    # 9 rounds → 9 checkpoints, one per round; only the final one (the
    # returned frame) may remain, nodes/out_deg must be freed
    ranks = pagerank_fixed(edges, iterations=9)
    total = sum(r.rank_fp for r in ranks.collect())
    assert abs(total - FP_SCALE) <= FP_SCALE * 1e-3
    leaked = n_stored() - base
    assert leaked <= 1, (
        f"{leaked} RDDs left in storage (expected ≤1: the returned frame)"
    )
    # no rounds: the returned frame reads the node checkpoint, and
    # the edge and out-degree checkpoints must be freed
    spark.catalog.clearCache()
    base = n_stored()
    ranks = pagerank_fixed(edges, iterations=0)
    assert sorted(r.node for r in ranks.collect()) == ["a", "b", "c", "d"]
    leaked = n_stored() - base
    assert leaked <= 1, (
        f"iterations=0: {leaked} RDDs left in storage "
        "(expected ≤1: the node checkpoint the returned frame reads)"
    )
