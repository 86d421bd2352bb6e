"""SimHash family: UDF vs pure-Python oracle, pigeonhole pair recall,
and component-equivalent edges vs brute-force pair components."""

import duckdb

from html_parser_spark.functions.textnorm import ascii_words
from html_parser_spark.operators.dedup import (
    _sh64,
    simhash64,
    simhash_component_edges,
    simhash_near_dups_sql,
    simhash_sketches,
)
from html_parser_spark.sources.tables import read_corpus

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return read_corpus(spark, SF_DIR, "documents")


def _sketches(docs):
    """doc_id → sketch as an unsigned int."""
    return {r.doc_id: int(r.simhash, 16) for r in simhash_sketches(docs).collect()}


def _bruteforce_pairs(sk):
    """Every doc pair (a < b) whose sketches differ in ≤3 bits."""
    ids = sorted(sk)
    return {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sk[a] ^ sk[b]).count("1") <= 3
    }


def _component_edges(docs):
    sk = simhash_sketches(docs).select(
        "doc_id", _sh64().alias("sh64")
    )
    return [(r.doc_a, r.doc_b) for r in simhash_component_edges(sk).collect()]


def test_udf_matches_python_oracle(spark):
    docs = {r.doc_id: r.text for r in _docs(spark).collect()}
    got = {r.doc_id: r.simhash for r in simhash_sketches(_docs(spark)).collect()}
    assert set(got) == set(docs)
    for doc_id, text in docs.items():
        want = format(
            simhash64(ascii_words((text or "").lower())), "016x"
        )
        assert got[doc_id] == want, doc_id


def test_near_dup_pairs_match_bruteforce(spark):
    """The DuckDB quarter-bucketed pair join the cluster twin reads must
    find EXACTLY the brute-force ≤3-bit pairs (pigeonhole guarantees
    recall; distinct guarantees no dups), and Spark's component edges
    must span the same components."""
    sk = _sketches(_docs(spark))
    want = _bruteforce_pairs(sk)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    got = {(a, b): h for a, b, h in con.execute(simhash_near_dups_sql()).fetchall()}
    con.close()
    assert set(got) == want
    for (a, b), h in got.items():
        assert bin(sk[a] ^ sk[b]).count("1") == h
    ids = sorted(sk)
    assert _components(ids, _component_edges(_docs(spark))) == _components(ids, want)


def _planted_corpus(spark):
    """Identical-sketch groups + one-word variants (small hamming) +
    unrelated texts — exercises the star, rep-edge, and singleton arms."""
    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = {
        1: base * 3,
        2: base * 3,          # identical to 1
        3: base * 3,          # identical to 1 (group of 3 → star)
        4: (base * 3).replace("lazy", "sleepy"),   # near variant
        5: "completely unrelated text about spark catalyst planning",
        6: "another distinct document mentioning parquet and arrow",
        7: "third loner with its own vocabulary entirely separate",
    }
    return spark.createDataFrame(list(rows.items()), "doc_id long, text string")


def _components(ids, edges):
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return frozenset(
        frozenset(i for i in ids if find(i) == r)
        for r in {find(i) for i in ids}
    )


def test_component_edges_equal_full_pair_components(spark):
    """simhash_component_edges (stars + rep edges over distinct
    sketch values) must yield EXACTLY the components of the full pair
    set, with no more edges than pairs."""
    docs = _planted_corpus(spark)
    sk = _sketches(docs)
    ids = sorted(sk)
    pairs = _bruteforce_pairs(sk)
    edges = _component_edges(docs)
    assert pairs, "planted corpus must produce near-dup pairs"
    assert _components(ids, edges) == _components(ids, pairs)
    assert len(edges) <= len(pairs)
    # the identical group {1,2,3} must be one component either way
    comp = {frozenset(c) for c in _components(ids, edges) if 1 in c}
    assert {1, 2, 3} <= set(next(iter(comp)))


def test_near_dups_invariant_in_n_blocks(spark, monkeypatch):
    """The generalized pigeonhole is recall-lossless at any geometry: the
    exact hamming filter makes the sketch components invariant in
    ``N_BLOCKS``."""
    from html_parser_spark.operators import dedup

    nodes = (
        simhash_sketches(_planted_corpus(spark))
        .select(_sh64().alias("sh64"))
        .distinct()
    )
    runs = {}
    for m in (4, 6, 8):
        monkeypatch.setattr(dedup, "N_BLOCKS", m)
        runs[m] = {tuple(r) for r in dedup._sketch_components(nodes).collect()}
    assert runs[4] == runs[6] == runs[8]
    # the near variant (doc 4) joins the identical group's sketch
    assert len({comp for _, comp in runs[6]}) < len(runs[6])


def test_pigeonhole_recall_property():
    """The generalized pigeonhole NEVER misses: for ANY pair of 64-bit
    sketches within max_hamming bits, at least one (combo, packed-block)
    bucket key is shared, at every block geometry.  Pure-Python twin of
    the _pigeonhole_keys block/shift layout (xxhash64 over equal inputs
    is equal, so tuple equality here implies key equality there)."""
    import random
    from itertools import combinations

    def keys(v, n_blocks, max_hamming):
        agree = n_blocks - max_hamming
        base, rem = divmod(64, n_blocks)
        widths = [base + (1 if i < rem else 0) for i in range(n_blocks)]
        shifts = [sum(widths[:i]) for i in range(n_blocks)]
        blocks = [(v >> shifts[i]) & ((1 << widths[i]) - 1) for i in range(n_blocks)]
        out = set()
        for ci, combo in enumerate(combinations(range(n_blocks), agree)):
            packed = 0
            for i in combo:
                packed = (packed << widths[i]) | blocks[i]
            out.add((ci, packed))
        return out

    rng = random.Random(20260818)
    for _ in range(500):
        a = rng.getrandbits(64)
        h = rng.randint(0, 3)
        flip = rng.sample(range(64), h)
        b = a
        for bit in flip:
            b ^= 1 << bit
        for m in (4, 5, 6, 8):
            assert keys(a, m, 3) & keys(b, m, 3), (hex(a), flip, m)


def test_numpy_simhash_twin_equals_reference_loop():
    """The vectorized vote/threshold must equal the pure-Python
    definition bit-for-bit (it feeds the oracled sketches)."""
    import random

    from html_parser_spark.operators.dedup import _simhash64_np, simhash64

    rng = random.Random(20260817)
    for _ in range(200):
        words = ["w%d" % rng.randrange(400) for _ in range(rng.randrange(0, 200))]
        assert simhash64(words) == _simhash64_np(words)
    assert _simhash64_np([]) == 0 == simhash64([])


def test_sketch_lp_broadcast_equals_fallback(spark, monkeypatch):
    """Past ``BROADCAST_MEMBER_LIMIT`` distinct sketches the sketch label
    propagation re-explodes the bucket keys every round instead of
    broadcasting the labels: the labeling is identical, and no round of
    the fallback plans a BroadcastHashJoin."""
    from html_parser_spark.operators import dedup

    # a chain of close sketches (bit flips) plus isolated values
    base = 0x0123456789ABCDEF
    vals = [base, base ^ 1, base ^ 3, base ^ (1 << 40)]
    vals += [0x1111111111111111, 0x7EDCBA9876543210]
    nodes = spark.createDataFrame([(v,) for v in vals], "sh64 long")

    plans = []
    propagate = dedup._propagate_min_labels

    def traced(vertices, key, label, neighbours, max_iter):
        def spy(labels):
            out = neighbours(labels)
            plans.append(out._jdf.queryExecution().executedPlan().toString())
            return out

        return propagate(vertices, key, label, spy, max_iter)

    monkeypatch.setattr(dedup, "_propagate_min_labels", traced)
    # only the operator's own hint may broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        runs = []
        for limit in (dedup.BROADCAST_MEMBER_LIMIT, 0):
            monkeypatch.setattr(dedup, "BROADCAST_MEMBER_LIMIT", limit)
            plans.clear()
            runs.append({
                (r.sh64, r.comp) for r in dedup._sketch_components(nodes).collect()
            })
            assert plans
            hinted = ["BroadcastHashJoin" in p for p in plans]
            assert all(hinted) if limit else not any(hinted), limit
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert runs[0] == runs[1]
    labels = runs[1]
    # the 4-element chain collapses to one component
    comp_of = dict(labels)
    assert len({comp_of[v] for v in vals[:4]}) == 1
    assert len({comp_of[v] for v in vals}) == 3
