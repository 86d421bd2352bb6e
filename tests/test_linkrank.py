"""Link-graph analytics: target stats semantics + fixed-point PageRank
vs an independent dense NumPy float power iteration (float ranks can't
ride the md5 gate — CLAUDE.md dialect contract — so parity is pinned
here)."""

import numpy as np
import pytest

from html_parser_spark.operators.linkrank import (
    FP_SCALE,
    link_target_stats,
    link_target_stats_sql,
    pagerank_fixed,
)
from html_parser_spark.sources.tables import read_corpus

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from html_parser_spark.plans.session import get_spark

    return get_spark(app_name="test_linkrank")


def _numpy_pagerank(edge_list, iterations=10, damping=0.85):
    nodes = sorted({u for u, _ in edge_list} | {v for _, v in edge_list})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    deg = np.zeros(n)
    for u, _ in edge_list:
        deg[idx[u]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iterations):
        contrib = np.zeros(n)
        for u, v in edge_list:
            contrib[idx[v]] += r[idx[u]] / deg[idx[u]]
        dangling = r[deg == 0].sum()
        r = (1 - damping) / n + damping * (contrib + dangling / n)
    return {nd: r[idx[nd]] for nd in nodes}


def _fixed_ranks(spark, edges, iterations):
    """node → rank_fp / FP_SCALE, plus the floor-loss bound of
    ``pagerank_fixed``'s docstring, (N + k·(E + 3N)) / FP_SCALE: the
    most mass the integer divisions can shed, hence the largest gap
    between any fixed-point rank and the exact one."""
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r.node: r.rank_fp / FP_SCALE
        for r in pagerank_fixed(df, iterations=iterations).collect()
    }
    n = len(got)
    return got, (n + iterations * (len(edges) + 3 * n)) / FP_SCALE


def test_pagerank_matches_numpy_power_iteration(spark):
    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"), ("d", "a"), ("e", "d"),  # e: only inlink-free source
    ]
    got, bound = _fixed_ranks(spark, edges, 12)
    want = _numpy_pagerank(edges, iterations=12)
    assert set(got) == set(want)
    for k in want:
        # floor division only rounds down: never above the exact rank
        assert want[k] - bound - 1e-12 <= got[k] <= want[k] + 1e-12, (
            k, got[k], want[k], bound)


def test_pagerank_mass_conserved_and_teleport_floor(spark):
    edges = [("a", "b"), ("b", "a"), ("c", "b")]
    got, bound = _fixed_ranks(spark, edges, 8)
    assert 1.0 - bound <= sum(got.values()) <= 1.0 + 1e-12
    floor = ((FP_SCALE * 15) // 100) // len(got) / FP_SCALE
    assert all(v >= floor for v in got.values())


def test_pagerank_dangling_sink_recirculates(spark):
    # star into a sink: without dangling redistribution the sink
    # swallows all mass and totals decay below 1
    edges = [("s1", "hub"), ("s2", "hub"), ("s3", "hub")]
    got, bound = _fixed_ranks(spark, edges, 20)
    assert 1.0 - bound <= sum(got.values()) <= 1.0 + 1e-12
    assert got["hub"] > got["s1"]
    want = _numpy_pagerank(edges, iterations=20)
    for k in want:
        assert abs(got[k] - want[k]) <= bound, (k, got[k], want[k], bound)


def test_corpus_pagerank_runs_and_orders_popular_targets_first(spark):
    from html_parser_spark.operators.linkrank import _doc_url_edges

    edges = _doc_url_edges(read_corpus(spark, SF_DIR, "transcripts"))
    n_edges = edges.count()
    ranks = {r.node: r.rank_fp for r in pagerank_fixed(edges, iterations=4).collect()}
    urls = {k: v for k, v in ranks.items() if k.startswith("url:")}
    assert len(urls) > 3
    n = len(ranks)
    assert FP_SCALE - (n + 4 * (n_edges + 3 * n)) <= sum(ranks.values()) <= FP_SCALE
    # the most-cited target must outrank the median target
    top = max(urls.values())
    med = sorted(urls.values())[len(urls) // 2]
    assert top > med


def test_target_stats_match_duckdb_twin_on_goldens(spark):
    """Same rows as the gate would check: Spark derives the stats from
    the live link harvest; DuckDB re-derives them from the committed
    engine-golden link rows."""
    import duckdb

    from html_parser_spark.goldens import link_golden_parquet

    golden = link_golden_parquet(0.001)
    got = link_target_stats(read_corpus(spark, SF_DIR, "transcripts"), top_k=50).collect()
    want = duckdb.sql(link_target_stats_sql(golden, top_k=50)).fetchall()
    got_rows = [
        (
            r.href, r.n_inlinks, r.n_source_convs,
            r.n_distinct_anchors, r.top_anchor, r.top_anchor_n,
        )
        for r in got
    ]
    assert got_rows == [tuple(w) for w in want]


def test_target_stats_reuses_the_harvest_exchange(spark):
    """Both stat branches must route through ONE shared
    (href, anchor_text, conv_id) pre-aggregation so the harvest UDF
    executes once — the executed adaptive plan shows a ReusedExchange
    (without the shared pre-agg, each grouping keyed its own exchange
    and the UDF ran twice)."""
    df = link_target_stats(read_corpus(spark, SF_DIR, "transcripts"), top_k=10)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") >= 1, plan[:2000]


def test_target_stats_tie_break_is_deterministic(spark):
    from pyspark.sql import functions as F

    from html_parser_spark.operators import linkrank

    rows = [
        ("c1", 0, 0, "/x", "alpha", 0, 1),
        ("c1", 1, 0, "/x", "beta", 0, 1),
        ("c2", 0, 0, "/x", "beta", 0, 1),
        ("c2", 1, 0, "/x", "zeta", 0, 1),
        ("c2", 2, 0, "/x", "alpha", 0, 1),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, link_idx int, href string, "
        "anchor_text string, src_start int, src_end int",
    )
    # alpha and beta both occur twice: the contract picks the
    # lexicographically larger anchor on a count tie
    base = df.groupBy("href").agg(F.count(F.lit(1)).alias("n_inlinks"))
    pair = df.groupBy("href", "anchor_text").agg(F.count(F.lit(1)).alias("n"))
    top = pair.groupBy("href").agg(
        F.expr("max_by(anchor_text, struct(n, anchor_text))").alias("top")
    )
    assert top.collect()[0].top == "beta"
    assert base.collect()[0].n_inlinks == 5
    assert linkrank is not None


def test_pagerank_fixed_tracks_float_and_conserves_integer_mass(spark):
    """Integer mass stays within the floor-loss bound of FP_SCALE,
    every rank gets the teleport floor, and the induced ranking agrees
    with the float NumPy iteration on the same graph (same iteration
    count, clear margins)."""
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("d", "c"), ("c", "a")]
    df = spark.createDataFrame(edges, "src string, dst string")
    fp = {r.node: r.rank_fp for r in pagerank_fixed(df, iterations=6).collect()}
    fl = _numpy_pagerank(edges, iterations=6)
    assert set(fp) == set(fl) == {"a", "b", "c", "d"}
    n = len(fp)
    total = sum(fp.values())
    # integer division loses <1 unit per div site per round; the loss
    # bound is generous, the conservation direction is what matters
    assert FP_SCALE * 0.999 <= total <= FP_SCALE
    teleport = ((FP_SCALE * 15) // 100) // n
    assert all(v >= teleport for v in fp.values())
    # same ranking, and relative ranks agree within the quantization
    assert sorted(fp, key=fp.get) == sorted(fl, key=fl.get)
    for v in fp:
        assert abs(fp[v] / FP_SCALE - fl[v]) < 1e-6


def test_pagerank_runs_the_edge_source_once(spark):
    """A PageRank call evaluates its edge frame's lineage once: the
    ids-only edges are materialized before the first action, so the
    node set, the out-degrees and every round read stored blocks
    instead of re-running the upstream Python stage (the link harvest in
    production).  A ``mapInPandas`` source counts the rows it emits."""
    pairs = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"), ("d", "a"), ("e", "d"), ("c", "f"),
    ]
    emitted = spark.sparkContext.accumulator(0)

    def source(batches):
        for pdf in batches:
            emitted.add(len(pdf))
            yield pdf

    edges = spark.createDataFrame(pairs, "src string, dst string").mapInPandas(
        source, schema="src string, dst string"
    )
    rows = pagerank_fixed(edges, iterations=4).collect()
    assert len(rows) == 6
    assert emitted.value == len(pairs), (
        f"the edge source emitted {emitted.value} rows for {len(pairs)} edges"
    )
