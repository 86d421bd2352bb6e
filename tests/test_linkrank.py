"""Link-graph analytics: target stats semantics + PageRank vs an
independent dense NumPy power iteration (float ops can't ride the md5
gate — CLAUDE.md dialect contract — so parity is pinned here)."""

import numpy as np
import pytest

from html_parser_spark.operators.linkrank import (
    link_target_stats,
    link_target_stats_sql,
    pagerank,
)

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


def test_pagerank_matches_numpy_power_iteration(spark):
    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"), ("d", "a"), ("e", "d"),  # e: only inlink-free source
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.node: r.rank for r in pagerank(df, iterations=12).collect()}
    want = _numpy_pagerank(edges, iterations=12)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12, (k, got[k], want[k])


def test_pagerank_mass_conserved_and_teleport_floor(spark):
    edges = [("a", "b"), ("b", "a"), ("c", "b")]
    df = spark.createDataFrame(edges, "src string, dst string")
    rows = pagerank(df, iterations=8).collect()
    total = sum(r.rank for r in rows)
    assert abs(total - 1.0) < 1e-12
    floor = (1 - 0.85) / len(rows)
    assert all(r.rank >= floor - 1e-15 for r in rows)


def test_pagerank_dangling_sink_recirculates(spark):
    # star into a sink: without dangling redistribution the sink
    # swallows all mass and totals decay below 1
    edges = [("s1", "hub"), ("s2", "hub"), ("s3", "hub")]
    df = spark.createDataFrame(edges, "src string, dst string")
    rows = {r.node: r.rank for r in pagerank(df, iterations=20).collect()}
    assert abs(sum(rows.values()) - 1.0) < 1e-12
    assert rows["hub"] > rows["s1"]
    want = _numpy_pagerank(edges, iterations=20)
    for k in want:
        assert abs(rows[k] - want[k]) < 1e-12


def test_corpus_pagerank_runs_and_orders_popular_targets_first(spark):
    ranks = {
        r.node: r.rank
        for r in __import__(
            "html_parser_spark.operators.linkrank", fromlist=["link_pagerank"]
        ).link_pagerank(spark, SF_DIR, iterations=4).collect()
    }
    urls = {k: v for k, v in ranks.items() if k.startswith("url:")}
    assert len(urls) > 3
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
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
    got = link_target_stats(spark, SF_DIR, top_k=50).collect()
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
    df = link_target_stats(spark, SF_DIR, top_k=10)
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
    """The fixed-point gate twin (round 5): integer mass stays within
    the floor-loss bound of FP_SCALE, every rank gets the teleport
    floor, and the induced ranking agrees with the float scorer on the
    same graph (same iteration count, clear margins)."""
    from html_parser_spark.operators.linkrank import (
        FP_SCALE,
        pagerank,
        pagerank_fixed,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("d", "c"), ("c", "a")],
        "src string, dst string",
    )
    fp = {r.node: r.rank_fp for r in pagerank_fixed(edges, iterations=6).collect()}
    fl = {r.node: r.rank for r in pagerank(edges, iterations=6).collect()}
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
    """Each PageRank call evaluates its edge frame's lineage once: the
    ids-only edges are materialized before the first action, so the
    node set, the out-degrees and every round read stored blocks
    instead of re-running the upstream Python stage (the link harvest in
    production).  A ``mapInPandas`` source counts the rows it emits."""
    from html_parser_spark.operators.linkrank import pagerank, pagerank_fixed

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
    for run in (pagerank_fixed, pagerank):
        before = emitted.value
        rows = run(edges, iterations=4).collect()
        assert len(rows) == 6, run.__name__
        assert emitted.value - before == len(pairs), (
            f"{run.__name__}: the edge source emitted "
            f"{emitted.value - before} rows for {len(pairs)} edges"
        )
