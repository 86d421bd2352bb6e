"""Link-graph analytics over the harvested corpus link graph.

Web-scale corpus curation uses link-graph signals two ways: exact
per-target aggregates (inlink counts, anchor-text consensus — the
signals C4/CC-style quality filters and search indexing consume) and
iterative centrality (PageRank) for host/page-level quality priors.
Both operate on `linkops.run_link_extraction`'s output — the link rows
the reference-verified tokenizer harvested (functions/links.py), so the
graph itself is oracle-pinned upstream.

Scale shape:

- ``link_target_stats``: two href-keyed hash aggregations (the second
  over pre-shrunk (href, anchor) counts) + one href equi-join +
  TakeOrderedAndProject.  Everything that shuffles is ids/counts; text
  crosses the wire only as the anchor strings being aggregated.
- ``pagerank_fixed``: one ids-only power iteration in int64
  fixed-point arithmetic.  The ``(src, dst)`` edge projection is
  materialized once (``localCheckpoint``) before the first action, so
  the node set, the out-degrees and every round read stored blocks and
  never re-run the link-harvest UDF that produced the edges.  Edges
  join ranks on the source key, contributions aggregate on the
  destination key, and a ``localCheckpoint`` every round truncates the
  ranks' lineage, so every round after the first runs one plan of one
  shape and reuses the code Spark generated for it.  The dangling mass
  is a lazy 1-row aggregate inside that plan, never a value collected
  to the driver: Spark writes literal values into the generated Java,
  so a per-round literal would compile new classes every round.

PageRank is integer-only because float summation order differs across
engines, so a float rank could not ride the bit-exact md5 gate (and the
gate never ROUNDs doubles).  The gate row compares ``link_pagerank_fp``
with the unrolled DuckDB recurrence ``link_pagerank_sql``;
test_linkrank.py pins ``pagerank_fixed`` against an independent dense
NumPy float power iteration on the same edge list, within the floor-loss
bound of the integer division, plus invariants (mass conservation,
teleport floor).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..plans.session import free_local_checkpoint
from .linkops import run_link_extraction


def link_target_stats(transcripts: DataFrame, top_k: int = 100) -> DataFrame:
    """Per-target link signals of the links harvested from
    ``transcripts``: inlink count, distinct source conversations,
    distinct anchor texts, and the consensus anchor
    (most frequent; ties broken to the lexicographically LARGEST anchor
    so both engines agree deterministically).  Top ``top_k`` targets by
    (n_inlinks DESC, href ASC) — TakeOrderedAndProject, never a global
    sort."""
    return target_stats_from_links(run_link_extraction(transcripts), top_k=top_k)


def target_stats_from_links(links: DataFrame, top_k: int = 100) -> DataFrame:
    """Same stats over an already-materialized link table (the corpus
    job aggregates the links parquet it just wrote instead of paying a
    second harvest pass).

    Both downstream aggregates route through ONE shared
    ``(href, anchor_text, conv_id)`` pre-aggregation: the two branches'
    subplans are identical up to that exchange, so Spark executes the
    upstream (including the harvest UDF when ``links`` is the live
    harvest) once and reuses the exchange output (``ReusedExchange`` in
    the physical plan, plan-asserted in test_linkrank.py) — without
    this, each grouping keyed its own exchange and the UDF ran twice."""
    t = links.groupBy("href", "anchor_text", "conv_id").agg(
        F.count(F.lit(1)).alias("n3")
    )
    base = t.groupBy("href").agg(
        F.sum("n3").alias("n_inlinks"),
        F.count_distinct("conv_id").alias("n_source_convs"),
        F.count_distinct("anchor_text").alias("n_distinct_anchors"),
    )
    pair = t.groupBy("href", "anchor_text").agg(F.sum("n3").alias("n"))
    top = pair.groupBy("href").agg(
        F.expr("max_by(anchor_text, struct(n, anchor_text))").alias(
            "top_anchor"
        ),
        F.max("n").alias("top_anchor_n"),
    )
    return (
        base.join(top, "href")
        .orderBy(F.desc("n_inlinks"), "href")
        .limit(top_k)
    )


def link_target_stats_sql(golden_path: str, top_k: int = 100) -> str:
    """DuckDB twin over the committed engine-golden link rows — the
    stats are re-derived entirely inside DuckDB, so a Spark-side agg or
    tie-break bug breaks the hash."""
    return f"""
    WITH links AS (SELECT * FROM read_parquet('{golden_path}')),
    base AS (
      SELECT href,
             CAST(count(*) AS BIGINT) AS n_inlinks,
             CAST(count(DISTINCT conv_id) AS BIGINT) AS n_source_convs,
             CAST(count(DISTINCT anchor_text) AS BIGINT) AS n_distinct_anchors
      FROM links GROUP BY href
    ),
    pair AS (
      SELECT href, anchor_text, CAST(count(*) AS BIGINT) AS n
      FROM links GROUP BY href, anchor_text
    ),
    ranked AS (
      SELECT href, anchor_text, n,
             row_number() OVER (
               PARTITION BY href ORDER BY n DESC, anchor_text DESC
             ) AS rn
      FROM pair
    )
    SELECT b.href, b.n_inlinks, b.n_source_convs, b.n_distinct_anchors,
           r.anchor_text AS top_anchor, r.n AS top_anchor_n
    FROM base b JOIN ranked r ON b.href = r.href AND r.rn = 1
    ORDER BY b.n_inlinks DESC, b.href
    LIMIT {top_k}
    """


# Total rank mass of the fixed-point arithmetic, in units of 1/FP_SCALE.
# Integer arithmetic is associative — unlike float summation, the
# per-round sums are order-independent, so Spark and DuckDB produce
# bit-identical ranks and the operator can ride the md5 value gate
# (the gate never ROUNDs doubles — so keep the mass integral).
FP_SCALE = 10**12
FP_DAMP_NUM = 85
FP_DAMP_DEN = 100


def pagerank_fixed(edges: DataFrame, *, iterations: int = 4) -> DataFrame:
    """PageRank over an edge list ``(src, dst)`` (any node id type) with
    uniform teleport and dangling-mass redistribution, all mass carried
    as int64 units of ``1/FP_SCALE`` (M = FP_SCALE, d = 85/100):

        r'(v) = (15·M div 100) div N + (85 · (S(v) + D div N)) div 100,
        S(v) = Σ_{u→v} r(u) div deg(u),  D = Σ_{deg(u)=0} r(u).

    Integer division only rounds down, so every rank stays at or below
    the exact recurrence's.  The start loses < 1 unit per node and each
    round < in_deg(v) + 3 units at node v; the recurrence maps a
    non-negative error vector to one of at most 0.85 times its sum, so
    after k rounds the ranks sum to at least M − (N + k·(E + 3N)) for
    N nodes and E edges, and no rank is further than that from the
    exact one.  Every intermediate is ≤ 85·M < 2^47, so nothing
    overflows.

    The ids-only ``(src, dst)`` string projection is materialized once,
    before the first action: the node set, the out-degrees and every
    round's edge join read its stored blocks, so the rounds never re-run
    the lineage that produced ``edges`` (the link-harvest UDF).
    Physical shape per round: edges ⋈ ranks on src (both sides keyed by
    node id), groupBy dst partial+final agg, one lazy 1-row dangling
    aggregate, and a checkpoint every round: each round reads the
    previous round's stored ranks, so rounds 2..k plan the same shape
    and hit Spark's generated-code cache instead of compiling a growing
    multi-round plan.  Returns (node, rank_fp) for every node that
    appears in the graph."""
    spark = edges.sparkSession
    edges = edges.select(
        F.col(edges.columns[0]).cast("string").alias("src"),
        F.col(edges.columns[1]).cast("string").alias("dst"),
    ).localCheckpoint()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        free_local_checkpoint(edges)
        free_local_checkpoint(nodes)
        return spark.createDataFrame([], "node string, rank_fp long")
    out_deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).alias("deg")
    ).localCheckpoint()

    teleport = ((FP_SCALE * (FP_DAMP_DEN - FP_DAMP_NUM)) // FP_DAMP_DEN) // n_nodes
    update = (
        F.lit(teleport).cast("long")
        + F.expr(
            f"({FP_DAMP_NUM} * (coalesce(s, 0L)"
            f" + (dangling div {n_nodes}))) div {FP_DAMP_DEN}"
        )
    ).cast("long")
    ranks = nodes.select(
        "node", F.lit(FP_SCALE // n_nodes).cast("long").alias("rank_fp")
    )
    for i in range(iterations):
        # ONE ranks⋈out_deg join per round feeds both the dangling mass
        # and the per-edge shares
        with_deg = ranks.join(out_deg, ranks["node"] == out_deg["src"], "left")
        # dangling mass: rank held by nodes with no out-edges — a lazy
        # 1-row aggregate broadcast into the update, never a .collect()ed
        # scalar, whose per-round literal would compile new classes
        dangling = with_deg.filter(F.col("deg").isNull()).agg(
            F.coalesce(F.sum("rank_fp"), F.lit(0)).cast("long").alias("dangling")
        )
        shares = with_deg.filter(F.col("deg").isNotNull()).select(
            F.col("node").alias("u"), F.expr("rank_fp div deg").alias("share")
        )
        contribs = edges.join(shares, edges["src"] == F.col("u")).select(
            F.col("dst").alias("node"), F.col("share")
        )
        summed = contribs.groupBy("node").agg(F.sum("share").alias("s"))
        new_ranks = (
            nodes.join(summed, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select("node", update.alias("rank_fp"))
            .localCheckpoint()
        )
        # the new checkpoint is materialized; the superseded one's
        # blocks are dead weight (unpersist() alone is a no-op on
        # local checkpoints — see free_local_checkpoint)
        if i > 0:
            free_local_checkpoint(ranks)
        ranks = new_ranks
    # the returned frame reads only its own checkpoint or, with
    # iterations=0, nodes — free the rest
    free_local_checkpoint(edges)
    free_local_checkpoint(out_deg)
    if iterations > 0:
        free_local_checkpoint(nodes)
    return ranks


def _doc_url_edges(transcripts: DataFrame) -> DataFrame:
    """The bipartite (turn-document → href) link graph of
    ``transcripts``: node ids ``doc:<conv_id>#<turn_idx>`` and
    ``url:<href>``."""
    return run_link_extraction(transcripts).select(
        F.concat(F.lit("doc:"), "conv_id", F.lit("#"), "turn_idx").alias("src"),
        F.concat(F.lit("url:"), "href").alias("dst"),
    )


def link_pagerank_fp(
    transcripts: DataFrame, iterations: int = 4, top_k: int = 100
) -> DataFrame:
    """PageRank over the doc→url link graph: documents contribute their
    rank to the targets they cite; targets are sinks whose mass
    recirculates via the dangling term.  Fixed-point ranks, top
    ``top_k`` by (rank_fp DESC, node ASC) — TakeOrderedAndProject, never
    a global sort."""
    ranks = pagerank_fixed(_doc_url_edges(transcripts), iterations=iterations)
    return ranks.orderBy(F.desc("rank_fp"), F.asc("node")).limit(top_k)


def link_pagerank_sql(
    golden_path: str, iterations: int = 4, top_k: int = 100
) -> str:
    """DuckDB twin: the identical integer recurrence UNROLLED — one CTE
    pair (dangling scalar + next ranks) per iteration — over the
    committed engine-golden link rows, so a Spark-side join/dangling/
    teleport bug breaks the value hash.  Tie-break mirrors the Spark
    orderBy exactly (rank_fp DESC, node ASC)."""
    m, dn, dd = FP_SCALE, FP_DAMP_NUM, FP_DAMP_DEN
    ctes = [
        f"links AS (SELECT * FROM read_parquet('{golden_path}'))",
        (
            "edges AS (SELECT 'doc:' || conv_id || '#' || turn_idx AS src, "
            "'url:' || href AS dst FROM links)"
        ),
        (
            "nodes AS (SELECT src AS node FROM edges "
            "UNION SELECT dst FROM edges)"
        ),
        "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        "p AS (SELECT count(*) AS n FROM nodes)",
        f"r0 AS (SELECT node, CAST({m} AS BIGINT) // p.n AS rank_fp FROM nodes, p)",
    ]
    for i in range(iterations):
        prev, cur = f"r{i}", f"r{i + 1}"
        ctes.append(
            f"d{i} AS (SELECT CAST(coalesce(sum(rank_fp), 0) AS BIGINT) AS dm "
            f"FROM {prev} LEFT JOIN deg ON {prev}.node = deg.src "
            "WHERE deg.deg IS NULL)"
        )
        ctes.append(
            f"s{i} AS (SELECT e.dst AS node, "
            f"CAST(sum({prev}.rank_fp // deg.deg) AS BIGINT) AS s "
            f"FROM edges e JOIN deg ON e.src = deg.src "
            f"JOIN {prev} ON {prev}.node = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"{cur} AS (SELECT nodes.node, "
            f"CAST((({m} * {dd - dn}) // {dd}) // p.n "
            f"+ ({dn} * (coalesce(s{i}.s, 0) + d{i}.dm // p.n)) // {dd} "
            f"AS BIGINT) AS rank_fp "
            f"FROM nodes LEFT JOIN s{i} ON nodes.node = s{i}.node, d{i}, p)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT node, rank_fp FROM r{iterations} "
        f"ORDER BY rank_fp DESC, node ASC LIMIT {top_k}"
    )
