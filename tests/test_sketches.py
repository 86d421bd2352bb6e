"""Sketch accuracy at sf0.01: the HLL++ and Greenwald-Khanna sketches
the gate rows ``text_distinct_counts`` / ``text_length_quantiles`` check
inside their exact twins, recomputed here against exact values, and the
rows' own error-band flags."""

from pyspark.sql import functions as F

from html_parser_spark.operators.dedup import _norm
from html_parser_spark.operators.textstats import (
    HLL_RSD,
    QUANTILE_ACCURACY,
    distinct_counts,
    length_quantiles,
)
from html_parser_spark.sources.tables import read_corpus

SF_DIR = "/root/testdata/sf0.01"


def test_hll_within_5pct_of_exact(spark):
    rows = distinct_counts(read_corpus(spark, SF_DIR, "documents")).collect()
    exact = {r.source: r.n_distinct for r in rows}
    approx = {
        r.source: r.n
        for r in read_corpus(spark, SF_DIR, "documents")
        .groupBy("source")
        .agg(F.approx_count_distinct(F.md5(_norm()), HLL_RSD).alias("n"))
        .collect()
    }
    assert set(exact) == set(approx)
    for src, n in exact.items():
        assert abs(approx[src] - n) <= max(2, 0.05 * n), (src, n, approx[src])
    assert all(r.approx_within_5pct == 1 for r in rows)


def test_approx_quantiles_rank_error_bounded(spark):
    """approx_percentile guarantees RANK error (not value error): the
    returned value's rank in the group must be within ~3% of the target
    quantile's rank (accuracy=10000 → 1/accuracy rank error + discrete
    data slack)."""
    import bisect

    vals = {}
    for r in (
        read_corpus(spark, SF_DIR, "documents")
        .select("source", "n_chars")
        .collect()
    ):
        vals.setdefault(r.source, []).append(r.n_chars)
    for v in vals.values():
        v.sort()
    q = F.expr(
        "approx_percentile(n_chars, array(0.25, 0.5, 0.9, 0.99), "
        f"{QUANTILE_ACCURACY})"
    )
    approx = {
        r.source: tuple(r.q)
        for r in read_corpus(spark, SF_DIR, "documents")
        .groupBy("source")
        .agg(q.alias("q"))
        .collect()
    }
    targets = (0.25, 0.5, 0.9, 0.99)
    for src, qs in approx.items():
        v = vals[src]
        n = len(v)
        for target, a in zip(targets, qs):
            lo = bisect.bisect_left(v, a) / n
            hi = bisect.bisect_right(v, a) / n
            assert lo - 0.03 <= target <= hi + 0.03, (src, target, a, lo, hi)
    docs = read_corpus(spark, SF_DIR, "documents")
    assert all(r.approx_rank_ok == 1 for r in length_quantiles(docs).collect())
