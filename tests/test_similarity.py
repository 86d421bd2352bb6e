"""Banded-LSH embedding near-dup: recall vs the exact all-pairs form.

The driver testdata embeddings contain NO pair above cosine 0.85 (checked:
max pair cosine ≈ 0.51), so the sf0.01 oracle row is trivially 0=0 and
proves nothing about recall.  This test plants real near-duplicates
(cosine ~0.87-0.999) and asserts the banded-LSH candidate path returns
EXACTLY the all-pairs result, plus that the shipped plan never contains a
nested-loop / cartesian join.
"""

import numpy as np
import pytest

from html_parser_spark.operators import similarity
from html_parser_spark.operators.similarity import (
    embedding_near_dups,
    embedding_near_dups_allpairs,
)
from html_parser_spark.sources.tables import corpus_path, read_corpus

DIM = 64


@pytest.fixture(scope="module")
def planted(spark):
    """Embeddings table with 25 planted near-dup pairs."""
    rng = np.random.default_rng(20260817)
    base = rng.standard_normal((120, DIM))
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    # planted near-dups: v + eps*noise, eps swept so cosine spans ~0.87-0.999
    for j in range(25):
        v = base[j]
        eps = 0.05 + 0.02 * j  # cos ≈ 1/sqrt(1+eps²) per unit-norm noise dir
        noise = rng.standard_normal(DIM)
        noise = noise / np.linalg.norm(noise) * np.linalg.norm(v) * eps
        rows.append((1000 + j, [float(x) for x in (v + noise)]))
    return spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")


def _pairs(df):
    return {(r.vec_a, r.vec_b, r.cosine_bp) for r in df.collect()}


def test_lsh_near_dups_match_allpairs_on_planted(planted, monkeypatch):
    monkeypatch.setattr(similarity, "NEAR_DUP_THRESHOLD", 0.9)
    exact = _pairs(embedding_near_dups_allpairs(planted))
    lsh = _pairs(embedding_near_dups(planted))
    assert len(exact) >= 15  # the plant actually produced near-dups
    assert lsh == exact


def test_lsh_near_dups_recall_at_lower_threshold(planted, monkeypatch):
    """Pairs barely above the threshold (worst case for band recall)."""
    monkeypatch.setattr(similarity, "NEAR_DUP_THRESHOLD", 0.87)
    exact = _pairs(embedding_near_dups_allpairs(planted))
    lsh = _pairs(embedding_near_dups(planted))
    assert lsh == exact


def test_near_dups_plan_has_no_nested_loop(spark):
    plan = (
        embedding_near_dups(
            read_corpus(spark, "/root/testdata/sf0.01", "embeddings")
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_topk_recall_vs_brute_force(spark):
    """Trained-quantizer IVF at nprobe=4 of 16 cells: assert a recall
    floor ABOVE what degenerate cells could fake, and exact agreement on
    rescore values for the neighbors it returns.

    (Round-2's seeded-normal centroids measured recall 50/50 — but only
    because assignment collapsed to 3 occupied cells and nprobe=4 scanned
    100% of the corpus: brute force in disguise.  The trained index scans
    ~26% — see test_ivf_cells_balanced — so recall here is a real
    pruned-search figure, floor set from measured 32/50.)"""
    from html_parser_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        trained_centroids,
    )

    sf = "/root/testdata/sf0.01"
    exact = {}
    emb = read_corpus(spark, sf, "embeddings")
    for r in cosine_topk(emb).collect():
        exact.setdefault(r.query_id, {})[r.neighbor_id] = r.cosine_bp
    ivf = {}
    for r in ivf_topk(emb, trained_centroids(sf)).collect():
        ivf.setdefault(r.query_id, {})[r.neighbor_id] = r.cosine_bp
    hits = total = 0
    for q, nbrs in exact.items():
        total += len(nbrs)
        for n_id, bp in nbrs.items():
            if n_id in ivf.get(q, {}):
                hits += 1
                assert ivf[q][n_id] == bp  # same exact rescore values
    assert hits / total >= 0.5, f"IVF recall {hits}/{total}"


def test_ivf_cells_balanced():
    """The trained coarse quantizer must actually partition the corpus:
    every cell occupied, and the probed fraction at nprobe=4 near the
    ideal 4/16 — the pruning that makes IVF an index rather than a
    renamed brute-force scan."""
    import numpy as np
    import pyarrow.parquet as pq

    from html_parser_spark.operators.similarity import trained_centroids

    sf = "/root/testdata/sf0.01"
    t = pq.read_table(corpus_path(sf, "embeddings"), columns=["embedding"])
    x = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)
    cents = trained_centroids(sf)
    d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    occ = np.bincount(d2.argmin(axis=1), minlength=16)
    assert occ.min() > 0, f"empty cells: {occ.tolist()}"
    assert occ.max() / occ.min() < 4, f"skewed cells: {occ.tolist()}"
    probes = np.argsort(d2[:5], axis=1)[:, :4]
    frac = np.mean([occ[p].sum() for p in probes]) / len(x)
    assert 0.15 < frac < 0.45, f"scanned fraction {frac:.3f}"


def test_lsh_near_dups_runs_one_udf_stage(spark):
    """The band-signature pandas UDF must be evaluated ONCE, not four
    times: without the persisted signature frame the plan carries one
    UDF stage per self-join side plus one per side under the
    non-null/size filter Catalyst infers from posexplode (plan-read,
    BENCH.md round-4 continuation).  Both join legs must read the
    cached frame."""
    from html_parser_spark.operators.similarity import embedding_near_dups

    emb = read_corpus(spark, "/root/testdata/sf0.001", "embeddings")
    df = embedding_near_dups(emb)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 2, plan[:2000]
    # the only ArrowEvalPython nodes allowed are inside the (single)
    # cached-relation build plan, not duplicated across the join legs
    import re as _re

    outside = _re.sub(r"InMemoryRelation.*", "", plan, flags=_re.S)
    assert "ArrowEvalPython" not in outside.split("InMemoryTableScan")[0], (
        "UDF evaluated outside the cached signature frame"
    )
