"""Similarity search over the ``embeddings`` table (array<float> column).

Three ANN paths plus the near-dup pair operator:

- **brute-force cosine top-k** — the correctness baseline.  All math in
  double precision via built-in higher-order functions (``zip_with`` +
  ``aggregate``) so the plan stays JVM-side; the DuckDB oracle mirrors
  the exact double-math fold and both engines rank on the QUANTIZED
  similarity.  The query side is tiny and broadcast — one pass over
  the vectors at any scale.
- **LSH-bucketed (random hyperplane)** — sign-bit signature over fixed
  seeded hyperplanes, candidates = same-bucket vectors, exact re-score
  within bucket.  Oracled: the same plane literals are inlined in the
  DuckDB twin.
- **IVF-style (coarse cells)** — broadcast centroid table, argmin cell
  assignment, ``nprobe`` nearest cells probed per query, exact rescore.
  Oracled via a centroid VALUES table.
- **embedding near-dup pairs** — banded random-hyperplane LSH candidate
  generation (equi self-join on band keys, pandas-UDF signatures) +
  exact re-score; the all-pairs theta join survives only as the
  CI-scale truth for the planted-duplicate recall test.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..plans.session import swap_persist
from ..sources.tables import corpus_path

# The operating point the operators and their DuckDB twins both read:
# query count and k of every top-k; the embedding width (testdata
# schema, TESTDATA.md); the LSH hyperplane count and seed; the IVF
# cell count, probe count, k-means seed, training sample and rounds;
# the near-dup band geometry, seed and cosine threshold; and the
# planted near-dup pairs.
N_QUERIES = 5
TOP_K = 10
EMB_DIM = 64
LSH_PLANES = 4
LSH_SEED = 1234
IVF_CELLS = 16
IVF_NPROBE = 4
IVF_SEED = 777
KMEANS_SAMPLE = 4096
KMEANS_ITERS = 10
NEAR_DUP_BANDS = 32
NEAR_DUP_BAND_BITS = 8
NEAR_DUP_SEED = 4321
NEAR_DUP_THRESHOLD = 0.9
PLANTED_PAIRS = 8
PLANTED_SEED = 20240821


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _rescore_topk(pairs: DataFrame) -> DataFrame:
    """Exact rescore and rank shared by the three top-k operators.

    ``pairs`` holds one row per (query, candidate): the query's
    ``query_id``, ``q_emb`` and ``q_nrm`` and the candidate's ``vec_id``,
    ``embedding`` and ``e_nrm``.  The cosine over the precomputed norms
    is quantized to basis points, and each query keeps its ``TOP_K``
    best by (cosine_bp desc, neighbor_id) — ranking on the raw double
    would make neighbor order depend on bit-identical double summation
    across engines (sub-bp float noise must not flip ranks in the
    cross-engine hash)."""
    sim = _dot(F.col("q_emb"), F.col("embedding")) / (
        F.col("q_nrm") * F.col("e_nrm")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_bp"), F.asc("neighbor_id")
    )
    return (
        pairs.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.floor(sim * 10000).cast("long").alias("cosine_bp"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            "neighbor_id",
            "cosine_bp",
        )
    )


def cosine_topk(emb: DataFrame) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``N_QUERIES`` vectors:
    the query side is broadcast against every vector, then ranked by
    :func:`_rescore_topk`."""
    # norms precomputed per side before the join: the identical _norm
    # expression over the identical floats (bitwise-same sim), but the
    # O(dim) aggregate runs once per vector instead of once per
    # (query × vector) pair
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm(F.col("embedding")).alias("q_nrm"),
    )
    corpus = emb.select(
        "vec_id", "embedding", _norm(F.col("embedding")).alias("e_nrm")
    )
    return _rescore_topk(
        corpus.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    )


def cosine_topk_sql() -> str:
    """DuckDB twin with the same left-to-right double fold (list_sum over
    a double list matches Spark's aggregate fold on doubles)."""
    dot = (
        "list_sum(list_transform(list_zip(q.embedding, e.embedding), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )

    def norm(side: str) -> str:
        return (
            f"sqrt(list_sum(list_transform({side}.embedding, "
            f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        )

    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
               WHERE vec_id < {N_QUERIES}),
    pairs AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {dot} / ({norm('q')} * {norm('e')}) AS sim_exact
      FROM embeddings e JOIN q ON e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             CAST(floor(sim_exact * 10000) AS BIGINT) AS cosine_bp,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY CAST(floor(sim_exact * 10000) AS BIGINT)
                                           DESC,
                                         neighbor_id ASC) AS rank
      FROM pairs
    )
    SELECT query_id, rank, neighbor_id, cosine_bp
    FROM ranked WHERE rank <= {TOP_K}
    """


# ------------------------------------------------- LSH (random hyperplane)


def _planes(n_planes: int, seed: int):
    """Deterministic pseudo-random hyperplanes (numpy PCG64 with fixed
    seed — identical on every executor and in tests)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, EMB_DIM))


def _require_dim(col):
    """Fail LOUDLY on width mismatch: the fixed-plane/centroid operators
    would otherwise fold null-padded zip_with products into silently
    wrong buckets for embeddings that are not ``EMB_DIM`` wide."""
    return F.when(col.isNotNull() & (F.size(col) == EMB_DIM), col).otherwise(
        F.raise_error(
            F.concat(
                F.lit("embedding dim "),
                F.coalesce(F.size(col).cast("string"), F.lit("NULL")),
                F.lit(f" != expected {EMB_DIM}"),
            )
        )
    )


def lsh_signatures(emb: DataFrame) -> DataFrame:
    """vec_id → LSH bucket (sign pattern over the hyperplanes).

    Planes are inlined as literal arrays: the sign-dot per plane is a
    built-in fold, no Python.  Bucket cardinality 2^LSH_PLANES; at
    100 TB tune LSH_PLANES so buckets fit an executor
    (~log2(n_vectors/10^5)).

    The embedding width is the constant ``EMB_DIM``, so building the
    plan runs NO Spark job (probing the width with ``.first()`` would
    be a hidden job per plan build)."""
    emb = emb.withColumn("embedding", _require_dim(F.col("embedding")))
    planes = _planes(LSH_PLANES, LSH_SEED)
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(v)) for v in p])
        bit = (_dot(plane, F.col("embedding")) > 0).cast("int")
        bucket = bucket + bit * (1 << i)
    return emb.select("vec_id", "embedding", bucket.alias("bucket"))


def lsh_topk(emb: DataFrame) -> DataFrame:
    """Approximate top-k: exact cosine, but only within the query's LSH
    bucket.  Same output schema as :func:`cosine_topk`."""
    sig = lsh_signatures(emb)
    # per-vector norm precompute before the join (bitwise-same sim,
    # O(dim) aggregate per vector instead of per candidate pair —
    # same rationale as cosine_topk / embedding_near_dups)
    sign = sig.select(
        "vec_id", "embedding", "bucket", _norm(F.col("embedding")).alias("e_nrm")
    )
    q = sign.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket").alias("q_bucket"),
        F.col("e_nrm").alias("q_nrm"),
    )
    return _rescore_topk(
        sign.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
    )


def band_signature_udf(n_bands: int, band_bits: int, seed: int):
    """Vectorized pandas UDF: embedding → array of ``n_bands`` band values.

    One numpy matmul per Arrow batch (batch×dim @ dim×(n_bands·band_bits)
    sign bits, packed per band) — the per-vector work built-in folds can't
    express without a ~256-term Catalyst expression tree."""
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    planes = _planes(n_bands * band_bits, seed)
    weights = (1 << np.arange(band_bits)).astype(np.int64)

    @pandas_udf(ArrayType(IntegerType()))
    def _bands(embs: pd.Series) -> pd.Series:
        # shipped by value: the import makes its worker skip the per-task
        # archive re-read (html_parser_spark/__init__.py)
        import html_parser_spark  # noqa: F401

        mat = np.array(embs.tolist(), dtype=np.float64)
        if mat.size and mat.shape[1] != EMB_DIM:
            raise ValueError(f"embedding dim {mat.shape[1]} != expected {EMB_DIM}")
        bits = (mat @ planes.T) > 0
        vals = bits.reshape(len(mat), n_bands, band_bits) @ weights
        return pd.Series(list(vals.astype(np.int32)))

    return _bands


def lsh_topk_sql() -> str:
    """DuckDB twin of :func:`lsh_topk`: the SAME seeded hyperplanes are
    inlined as DOUBLE[] literals (repr round-trips float64 exactly), so
    both engines compute identical sign buckets, then the exact re-score
    mirrors :func:`cosine_topk_sql` with quantized ranking."""
    planes = _planes(LSH_PLANES, LSH_SEED)

    def plane_lit(p) -> str:
        return "[" + ", ".join(repr(float(v)) for v in p) + "]::DOUBLE[]"

    def plane_dot(p) -> str:
        return (
            f"list_sum(list_transform(list_zip({plane_lit(p)}, embedding), "
            "p -> p[1] * CAST(p[2] AS DOUBLE)))"
        )

    bucket = " + ".join(
        f"(CASE WHEN {plane_dot(p)} > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    dot_qe = (
        "list_sum(list_transform(list_zip(q.q_emb, e.embedding), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )

    def norm(col: str) -> str:
        return (
            f"sqrt(list_sum(list_transform({col}, "
            "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        )

    return f"""
    WITH sig AS (
      SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, embedding AS q_emb, bucket AS q_bucket
          FROM sig WHERE vec_id < {N_QUERIES}),
    pairs AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {dot_qe} / ({norm('q.q_emb')} * {norm('e.embedding')}) AS sim_exact
      FROM sig e JOIN q ON e.bucket = q.q_bucket AND e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             CAST(floor(sim_exact * 10000) AS BIGINT) AS cosine_bp,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY CAST(floor(sim_exact * 10000) AS BIGINT)
                                           DESC,
                                         neighbor_id ASC) AS rank
      FROM pairs
    )
    SELECT query_id, rank, neighbor_id, cosine_bp FROM ranked WHERE rank <= {TOP_K}
    """


# ------------------------------------------------- planted near-dup pairs
#
# The driver testdata embeddings are i.i.d. random — the max pairwise
# cosine at sf0.01 is 0.513, so ANY near-dup threshold verified an empty
# result and the gate row was vacuous (VERDICT r4 item 1).  The gate
# wrapper unions a small deterministic planted set into BOTH engines:
# every component lives on the k/64 grid (exactly representable in
# float32 AND in the decimal literals the DuckDB VALUES twin parses), so
# the cross-engine double math is bit-identical, like the inlined
# hyperplane/centroid literals the ANN twins already use.

PLANTED_VEC_ID_BASE = 1_000_000_000


def planted_near_dup_vectors() -> list[tuple[int, list[float]]]:
    """2·``PLANTED_PAIRS`` vectors: seeded bases with twins perturbed by ±1/64
    on three dims (pair cosine ≥ 0.999; cross-pair cosine concentrates
    near 0 in 64-dim, max ≈ 0.4 — far below any near-dup threshold)."""
    import random as _random

    rng = _random.Random(PLANTED_SEED)
    rows: list[tuple[int, list[float]]] = []
    for i in range(PLANTED_PAIRS):
        base = [rng.randint(-32, 32) / 64 for _ in range(EMB_DIM)]
        twin = list(base)
        for j in rng.sample(range(EMB_DIM), 3):
            twin[j] += rng.choice((-1, 1)) / 64
        rows.append((PLANTED_VEC_ID_BASE + 2 * i, base))
        rows.append((PLANTED_VEC_ID_BASE + 2 * i + 1, twin))
    return rows


def _planted_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        planted_near_dup_vectors(), "vec_id long, embedding array<float>"
    )


def planted_values_sql() -> str:
    """DuckDB VALUES rows mirroring :func:`planted_near_dup_vectors`."""
    rows = ", ".join(
        f"({vid}, [{', '.join(repr(x) for x in vec)}])"
        for vid, vec in planted_near_dup_vectors()
    )
    return (
        "SELECT vec_id, CAST(embedding AS FLOAT[]) AS embedding "
        f"FROM (VALUES {rows}) p(vec_id, embedding)"
    )


def embedding_near_dups(
    emb: DataFrame,
    threshold: float = NEAR_DUP_THRESHOLD,
    include_planted: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above ``threshold``.

    Scale path (round-2 rewrite; round 1 shipped the all-pairs theta join
    = BroadcastNestedLoopJoin, quadratic): banded random-hyperplane LSH —
    candidates are pairs that agree on ≥1 of ``NEAR_DUP_BANDS`` sign
    bands of ``NEAR_DUP_BAND_BITS`` bits (equi self-join on (band_idx,
    band_val), never all-pairs), then an exact cosine re-score over the
    candidates.  Miss probability
    per true pair at cosine τ with per-plane disagreement q = acos(τ)/π:
    (1 − (1−q)^band_bits)^n_bands — at τ=0.9 (q=0.144) with the 32×8-bit
    default ≈ 1.8e-5, and it vanishes as τ→1 (planted near-dups).  At
    10^9+ vectors raise the band width (16-20) so band buckets stay small;
    recall vs the exact all-pairs form is asserted on planted-duplicate
    data in tests/test_similarity.py.

    ``include_planted`` unions :func:`planted_near_dup_vectors` into the
    corpus — the gate wrapper sets it so the driver row verifies real
    pair values (the raw testdata has no pair above any threshold).
    """
    emb = emb.select("vec_id", "embedding")
    if include_planted:
        emb = emb.unionByName(_planted_df(emb.sparkSession))
    bands = band_signature_udf(NEAR_DUP_BANDS, NEAR_DUP_BAND_BITS, NEAR_DUP_SEED)
    # persist the signature frame: without it the physical plan runs
    # the Python band-signature UDF FOUR times — once per self-join
    # side, and ONCE MORE per side under the non-null/size constraint
    # filter Catalyst infers from posexplode and pushes below the
    # Generate (ExtractPythonUDFs plans the UDF separately above and
    # below that filter; plan-read r4).  The cached frame is tiny
    # (vec_id + n_bands ints per vector) and swap-registered so a
    # session holds one resident copy.
    sig = swap_persist(
        # planted-union and raw-corpus callers must not share a slot: the
        # swap register replaces by key, and a stale cached signature
        # frame from the other variant would silently change the result
        f"embedding_near_dups_sig_{int(include_planted)}",
        emb.select("vec_id", bands(F.col("embedding")).alias("bands")),
    )
    cand = sig.select(
        "vec_id", F.posexplode("bands").alias("band_idx", "band_val")
    )
    # DataFrame aliases, not column renames: a rename is pushed BELOW
    # the repartition and differentiates the subtrees, defeating the
    # exchange reuse this shape exists for (SubqueryAlias vanishes in
    # the physical plan, leaving both sides byte-identical)
    ca = cand.alias("ca")
    cb = cand.alias("cb")
    pairs = (
        ca.join(cb, ["band_idx", "band_val"])
        .filter(F.col("ca.vec_id") < F.col("cb.vec_id"))
        .select(
            F.col("ca.vec_id").alias("vec_a"),
            F.col("cb.vec_id").alias("vec_b"),
        )
        .distinct()
    )
    # norms are precomputed per VECTOR before the join — the same
    # _norm expression over the same floats, so sim is bitwise
    # identical to computing it per pair, but the O(dim) aggregate
    # runs |vectors| times instead of 2×|candidate pairs| (at scale
    # pairs >> vectors; the DuckDB twin's dot/(na*nb) shape matches)
    ea = emb.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        _norm(F.col("embedding")).alias("na"),
    )
    eb = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        _norm(F.col("embedding")).alias("nb"),
    )
    sim = _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        pairs.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", sim.alias("sim_exact"))
        .filter(F.col("sim_exact") >= threshold)
        .select(
            "vec_a",
            "vec_b",
            F.floor(F.col("sim_exact") * 10000).cast("long").alias("cosine_bp"),
        )
    )


def embedding_near_dups_allpairs(
    emb: DataFrame, threshold: float = NEAR_DUP_THRESHOLD
) -> DataFrame:
    """Exact all-pairs form (theta join → BroadcastNestedLoopJoin).

    CI-scale truth for the recall test ONLY — quadratic, never the shipped
    plan.  The DuckDB oracle (:func:`embedding_near_dups_sql`) is the same
    all-pairs computation, so the driver check verifies the LSH path's
    recall end-to-end."""
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    sim = _dot(F.col("ea"), F.col("eb")) / (_norm(F.col("ea")) * _norm(F.col("eb")))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", sim.alias("sim_exact"))
        .filter(F.col("sim_exact") >= threshold)
        .select(
            "vec_a",
            "vec_b",
            F.floor(F.col("sim_exact") * 10000).cast("long").alias("cosine_bp"),
        )
    )


def embedding_near_dups_sql(include_planted: bool = False) -> str:
    dot = (
        "list_sum(list_transform(list_zip(a.embedding, b.embedding), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )

    def norm(side: str) -> str:
        return (
            f"sqrt(list_sum(list_transform({side}.embedding, "
            f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        )

    src = "embeddings"
    planted_cte = ""
    if include_planted:
        planted_cte = (
            "WITH emb_u AS (SELECT vec_id, embedding FROM "
            f"embeddings UNION ALL {planted_values_sql()}) "
        )
        src = "emb_u"
    return f"""
    {planted_cte}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(floor({dot} / ({norm('a')} * {norm('b')}) * 10000) AS BIGINT)
               AS cosine_bp
    FROM {src} a JOIN {src} b ON a.vec_id < b.vec_id
    WHERE {dot} / ({norm('a')} * {norm('b')}) >= {NEAR_DUP_THRESHOLD}
    """


# ------------------------------------------------------- IVF (coarse cells)


@functools.lru_cache(maxsize=None)
def trained_centroids(sf_dir: str):
    """Deterministic k-means coarse quantizer (VERDICT r02 item 6 — the
    round-2 seeded-normal stand-in couldn't adapt cells to the data
    distribution, which is the entire point of IVF).

    Lloyd's algorithm on the driver over a fixed SEEDED-HASH sample
    (the ``KMEANS_SAMPLE`` vec_ids whose ``md5("ivf-sample-v1|" + vec_id)``
    digests sort first — deterministic like a prefix but REPRESENTATIVE:
    on real corpora ingested in time order the first-N-ids prefix is a
    biased slice and the quantizer mis-centers; VERDICT r03), seeded
    init drawn from the sample itself, a fixed iteration count,
    empty cells keep their previous centroid.  Centroids are a MODEL
    artifact (IVF_CELLS·EMB_DIM doubles): training must be engine-independent because
    the same literals are inlined into the Spark plan and the DuckDB
    VALUES twin.  At 10^9+ vectors the sample is still a driver-sized
    read (k-means on ~10^4 rows trains a 16..65536-cell quantizer fine;
    scikit-style minibatch or k-means‖ would slot in here unchanged —
    only this function's body, never the query shape, depends on the
    trainer)."""
    import hashlib

    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(
        corpus_path(sf_dir, "embeddings"), columns=["vec_id", "embedding"]
    )
    ids = t.column("vec_id").to_numpy()
    digests = np.array(
        [hashlib.md5(f"ivf-sample-v1|{v}".encode()).hexdigest() for v in ids]
    )
    order = np.argsort(digests, kind="stable")[:KMEANS_SAMPLE]
    x = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)[order]
    if x.shape[1] != EMB_DIM:
        raise ValueError(f"embedding dim {x.shape[1]} != expected {EMB_DIM}")
    rng = np.random.default_rng(IVF_SEED)
    cents = x[rng.choice(len(x), size=IVF_CELLS, replace=False)].copy()
    for _ in range(KMEANS_ITERS):
        d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # ties → lowest cell, deterministic
        for c in range(IVF_CELLS):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def _sq_dist(a, b):
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ivf_topk(emb: DataFrame, centroids) -> DataFrame:
    """IVF-style approximate top-k: assign every vector to its nearest
    coarse cell (argmin L2 over a broadcast ``IVF_CELLS``-row centroid
    table — n×cells work, one pass), probe each query's ``IVF_NPROBE`` nearest
    cells, exact-rescore only the probed cells' vectors.

    At 10^12 vectors this is the classic two-level ANN layout: the cell
    assignment shuffles once on cell id (bucketing the corpus), queries
    touch IVF_NPROBE/IVF_CELLS of the data, and more cells trade scan
    fraction for assignment cost.  Same output schema as
    :func:`cosine_topk` (quantized ranking).  ``centroids`` is the coarse
    quantizer, :func:`trained_centroids` of the same table."""
    emb = emb.withColumn("embedding", _require_dim(F.col("embedding")))
    # cell assignment as ONE inline expression (sorted array of
    # per-centroid (distance, cell) structs — lexicographic struct sort
    # gives the (d, cell) tie-break): zero joins, zero shuffles — a
    # centroid-table cross join + window would shuffle IVF_CELLS×n rows at
    # 10^9+ vectors just to pick a minimum.  One struct array serves
    # both assignment (element 1) and probing (slice IVF_NPROBE), keeping
    # the expression tree at IVF_CELLS×EMB_DIM literals, not double.
    dist_structs = F.array(
        *[
            F.struct(
                _sq_dist(
                    F.array(*[F.lit(float(v)) for v in c]), F.col("embedding")
                ).alias("d"),
                F.lit(i).alias("cell"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    cell = F.element_at(F.array_sort(dist_structs), 1)["cell"]
    # per-vector norm precompute (bitwise-same sim; see cosine_topk)
    assigned = emb.select(
        "vec_id",
        "embedding",
        cell.alias("cell"),
        _norm(F.col("embedding")).alias("e_nrm"),
    )
    probes = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            _norm(F.col("embedding")).alias("q_nrm"),
            F.explode(
                F.slice(F.array_sort(dist_structs), 1, IVF_NPROBE)
            ).alias("p"),
        )
        .select("query_id", "q_emb", "q_nrm", F.col("p.cell").alias("cell"))
    )
    return _rescore_topk(
        assigned.join(F.broadcast(probes), "cell").filter(
            F.col("vec_id") != F.col("query_id")
        )
    )


def ivf_topk_sql() -> str:
    """DuckDB twin: the same TRAINED centroid table as VALUES rows
    (trained_centroids is deterministic, so both engines inline
    bit-identical double literals), the same argmin assignment / probing
    / quantized rescore.  The centroids are trained on the gate's
    testdata (``fixtures.gate_sf_dir``), the embeddings the
    pre-registered ``embeddings`` view reads."""
    from ..fixtures import gate_sf_dir

    cents = trained_centroids(gate_sf_dir())
    values = ",\n      ".join(
        "(%d, [%s]::DOUBLE[])" % (i, ", ".join(repr(float(v)) for v in c))
        for i, c in enumerate(cents)
    )
    sq = (
        "list_sum(list_transform(list_zip(e.embedding, c.centroid), "
        "p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])))"
    )
    dot_qe = (
        "list_sum(list_transform(list_zip(q.q_emb, a.embedding), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )

    def norm(col: str) -> str:
        return (
            f"sqrt(list_sum(list_transform({col}, "
            "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
        )

    return f"""
    WITH cents(cell, centroid) AS (VALUES
      {values}
    ),
    dists AS (
      SELECT e.vec_id, e.embedding, c.cell, {sq} AS d
      FROM embeddings e CROSS JOIN cents c
    ),
    assigned AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT vec_id, embedding, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d ASC, cell ASC) AS rn
        FROM dists) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, embedding AS q_emb, cell FROM (
        SELECT vec_id, embedding, cell,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d ASC, cell ASC) AS rn
        FROM dists WHERE vec_id < {N_QUERIES}) WHERE rn <= {IVF_NPROBE}
    ),
    pairs AS (
      SELECT q.query_id, a.vec_id AS neighbor_id,
             {dot_qe} / ({norm('q.q_emb')} * {norm('a.embedding')}) AS sim_exact
      FROM assigned a JOIN probes q USING (cell)
      WHERE a.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             CAST(floor(sim_exact * 10000) AS BIGINT) AS cosine_bp,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY CAST(floor(sim_exact * 10000) AS BIGINT)
                                           DESC,
                                         neighbor_id ASC) AS rank
      FROM pairs
    )
    SELECT query_id, rank, neighbor_id, cosine_bp FROM ranked WHERE rank <= {TOP_K}
    """
