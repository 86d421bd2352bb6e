"""Deduplication operators over the ``documents`` table.

Four families, scale-ranked:

- **exact** — hash-groupBy on a normalized fingerprint
  (:func:`dedup_keep_list`).  One shuffle on a 16-byte key; the partial
  aggregation (map-side combine) means only (hash, count, min_id)
  tuples ever shuffle, never text.
- **MinHash + LSH** — word-3-shingles → k min-hashes → banded keys →
  bucket self-join.  The self-join is on band keys, so candidate
  generation is linear-ish (no quadratic cross join); exact Jaccard is
  then computed only for bucket collisions.
- **SimHash** — 64-bit sign-sketch over word hashes; near-dups have small
  Hamming distance.  Computed in a vectorized pandas UDF (bit-twiddling
  is not expressible as cheap built-ins); the pytest oracle is a
  pure-Python reimplementation.
- **embedding cosine** — see :mod:`.similarity`.

Cluster resolution (:func:`dedup_cluster_keep_list`) unions the
verified MinHash and SimHash edges of :func:`near_dup_edges` and labels
components with the one min-label propagation loop
(:func:`_propagate_min_labels`); the same loop resolves the distinct
sketch graph inside :func:`simhash_component_edges`.  Incremental
ingest has one body, :func:`incremental_dedup_against`;
:func:`incremental_dedup` is its single-table front.

The corpus-text primitives live here, once each, and every corpus
operator (dedup, :mod:`.textstats`, :mod:`.chunking`) calls them: the
normalizer :func:`_norm`, the word n-gram builder :func:`word_ngrams`,
the banded LSH self-join :func:`_banded_pairs`, the exact-Jaccard
verify :func:`_verify_candidates` and the sampled window fingerprints
:func:`_sampled_windows`.  The DuckDB ``*_sql`` twins spell their own
formulations and stay independent of them.

Parity rule for SQL-oracled ops: hashing is md5 hex (identical in Spark
and DuckDB), min over hex strings is lexicographic in both, shingling is
identical split/transform arithmetic.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import StringType

from ..functions.textnorm import SQL_WS, ascii_words
from ..plans.session import free_local_checkpoint, swap_persist as _swap_persist

# Default MinHash geometry: 128 hashes / 16 bands
# (r=8 rows per band) — the classic corpus-dedup operating point: band
# collision probability J^r gives an S-curve centered near J≈(1/16)^(1/8)
# ≈ 0.71 with ~0.4% collision rate at J=0.4, so candidate volume stays
# near-linear at 10^9+ docs.  The gate corpus runs the explicit CI-scale
# geometry below instead (tiny corpus, and the DuckDB twin would inline
# 128 shingle expressions).
N_HASHES = 128
N_BANDS = 16

# CI/gate-scale geometry: 8/4 (r=2) — shallow S-curve, fine for a
# 500-doc fixture where candidate explosion cannot happen; passed
# EXPLICITLY by the driver-contract wrappers so gate values are stable.
GATE_N_HASHES = 8
GATE_N_BANDS = 4

# Upper bound on the rows of an id table broadcast as a join build
# side: candidate members in the verify semi-join (_verify_candidates),
# (sh64, comp) labels in the sketch label propagation
# (_sketch_components), shared fingerprints in the substring-span
# semi-join (shared_substring_spans), distinct eval grams in the
# decontamination semi-join (decontaminate).  50M int64 ids ≈ 400 MB
# pre-serialization (the labels twice that; an 8-gram row is ~50 bytes,
# so ~2.5 GB) — under the 8 GB broadcast hard cap with headroom for the
# hashed-relation overhead; past it each degrades to a shuffled form
# rather than failing.
BROADCAST_MEMBER_LIMIT = 50_000_000

# Cluster-resolution and incremental-ingest operating point: the exact
# Jaccard a MinHash candidate must reach to count as a near-dup, the
# SimHash radius, the pigeonhole block count of the sketch-component
# buckets (m=6/h=3: ~32-bit keys, see _pigeonhole_keys), the
# label-propagation round bound, and the seeded hash bucket that
# selects the single-table incremental batch (1 in 10 doc_ids).
JACCARD_THRESHOLD = 0.5
MAX_HAMMING = 3
N_BLOCKS = 6
MAX_ITER = 25
BATCH_SEED = "incr-v1"
BATCH_BUCKETS = 10

# Decontamination and substring-level operating point: the held-out
# evaluation slice (``doc_id % EVAL_MODULUS == 0``, which the corpus
# job also routes to its heldout output), and the winnowing window
# width and md5 sample prefix (1/16 of windows).
EVAL_MODULUS = 25
SUBSTRING_WINDOW = 40
SUBSTRING_SAMPLE_PREFIX = "0"


# seeded Carter-Wegman coefficients for the "fast" MinHash family
# (deterministic across runs/executors; ODD multipliers so a_k·x+b_k
# mod 2^32 is a bijection of the 32-bit base-hash domain; 31-bit range
# keeps a_k*h + b_k inside 63 bits — no signed-long overflow pre-mask)
import random as _random

_cw_rng = _random.Random(0xD5)
_CW_A = [(_cw_rng.randrange(1, 1 << 31)) | 1 for _ in range(512)]
_CW_B = [_cw_rng.randrange(0, 1 << 31) for _ in range(512)]
del _cw_rng


def _norm():
    """The whitespace/case normalizer every corpus-text operator reads:
    lowercase, collapse runs of the Java ``\\s`` class to one space, trim.
    Dedup keys, shingles, n-grams, text statistics and chunk tokens all
    split this text on ``" "``, so they agree on token identity."""
    return F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))


NORM_SQL = f"trim(regexp_replace(lower(text), '{SQL_WS}+', ' ', 'g'))"


def _ws_tokens(text):
    """Whitespace tokens of the string expression ``text``: trimmed of
    spaces, then split on runs of the Java ``\\s`` class; a text that is
    empty after the trim has no tokens.  Unlike :func:`_norm` it keeps
    case and empty edge tokens (a leading tab yields ``""`` first); the
    DuckDB twins spell the same split with ``SQL_WS``."""
    t = F.trim(text)
    return F.when(t == "", F.array()).otherwise(F.split(t, r"\s+"))


def word_ngrams(ws, width: int):
    """Word ``width``-grams of the words-array column ``ws``, in order and
    with repeats; empty below ``width`` words.

    Built with slice+zip_with rather than transform(sequence, i ->
    element_at(ws, i)) — in a lambda body the outer ``ws`` expression is
    re-evaluated per *element*, turning n-gramming O(words × text_len);
    the zip_with form evaluates each split once per row."""
    n = F.greatest(F.size(ws) - (width - 1), F.lit(0))
    grams = F.slice(ws, 1, n)
    for off in range(1, width):
        grams = F.zip_with(
            grams, F.slice(ws, off + 1, n), lambda x, y: F.concat_ws(" ", x, y)
        )
    return F.when(F.size(ws) < width, F.array().cast("array<string>")).otherwise(
        grams
    )


def _shingles():
    """Distinct word 3-shingles of the normalized text; docs with <3
    words use the whole normalized text as their single shingle."""
    ws = F.split(_norm(), " ")
    return F.when(F.size(ws) < 3, F.array(_norm())).otherwise(
        F.array_distinct(word_ngrams(ws, 3))
    )


SHINGLES_SQL = f"""
    CASE WHEN len(string_split({NORM_SQL}, ' ')) < 3
         THEN [{NORM_SQL}]
         ELSE list_distinct(list_transform(
                range(0, len(string_split({NORM_SQL}, ' ')) - 2),
                i -> string_split({NORM_SQL}, ' ')[i + 1] || ' ' ||
                     string_split({NORM_SQL}, ' ')[i + 2] || ' ' ||
                     string_split({NORM_SQL}, ' ')[i + 3]))
    END
"""


def minhash_signatures(
    spark: SparkSession,
    sf_dir: str,
    n_hashes: int = N_HASHES,
    hash_family: str = "md5",
) -> DataFrame:
    """Per-doc MinHash signature: for seed s, min over shingles of
    hash(s, shingle).

    Two hash families, same exchangeable-family math:

    - ``md5`` (default): min over md5-hex strings computed inside a
      per-element array transform — bit-identical in DuckDB, so every
      gate-oracled query uses it.
    - ``fast``: the CORPUS-SCALE family — classic Carter-Wegman
      universal hashing (Broder's original MinHash construction):
      hash each shingle ONCE (xxhash64 → 32-bit base h), then derive
      the k-th hash as ``(a_k·h + b_k) mod 2^32`` with seeded ODD
      multipliers — 128 integer multiply-adds in straight-line
      whole-stage codegen instead of 128 string hashes in an
      interpreted array lambda.  The modulus MUST equal the base-hash
      domain: with odd a, x → a·x+b mod 2^32 is a bijection of
      [0, 2^32) — a genuine seeded permutation, the exchangeable
      family MinHash requires.  (A wider mask like 2^62 is a trap:
      a·h < 2^63 wraps the modulus at most once, so the map is
      near-MONOTONIC in h and all 128 "independent" min-hashes are
      dominated by the doc's min base hash — measured band-collision
      prob collapses from the S-curve 1-(1-J^8)^16 to ≈J itself,
      e.g. 0.50 observed vs 0.061 theoretical at J=0.5, and the
      cross-hash agreement sd is 49 vs the binomial 5.7.)  Shape also
      changes: shingles EXPLODE to rows and the min is a
      map-side-combinable aggregation (the exchange moves one 128-long
      row per doc per partition), because per-element lambda
      evaluation — not md5 itself — was half the cost.  Measured on
      the 92k-doc corpus-job input: md5-transform 124.7 s → fast
      12.6 s steady-state (~10×).  LSH needs only a uniform
      exchangeable family and the verify stage (exact Jaccard) is
      family-independent, so keep-list SEMANTICS are unchanged — only
      which true pairs the bands surface varies within the same
      S-curve (tests/test_dedup_fast_family.py pins both recall at
      J≥0.9 and verify-stage precision).
    """
    return minhash_signatures_of(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), n_hashes, hash_family
    )


def minhash_signatures_of(
    docs: DataFrame, n_hashes: int = N_HASHES, hash_family: str = "md5"
) -> DataFrame:
    """DataFrame-input core of :func:`minhash_signatures` — same two
    hash families, for callers whose documents don't live at a
    ``sf_dir`` (the incremental-ingest job's freshly extracted batch,
    a stored corpus read through the table seam)."""
    if hash_family == "fast":
        rows = docs.select("doc_id", F.explode(_shingles()).alias("s"))
        base = rows.select(
            "doc_id",
            F.xxhash64("s").bitwiseAND(F.lit((1 << 32) - 1)).alias("h"),
        )
        proj = base.select(
            "doc_id",
            *[
                (F.lit(_CW_A[k]) * F.col("h") + F.lit(_CW_B[k]))
                .bitwiseAND(F.lit((1 << 32) - 1))
                .alias(f"h{k}")
                for k in range(n_hashes)
            ],
        )
        return proj.groupBy("doc_id").agg(
            *[F.min(f"h{k}").alias(f"mh{k}") for k in range(n_hashes)]
        )
    # Generate barrier: explode of a 1-element array materializes the
    # shingle pipeline ONCE per row.  Referencing the shingle EXPRESSION
    # from every mh column instead lets CollapseProject inline it 128×
    # (no CSE once the fused projection exceeds codegen limits) —
    # measured 151 s → 9 s for the 128-column signature materialization
    # on a 9.2k-doc extracted corpus (BENCH.md round-3 session 2).
    sh1 = docs.select("doc_id", F.explode(F.array(_shingles())).alias("sh"))
    cols = [
        F.array_min(
            F.transform(F.col("sh"), lambda x: F.md5(F.concat(F.lit(f"{s}|"), x)))
        ).alias(f"mh{s}")
        for s in range(n_hashes)
    ]
    return sh1.select("doc_id", *cols)


def minhash_signatures_sql(n_hashes: int = N_HASHES) -> str:
    cols = ",\n           ".join(
        f"list_min(list_transform({SHINGLES_SQL}, x -> md5('{s}|' || x))) AS mh{s}"
        for s in range(n_hashes)
    )
    return f"SELECT doc_id,\n           {cols}\nFROM documents"


def minhash_band_keys(
    sig: DataFrame,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    hash_family: str = "md5",
) -> DataFrame:
    """Signature → (doc_id, band, band_key); band_key = a hash of the
    band's min-hashes (md5 over the concat, or one xxhash64 over the
    band's longs — an 8-byte join key instead of a 32-char string).
    Self-join on (band, band_key) yields LSH candidates."""
    rows_per_band = n_hashes // n_bands

    def _key(b):
        members = [
            F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)
        ]
        if hash_family == "fast":
            return F.xxhash64(*members)
        return F.md5(F.concat_ws("|", *members))

    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band"), _key(b).alias("band_key"))
            for b in range(n_bands)
        ]
    )
    return sig.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def _banded_pairs(keys: DataFrame) -> DataFrame:
    """Banded LSH self-join over a (doc_id, band, band_key) frame →
    distinct candidate pairs (doc_a < doc_b).

    The explicit repartition on the join key makes both self-join sides
    share ONE exchange, so the expensive signature computation
    (normalize + shingle + n_hashes md5-mins per doc) runs once instead
    of once per side — measured 2.0× on sf0.1 (13.2 s → 6.3 s, ABAB);
    without it each side's scan recomputes the signatures."""
    keys = keys.repartition(
        int(keys.sparkSession.conf.get("spark.sql.shuffle.partitions")),
        "band",
        "band_key",
    )
    a = keys.alias("a")
    b = keys.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def minhash_candidates_of(
    docs: DataFrame,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    hash_family: str = "md5",
) -> DataFrame:
    """DataFrame-input core of :func:`minhash_candidates`."""
    return _banded_pairs(
        minhash_band_keys(
            minhash_signatures_of(docs, n_hashes, hash_family),
            n_hashes,
            n_bands,
            hash_family,
        )
    )


def minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs (doc_a < doc_b) — docs sharing ≥1 band key.

    NOTE this is the full-pair REPORTING op: a bucket of k docs yields
    k(k−1)/2 pairs by contract.  Cluster resolution never consumes it —
    :func:`near_dup_edges` collapses exact-text groups first so pair
    count stays linear in docs (BENCH.md round 4, sf10 postmortem)."""
    return minhash_candidates_of(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _band_structs_sql(n_hashes: int, n_bands: int) -> str:
    """DuckDB twin of :func:`minhash_band_keys` (md5 family): the list
    body of one ``{band, band_key}`` struct per band."""
    rows_per_band = n_hashes // n_bands
    return ", ".join(
        "{'band': %d, 'band_key': md5(%s)}"
        % (
            b,
            " || '|' || ".join(
                f"mh{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(n_bands)
    )


def minhash_candidates_sql(
    n_hashes: int = N_HASHES, n_bands: int = N_BANDS
) -> str:
    sig = minhash_signatures_sql(n_hashes)
    band_structs = _band_structs_sql(n_hashes, n_bands)
    return f"""
    WITH sig AS ({sig}),
    keys AS (
      SELECT doc_id, bk['band'] AS band, bk['band_key'] AS band_key
      FROM sig, unnest([{band_structs}]) AS t(bk)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM keys a JOIN keys b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    """


def ngram_jaccard_of(
    docs: DataFrame,
    threshold: float = 0.0,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    hash_family: str = "md5",
) -> DataFrame:
    """DataFrame-input core of :func:`ngram_jaccard` — LSH candidates
    over ``docs`` (doc_id, text) scored with exact shingle-set Jaccard
    by :func:`_verify_candidates`.  Callers that have already collapsed
    exact-text groups (:func:`near_dup_edges`) pass one representative
    per distinct text here, so no exact-duplicate clique ever reaches
    the verify join."""
    cand = _swap_persist(
        "ngram_jaccard_cand",
        minhash_candidates_of(docs, n_hashes, n_bands, hash_family),
    )
    return _verify_candidates(docs, cand, threshold)


def _verify_candidates(
    docs: DataFrame, cand: DataFrame, threshold: float
) -> DataFrame:
    """Score the persisted candidate pairs ``cand`` (doc_a, doc_b, plus
    any extra columns, carried through) with exact shingle-set Jaccard
    over ``docs`` (doc_id, text); keep pairs whose ratio
    ``|A∩B| / |A∪B|`` is at/above ``threshold`` as (doc_a, doc_b,
    jaccard_bp, *extra), ``jaccard_bp`` being the floored basis points.

    Only docs that appear in some candidate pair are shingled: the
    shingle frame is built over a semi-join of ``docs`` against the
    candidate member ids, so verify-stage shuffle volume is O(candidate
    members), never O(corpus).  Measured at sf1.0 (927k docs,
    post-collapse candidates = 0): the full-corpus shingle build + join
    was 23.5 s for zero output (BENCH.md round 4 fine attribution).
    Member count is bounded by 2·|candidates| (the persisted frame is
    counted — free, verify materializes it anyway); the semi-join is
    broadcast while that bound is within ``BROADCAST_MEMBER_LIMIT`` and
    a shuffled hash join on doc_id past it, instead of blowing the
    driver broadcast cap."""
    extra = [c for c in cand.columns if c not in ("doc_a", "doc_b")]
    members = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    if 2 * cand.count() <= BROADCAST_MEMBER_LIMIT:
        members = F.broadcast(members)
    sh = docs.join(members, "doc_id", "left_semi").select(
        "doc_id", _shingles().alias("sh")
    )
    # shingle arrays are distinct (_shingles ends in array_distinct), so
    # |A∪B| = |A|+|B|−|A∩B| exactly, without materializing the union
    # array per pair
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    ratio = inter.cast("double") / F.greatest(
        F.size("sh_a") + F.size("sh_b") - inter, F.lit(1)
    )
    return (
        cand.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
        .filter(ratio >= threshold)
        .select(
            "doc_a",
            "doc_b",
            F.floor(ratio * 10000).cast("long").alias("jaccard_bp"),
            *extra,
        )
    )


def ngram_jaccard(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.0,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    hash_family: str = "md5",
) -> DataFrame:
    """Exact shingle-set Jaccard for LSH candidate pairs (verification
    stage of MinHash dedup).  Only bucket collisions are scored — never
    the full cross product.

    Like :func:`minhash_candidates` this is the full-pair REPORTING op
    (a k-doc exact-dup group contributes k(k−1)/2 scored pairs by
    contract); cluster resolution goes through :func:`near_dup_edges`,
    which collapses exact-text groups before LSH."""
    return ngram_jaccard_of(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        threshold,
        n_hashes,
        n_bands,
        hash_family,
    )


def ngram_jaccard_sql(n_hashes: int = N_HASHES, n_bands: int = N_BANDS) -> str:
    return f"""
    WITH cand AS ({minhash_candidates_sql(n_hashes, n_bands)}),
    sh AS (SELECT doc_id, {SHINGLES_SQL} AS s FROM documents)
    SELECT c.doc_a, c.doc_b,
           CAST(floor(len(list_intersect(a.s, b.s)) * 1.0 /
                 greatest(len(list_distinct(a.s || b.s)), 1) * 10000) AS BIGINT)
               AS jaccard_bp
    FROM cand c
    JOIN sh a ON a.doc_id = c.doc_a
    JOIN sh b ON b.doc_id = c.doc_b
    """


def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup *output*: one row per surviving document (the minimum
    doc_id of each normalized-text group).  Anti-join shape: at 100 TB
    this is the same committed-keys primitive the resume path uses —
    only (hash, keep_id) pairs shuffle, never text."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hashed = docs.select("doc_id", F.md5(_norm()).alias("text_hash"))
    losers = (
        hashed.groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n"))
    )
    return (
        hashed.join(losers, "text_hash")
        .filter(F.col("doc_id") == F.col("keep_doc_id"))
        .select("doc_id", "text_hash")
        .orderBy("doc_id")
    )


def dedup_keep_list_sql() -> str:
    return f"""
    WITH hashed AS (SELECT doc_id, md5({NORM_SQL}) AS text_hash FROM documents)
    SELECT doc_id, text_hash FROM hashed
    WHERE doc_id = (SELECT min(h2.doc_id) FROM hashed h2
                    WHERE h2.text_hash = hashed.text_hash)
    ORDER BY doc_id
    """


# ---------------------------------------------------------------- simhash


def simhash64(words: list) -> int:
    """Pure-Python 64-bit SimHash over md5-derived word hashes (shared by
    the pandas UDF and the pytest oracle)."""
    import hashlib

    acc = [0] * 64
    for w in words:
        h = int.from_bytes(hashlib.md5(w.encode("utf-8")).digest()[:8], "big")
        for i in range(64):
            acc[i] += 1 if (h >> i) & 1 else -1
    out = 0
    for i in range(64):
        if acc[i] > 0:
            out |= 1 << i
    return out


# word → 64-bit md5-prefix hash, memoized per executor (values are
# immutable ints — the CLAUDE.md memo rule).  Natural text is Zipf:
# most occurrences are of already-seen words, so the md5 call — the
# sketch stage's dominant cost — mostly becomes a dict hit.
_WORD_H_MEMO: dict = {}
_WORD_H_MEMO_MAX = 1 << 20  # ~60 MB/executor worst case; clear-on-full


def _simhash64_np(words: list) -> int:
    """Vectorized twin of :func:`simhash64` (identical output, asserted
    in tests): per-DISTINCT-word md5 (memoized across docs) with the
    occurrence count folded into the vote — the sum is order-independent
    exact int64 arithmetic, so collapsing repeats is bit-identical —
    and the 64-bit vote/threshold as one numpy broadcast instead of a
    64×words Python loop.  Measured 5.1× over the hash-every-occurrence
    form on 8,000 extracted corpus docs (BENCH.md round 4)."""
    import hashlib
    from collections import Counter

    import numpy as np

    if not words:
        return 0
    cnt = Counter(words)
    uw = list(cnt)
    memo = _WORD_H_MEMO
    hs = np.empty(len(uw), dtype=np.uint64)
    for i, w in enumerate(uw):
        h = memo.get(w)
        if h is None:
            h = int.from_bytes(hashlib.md5(w.encode("utf-8")).digest()[:8], "big")
            if len(memo) >= _WORD_H_MEMO_MAX:
                memo.clear()
            memo[w] = h
        hs[i] = h
    counts = np.fromiter(cnt.values(), dtype=np.int64, count=len(uw))
    bits = (hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
    acc = ((2 * bits.astype(np.int64) - 1) * counts[:, None]).sum(axis=0)
    weights = np.uint64(1) << np.arange(64, dtype=np.uint64)
    return int((weights[acc > 0]).sum(dtype=np.uint64))


@pandas_udf(StringType())
def _simhash_udf(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    for texts in batches:
        out = []
        for t in texts:
            words = ascii_words((t or "").lower())
            out.append(format(_simhash64_np(words), "016x"))
        yield pd.Series(out)


def simhash_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → 64-bit SimHash sketch (hex).  Near-dup scan pairs docs
    whose sketches differ in ≤3 bits; at scale, bucket on 16-bit sketch
    quarters (pigeonhole: any ≤3-bit-different pair shares a quarter)."""
    return simhash_sketches_of(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    )


def simhash_sketches_of(docs: DataFrame) -> DataFrame:
    """DataFrame-input core of :func:`simhash_sketches`.  The sketch is
    a function of ``ascii_words(text.lower())`` word counts, which is
    invariant under the exact-dedup normalization (``_norm`` collapses
    the SAME whitespace class ``ascii_words`` splits on), so callers
    holding one representative per distinct normalized text
    (:func:`near_dup_edges`) get every group's sketch from its rep."""
    return docs.select("doc_id", _simhash_udf(F.col("text")).alias("simhash"))


def simhash_sketches_sql() -> str:
    """DuckDB twin of :func:`simhash_sketches` — md5 bit-twiddling in SQL.

    Mirrors simhash64 exactly: per word, the first 8 bytes of md5 (hex
    substring parsed as UBIGINT), then a +1/-1 vote per bit position and
    a sign threshold; empty/whitespace-only docs get sketch 0 (Python
    ``''.split()`` → ``[]``) via the LEFT JOIN coalesce."""
    return f"""
    WITH words AS (
      -- Python str.split() semantics: split on whitespace runs and DROP
      -- empty tokens (leading/trailing ws); trim()-based splitting
      -- diverges on '\\n'-led text (reviewer-found, latent on the
      -- single-space fixture corpus)
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '{SQL_WS}+'),
                                w -> w <> '')) AS w
      FROM documents
    ),
    hashes AS (
      SELECT doc_id, ('0x' || substring(md5(w), 1, 16))::UBIGINT AS h
      FROM words
    ),
    bits AS (
      SELECT doc_id, g.i,
             CASE WHEN sum(CASE WHEN (h >> g.i) & 1 = 1 THEN 1 ELSE -1 END) > 0
                  THEN 1::UBIGINT ELSE 0::UBIGINT END AS bit
      FROM hashes CROSS JOIN (SELECT unnest(range(64)) AS i) g
      GROUP BY doc_id, g.i
    ),
    sketch AS (
      SELECT doc_id, sum(bit << i)::UBIGINT AS sh FROM bits GROUP BY doc_id
    )
    SELECT d.doc_id,
           lpad(lower(hex(coalesce(s.sh, 0::UBIGINT))), 16, '0') AS simhash
    FROM documents d LEFT JOIN sketch s USING (doc_id)
    """


def simhash_near_dups_sql() -> str:
    """DuckDB twin of :func:`simhash_near_dups` — the same pigeonhole
    quarter bucketing and xor+bit_count scoring over the oracled
    sketches."""
    base = simhash_sketches_sql()
    return f"""
    WITH sk AS ({base}),
    nums AS (
      SELECT doc_id, ('0x' || simhash)::UBIGINT AS sh FROM sk
    ),
    quarters AS (
      SELECT doc_id, sh, g.q, (sh >> (16 * g.q)) & 65535 AS qv
      FROM nums CROSS JOIN (SELECT unnest(range(4)) AS q) g
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.sh AS sa, b.sh AS sb
      FROM quarters a JOIN quarters b
        ON a.q = b.q AND a.qv = b.qv AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= {MAX_HAMMING}
    ORDER BY doc_a, doc_b
    """


# ------------------------------------------------- cluster resolution
#
# Candidate pairs alone don't dedupe anything: cluster resolution ends
# with connected components over the verified pair graph and one
# representative per cluster.


def _exact_text_collapse(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Exact-duplicate collapse of ``docs`` (doc_id, text) →
    ``(stars, reps)``: ``stars`` (doc_a, doc_b) links every doc to the
    min-doc_id of its md5(normalized text) group, ``reps`` (doc_id,
    text) holds one persisted representative per distinct text.

    The sf10 postmortem fix (BENCH.md round 4): exact-duplicate groups
    share every band key, so LSH+verify over all docs emits the FULL
    k(k−1)/2 clique per k-doc group (22M edges at sf1.0, disk-full at
    sf10).  A star needs no verification (Jaccard 1.0, Hamming 0), and
    LSH+verify over the reps finds the same components: shingles,
    Jaccard and the SimHash sketch are functions of the normalized
    text, so a verified edge (d, e) exists in the full formulation iff
    (rep(d), rep(e)) is verified here.  Edge count drops from O(Σ k²)
    to O(docs + verified distinct-text pairs).  min_by keeps ``reps``
    deterministic; the map-side partial agg means raw text crosses the
    exchange once per distinct text per input partition, never once
    per doc."""
    ids = docs.select("doc_id", F.md5(_norm()).alias("th"))
    groups = ids.groupBy("th").agg(F.min("doc_id").alias("rep"))
    stars = (
        ids.join(groups, "th")
        .filter(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    reps = _swap_persist(
        "near_dup_reps",
        docs.groupBy(F.md5(_norm()).alias("th")).agg(
            F.min("doc_id").alias("doc_id"),
            F.expr("min_by(text, doc_id)").alias("text"),
        ).select("doc_id", "text"),
    )
    return stars, reps


def near_dup_edges(
    spark: SparkSession,
    sf_dir: str,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    hash_family: str = "md5",
) -> DataFrame:
    """Verified near-duplicate edges (doc_a < doc_b): MinHash-LSH
    candidates that PASS the exact-Jaccard verify stage at
    ``JACCARD_THRESHOLD``, unioned with the SimHash
    COMPONENT-EQUIVALENT edge set within ``MAX_HAMMING``
    (:func:`simhash_component_edges` — stars over identical-sketch
    groups plus representative edges, O(docs + sketch pairs) instead of
    the O(k²)-per-group full pair clique; connected components are
    provably identical, which is all cluster resolution consumes).
    Never raw LSH collisions — clustering unverified candidates glues
    false-positive bridges between unrelated groups, and a single bad
    edge merges two clusters irreversibly.

    The union is NOT deduplicated: min-label propagation is idempotent
    over duplicate edges (a min over a multiset), the only dups are the
    MinHash∩SimHash overlap (~1% of the edge set), and a ``distinct``
    here is a global exchange of the ENTIRE edge set — measured ABAB at
    sf1.0 (22M edges, isolated JVMs): with distinct 203.6/149.2 s to
    components, without 146.4/139.8 s, keeper sets identical
    (BENCH.md round 4).

    Both near-dup families run over one representative per distinct
    normalized text, with every other doc starred to its rep
    (:func:`_exact_text_collapse`), so no exact-duplicate clique is
    ever emitted."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stars, reps = _exact_text_collapse(docs)
    mh = ngram_jaccard_of(
        reps, threshold=JACCARD_THRESHOLD,
        n_hashes=n_hashes, n_bands=n_bands, hash_family=hash_family,
    ).select("doc_a", "doc_b")
    sh = simhash_component_edges_of(
        simhash_sketches_of(reps).select("doc_id", _sh64().alias("sh64"))
    ).select("doc_a", "doc_b")
    return stars.unionByName(mh).unionByName(sh)


def dedup_cluster_keep_list(
    spark: SparkSession,
    sf_dir: str,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    hash_family: str = "md5",
) -> DataFrame:
    """Near-dup cluster resolution: connected components over the verified
    edge graph by iterative min-label propagation, then one row per
    document: ``(doc_id, cluster_id, is_keeper)`` where ``cluster_id`` is
    the component's minimum doc_id and ``is_keeper`` marks the kept
    representative (singletons keep themselves).

    Scale shape: the iterated state is only ``(doc_id, cluster_id)`` —
    never text — and each round is one equi join + one map-side-combinable
    min-aggregation, both shuffling on doc_id; rounds converge in
    O(graph diameter) (near-dup components are dense and shallow — LSH
    collision graphs have tiny diameters; a pathological chain corpus
    would want the large-star/small-star pointer-doubling variant, which
    keeps the same per-round join shape).  Convergence is checked with a
    count on the changed-label frame — the only driver-side value per
    round; edges and labels are persisted so no round recomputes the
    signature pipelines."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    edges = near_dup_edges(
        spark, sf_dir, n_hashes=n_hashes, n_bands=n_bands,
        hash_family=hash_family,
    )
    return connected_components(docs, edges)


def _propagate_min_labels(
    vertices: DataFrame, key: str, label: str, neighbours, max_iter: int
) -> DataFrame:
    """Min-label propagation with path halving over the ``key`` column of
    ``vertices``; returns the converged, checkpointed ``(key, label)``
    frame, ``label`` being the minimum ``key`` of the component.
    Raises ``RuntimeError`` when ``max_iter`` rounds do not converge.

    ``neighbours(labels)`` maps the current ``(key, label)`` frame to
    ``(key, label)`` rows offering each vertex its neighbours' labels —
    the caller's graph lives only in that function.  Each round merges
    them by a map-side-combinable min-aggregation, then resolves every
    label through the label table (``label[v] ← label[label[v]]``, one
    extra ids-only equi join that always hits): chain convergence is
    O(log diameter) — a template-heavy chain corpus (922 docs, 565
    edges) converges in 4 rounds instead of 9+.

    ``localCheckpoint`` each round, not bare ``persist``: the plan of a
    persisted frame still deepens every round, and re-analysis made
    round cost GROW 18→104 s by round 4 on that corpus.  (On a
    multi-executor cluster with dynamic allocation, prefer a reliable
    ``checkpoint()`` dir — localCheckpoint blocks die with their
    executor.)  ``.unpersist()`` is a NO-OP on a localCheckpoint()ed
    frame, so the previous round's labels are released through
    ``free_local_checkpoint``."""
    labels = vertices.select(key, F.col(key).alias(label)).localCheckpoint()
    for _ in range(max_iter):
        merged = (
            labels.unionByName(neighbours(labels))
            .groupBy(key)
            .agg(F.min(label).alias(label))
        )
        parent = merged.select(
            F.col(key).alias("p_id"), F.col(label).alias("p_label")
        )
        new_labels = (
            merged.join(parent, merged[label] == parent["p_id"])
            .select(key, F.least(label, "p_label").alias(label))
            .localCheckpoint()
        )
        changed = (
            labels.alias("o")
            .join(new_labels.alias("n"), key)
            .filter(F.col(f"o.{label}") != F.col(f"n.{label}"))
            .count()
        )
        free_local_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(
        f"label propagation did not converge in {max_iter} rounds — "
        "component diameter exceeds the bound; use pointer doubling"
    )


def connected_components(
    docs: DataFrame, edges: DataFrame, max_iter: int = MAX_ITER
) -> DataFrame:
    """Connected components of ``edges`` (doc_a, doc_b undirected) by
    :func:`_propagate_min_labels` over the doc adjacency table; returns
    ``(doc_id, cluster_id, is_keeper)`` for every row of ``docs``
    (singletons keep themselves)."""
    edges = edges.persist()  # adj's two union branches share one compute
    adj = (
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .localCheckpoint()
    )
    edges.unpersist()

    def neighbours(labels: DataFrame) -> DataFrame:
        return adj.join(labels, adj["dst"] == labels["doc_id"]).select(
            F.col("src").alias("doc_id"), "cluster_id"
        )

    labels = _propagate_min_labels(
        docs, "doc_id", "cluster_id", neighbours, max_iter
    )
    # the surviving labels frame is checkpointed, so the adjacency
    # table's blocks are dead weight from here on
    free_local_checkpoint(adj)
    return labels.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).cast("int").alias("is_keeper"),
    ).orderBy("doc_id")


def dedup_cluster_keep_list_sql(
    n_hashes: int = N_HASHES, n_bands: int = N_BANDS
) -> str:
    """DuckDB twin: the same verified edge set, transitive closure via a
    recursive CTE, min reachable id per document."""
    jac_bp = int(JACCARD_THRESHOLD * 10000)
    return f"""
    WITH RECURSIVE
    jac AS ({ngram_jaccard_sql(n_hashes, n_bands)}),
    shp AS ({simhash_near_dups_sql()}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM jac WHERE jaccard_bp >= {jac_bp}
      UNION SELECT doc_b, doc_a FROM jac WHERE jaccard_bp >= {jac_bp}
      UNION SELECT doc_a, doc_b FROM shp
      UNION SELECT doc_b, doc_a FROM shp
    ),
    reach(doc_id, r) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT rc.doc_id, e.dst FROM reach rc JOIN edges e ON e.src = rc.r
    )
    SELECT doc_id, min(r) AS cluster_id,
           CAST(CASE WHEN min(r) = doc_id THEN 1 ELSE 0 END AS INT) AS is_keeper
    FROM reach GROUP BY doc_id ORDER BY doc_id
    """


def _sh64():
    """hex sketch → signed 64-bit long, via two 32-bit halves (conv() on
    16 hex digits would overflow signed 64)."""
    hi = F.conv(F.substring("simhash", 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring("simhash", 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def _pigeonhole_keys(n_blocks: int, max_hamming: int):
    """Bucket keys for the generalized pigeonhole (Manku et al., WWW'07
    "Detecting Near-Duplicates for Web Crawling"): split the 64-bit
    sketch into ``n_blocks`` near-equal bit blocks; any pair within
    ``max_hamming`` differing bits agrees EXACTLY on at least
    ``n_blocks - max_hamming`` whole blocks, so bucketing every
    (n_blocks - max_hamming)-combination of blocks misses no pair.

    Returns one Column per combination: xxhash64 over (combo index,
    concatenated block values) — a single 8-byte equi-join key.  Hash
    collisions only ever ADD candidate pairs (the exact xor+bit_count
    filter removes them), never drop one, so the output is invariant in
    ``n_blocks``; the parameter trades explode fan-out (C(m, m-h) keys
    per sketch) against bucket selectivity (key width (m-h)·64/m bits).
    m=4/h=3 is the classic 16-bit-quarter scheme — 65,536 possible
    bucket values, which template-heavy corpora overload (measured
    116.5M joined rows for 87k distinct sketches before the hamming
    filter); m=6/h=3 widens keys to ~32 bits for 20 keys/sketch and
    collapses bucket collisions to near the true-pair count."""
    from itertools import combinations

    agree = n_blocks - max_hamming
    if agree < 1:
        raise ValueError("max_hamming must be < n_blocks (pigeonhole)")
    base, rem = divmod(64, n_blocks)
    widths = [base + (1 if i < rem else 0) for i in range(n_blocks)]
    shifts = [sum(widths[:i]) for i in range(n_blocks)]  # from LSB
    blocks = [
        F.shiftrightunsigned(F.col("sh64"), shifts[i])
        .bitwiseAND(F.lit((1 << widths[i]) - 1))
        for i in range(n_blocks)
    ]
    keys = []
    for ci, combo in enumerate(combinations(range(n_blocks), agree)):
        packed = F.lit(0).cast("long")
        for i in combo:
            packed = F.shiftleft(packed, widths[i]).bitwiseOR(blocks[i])
        keys.append(F.xxhash64(F.lit(ci), packed))
    return keys


def _sketch_pairs(uniq: DataFrame, max_hamming: int, n_blocks: int) -> DataFrame:
    """Distinct (sa, sb) sketch-VALUE pairs within ``max_hamming`` bits,
    sa < sb, from a frame of distinct ``sh64`` values — the pigeonhole
    equi self-join runs over sketch values, never over docs, so a
    million docs sharing one template sketch cost one row here."""
    keyed = uniq.select(
        "sh64",
        F.explode(F.array(*_pigeonhole_keys(n_blocks, max_hamming))).alias("k"),
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k")) & (F.col("a.sh64") < F.col("b.sh64")),
        )
        .select(F.col("a.sh64").alias("sa"), F.col("b.sh64").alias("sb"))
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return cand.withColumn("hamming", ham.cast("int")).filter(
        F.col("hamming") <= max_hamming
    )


def simhash_near_dups(
    spark: SparkSession, sf_dir: str, n_blocks: int = 4
) -> DataFrame:
    """SimHash near-duplicate DOC pairs within ``MAX_HAMMING`` bits.

    Candidates come from the generalized pigeonhole bucketing over
    DISTINCT sketch values (:func:`_pigeonhole_keys` — never a cross
    product, never per-doc fan-out), the exact Hamming distance is
    computed JVM-side with xor + bit_count, and doc pairs are expanded
    from the surviving sketch pairs plus the identical-sketch groups
    (hamming 0).  Output is invariant in ``n_blocks`` (the filter is
    exact); the DuckDB twin keeps the classic quarter formulation."""
    sk = _swap_persist("near_dups_sk", simhash_sketches(spark, sf_dir).select(
        "doc_id", _sh64().alias("sh64")
    ))
    uniq = sk.select("sh64").distinct()
    pairs = _sketch_pairs(uniq, MAX_HAMMING, n_blocks)
    # cross-sketch doc pairs: expand each surviving sketch pair through
    # the docs carrying those sketches
    cross = (
        pairs.join(sk.withColumnRenamed("doc_id", "da"), pairs["sa"] == sk["sh64"])
        .drop("sh64")
        .join(
            sk.withColumnRenamed("doc_id", "db").withColumnRenamed("sh64", "shb"),
            F.col("sb") == F.col("shb"),
        )
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "hamming",
        )
    )
    # identical-sketch doc pairs (hamming 0): all pairs within each
    # sketch group — O(k²) per group by CONTRACT of this reporting op;
    # cluster resolution uses simhash_component_edges' O(k) stars instead
    g = sk.alias("g1").join(
        sk.alias("g2"),
        (F.col("g1.sh64") == F.col("g2.sh64"))
        & (F.col("g1.doc_id") < F.col("g2.doc_id")),
    ).select(
        F.col("g1.doc_id").alias("doc_a"),
        F.col("g2.doc_id").alias("doc_b"),
        F.lit(0).alias("hamming"),
    )
    return (
        cross.unionByName(g)
        .select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )


def _sketch_components(nodes: DataFrame) -> DataFrame:
    """Connected components of the DISTINCT-sketch graph (vertices =
    sh64 values, edges = pairs within ``MAX_HAMMING`` bits) WITHOUT
    ever materializing the pair set: each :func:`_propagate_min_labels`
    round re-derives neighbour labels through the pigeonhole bucket
    self-join and streams them straight into the map-side-combinable
    min-aggregation, so the (superlinear — 21.7M at sf1.0, ~22× per
    10×, BENCH.md sf10 postmortem) pair stream lives only inside the
    stage pipeline and the per-round shuffle stays O(distinct sketches
    × C(N_BLOCKS, N_BLOCKS−h) keys).  Returns ``(sh64, comp)`` with
    ``comp`` = the component's minimum sh64.

    The bucket STRUCTURE (sh64 → pigeonhole keys) is constant across
    rounds; only labels change.  While the distinct-sketch count (the
    label table's row count) is at most ``BROADCAST_MEMBER_LIMIT``, the
    keyed frame is built and partitioned once and each round attaches
    the fresh labels by a BROADCAST join ((sh64, comp) int64 pairs —
    ~50 MB at sf10's 3.3M distinct sketches), so the bucket self-join
    reads the resident partitions with no per-round exchange on either
    side: on the sf1.0 quality reps (821,135 distinct sketches,
    identical 440,734-component output) 68.0/64.5 s against 74.9/77.3 s
    for re-exploding the keys every round, ~13% (BENCH.md round 5).
    Past the limit the labels are too big to broadcast and each round
    re-explodes and re-exchanges the keys with the labels attached."""
    n_part = int(nodes.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    keys = F.array(*_pigeonhole_keys(N_BLOCKS, MAX_HAMMING))
    ham = F.bit_count(F.col("a.sh64").bitwiseXOR(F.col("b.sh64")))
    keyed_static = None
    if nodes.count() <= BROADCAST_MEMBER_LIMIT:
        keyed_static = nodes.select(
            "sh64", F.explode(keys).alias("k")
        ).repartition(n_part, "k").persist()

    def neighbours(labels: DataFrame) -> DataFrame:
        if keyed_static is not None:
            keyed = keyed_static.join(F.broadcast(labels), "sh64")
        else:
            keyed = labels.select(
                "sh64", "comp", F.explode(keys).alias("k")
            ).repartition(n_part, "k")
        return (
            keyed.alias("a")
            .join(keyed.alias("b"), F.col("a.k") == F.col("b.k"))
            .filter((ham >= 1) & (ham <= MAX_HAMMING))
            .select(F.col("a.sh64").alias("sh64"), F.col("b.comp").alias("comp"))
        )

    try:
        return _propagate_min_labels(nodes, "sh64", "comp", neighbours, MAX_ITER)
    finally:
        if keyed_static is not None:
            keyed_static.unpersist()


def simhash_component_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component-EQUIVALENT simhash edge set for cluster resolution:
    O(docs) stars, never pair cliques.  Two collapses compose:

    1. docs sharing a sketch attach to the group's min-doc_id
       representative by a STAR (identical sketches are hamming-0
       neighbors by definition);
    2. sketch-value components within ``MAX_HAMMING`` are resolved by
       STREAMING label propagation (:func:`_sketch_components` — the
       pair set is never materialized; the earlier rep-EDGE
       formulation emitted one row per close sketch pair, which went
       superlinear on template-dense corpora: 0.96M at sf0.1 → 21.7M
       at sf1.0 → disk-full at sf10), and each group representative
       attaches to its sketch-component's min-doc_id by a second star.

    Connected components over stars(1) ∪ stars(2) equal components
    over the full :func:`simhash_near_dups` pair set: a full-graph
    edge (x, y) exists iff their sketches are within ``MAX_HAMMING``,
    which is exactly when rep(x) and rep(y) share a sketch component —
    and both are then starred to the same component representative.
    Every edge here links docs whose sketches are connected through
    verified ≤``MAX_HAMMING`` hops, so no false merges are added."""
    return simhash_component_edges_of(
        simhash_sketches(spark, sf_dir).select("doc_id", _sh64().alias("sh64"))
    )


def simhash_component_edges_of(sk: DataFrame) -> DataFrame:
    """Core of :func:`simhash_component_edges` over a ``(doc_id, sh64)``
    frame — :func:`near_dup_edges` feeds it sketches of one
    representative per distinct normalized text, so the Python sketch
    UDF runs once per distinct text, not once per doc."""
    sk = _swap_persist("component_edges_sk", sk)
    groups = _swap_persist(
        "component_edges_groups",
        sk.groupBy("sh64").agg(F.min("doc_id").alias("rep")),
    )
    stars = (
        sk.join(groups, "sh64")
        .filter(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    comp = _sketch_components(groups.select("sh64"))
    labeled = comp.join(groups, "sh64")
    comp_rep = labeled.groupBy("comp").agg(F.min("rep").alias("comp_rep"))
    rep_stars = (
        labeled.join(comp_rep, "comp")
        .filter(F.col("rep") != F.col("comp_rep"))
        .select(F.col("comp_rep").alias("doc_a"), F.col("rep").alias("doc_b"))
    )
    return stars.unionByName(rep_stars)


def _word_ngrams_sql(width: int) -> str:
    parts = " || ' ' || ".join(
        f"string_split({NORM_SQL}, ' ')[i + {off + 1}]" for off in range(width)
    )
    return f"""
    CASE WHEN len(string_split({NORM_SQL}, ' ')) < {width}
         THEN []::VARCHAR[]
         ELSE list_distinct(list_transform(
                range(0, len(string_split({NORM_SQL}, ' ')) - {width - 1}),
                i -> {parts}))
    END
    """


def decontaminate(
    spark: SparkSession, sf_dir: str, gram_width: int = 8
) -> DataFrame:
    """Eval-set decontamination: flag training documents that share any
    word ``gram_width``-gram with a held-out evaluation slice (``doc_id %
    EVAL_MODULUS == 0`` stands in for a benchmark suite — deterministic,
    no external data).  Returns (doc_id, n_shared_grams) for contaminated
    training docs; a real pipeline anti-joins this against the corpus.
    The 8-gram default is the published decontamination operating point
    (8-13 words); 3-grams collide on ordinary prose.

    Plan at 100 TB: eval suites are benchmark-sized (10^3-10^6 docs), so
    the distinct eval-gram set is persisted, counted and BROADCAST while
    the count is within ``BROADCAST_MEMBER_LIMIT``, and the training
    side never shuffles for the join — scan → explode → broadcast
    semi-join → partial+final count per doc_id (the only exchange).
    Past the limit the semi-join is a shuffled join instead of blowing
    the driver broadcast cap.  Grams are per-doc-distinct, so the count
    is the number of distinct shared grams."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    grams = F.array_distinct(word_ngrams(F.split(_norm(), " "), gram_width))
    is_eval = F.col("doc_id") % EVAL_MODULUS == 0
    eval_grams = _swap_persist(
        "decontaminate_eval_grams",
        docs.filter(is_eval).select(F.explode(grams).alias("gram")).distinct(),
    )
    if eval_grams.count() <= BROADCAST_MEMBER_LIMIT:
        eval_grams = F.broadcast(eval_grams)
    train = docs.filter(~is_eval).select("doc_id", F.explode(grams).alias("gram"))
    return (
        train.join(eval_grams, "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .orderBy("doc_id")
    )


def decontaminate_sql(gram_width: int = 8) -> str:
    grams = _word_ngrams_sql(gram_width)
    return f"""
    WITH ev AS (
      SELECT DISTINCT unnest({grams}) AS gram
      FROM documents WHERE doc_id % {EVAL_MODULUS} = 0),
    tr AS (
      SELECT doc_id, unnest({grams}) AS gram
      FROM documents WHERE doc_id % {EVAL_MODULUS} <> 0)
    SELECT doc_id, count(*) AS n_shared_grams
    FROM tr JOIN ev USING (gram)
    GROUP BY doc_id ORDER BY doc_id
    """


# ------------------------------------------------------- incremental dedup


def incremental_dedup(
    spark: SparkSession,
    sf_dir: str,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """Single-table front of :func:`incremental_dedup_against`: the new
    ingest batch is the doc_ids whose seeded hash bucket
    (``BATCH_SEED``, ``BATCH_BUCKETS`` — the sampling family's pure hash
    expression, so no membership table is joined anywhere) is 0, the
    corpus is every other document of the same scan, and the corpus
    band-key table is derived in-plan (md5 family, so the DuckDB twin
    matches) where production reads the stored one."""
    from .sampling import _bucket

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    is_batch = _bucket(BATCH_SEED, BATCH_BUCKETS) == 0
    corpus = docs.filter(~is_batch)
    corpus_keys = minhash_band_keys(
        minhash_signatures_of(corpus, n_hashes), n_hashes, n_bands
    )
    return incremental_dedup_against(
        docs.filter(is_batch), corpus_keys, corpus, n_hashes, n_bands,
        hash_family="md5",
    )


def incremental_dedup_sql(
    n_hashes: int = N_HASHES, n_bands: int = N_BANDS
) -> str:
    from .sampling import _bucket_sql

    sig = minhash_signatures_sql(n_hashes)
    band_structs = _band_structs_sql(n_hashes, n_bands)
    flag = f"{_bucket_sql(BATCH_SEED, BATCH_BUCKETS)} = 0"
    jac = (
        "len(list_intersect(sb.s, sm.s)) * 1.0 /"
        " greatest(len(list_distinct(sb.s || sm.s)), 1)"
    )
    return f"""
    WITH sig AS ({sig}),
    keys AS (
      SELECT doc_id, bk['band'] AS band, bk['band_key'] AS band_key,
             {flag} AS is_batch
      FROM sig, unnest([{band_structs}]) AS t(bk)
    ),
    cand AS (
      SELECT b.doc_id AS batch_id, c.doc_id AS match_id, 'corpus' AS kind
      FROM keys b JOIN keys c
        ON b.is_batch AND NOT c.is_batch
       AND b.band = c.band AND b.band_key = c.band_key
      UNION
      SELECT y.doc_id, x.doc_id, 'batch'
      FROM keys x JOIN keys y
        ON x.is_batch AND y.is_batch AND x.doc_id < y.doc_id
       AND x.band = y.band AND x.band_key = y.band_key
    ),
    sh AS (SELECT doc_id, {SHINGLES_SQL} AS s FROM documents),
    ver AS (
      SELECT cand.batch_id, cand.match_id, cand.kind
      FROM cand
      JOIN sh sb ON sb.doc_id = cand.batch_id
      JOIN sh sm ON sm.doc_id = cand.match_id
      WHERE {jac} >= {JACCARD_THRESHOLD}
    ),
    agg AS (
      SELECT batch_id AS doc_id,
             min(CASE WHEN kind = 'corpus' THEN match_id END) AS corpus_min,
             min(CASE WHEN kind = 'batch' THEN match_id END) AS batch_min
      FROM ver GROUP BY batch_id
    )
    SELECT d.doc_id,
           CASE WHEN corpus_min IS NOT NULL THEN 'dup_of_corpus'
                WHEN batch_min IS NOT NULL THEN 'dup_in_batch'
                ELSE 'kept' END AS status,
           CAST(COALESCE(corpus_min, batch_min) AS BIGINT) AS dup_of
    FROM (SELECT doc_id FROM documents WHERE {flag}) d
    LEFT JOIN agg ON agg.doc_id = d.doc_id
    ORDER BY d.doc_id
    """


def incremental_dedup_against(
    batch_docs: DataFrame,
    corpus_keys: DataFrame,
    corpus_docs: DataFrame,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    hash_family: str = "fast",
) -> DataFrame:
    """Dedupe a NEW ingest batch ``batch_docs`` (doc_id, text) against
    an existing corpus without re-clustering the corpus.  The corpus is
    its STORED band-key table ``corpus_keys`` (doc_id, band, band_key —
    maintained by prior ingests; ``hash_family`` must match how it was
    built) plus its document store ``corpus_docs`` (doc_id, text).
    Batch and corpus doc_id spaces must be disjoint (salt ingest ids).

    One row per batch document: ``(doc_id, status, dup_of)`` with status
    ``dup_of_corpus`` (verified near-dup of an existing doc: exact
    shingle Jaccard at/above ``JACCARD_THRESHOLD``),
    ``dup_in_batch`` (verified near-dup of a smaller-id batch doc), or
    ``kept``.  ``dup_of`` is the minimum verified match id (corpus
    matches take precedence).  Batch-internal resolution is greedy by
    id (b drops if ANY smaller batch doc verifies, whether or not that
    doc itself dropped) — the standard incremental-ingest compromise;
    full transitive resolution over history is
    :func:`dedup_cluster_keep_list`'s periodic job.

    Scale shape:
    - batch band keys are ingest-sized → BROADCAST against one scan of
      the stored key table; the 10^12-row key table never shuffles and
      the corpus documents are not even touched for candidates,
    - batch-internal candidates are the banded self-join
      (:func:`_banded_pairs`) over the batch keys,
    - every candidate is scored by :func:`_verify_candidates`, which
      reads corpus TEXT only for the candidate members (a semi-join,
      broadcast while within ``BROADCAST_MEMBER_LIMIT``), so the verify
      stage shingles O(candidates) corpus docs, not the corpus.
    """
    batch_keys = minhash_band_keys(
        minhash_signatures_of(batch_docs, n_hashes, hash_family),
        n_hashes,
        n_bands,
        hash_family,
    )
    batch_keys = _swap_persist("incremental_batch_keys", batch_keys)
    vs_corpus = (
        F.broadcast(batch_keys.alias("b"))
        .join(
            corpus_keys.alias("c"),
            (F.col("b.band") == F.col("c.band"))
            & (F.col("b.band_key") == F.col("c.band_key")),
        )
        .select(
            F.col("b.doc_id").alias("doc_a"),
            F.col("c.doc_id").alias("doc_b"),
            F.lit("corpus").alias("kind"),
        )
    )
    # the larger batch id is the one that drops
    vs_batch = _banded_pairs(batch_keys).select(
        F.col("doc_b").alias("doc_a"),
        F.col("doc_a").alias("doc_b"),
        F.lit("batch").alias("kind"),
    )
    cand = _swap_persist(
        "incremental_cand", vs_corpus.unionByName(vs_batch).distinct()
    )
    docs = batch_docs.select("doc_id", "text").unionByName(
        corpus_docs.select("doc_id", "text")
    )
    verified = _verify_candidates(docs, cand, JACCARD_THRESHOLD)
    agg = verified.groupBy(F.col("doc_a").alias("doc_id")).agg(
        F.min(F.when(F.col("kind") == "corpus", F.col("doc_b"))).alias(
            "corpus_min"
        ),
        F.min(F.when(F.col("kind") == "batch", F.col("doc_b"))).alias(
            "batch_min"
        ),
    )
    return (
        batch_docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("corpus_min").isNotNull(), F.lit("dup_of_corpus"))
            .when(F.col("batch_min").isNotNull(), F.lit("dup_in_batch"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.coalesce("corpus_min", "batch_min").cast("long").alias("dup_of"),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------- substring-level (winnowing)


def _sampled_windows(
    docs: DataFrame, window: int, sample_prefix: str
) -> DataFrame:
    """Sampled window fingerprints of ``docs`` (doc_id, text) as
    ``(doc_id, start, h)`` rows: ``h`` is the md5 of the ``window``-char
    window starting at 1-based ``start`` in the normalized text, kept
    when it begins with ``sample_prefix``.  Texts shorter than
    ``window`` yield no rows.

    Generate barrier (same CollapseProject lesson as the repetition
    filters, textstats.py): the normalized text is materialized ONCE per
    row — referenced inline, the regexp_replace would re-run inside the
    transform lambda for every window position (measured: 20.5 s → 2.5 s
    at sf0.1 for the identical result)."""
    normed = docs.select(
        "doc_id",
        F.explode(F.array(F.struct(_norm().alias("t")))).alias("b"),
    ).select("doc_id", F.col("b.t").alias("t"))
    t = F.col("t")
    n_win = F.length(t) - window + 1
    wins = F.when(
        n_win < 1,
        F.array().cast("array<struct<i:int,h:string>>"),
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), n_win),
            lambda i: F.struct(
                i.cast("int").alias("i"),
                F.md5(t.substr(i, F.lit(window))).alias("h"),
            ),
        )
    )
    sel = F.filter(wins, lambda w: w["h"].startswith(sample_prefix))
    return normed.select("doc_id", F.explode(sel).alias("w")).select(
        "doc_id", F.col("w.i").alias("start"), F.col("w.h").alias("h")
    )


def shared_substrings(
    spark: SparkSession,
    sf_dir: str,
    window: int = SUBSTRING_WINDOW,
    sample_prefix: str = SUBSTRING_SAMPLE_PREFIX,
) -> DataFrame:
    """Cross-document repeated-substring detection — the substring-level
    dedup family (Lee et al. 2021 "Deduplicating Training Data Makes
    Language Models Better": verbatim boilerplate — licenses, headers,
    templated spans — recurs across documents BELOW the whole-document
    grain that MinHash/SimHash operate at).  The scalable stand-in for
    their suffix array is fingerprint sampling in the winnowing / MOSS
    lineage (Schleimer et al. 2003): hash every ``window``-char sliding
    window of the normalized text, keep the deterministic sample whose
    md5 starts with ``sample_prefix`` (1/16 of windows), and report
    every sampled fingerprint seen in more than one document.

    Output: ``(h, n_docs, n_occ)`` per shared fingerprint, ordered
    (n_docs DESC, n_occ DESC, h ASC) — the discovery table a cutting
    pass would join back against positions.

    Plan at 100 TB: window hashing AND sampling are per-row
    higher-order functions — only the sampled ~1/16 of fingerprints
    ever leave the row as exploded (h, doc_id) pairs.  The distinct-doc
    count is two grouping levels, but ONE explicit repartition on ``h``
    satisfies both (h is a subset of (h, doc_id), so EnsureRequirements
    inserts no second exchange): exploded pairs cross the wire exactly
    once, and a naive ``countDistinct`` (which plans its own second
    shuffle) is avoided.  No joins, no text shuffle; the final sort is
    presentation-only (drop it / top-K it at scale).  A production
    variant would sample on a 64-bit hash (8-byte keys); md5 here is
    the one hash both engines compute identically (CLAUDE.md
    cross-engine contract).
    """
    hits = _sampled_windows(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), window, sample_prefix
    )
    per_doc = (
        hits.select("doc_id", "h")
        .repartition(F.col("h"))
        .groupBy("h", "doc_id")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    return (
        per_doc.groupBy("h")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("occ").cast("long").alias("n_occ"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy(F.desc("n_docs"), F.desc("n_occ"), F.asc("h"))
    )


def shared_substrings_sql() -> str:
    """DuckDB twin: the deliberately different formulation (unnest a
    range, substr per position) so the oracle derives the same answer
    independently."""
    window, prefix = SUBSTRING_WINDOW, SUBSTRING_SAMPLE_PREFIX
    return f"""
    WITH d AS (SELECT doc_id, {NORM_SQL} AS t FROM documents),
    w AS (
      SELECT doc_id, md5(substr(t, CAST(i AS INT), {window})) AS h
      FROM d, unnest(range(1, greatest(length(t) - {window} + 2, 1))) r(i)),
    sel AS (SELECT doc_id, h FROM w
            WHERE substr(h, 1, {len(prefix)}) = '{prefix}')
    SELECT h,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occ
    FROM sel GROUP BY h HAVING count(DISTINCT doc_id) > 1
    ORDER BY n_docs DESC, n_occ DESC, h ASC
    """


def shared_substring_spans(
    spark: SparkSession,
    sf_dir: str,
    window: int = SUBSTRING_WINDOW,
    sample_prefix: str = SUBSTRING_SAMPLE_PREFIX,
) -> DataFrame:
    """The cutting-pass companion to :func:`shared_substrings`: per
    document, the merged character ranges covered by cross-document
    repeated windows — ``(doc_id, span_start, span_end)``, 1-based
    start, exclusive end, over the NORMALIZED text (discovery finds the
    boilerplate; this locates it so a cut/flag pass can act on it,
    Lee et al. 2021's actual dedup step).

    Overlapping/adjacent window hits merge via the gaps-and-islands
    pattern: a window function carries the running max span end per
    document; a hit starting past it opens a new island; islands
    aggregate to spans.  Plan: the same one-exchange fingerprint
    aggregation as discovery, a semi-join of positioned hits against
    the shared set (fingerprint-keyed — broadcast while its row count
    is within ``BROADCAST_MEMBER_LIMIT``, a shuffled semi-join past it),
    one doc_id window + final aggregation.  Sampling means spans
    are anchored at SAMPLED windows — a conservative under-cover, the
    standard winnowing guarantee (any shared run ≥ window + gap length
    contains a sampled anchor).
    """
    from pyspark.sql import Window

    hits = _sampled_windows(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), window, sample_prefix
    )
    shared = (
        hits.repartition(F.col("h"))
        .groupBy("h", "doc_id")
        .agg(F.count(F.lit(1)).alias("occ"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > 1)
        .select("h")
    )
    # the hits subtree (normalize + per-window md5 transform) feeds BOTH
    # the shared-set aggregation and the semi-join probe, so the plan
    # evaluates it twice.  That is the MEASURED right call: persisting
    # hits instead was 1.5× slower at sf0.01 and 4.5× slower at sf0.1
    # (same-session ABAB, BENCH.md) — the pass is whole-stage-codegen
    # cheap while the cache materializes corpus-scale hash strings; and
    # exchange reuse can't merge the two legs because column pruning
    # keeps only (doc_id, h) under the aggregation, making the exchange
    # subtrees structurally different (plan-checked).  The shared set is
    # persisted and counted for the broadcast decision; the count fills
    # the cache the semi-join then reads, so it adds no third pass.
    shared = _swap_persist("substring_spans_shared", shared)
    if shared.count() <= BROADCAST_MEMBER_LIMIT:
        shared = F.broadcast(shared)
    marked = hits.join(shared, "h", "left_semi").select(
        "doc_id",
        F.col("start"),
        (F.col("start") + window).alias("end"),
    )
    w_doc = Window.partitionBy("doc_id").orderBy("start")
    prev_max = F.max("end").over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = marked.withColumn(
        "new_island",
        F.when(
            prev_max.isNull() | (F.col("start") > prev_max), F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn("island", F.sum("new_island").over(w_doc))
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("start").cast("long").alias("span_start"),
            F.max("end").cast("long").alias("span_end"),
        )
        .select("doc_id", "span_start", "span_end")
        .orderBy("doc_id", "span_start")
    )


def shared_substring_spans_sql() -> str:
    """DuckDB twin of :func:`shared_substring_spans` (independent
    formulation: unnest-range windows, IN-subquery for the shared set,
    the same gaps-and-islands merge in window-function SQL)."""
    window, prefix = SUBSTRING_WINDOW, SUBSTRING_SAMPLE_PREFIX
    return f"""
    WITH d AS (SELECT doc_id, {NORM_SQL} AS t FROM documents),
    w AS (
      SELECT doc_id, CAST(i AS INT) AS start,
             md5(substr(t, CAST(i AS INT), {window})) AS h
      FROM d, unnest(range(1, greatest(length(t) - {window} + 2, 1))) r(i)),
    sel AS (SELECT * FROM w
            WHERE substr(h, 1, {len(prefix)}) = '{prefix}'),
    shared AS (SELECT h FROM sel GROUP BY h
               HAVING count(DISTINCT doc_id) > 1),
    hits AS (SELECT doc_id, start, start + {window} AS "end"
             FROM sel WHERE h IN (SELECT h FROM shared)),
    isl AS (
      SELECT doc_id, start, "end",
             CASE WHEN start > coalesce(
                    max("end") OVER (PARTITION BY doc_id ORDER BY start
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -1)
                  THEN 1 ELSE 0 END AS new_island
      FROM hits),
    grp AS (
      SELECT doc_id, start, "end",
             sum(new_island) OVER (PARTITION BY doc_id ORDER BY start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM isl)
    SELECT doc_id,
           CAST(min(start) AS BIGINT) AS span_start,
           CAST(max("end") AS BIGINT) AS span_end
    FROM grp GROUP BY doc_id, island
    ORDER BY doc_id, span_start
    """
