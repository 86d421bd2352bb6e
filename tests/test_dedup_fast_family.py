"""The ``fast`` (Carter-Wegman) MinHash family vs the md5 oracle family.

The md5 family is what every gate query oracles (bit-identical in
DuckDB); ``fast`` is the corpus-scale path (one xxhash64 per shingle +
128 integer multiply-adds in codegen, ~10x measured).  These tests pin
the two statistical contracts the scale path must keep:

1. **Permutation validity** — the modulus must equal the 32-bit
   base-hash domain.  With odd a, x -> a*x+b mod 2^32 is a bijection
   of [0, 2^32); a wider mask (e.g. 2^62) wraps at most once, is
   near-monotonic in x, and silently collapses the LSH S-curve to ~J
   (all 128 "independent" hashes dominated by the doc's min base
   hash).  Pinned structurally on the coefficient table and the
   shipped expression output range.
2. **Recall/precision vs the md5 family** on the real fixture corpus
   at corpus geometry (128 hashes / 16 bands): every verified pair is
   a true near-dup (>= threshold exact Jaccard — verify stage is
   family-independent), and every pair the md5 family surfaces at
   J >= 0.9 (miss prob ~1.2e-4 per family under the proper S-curve)
   is also surfaced by ``fast``.
"""

import pytest

from html_parser_spark.operators import dedup
from html_parser_spark.sources.tables import read_corpus

SF_DIR = "/root/testdata/sf0.001"
GEOM = dict(n_hashes=128, n_bands=16)


def test_cw_coefficients_are_odd_and_seeded():
    assert len(dedup._CW_A) == 512 and len(dedup._CW_B) == 512
    assert all(a % 2 == 1 for a in dedup._CW_A)
    assert all(1 <= a < (1 << 31) for a in dedup._CW_A)
    assert all(0 <= b < (1 << 31) for b in dedup._CW_B)
    # deterministic across processes (seeded) — pin the first few
    import random

    rng = random.Random(0xD5)
    assert dedup._CW_A[:4] == [(rng.randrange(1, 1 << 31)) | 1 for _ in range(4)]


def test_fast_signature_values_are_32bit(spark):
    docs = read_corpus(spark, SF_DIR, "documents")
    sig = dedup.minhash_signatures(docs, n_hashes=8, hash_family="fast")
    row = sig.limit(5).collect()
    assert row, "signatures empty"
    for r in row:
        for k in range(8):
            v = r[f"mh{k}"]
            # a 2^62-style mask would leave values far above 2^32
            assert 0 <= v < (1 << 32), f"mh{k}={v} escapes the 32-bit permutation domain"


def test_fast_family_recall_and_precision(spark):
    docs = read_corpus(spark, SF_DIR, "documents")
    md5 = {
        (r.doc_a, r.doc_b): r.jaccard_bp
        for r in dedup.ngram_jaccard(
            docs, threshold=0.8, hash_family="md5", **GEOM
        ).collect()
    }
    fast = {
        (r.doc_a, r.doc_b): r.jaccard_bp
        for r in dedup.ngram_jaccard(
            docs, threshold=0.8, hash_family="fast", **GEOM
        ).collect()
    }
    # verify stage is family-independent: agreed pairs score identically
    for k in set(md5) & set(fast):
        assert md5[k] == fast[k]
    # precision: every fast pair passed the exact-Jaccard verify
    assert all(v >= 8000 for v in fast.values())
    # recall: every comfortably-above-threshold md5 pair is also found
    # (at J>=0.9 the proper S-curve misses with prob ~1.2e-4; the broken
    # 2^62 mask missed J=0.89 pairs ~11% of the time)
    strong = {k for k, v in md5.items() if v >= 9000}
    assert strong <= set(fast), f"fast family missed strong pairs: {strong - set(fast)}"
    # and on this seeded fixture the full sets in fact coincide — a
    # regression pin, not a statistical guarantee
    assert set(md5) == set(fast)
