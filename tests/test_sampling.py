"""Deterministic split/sample operators (operators/sampling.py): value
equality vs the DuckDB twin, reproducibility, stratification sanity, and
the zero-shuffle plan shape the 100-TB story depends on."""

import duckdb
import pytest

from html_parser_spark.operators import sampling
from html_parser_spark.sources.tables import read_corpus

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return read_corpus(spark, SF_DIR, "documents")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    yield con
    con.close()


def test_corpus_splits_matches_duckdb(spark, duck):
    srows = sorted(map(tuple, sampling.corpus_splits(_docs(spark)).collect()))
    drows = sorted(map(tuple, duck.execute(sampling.corpus_splits_sql()).fetchall()))
    assert srows == drows
    assert len(srows) == 500


def test_sample_matches_duckdb(spark, duck, monkeypatch):
    """The ``in_sample`` flag agrees across engines at more than the one
    rate the gate row runs."""
    for rate in (1000, 2500):
        monkeypatch.setattr(sampling, "SAMPLE_RATE_BP", rate)
        srows = sorted(map(tuple, sampling.corpus_splits(_docs(spark)).collect()))
        drows = sorted(map(tuple, duck.execute(sampling.corpus_splits_sql()).fetchall()))
        assert srows == drows, rate


def test_splits_partition_the_corpus(spark):
    rows = sampling.corpus_splits(_docs(spark)).collect()
    assert len({r.doc_id for r in rows}) == len(rows) == 500
    frac = {s: sum(r.split == s for r in rows) / len(rows) for s in ("train", "val", "test")}
    assert sum(frac.values()) == 1.0
    # 500 docs, 90/5/5 targets: binomial noise allows a few points
    assert abs(frac["train"] - 0.90) < 0.05
    assert abs(frac["val"] - 0.05) < 0.04
    assert abs(frac["test"] - 0.05) < 0.04


def test_split_is_seed_versioned_and_deterministic(spark, monkeypatch):
    a = sorted(map(tuple, sampling.corpus_splits(_docs(spark)).collect()))
    b = sorted(map(tuple, sampling.corpus_splits(_docs(spark)).collect()))
    assert a == b
    monkeypatch.setattr(sampling, "SPLIT_SEED", "split-v2")
    c = sorted(map(tuple, sampling.corpus_splits(_docs(spark)).collect()))
    assert a != c  # bumping the seed reshuffles
    assert [r[0] for r in a] == [r[0] for r in c]  # ...but covers the same docs


def _sampled(spark, monkeypatch, rate):
    monkeypatch.setattr(sampling, "SAMPLE_RATE_BP", rate)
    return {r.doc_id for r in sampling.corpus_splits(_docs(spark)).collect() if r.in_sample}


def test_sample_rate_and_subset(spark, monkeypatch):
    full = _sampled(spark, monkeypatch, 10000)
    ten = _sampled(spark, monkeypatch, 1000)
    assert full == set(range(len(full)))  # rate 100% keeps everything
    assert ten <= full
    assert 0.05 < len(ten) / len(full) < 0.16  # ~10% +- binomial noise


def test_plans_have_no_shuffle(spark):
    df = sampling.corpus_splits(_docs(spark))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_chunking_matches_duckdb(spark, duck, monkeypatch):
    from html_parser_spark.operators import chunking

    for ct, ov in ((128, 32), (16, 4)):
        monkeypatch.setattr(chunking, "DEFAULT_CHUNK", ct)
        monkeypatch.setattr(chunking, "DEFAULT_OVERLAP", ov)
        srows = sorted(map(tuple, chunking.chunk_documents(_docs(spark)).collect()))
        drows = sorted(map(tuple, duck.execute(chunking.chunk_documents_sql()).fetchall()))
        assert srows == drows, (ct, ov)
        assert len(srows) >= 500  # every doc yields >= 1 chunk


def test_chunking_window_invariants(spark, monkeypatch):
    from html_parser_spark.operators import chunking

    monkeypatch.setattr(chunking, "DEFAULT_CHUNK", 16)
    monkeypatch.setattr(chunking, "DEFAULT_OVERLAP", 4)
    rows = chunking.chunk_documents(_docs(spark)).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    import duckdb as d

    con = d.connect()
    toks = dict(
        con.execute(
            "SELECT doc_id, len(string_split(trim(regexp_replace(lower(text),"
            f" '[ \t\n\x0b\f\r]+', ' ', 'g')), ' ')) FROM '{SF_DIR}/documents.parquet'"
        ).fetchall()
    )
    con.close()
    stride = 12
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        n = toks[doc_id]
        # contiguous ids, full windows except possibly the last, clamped tail
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        for c in chunks[:-1]:
            assert c.chunk_tokens == 16
        assert chunks[-1].chunk_tokens == min(16, n - (len(chunks) - 1) * stride)
        # every token index is covered by some window
        covered = set()
        for c in chunks:
            start = c.chunk_idx * stride
            covered.update(range(start, start + c.chunk_tokens))
        assert covered == set(range(n))


def test_chunking_rejects_bad_overlap(spark, monkeypatch):
    from html_parser_spark.operators import chunking

    monkeypatch.setattr(chunking, "DEFAULT_CHUNK", 16)
    monkeypatch.setattr(chunking, "DEFAULT_OVERLAP", 16)
    with pytest.raises(ValueError):
        chunking.chunk_documents(_docs(spark))


def test_mix_matches_duckdb(spark, duck, monkeypatch):
    srows = sorted(map(tuple, sampling.mix_documents(_docs(spark)).collect()))
    drows = sorted(map(tuple, duck.execute(sampling.mix_documents_sql()).fetchall()))
    assert srows == drows
    monkeypatch.setattr(sampling, "DEFAULT_MIX", {"src3": 10000, "src4": 0})
    monkeypatch.setattr(sampling, "DEFAULT_MIX_REST", 500)
    srows = sorted(map(tuple, sampling.mix_documents(_docs(spark)).collect()))
    drows = sorted(map(tuple, duck.execute(sampling.mix_documents_sql()).fetchall()))
    assert srows == drows


def test_mix_respects_rates(spark, monkeypatch):
    monkeypatch.setattr(sampling, "DEFAULT_MIX", {"src0": 10000, "src1": 0})
    monkeypatch.setattr(sampling, "DEFAULT_MIX_REST", 0)
    rows = sampling.mix_documents(_docs(spark)).collect()
    srcs = {r.source for r in rows}
    assert srcs == {"src0"}  # rate-0 sources vanish, rate-10000 keeps all
    import duckdb as d

    con = d.connect()
    n_src0 = con.execute(
        f"SELECT count(*) FROM '{SF_DIR}/documents.parquet' WHERE source = 'src0'"
    ).fetchone()[0]
    con.close()
    assert len(rows) == n_src0


def test_mix_independent_of_split(spark, monkeypatch):
    """Different seeds: the mixing decision must not correlate with the
    split assignment (both are md5 buckets but over different keys)."""
    monkeypatch.setattr(sampling, "DEFAULT_MIX", {})
    monkeypatch.setattr(sampling, "DEFAULT_MIX_REST", 5000)
    mix_ids = {r.doc_id for r in sampling.mix_documents(_docs(spark)).collect()}
    splits = {r.doc_id: r.split for r in sampling.corpus_splits(_docs(spark)).collect()}
    picked_train = sum(1 for i in mix_ids if splits[i] == "train")
    # ~90% of the mixed half should be train; gross correlation would skew it
    assert 0.8 < picked_train / len(mix_ids) < 1.0


def test_pack_sequences_matches_duckdb(spark, duck):
    from html_parser_spark.operators import chunking

    for sl, ng in ((512, 4), (64, 2)):
        srows = sorted(
            map(tuple, chunking.pack_sequences(_docs(spark), sl, ng).collect())
        )
        drows = sorted(
            map(
                tuple,
                duck.execute(
                    chunking.pack_sequences_sql(seq_len=sl, n_groups=ng)
                ).fetchall(),
            )
        )
        assert srows == drows, (sl, ng)


def test_pack_sequences_invariants(spark):
    """Packing semantics: the per-group token stream is tiled exactly —
    every sequence but the group's last holds exactly seq_len tokens,
    every document is fully covered by its pieces, and piece offsets are
    consistent on both the doc side and the seq side."""
    from html_parser_spark.operators import chunking

    seq_len = 256
    rows = chunking.pack_sequences(_docs(spark), seq_len=seq_len, n_groups=4).collect()

    # (a) sequences are full except each group's final one
    per_seq = {}
    for r in rows:
        per_seq[(r.group_id, r.seq_id)] = per_seq.get((r.group_id, r.seq_id), 0) + r.piece_tokens
    last_seq = {}
    for g, s in per_seq:
        last_seq[g] = max(last_seq.get(g, -1), s)
    for (g, s), tot in per_seq.items():
        if s != last_seq[g]:
            assert tot == seq_len, (g, s, tot)
        else:
            assert 0 < tot <= seq_len

    # (b) each document is tiled contiguously from token 0
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, pieces in by_doc.items():
        pieces.sort(key=lambda r: (r.seq_id, r.seq_tok_start))
        assert pieces[0].doc_tok_start == 0
        for prev, cur in zip(pieces, pieces[1:]):
            assert cur.doc_tok_start == prev.doc_tok_start + prev.piece_tokens
            assert cur.seq_id == prev.seq_id + 1  # crossing pieces are adjacent
            assert cur.seq_tok_start == 0  # continuation starts a sequence

    # (c) seq-side offsets stay inside the sequence
    for r in rows:
        assert 0 <= r.seq_tok_start < seq_len
        assert r.seq_tok_start + r.piece_tokens <= seq_len


def test_pack_sequences_single_shuffle(spark):
    """One Exchange total (the group window); text never enters the plan."""
    from html_parser_spark.operators import chunking

    df = chunking.pack_sequences(_docs(spark))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    # the shuffle moves (group_id, doc_id, n_tokens) only: the text column
    # is consumed by the size(split(...)) projection below the Exchange,
    # so no Window/shuffle operator line may reference it
    for line in plan.splitlines():
        if "Window" in line or "Exchange" in line:
            assert "text#" not in line, line


def test_splits_in_sample_column_equals_sample_membership(spark):
    """corpus_splits.in_sample must be exactly the seeded Bernoulli
    membership: the first 8 hex digits of md5(SAMPLE_SEED|doc_id) mod
    10,000 below SAMPLE_RATE_BP, recomputed here in plain Python."""
    import hashlib

    flags = {
        r.doc_id: r.in_sample
        for r in sampling.corpus_splits(_docs(spark)).collect()
    }
    members = {
        d for d in flags
        if int(hashlib.md5(f"{sampling.SAMPLE_SEED}|{d}".encode()).hexdigest()[:8], 16)
        % 10000 < sampling.SAMPLE_RATE_BP
    }
    assert members == {d for d, f in flags.items() if f == 1}
    assert 0 < len(members) < len(flags)
