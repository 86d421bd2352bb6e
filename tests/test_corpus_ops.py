"""Round-3 corpus-statistics operators: n-gram top-k and eval-set
decontamination.  Value equality vs DuckDB is covered by the entry
contract (both queries are registered with oracles); here we pin the
semantics and the PLAN SHAPE the 100-TB story depends on."""

import duckdb
import pytest

from html_parser_spark.operators import dedup, textstats
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


def test_ngram_topk_matches_duckdb(spark, duck):
    srows = sorted(map(tuple, textstats.ngram_topk(_docs(spark)).collect()))
    drows = sorted(map(tuple, duck.execute(textstats.ngram_topk_sql()).fetchall()))
    assert srows == drows
    assert len(srows) == 20


def test_ngram_topk_counts_all_occurrences(spark, duck, monkeypatch):
    """Unlike dedup shingles, frequency counting must NOT dedupe grams
    within a document."""
    monkeypatch.setattr(textstats, "NGRAM_TOP", 10**9)
    total_grams = duck.execute(
        "SELECT sum(greatest(len(string_split(trim(regexp_replace(lower(text),"
        " '[ \t\n\x0b\f\r]+', ' ', 'g')), ' ')) - 2, 0)) FROM documents"
    ).fetchone()[0]
    counted = duck.execute(
        f"SELECT sum(n_occurrences) FROM ({textstats.ngram_topk_sql()})"
    ).fetchone()[0]
    assert counted == total_grams


def test_decontaminate_matches_duckdb(spark, duck):
    for width in (3, 8):
        srows = sorted(
            map(tuple, dedup.decontaminate(_docs(spark), gram_width=width).collect())
        )
        drows = sorted(
            map(tuple, duck.execute(dedup.decontaminate_sql(gram_width=width)).fetchall())
        )
        assert srows == drows, f"width {width}"


def test_decontaminate_excludes_eval_docs(spark):
    ids = [r.doc_id for r in dedup.decontaminate(_docs(spark), gram_width=3).collect()]
    assert ids == sorted(ids)
    assert all(i % 25 != 0 for i in ids)


def test_decontaminate_plan_broadcasts_eval_side(spark):
    plan = dedup.decontaminate(_docs(spark))._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # the training side must not sort-merge (no full shuffle for the join)
    assert "SortMergeJoin" not in plan


def test_ngram_topk_plan_is_partial_agg_topk(spark):
    plan = textstats.ngram_topk(_docs(spark))._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # map-side combine: two HashAggregates (partial + final) around ONE exchange
    assert plan.count("Exchange") - plan.count("ReusedExchange") <= 2


def test_repetition_filters_matches_duckdb(spark, duck):
    srows = sorted(map(tuple, textstats.repetition_filters(_docs(spark)).collect()))
    drows = sorted(map(tuple, duck.execute(textstats.repetition_filters_sql()).fetchall()))
    assert srows == drows
    assert len(srows) == len(drows) > 0


def test_repetition_filters_semantics(spark, tmp_path):
    """Crafted documents pin the Gopher-signal arithmetic: duplicate-line
    fractions via sort-adjacency, run-length top bigram with the
    (count desc, gram desc) tie-break, bullet/ellipsis line rules."""
    import duckdb

    rows = [
        (1, "a\na\nb"),            # 2 of 3 lines duplicated
        (2, ""),                   # empty: single empty line, all zeros
        (3, "- x\n* y\nz..."),     # bullets + ellipsis
        (4, "x y x y x y"),        # dominant bigram "x y" (3 occurrences)
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    path = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(path)

    got = {
        r["doc_id"]: r.asDict()
        for r in textstats.repetition_filters(spark.read.parquet(path)).collect()
    }
    # doc 1: n_dup=2/3 lines, 2/3 chars; bigrams "a a","a b" tie -> "a b"
    assert got[1]["dup_line_bp"] == 6666
    assert got[1]["dup_char_bp"] == 6666
    assert got[1]["top_bigram_cnt"] == 1
    assert got[1]["top_bigram_char_bp"] == 6000  # 1*3*10000 // 5
    assert got[1]["gopher_keep"] == 0
    # doc 2: degenerate empty doc keeps
    assert got[2]["n_lines"] == 1
    assert got[2]["top_bigram_cnt"] == 0
    assert got[2]["gopher_keep"] == 1
    # doc 3: 2/3 bullet lines, 1/3 ellipsis lines
    assert got[3]["bullet_line_bp"] == 6666
    assert got[3]["ellipsis_line_bp"] == 3333
    # doc 4: "x y" occurs 3x, covers 9 chars of the 11-char norm
    assert got[4]["top_bigram_cnt"] == 3
    assert got[4]["top_bigram_char_bp"] == 8181
    assert got[4]["gopher_keep"] == 0

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}/*.parquet'")
    drows = {
        r[0]: r for r in con.execute(textstats.repetition_filters_sql()).fetchall()
    }
    cols = [
        "doc_id", "n_lines", "dup_line_bp", "dup_char_bp", "top_bigram_cnt",
        "top_bigram_char_bp", "bullet_line_bp", "ellipsis_line_bp", "gopher_keep",
    ]
    for doc_id, want in got.items():
        assert tuple(want[c] for c in cols) == drows[doc_id], doc_id
    con.close()


def test_repetition_filters_plan_no_shuffle(spark):
    """Per-doc repetition stats must stay scan -> project: any Exchange
    means 10^12 lines would cross the wire at the target scale."""
    plan = textstats.repetition_filters(_docs(spark))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_filter_quality_equals_join_formulation(spark):
    """The corpus job's inline gate (filter_quality) must keep exactly
    the docs the keep-list + semi-join formulation keeps, with every
    original column intact."""
    from pyspark.sql import functions as F

    docs = _docs(spark)
    inline = textstats.filter_quality(docs)
    assert inline.columns == docs.columns
    keep = (
        textstats.repetition_filters(docs)
        .filter(F.col("gopher_keep") == 1)
        .select("doc_id")
    )
    joined = docs.join(keep, "doc_id", "left_semi")
    srows = sorted(map(tuple, inline.collect()))
    jrows = sorted(map(tuple, joined.collect()))
    assert srows == jrows
    assert 0 < len(srows) < docs.count()


def test_filter_quality_plan_no_shuffle_no_join(spark):
    """The inline gate is the reason the quality stage scales: one scan,
    no Exchange, no join anywhere in the physical plan."""
    docs = _docs(spark)
    plan = (
        textstats.filter_quality(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_repetition_filters_random_docs_vs_python(spark):
    """Property check: the array-op formulation (sort + neighbor equality,
    run-length aggregate) equals a naive pure-Python computation on random
    multi-line docs — guards the O(L log L) trick against off-by-ones."""
    import random
    from collections import Counter

    rng = random.Random(8177)
    words = ["alpha", "beta", "gamma", "x", "yz", "-dash", "*star"]
    docs = []
    for doc_id in range(60):
        lines = [
            " ".join(rng.choice(words) for _ in range(rng.randint(0, 5)))
            for _ in range(rng.randint(0, 12))
        ]
        docs.append((doc_id, "\n".join(lines)))

    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        r["doc_id"]: r.asDict()
        for r in textstats.repetition_filters(df).collect()
    }

    def norm(t):
        return " ".join(t.lower().split())

    for doc_id, text in docs:
        lines = text.split("\n")
        lc = Counter(lines)
        n_lines = len(lines)
        n_dup = sum(c for c in lc.values() if c > 1)
        dup_chars = sum(len(l) * c for l, c in lc.items() if c > 1)
        tot_chars = sum(len(l) for l in lines)
        toks = norm(text).split(" ")
        grams = [f"{a} {b}" for a, b in zip(toks, toks[1:])] if len(toks) >= 2 else []
        if grams:
            gc = Counter(grams)
            best_cnt = max(gc.values())
            best_gram = max(g for g, c in gc.items() if c == best_cnt)
        else:
            best_cnt, best_gram = 0, ""
        norm_len = max(len(norm(text)), 1)
        want = {
            "n_lines": n_lines,
            "dup_line_bp": int(n_dup * 10000.0 / max(n_lines, 1)),
            "dup_char_bp": int(dup_chars * 10000.0 / max(tot_chars, 1)),
            "top_bigram_cnt": best_cnt,
            "top_bigram_char_bp": int(best_cnt * len(best_gram) * 10000.0 / norm_len),
        }
        have = {k: got[doc_id][k] for k in want}
        assert have == want, (doc_id, repr(text), have, want)


def test_vocab_coverage_semantics(spark, monkeypatch):
    """Crafted corpus with a known top-K vocabulary: common words are
    in-vocab, rare words are OOV, and the basis-point floor is exact."""
    docs = spark.createDataFrame(
        [
            # 'the' x5, 'cat' x4, 'sat' x3 dominate; zz/qq/jj are rare
            (1, "the cat sat the cat"),
            (2, "the cat sat zz"),
            (3, "the cat sat the qq jj"),
        ],
        "doc_id long, text string",
    )
    monkeypatch.setattr(textstats, "VOCAB_K", 3)
    rows = {r.doc_id: r for r in textstats.vocab_coverage(docs).collect()}
    assert (rows[1].n_words, rows[1].n_oov, rows[1].oov_bp) == (5, 0, 0)
    assert (rows[2].n_words, rows[2].n_oov, rows[2].oov_bp) == (4, 1, 2500)
    assert (rows[3].n_words, rows[3].n_oov, rows[3].oov_bp) == (6, 2, 3333)
    # corpus counts: the=5 cat=4 sat=3; freq_sum = Σ count(token) over
    # in-vocab tokens — the integer unigram-probability-mass stand-in
    assert rows[1].freq_sum == 5 + 4 + 3 + 5 + 4
    assert rows[2].freq_sum == 5 + 4 + 3
    assert rows[3].freq_sum == 5 + 4 + 3 + 5


def test_vocab_coverage_broadcasts_vocabulary(spark):
    """The membership join must broadcast the LM-sized vocabulary — the
    corpus-side explode never shuffles for it."""
    plan = (
        textstats.vocab_coverage(_docs(spark))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_shared_substrings_semantics(spark, monkeypatch):
    """Two documents embedding an identical 60-char span must share all
    its 40-char window fingerprints; an unrelated doc contributes none.
    Sampling disabled (empty prefix) so the expectation is exact."""
    from html_parser_spark.operators.dedup import shared_substrings

    monkeypatch.setattr(dedup, "SUBSTRING_WINDOW", 40)
    monkeypatch.setattr(dedup, "SUBSTRING_SAMPLE_PREFIX", "")

    boiler = "this exact licensing banner repeats verbatim across documents."
    assert len(boiler) == 62
    docs = spark.createDataFrame(
        [
            (1, f"alpha {boiler} omega"),
            (2, f"gamma gamma {boiler} delta"),
            (3, "entirely unrelated content with no repeated span at all "
                "padded well past the window width for realism"),
        ],
        "doc_id long, text string",
    )
    rows = shared_substrings(docs).collect()
    # every 40-window fully inside the 62-char boiler span is shared;
    # windows straddling the differing prefixes/suffixes are not
    assert len(rows) >= 62 - 40 + 1
    assert all(r.n_docs == 2 and r.n_occ == 2 for r in rows)
    # deterministic ordering contract
    keys = [(-r.n_docs, -r.n_occ, r.h) for r in rows]
    assert keys == sorted(keys)


def test_shared_substrings_short_docs_yield_no_windows(spark, monkeypatch):
    from html_parser_spark.operators.dedup import shared_substrings

    monkeypatch.setattr(dedup, "SUBSTRING_WINDOW", 40)
    monkeypatch.setattr(dedup, "SUBSTRING_SAMPLE_PREFIX", "")
    docs = spark.createDataFrame([(1, "tiny"), (2, "tiny")], "doc_id long, text string")
    assert shared_substrings(docs).count() == 0


def test_operators_on_empty_and_degenerate_corpora(spark, tmp_path):
    """Degenerate-input contract: a 100-TB pipeline hits empty stage
    outputs (a filter that drops everything) and pathological shards
    (all documents identical).  Every corpus operator must return a
    well-formed empty/collapsed result, never raise."""
    from html_parser_spark.operators import chunking, sampling
    from html_parser_spark.operators.dedup import (
        decontaminate,
        dedup_cluster_keep_list,
    )

    schema = "doc_id long, text string, source string, n_chars long"

    d_empty = str(tmp_path / "empty")
    spark.createDataFrame([], schema).write.parquet(d_empty)
    empty = spark.read.parquet(d_empty)
    assert textstats.filter_quality(empty).count() == 0
    assert textstats.repetition_filters(empty).count() == 0
    assert dedup_cluster_keep_list(empty).count() == 0
    assert decontaminate(empty).count() == 0
    assert sampling.corpus_splits(empty).count() == 0
    assert chunking.pack_sequences(empty).count() == 0

    # all-identical corpus: one cluster, exactly one keeper (min doc_id)
    d_same = str(tmp_path / "same")
    text = "the same document body repeated verbatim across every row " * 8
    rows = [(i, text, "s", len(text)) for i in range(1, 41)]
    spark.createDataFrame(rows, schema).write.parquet(d_same)
    cl = dedup_cluster_keep_list(spark.read.parquet(d_same)).collect()
    assert len(cl) == 40
    assert {r.cluster_id for r in cl} == {1}
    keepers = [r.doc_id for r in cl if r.is_keeper == 1]
    assert keepers == [1]
