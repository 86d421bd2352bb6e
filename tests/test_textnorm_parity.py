"""Cross-engine whitespace contract: the shared class (textnorm.py) must
tokenize identically in Python, DuckDB SQL twins, and (by construction)
Java \\s — including \\x0b and NBSP, where the three engines' defaults
all disagree (reviewer-found).  The one Spark normalizer, word n-gram
builder and whitespace tokenizer that the dedup, text-statistics and
chunking operators call are pinned against their DuckDB spellings on the
same kind of input."""

import duckdb
import pytest
from pyspark.sql import functions as F

from html_parser_spark.functions.pdftext import extract_pdf_text
from html_parser_spark.functions.textnorm import ascii_words
from html_parser_spark.operators.dedup import (
    NORM_SQL,
    SHINGLES_SQL,
    _norm,
    _shingles,
    _word_ngrams_sql,
    simhash64,
    simhash_sketches_sql,
    word_ngrams,
)
from html_parser_spark.operators import textstats
from html_parser_spark.operators.pdfops import doc_to_pdf, pdf_page_text_sql

NASTY = [
    "\x0bvertical\x0btab\x0b",
    "nbsp stays joined",
    "\nlead", "trail\r\n", "", "a\tb\fc", " mixed \x0b  soup ",
]


# 0-3 words and 8+, repeated grams, every whitespace character of the
# class, CRLF, and leading/trailing runs
NGRAM_TEXTS = NASTY + [
    "   ",
    "one",
    " Two\twords ",
    "\x0bthree\fwords\r\nhere\t",
    "a b a b a b a b a b",
    "The quick brown fox\r\njumps over the lazy dog\tthe QUICK brown fox",
    "\t\x0b lead \f" + " ".join(f"w{i % 3}" for i in range(12)) + " \r\n",
    "x\u00a0y z w v u t s r q",
]
WIDTHS = (2, 3, 4, 8)


def _con(texts=NASTY):
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    for i, t in enumerate(texts):
        con.execute("INSERT INTO documents VALUES (?, ?)", [i, t])
    return con


def test_ascii_words_contract():
    assert ascii_words("\x0ba\x0bb") == ["a", "b"]  # Java \\s includes VT
    assert ascii_words("x y") == ["x y"]  # NBSP is NOT whitespace
    assert ascii_words("  ") == [] == ascii_words(None)


def test_simhash_oracle_parity_on_nasty_whitespace():
    rows = dict(_con().execute(simhash_sketches_sql()).fetchall())
    for i, t in enumerate(NASTY):
        want = format(simhash64(ascii_words(t.lower())), "016x")
        assert rows[i] == want, (i, repr(t))


def test_pdf_oracle_parity_on_nasty_whitespace():
    got = sorted(_con().execute(pdf_page_text_sql()).fetchall())
    exp = []
    for i, t in enumerate(NASTY):
        r = extract_pdf_text(doc_to_pdf(t, compress=bool(i % 2 == 0)))
        if not r["pages"]:
            exp.append((i, 0, "", 0, 0, r["status"]))
        else:
            for idx, pg in enumerate(r["pages"]):
                exp.append(
                    (i, idx, "\n".join(pg["lines"]), len(pg["lines"]),
                     len(pg["blocks"]), r["status"])
                )
    assert got == sorted(exp)


@pytest.fixture(scope="module")
def ngram_rows(spark):
    """doc_id → (Spark row, DuckDB row) of the normalizer, the n-grams
    at every width in ``WIDTHS`` and the shingles of ``NGRAM_TEXTS``."""
    docs = spark.createDataFrame(
        list(enumerate(NGRAM_TEXTS)), "doc_id long, text string"
    )
    ws = F.split(_norm(), " ")
    got = docs.select(
        "doc_id",
        _norm().alias("norm"),
        *[word_ngrams(ws, w).alias(f"g{w}") for w in WIDTHS],
        _shingles().alias("sh"),
    ).collect()
    cols = ", ".join(f"{_word_ngrams_sql(w)} AS g{w}" for w in WIDTHS)
    want = _con(NGRAM_TEXTS).execute(
        f"SELECT doc_id, {NORM_SQL} AS norm, {cols}, {SHINGLES_SQL} AS sh "
        "FROM documents"
    ).fetchall()
    duck = {r[0]: r for r in want}
    return {r.doc_id: (r, duck[r.doc_id]) for r in got}


def test_normalizer_parity(ngram_rows):
    for i, (sp, dk) in ngram_rows.items():
        assert sp.norm == dk[1], (i, repr(NGRAM_TEXTS[i]))


def test_word_ngrams_parity(ngram_rows):
    """``word_ngrams`` keeps order and repeats: it equals the plain
    n-grams of the DuckDB-normalized text, and its distinct set is
    ``_word_ngrams_sql``'s."""
    for i, (sp, dk) in ngram_rows.items():
        toks = dk[1].split(" ")
        for k, w in enumerate(WIDTHS):
            grams = [" ".join(toks[j:j + w]) for j in range(len(toks) - w + 1)]
            assert list(sp[f"g{w}"]) == grams, (i, w, repr(NGRAM_TEXTS[i]))
            assert sorted(set(sp[f"g{w}"])) == sorted(dk[2 + k]), (i, w)
    assert any(
        len(set(sp.g2)) < len(sp.g2) for sp, _ in ngram_rows.values()
    ), "no input repeats a gram"


def test_shingles_parity(ngram_rows):
    for i, (sp, dk) in ngram_rows.items():
        assert sorted(sp.sh) == sorted(dk[-1]), (i, repr(NGRAM_TEXTS[i]))
        assert len(sp.sh) == len(set(sp.sh)), i


# stopwords behind a vertical tab, a leading tab and a trailing CRLF, an
# empty and an all-space text, and U+0130 (``lower`` lengthens it)
TOKEN_TEXTS = NASTY + [
    "\x0b", "\x0bthe\x0bdog\x0bis\x0b", "\tthe cat and the dog",
    "   ", "le chat et la souris\r\n", " der Hund und die Katze ",
    "\u0130stanbul the of", "The\tAND\fof",
]


@pytest.mark.parametrize("op", ["token_stats", "quality_scores", "langid"])
def test_token_ops_parity_on_hostile_whitespace(spark, tmp_path, op):
    """Token counts, token lengths and stopword hits of the operators
    built on the shared whitespace tokenizer equal their DuckDB twins'.
    ``token_stats`` is compared on its token columns only: its
    normalized-text fingerprint lowers U+0130 to two characters in Spark
    and to one in DuckDB."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(TOKEN_TEXTS)), pa.int64()),
        "text": TOKEN_TEXTS, "lang": ["en"] * len(TOKEN_TEXTS),
    }), str(tmp_path / "documents.parquet"))
    twin = entry.TOKEN_STATS_SQL if op == "token_stats" else getattr(
        textstats, f"{op}_sql")()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    got = getattr(textstats, op)(spark.read.parquet(str(tmp_path / "documents.parquet")))
    want = con.execute(twin).fetchall()
    if op == "token_stats":
        got = got.select("doc_id", "char_count", "token_count", "avg_token_len_bp")
        want = [r[:4] for r in want]
    assert sorted(map(tuple, got.collect())) == sorted(want)
