"""PII scrubbing (operators/scrub.py): Spark / DuckDB / pure-Python
three-way agreement — the pattern-dialect contract (Java == RE2 == re)
is the whole risk surface of this operator."""

import hashlib

import duckdb
import pytest

from html_parser_spark.operators import scrub
from html_parser_spark.sources.tables import read_corpus

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return read_corpus(spark, SF_DIR, "documents")


CRAFTED = [
    (1, "mail bob.smith+x@ex-ample.co.uk now"),
    (2, "server at 10.0.255.3 port 80, also 1.2.3.4."),
    (3, "call +14155552671 or 415-555-1234 ok"),
    (4, "no pii here 1.2.3 4444 a@b"),
    (5, "a@b.co c@d.io on 192.168.0.1\n+1234567 x"),
    (6, ""),
]


def test_three_way_agreement_crafted(spark, tmp_path):
    df = spark.createDataFrame(CRAFTED, "doc_id int, text string")
    path = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.parquet(path)
    got = {r.doc_id: r for r in scrub.pii_scrub(spark.read.parquet(path)).collect()}

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}/*.parquet'")
    duck = {r[0]: r for r in con.execute(scrub.pii_scrub_sql()).fetchall()}
    con.close()

    for doc_id, text in CRAFTED:
        py = scrub.scrub_text(text)
        want_md5 = hashlib.md5(py.encode()).hexdigest()
        g = got[doc_id]
        assert g.scrubbed_md5 == want_md5, (doc_id, py)
        assert tuple(g) == duck[doc_id], doc_id
        assert g.chars_removed == len(text) - len(py)


def test_counts_crafted(spark):
    df = spark.createDataFrame(CRAFTED, "doc_id int, text string")
    got = {r.doc_id: r for r in scrub.pii_scrub(df).collect()}
    assert (got[1].n_email, got[1].n_ipv4, got[1].n_phone) == (1, 0, 0)
    assert (got[2].n_email, got[2].n_ipv4, got[2].n_phone) == (0, 2, 0)
    assert (got[3].n_email, got[3].n_ipv4, got[3].n_phone) == (0, 0, 2)
    assert (got[4].n_email, got[4].n_ipv4, got[4].n_phone) == (0, 0, 0)
    assert (got[5].n_email, got[5].n_ipv4, got[5].n_phone) == (2, 1, 1)
    assert got[6].chars_removed == 0


def test_matches_duckdb_on_corpus(spark):
    srows = sorted(map(tuple, scrub.pii_scrub(_docs(spark)).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    drows = sorted(map(tuple, con.execute(scrub.pii_scrub_sql()).fetchall()))
    con.close()
    assert srows == drows
    assert len(srows) == 500


def test_plan_no_shuffle(spark):
    plan = scrub.pii_scrub(_docs(spark))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
