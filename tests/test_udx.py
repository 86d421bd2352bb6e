"""UDTF / pandas UDAF / applyInPandas surface tests."""

import pytest
from pyspark.sql import functions as F

from html_parser_spark.fixtures import ensure_transcripts
from html_parser_spark.functions.tokenizer import tokenize
from html_parser_spark.operators.udx import (
    TokenizeUDTF,
    conversation_stats,
    user_value_median,
)
from html_parser_spark.sources.tables import read_corpus

SF_DIR = "/root/testdata/sf0.001"


def test_udtf_lateral_matches_tokenize(spark):
    df = spark.read.parquet(ensure_transcripts(0.001)).limit(30)
    spark.udtf.register("tokenize_udtf", TokenizeUDTF)
    df.createOrReplaceTempView("turns_v")
    rows = spark.sql(
        """
        SELECT t.conv_id, t.turn_idx, u.pos, u.kind, u.name, u.data
        FROM turns_v t, LATERAL tokenize_udtf(t.text) u
        """
    ).collect()
    by_turn = {}
    for r in rows:
        by_turn.setdefault((r.conv_id, r.turn_idx), []).append(r)
    for r in df.select("conv_id", "turn_idx", "text").collect():
        toks, _, _ = tokenize(r.text)
        got = sorted(by_turn[(r.conv_id, r.turn_idx)], key=lambda x: x.pos)
        assert len(got) == len(toks)
        assert got[-1].kind == "eof"


def test_median_udaf_matches_duckdb(spark):
    import duckdb

    got = {
        r.event_type: r.median_value
        for r in user_value_median(read_corpus(spark, SF_DIR, "events")).collect()
    }
    con = duckdb.connect()
    want = dict(
        con.execute(
            f"SELECT event_type, median(value) FROM '{SF_DIR}/events.parquet' "
            "GROUP BY event_type"
        ).fetchall()
    )
    assert got == want


def test_conversation_stats_applyinpandas(spark):
    t = spark.read.parquet(ensure_transcripts(0.001))
    stats = conversation_stats(t)
    agg = stats.agg(
        F.sum("n_turns").alias("turns"), F.count(F.lit(1)).alias("convs")
    ).first()
    assert agg["turns"] == t.count()
    assert agg["convs"] == t.select("conv_id").distinct().count()
    one = stats.orderBy("conv_id").first()
    assert one.n_distinct_texts <= one.n_turns
