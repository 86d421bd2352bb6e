"""Token-column surface + Display parity tests."""

import pytest
from pyspark.sql import functions as F

from html_parser_spark.fixtures import ensure_transcripts
from html_parser_spark.functions.display import (
    display_expr,
    stream_to_display,
    token_to_display,
)
from html_parser_spark.functions.tokenizer import tokenize
from html_parser_spark.operators.pipeline import extract_stage


def test_display_quirks_pure_python():
    toks, _, _ = tokenize('<p id="a">x</p><!DOCTYPE html><!--c--><br/>')
    s = stream_to_display(toks)
    # start tag: trailing space after name and each `name : value` pair;
    # doctype always literal; end tag bare
    assert s == '<p id : a >x</p><!DOCTYPE html><!--c--><br />'


def test_display_doctype_always_literal():
    toks, _, _ = tokenize('<!DOCTYPE foo PUBLIC "p" "s">')
    assert stream_to_display(toks) == "<!DOCTYPE html>"


def test_spark_display_matches_python(spark):
    df = spark.read.parquet(ensure_transcripts(0.001)).limit(200)
    texts = {(r.conv_id, r.turn_idx): r.text for r in df.collect()}
    rows = (
        extract_stage(df, {"tokens"}, num_partitions=2)
        .withColumn("disp", display_expr(F.col("tokens")))
        .collect()
    )
    assert len(rows) == 200
    for r in rows:
        toks, _, _ = tokenize(texts[(r.conv_id, r.turn_idx)])
        assert r.disp == stream_to_display(toks), (r.conv_id, r.turn_idx)


def test_explode_is_next_token(spark):
    df = spark.read.parquet(ensure_transcripts(0.001)).limit(50)
    exploded = extract_stage(df, {"tokens"}, num_partitions=2).select(
        "conv_id", "turn_idx", F.posexplode("tokens").alias("pos", "tok")
    )
    counts = {
        (r.conv_id, r.turn_idx): r["cnt"]
        for r in exploded.groupBy("conv_id", "turn_idx")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for r in df.select("conv_id", "turn_idx", "text").collect():
        toks, _, _ = tokenize(r.text)
        assert counts[(r.conv_id, r.turn_idx)] == len(toks)
