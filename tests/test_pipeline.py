"""End-to-end Spark pipeline tests (SURVEY.md §7 step 3).

Equality gate: the distributed pipeline must produce byte-identical
(main_text, spans, err_count, parse_status) to the pure-Python extractor
for every (conv_id, turn_idx) — the same per-turn text-equality contract
the driver applies against reference goldens.
"""

import os
import re

import pytest

from html_parser_spark.fixtures import ensure_transcripts
from html_parser_spark.functions.extract import extract
from html_parser_spark.operators import pipeline
from html_parser_spark.operators.pipeline import (
    extract_columns,
    extract_stage,
    extraction_metrics,
    run_dom_extraction,
    run_extraction,
)

SF = 0.001


@pytest.fixture(scope="module")
def transcripts(spark):
    path = ensure_transcripts(SF)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def extracted(spark, transcripts):
    return run_extraction(transcripts, num_partitions=8).cache()


def test_row_level_equality_vs_pure_python(transcripts, extracted):
    raw = {
        (r.conv_id, r.turn_idx): r.text
        for r in transcripts.select("conv_id", "turn_idx", "text").collect()
    }
    got = extracted.collect()
    assert len(got) == len(raw) > 0
    for row in got:
        want = extract(raw[(row.conv_id, row.turn_idx)])
        assert row.main_text == want["main_text"], (row.conv_id, row.turn_idx)
        assert [(s.start, s.end) for s in row.spans] == want["spans"]
        assert row.err_count == want["err_count"]
        assert row.parse_status == want["parse_status"]


@pytest.mark.parametrize(
    "runner", [run_extraction, run_dom_extraction], ids=lambda f: f.__name__
)
def test_plan_shape(transcripts, runner):
    """Scan must prune to the 3 needed columns; exactly one exchange (the
    salted repartition), then the in-partition sort, then the UDF on the
    Arrow path.

    clearCache first: if an earlier test persisted a matching plan
    subtree (the entry-contract frame cache does), Spark substitutes an
    InMemoryRelation whose stored plan text carries its own Exchange —
    the assertion is about the FRESH plan."""
    transcripts.sparkSession.catalog.clearCache()
    plan = runner(transcripts)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    # the plan prints top-down: UDF above Sort above Exchange
    assert (
        plan.index("ArrowEvalPython")
        < plan.index("Sort [")
        < plan.index("Exchange")
    )
    scan_line = next(l for l in plan.splitlines() if "FileScan" in l)
    read_schema = scan_line.split("ReadSchema: ")[1]
    assert read_schema == "struct<conv_id:string,turn_idx:int,text:string>"


def test_metrics_rollup(spark, extracted):
    m = {r.parse_status: r for r in extraction_metrics(extracted).collect()}
    assert "ok" in m
    total = sum(r.turns for r in m.values())
    assert total == extracted.count()
    assert m["ok"].tokens > 0 and m["ok"].main_text_chars > 0


def test_salting_spreads_hot_conversations(spark):
    """A hot conversation's turns must land in >1 partition after the
    salted repartition (the whole point of the salt).  The frame plants
    one 32-turn conversation beside a few short ones."""
    from pyspark.sql import functions as F

    rows = [("hot", i, f"<p>turn {i} of the hot conversation</p>") for i in range(32)]
    rows += [(f"c{c}", i, f"<p>turn {i}</p>") for c in range(3) for i in range(2)]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    parts = (
        run_extraction(df, num_partitions=8)
        .filter(F.col("conv_id") == "hot")
        .withColumn("pid", F.spark_partition_id())
        .select("pid")
        .distinct()
        .count()
    )
    assert parts > 1


def test_stable_turn_ordering_within_partitions(spark, transcripts):
    """north_star contract: rows are ordered by (conv_id, turn_idx)
    within every output partition (sortWithinPartitions)."""
    from pyspark.sql import functions as F

    out = run_extraction(transcripts, num_partitions=8).withColumn(
        "pid", F.spark_partition_id()
    )

    def check(it):
        import pandas as pd

        for pdf in it:
            keys = list(zip(pdf["conv_id"], pdf["turn_idx"]))
            yield pd.DataFrame({"ok": [keys == sorted(keys)]})

    res = (
        out.select("pid", "conv_id", "turn_idx")
        .mapInPandas(check, schema="ok boolean")
        .collect()
    )
    assert res and all(r.ok for r in res)


def test_source_partitioned_skips_shuffle(spark, transcripts, monkeypatch):
    """Bucketed-source mode (``extract_columns`` over a frame that is
    only sorted within its input partitions): zero exchanges, results
    identical to the salted stage at the default ``SALT_K`` and at
    ``SALT_K = 1`` (the salt value moves rows, never changes them)."""
    noshuffle = extract_columns(
        transcripts.select("conv_id", "turn_idx", "text").sortWithinPartitions(
            "conv_id", "turn_idx"
        ),
        {"main"},
    )
    plan = noshuffle._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan

    def rows(df):
        return {(r.conv_id, r.turn_idx, r.main_text, r.err_count) for r in df.collect()}

    got = rows(noshuffle)
    assert pipeline.SALT_K == 8
    assert got == rows(run_extraction(transcripts, num_partitions=8))
    monkeypatch.setattr(pipeline, "SALT_K", 1)
    assert got == rows(run_extraction(transcripts, num_partitions=8))


MB = 1024 * 1024
UNKNOWN = 2**63 - 1  # spark.sql.defaultSizeInBytes: a plan without statistics


@pytest.mark.parametrize(
    "size_bytes, shuffle_partitions, want",
    [
        (0, 8, 4),
        (1_820_000, 8, 4),  # the extract benchmark's input: one wave
        (4_203_166, 64, 4),  # sf0.01: one wave, whatever shuffle.partitions says
        (4 * pipeline.ONE_WAVE_BYTES_PER_SLOT, 8, 4),
        (4 * pipeline.ONE_WAVE_BYTES_PER_SLOT + 1, 4, 8),
        (40_695_997, 4, 8),  # sf0.1: two waves
        (40_695_997, 64, 64),
        (UNKNOWN, 4, 8),  # createDataFrame: no estimate, not a small input
    ],
)
def test_exchange_sizing_rule(size_bytes, shuffle_partitions, want):
    """One wave on 4 task slots up to ONE_WAVE_BYTES_PER_SLOT per slot,
    else two waves or ``spark.sql.shuffle.partitions``, the larger."""
    assert pipeline.partitions_for(size_bytes, 4, shuffle_partitions) == want


def _planned_exchange_partitions(frame) -> list:
    plan = frame._jdf.queryExecution().executedPlan().toString()
    return [int(n) for n in re.findall(r", (\d+)\), REPARTITION_BY_NUM", plan)]


def test_exchange_plans_one_wave_for_a_small_input(spark, transcripts):
    """The default exchange plans one wave (``defaultParallelism``
    partitions) for the sf0.001 parquet, whatever
    ``spark.sql.shuffle.partitions`` says; a ``createDataFrame`` input
    has no size estimate and gets the larger of two waves and
    ``spark.sql.shuffle.partitions``; an explicit count wins."""
    slots = spark.sparkContext.defaultParallelism
    tiny = spark.createDataFrame(
        [("c0", 0, "<p>x</p>")], "conv_id string, turn_idx int, text string"
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try:
        assert _planned_exchange_partitions(
            extract_stage(transcripts, {"main"})) == [slots]
        assert _planned_exchange_partitions(
            extract_stage(tiny, {"main"})) == [max(2 * slots, 64)]
        assert _planned_exchange_partitions(
            extract_stage(transcripts, {"main"}, num_partitions=7)) == [7]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_edge_inputs_flow_through(spark, check_stage):
    """NULL / empty / whitespace / markup-only / huge-token turns survive
    the full distributed path with sane outputs, for every output set
    (the NULL row is built from the requested outputs)."""
    from pyspark.sql import functions as F

    from html_parser_spark.functions.display import display_expr, stream_to_display
    from html_parser_spark.functions.tokenizer import tokenize

    rows = [
        ("c0", 0, None),
        ("c0", 1, ""),
        ("c0", 2, "   \t\n"),
        ("c0", 3, "<div></div>"),
        ("c0", 4, "x" * 100_000),
        ("c0", 5, "<p>" + "y" * 50_000 + "</p>"),
        ("c0", 6, '<p>see <a href="/u">the docs</a> here</p>'),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = {r.turn_idx: r for r in run_extraction(df, num_partitions=2).collect()}
    assert got[0].parse_status == "null_input" and got[0].main_text == ""
    assert got[1].main_text == "" and got[1].parse_status == "ok"
    assert got[2].main_text == ""
    assert got[3].main_text == "" and got[3].n_blocks == 0
    assert got[4].main_text == "x" * 100_000
    assert got[5].main_text == "y" * 50_000

    texts = {(c, t): text for c, t, text in rows}
    for outputs in ({"main"}, {"dom"}, {"main", "links"}, {"main", "dom", "links"}):
        check_stage(extract_stage(df, outputs, num_partitions=2), texts, outputs)

    # the token column: NULL gets the stage's empty array, every other
    # turn its whole stream (count and Display equal the tokenizer's)
    tok = extract_stage(df, {"main", "tokens"}, num_partitions=2).select(
        "turn_idx",
        "parse_status",
        F.size("tokens").alias("n"),
        display_expr(F.col("tokens")).alias("disp"),
    )
    for r in tok.collect():
        text = rows[r.turn_idx][2]
        toks = [] if text is None else tokenize(text)[0]
        assert (r.n, r.disp) == (len(toks), stream_to_display(toks)), r.turn_idx
    assert tok.filter(F.col("parse_status") == "null_input").count() == 1


def test_assemble_conversations_orders_turns(spark):
    """Assembly is (conv_id, turn_idx)-ordered regardless of input order,
    and the md5 fingerprints the joined text exactly."""
    import hashlib

    from html_parser_spark.operators.pipeline import assemble_conversations

    rows = [("c1", 2, "third"), ("c1", 0, "first"), ("c1", 1, "second"),
            ("c2", 0, "solo")]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    got = {r.conv_id: r for r in assemble_conversations(df).collect()}
    joined = "first\nsecond\nthird"
    assert got["c1"].n_turns == 3
    assert got["c1"].n_chars == len(joined)
    assert got["c1"].text_md5 == hashlib.md5(joined.encode()).hexdigest()
    assert got["c2"].text_md5 == hashlib.md5(b"solo").hexdigest()


def test_assemble_conversations_caps_mega_conversation(spark, monkeypatch):
    """A pathological conversation past max_turns is truncated to the
    first max_turns turns and flagged overflow=1; normal conversations
    pass through overflow=0 untouched (VERDICT r03 item 7)."""
    import hashlib

    from html_parser_spark.operators.pipeline import assemble_conversations

    mega = [("mega", i, f"t{i}") for i in range(10)]
    tiny = [("tiny", 0, "a"), ("tiny", 1, "b")]
    df = spark.createDataFrame(
        mega + tiny, "conv_id string, turn_idx int, text string"
    )
    monkeypatch.setattr(pipeline, "MAX_TURNS", 4)
    got = {r.conv_id: r for r in assemble_conversations(df).collect()}
    kept = "\n".join(f"t{i}" for i in range(4))
    assert got["mega"].n_turns == 10           # true size still reported
    assert got["mega"].overflow == 1
    assert got["mega"].n_chars == len(kept)    # output bounded at the cap
    assert got["mega"].text_md5 == hashlib.md5(kept.encode()).hexdigest()
    assert got["tiny"].overflow == 0
    assert got["tiny"].text_md5 == hashlib.md5(b"a\nb").hexdigest()


def test_cpu_budget_defaults_to_affinity():
    """Without ``SPARK_GRAFT_CPUS`` the session uses one task slot per
    core this process may run on, never a fixed count that
    oversubscribes a small box."""
    import subprocess
    import sys

    p = subprocess.run(
        [sys.executable, "-c",
         "import os; from html_parser_spark.plans import session; "
         "print(session.DEFAULT_CPUS, len(os.sched_getaffinity(0)))"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        env={k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"},
        capture_output=True, text=True, timeout=120,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    budget, affinity = p.stdout.split()
    assert budget == affinity
