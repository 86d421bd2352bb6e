"""The submit jobs' stage record: the JSON lines a job prints are the
lines it writes to ``<output>/metrics.json``, and the per-stage counts
of generated classes add up to the counter's change across the job."""
import json
import time

from html_parser_spark.plans.runrecord import StageRecord
from html_parser_spark.plans.session import codegen_compiles


def test_stage_lines_printed_and_written(spark, tmp_path, capsys):
    record = StageRecord(spark)
    t0 = time.time()
    record.stage("extract", 10, 8, t0)
    record.stage("dedup", 8, 6, t0, skipped=True)
    printed = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    record.write(str(tmp_path / "out"))
    with open(tmp_path / "out" / "metrics.json") as f:
        written = [json.loads(line) for line in f]
    assert printed == written == record.stages
    assert [(m["stage"], m["rows_in"], m["rows_out"]) for m in written] == [
        ("extract", 10, 8), ("dedup", 8, 6)]
    assert "skipped" not in written[0] and written[1]["skipped"] is True
    assert all(m["wall_sec"] >= 0 for m in written)


def test_stage_codegen_compiles_add_up(spark, capsys):
    """Each stage line counts the generated classes Spark compiled since
    the previous line (or since the record was made), so the lines sum
    to the counter's change across the job."""
    before = codegen_compiles(spark)
    record = StageRecord(spark)
    t0 = time.time()
    # literal values are compiled into the generated code, so these
    # expressions are new to the codegen cache
    n = spark.range(1000).selectExpr("id * 7919 % 1013 AS x").distinct().count()
    record.stage("distinct", 1000, n, t0)
    record.stage("idle", n, n, t0)
    rows = spark.range(n).selectExpr("id * 104729 AS y").where("y % 3 = 1").collect()
    record.stage("filter", n, len(rows), t0)
    per_stage = [m["codegen_compiles"] for m in record.stages]
    assert sum(per_stage) == codegen_compiles(spark) - before
    assert per_stage[0] > 0 and per_stage[2] > 0, per_stage
