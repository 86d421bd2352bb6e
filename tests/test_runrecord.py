"""The submit jobs' stage record: the JSON lines a job prints are the
lines it writes to ``<output>/metrics.json``."""
import json
import time

from html_parser_spark.plans.runrecord import StageRecord


def test_stage_lines_printed_and_written(tmp_path, capsys):
    record = StageRecord()
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
