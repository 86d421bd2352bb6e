"""Smoke test of the benchmark itself, at tiny scale.

    python3 -m pytest perfbench/test_smoke.py -q     (a few minutes)

Checks that every metric named in BENCHMARK.json is reported with its
unit, that outputs are correct, and that counts add up: the
single-process token count equals Spark's ``sum(n_tokens)`` over the
same rows, and every pass's ``parse_status`` histogram sums to the
input turns.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY_TURNS = 60


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int) -> tuple:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--turns", str(TINY_TURNS)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    header = next(line for line in lines if line.startswith("# workload="))
    record_path = header.split("record=")[1]
    with open(os.path.join(ROOT, record_path)) as f:
        record = json.load(f)
    return json.loads(lines[-1]), record


def _assert_metrics(result: dict, specs: list) -> None:
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1
    for spec in specs:
        m = result["metrics"][spec["name"]]
        assert m["unit"] == spec["unit"], spec["name"]
        assert isinstance(m["value"], (int, float)), spec["name"]
    assert set(result["metrics"]) == {s["name"] for s in specs}


# dom is not in BENCHMARK.json but stays runnable (README.md)
@pytest.mark.parametrize(
    "workload", [w["name"] for w in _bench()["workloads"]] + ["dom"]
)
def test_end_to_end_metrics(workload):
    result, record = _run(workload, 0)
    _assert_metrics(result, _bench()["end_to_end"])
    assert result["metrics"]["turns_per_s"]["value"] > 0
    if workload != "linkgraph":  # link rows carry no parse_status
        for status in record["status"]:
            assert sum(status.values()) == record["input"]["turns"]


def test_traced_run_counts_add_up():
    result, record = _run("extract", 1)
    _assert_metrics(result, _bench()["per_layer"])
    counts = record["counts"]
    assert counts["sample_turns"] == record["input"]["turns"]
    assert counts["single_process_tokens"] == counts["spark_tokens_on_sample"]
    for status in record["status"]:
        assert sum(status.values()) == record["input"]["turns"]
    assert result["metrics"]["single_process.layer_coverage"]["value"] >= 0.9
    assert {"single_process", "traced_session", "plain_session"} <= set(record["spans"])
    assert any(s["python"] for s in record["stages"])


def test_traced_linkgraph_reports_link_layers():
    result, _ = _run("linkgraph", 1)
    m = result["metrics"]
    assert m["linkrank.stages"]["value"] > 0
    assert m["linkops.harvest_ratio"]["value"] >= 1.0
    assert m["links.per_turn"]["value"] > 0


def test_no_result_without_the_engine(tmp_path):
    """Run from a directory that holds only the benchmark: it must fail
    without printing a result line."""
    import shutil

    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
