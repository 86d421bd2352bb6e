#!/usr/bin/env python3
"""Benchmark of the HTML extraction engine on ``local[<cores>]``.

Usage (from the repository root):

    python3 perfbench/run.py --workload extract --seed 1 --seconds 18 --trace 0

Workloads (inputs made from ``--seed``, see corpus.py; BENCHMARK.json
lists ``extract`` and ``linkgraph``, see README.md for ``dom``):

- ``extract``   ``pipeline.run_extraction`` over the standard fixture mix
- ``dom``       ``pipeline.run_dom_extraction`` over the same corpus
- ``linkgraph`` ``linkops.run_link_extraction`` then 4 rounds of
  ``linkrank.pagerank_fixed`` and its top-100, over link-dense turns

``--trace 0`` runs one fresh Spark session in a process of its own and
reports, with tracing off:

- ``turns_per_s``: input turns / median wall time of the measured passes
- ``cpu_s_per_kturn``: CPU seconds of the driver JVM and its Python
  workers per 1,000 turns, over all measured passes
- ``worker_rss_mb``: peak summed RSS of the Python workers
- ``setup_s``: session start to the end of the warm-up pass; corpus and
  oracle building are excluded

``failed_frac`` (turns missing, wrong against the oracle, or in a failed
or retried task, over all turns checked) is printed with them and is the
``failed``/``attempted`` pair of the result.

``--trace 1`` runs the single-process per-layer pass, one untraced and one
traced session (Spark event log on), and reports the per-layer metrics.
It writes the spans, stage records and metrics as one JSON file under
``perfbench/.work/runs/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

WORKLOADS = ("extract", "dom", "linkgraph")
SAMPLE_TURNS = 400  # single-process per-layer sample
RUN_DEADLINE_S = 170.0

E2E_UNITS = {
    "turns_per_s": "1/s",
    "cpu_s_per_kturn": "s",
    "worker_rss_mb": "MB",
    "setup_s": "s",
}

LAYER_UNITS = {
    "tokenizer.self_s": "s",
    "tokenizer.tokens_per_s": "1/s",
    "extract.self_s": "s",
    "extract.kept_block_ratio": "ratio",
    "treebuilder.self_s": "s",
    "domextract.self_s": "s",
    "domextract.kept_block_ratio": "ratio",
    "gc.pause_s": "s",
    "gc.gen2_collections": "count",
    "links.self_s": "s",
    "links.per_turn": "count",
    "single_process.turns_per_s": "1/s",
    "single_process.layer_coverage": "fraction",
    "session.start_s": "s",
    "pipeline.warmup_s": "s",
    "pipeline.scan_s": "s",
    "pipeline.exchange.shuffle_write_mb": "MB",
    "pipeline.exchange.shuffle_read_mb": "MB",
    "pipeline.exchange.spill_mb": "MB",
    "pipeline.udf_stage.run_s": "s",
    "pipeline.udf_stage.cpu_s": "s",
    "pipeline.udf_stage.jvm_gc_s": "s",
    "pipeline.udf_stage.task_skew": "ratio",
    "pipeline.udf_stage.python_mb_sent": "MB",
    "pipeline.udf_stage.python_mb_received": "MB",
    "pipeline.spark_efficiency": "fraction",
    "cpu.jvm_s_per_kturn": "s",
    "cpu.python_s_per_kturn": "s",
    "linkops.harvest_ratio": "ratio",
    "linkrank.stages": "count",
    "linkrank.run_s": "s",
    "linkrank.shuffle_write_mb": "MB",
    "trace.overhead_frac": "fraction",
}

_PR_SET_CHILD_SUBREAPER = 36


class SessionError(RuntimeError):
    pass


def _become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _reap(sid: int) -> None:
    """Stop every process of session ``sid`` and wait until each has ended.

    This process is a child subreaper, so descendants orphaned by the
    session process are re-parented here and can be waited for."""
    import procstat

    deadline = time.monotonic() + 20
    sig = signal.SIGTERM
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        alive = procstat.in_session(sid)
        if not alive:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for p in alive:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)


def run_session(cfg: dict, name: str, deadline: float) -> dict:
    """Run sparkrun.py for ``cfg`` in a new process session; its result."""
    d = os.path.join(WORK, "sessions", name)
    os.makedirs(d, exist_ok=True)
    for sub in ("local", "tmp", "events", "warehouse"):
        os.makedirs(os.path.join(d, sub), exist_ok=True)
    cfg = dict(
        cfg,
        local_dir=os.path.join(d, "local"),
        tmp_dir=os.path.join(d, "tmp"),
        event_dir=os.path.join(d, "events"),
        warehouse_dir=os.path.join(d, "warehouse"),
        run_id=name,
    )
    cfg_path, out_path = os.path.join(d, "config.json"), os.path.join(d, "result.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        TMPDIR=cfg["tmp_dir"],
        # every JVM of the session (launcher and driver) keeps its scratch
        # files in the session directory
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={cfg['tmp_dir']}",
        SPARK_LOCAL_DIRS=cfg["local_dir"],
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    log_path = os.path.join(d, "session.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "sparkrun.py"), cfg_path, out_path],
            stdout=log, stderr=subprocess.STDOUT, env=env, cwd=ROOT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            _reap(proc.pid)
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise SessionError(f"session {name} ended with {rc}:\n{tail}")
    with open(out_path) as f:
        return json.load(f)


def _checks(results: list) -> tuple:
    checks = [c for r in results for c in r["checks"]]
    return len(checks), sum(c["failed"] for c in checks), checks


def _tps(turns: int, result: dict) -> float:
    return turns / statistics.median(result["passes_s"])


def _per_kturn(seconds: float, turns: int, result: dict) -> float:
    return 1000 * seconds / (turns * len(result["passes_s"]))


def end_to_end(turns: int, result: dict) -> dict:
    return {
        "turns_per_s": _tps(turns, result),
        "cpu_s_per_kturn": _per_kturn(result["cpu_s"], turns, result),
        "worker_rss_mb": result["worker_rss_peak_mb"],
        "setup_s": result["setup_s"],
    }


def spark_layers(workload: str, traced: dict, oracle_rows: int) -> dict:
    """Per-layer Spark metrics of the traced session, median over passes."""
    from spans import durations

    mb = 2**20
    per_pass: dict = {}
    for i in range(len(traced["passes_s"])):
        st = [s for s in traced["stages"] if (s["group"] or "").startswith(f"pass{i}.")]
        py = [s for s in st if "data sent to Python workers" in s["python"]]
        rank = [s for s in st if s["group"] == f"pass{i}.rank"]
        vals = {
            "pipeline.exchange.shuffle_write_mb":
                sum(s["shuffle_write_bytes"] for s in st if s["records_in"]) / mb,
            "pipeline.exchange.shuffle_read_mb":
                sum(s["shuffle_read_bytes"] for s in py) / mb,
            "pipeline.exchange.spill_mb": sum(s["spill_bytes"] for s in st) / mb,
            "pipeline.udf_stage.run_s": sum(s["wall_s"] for s in py),
            "pipeline.udf_stage.cpu_s": sum(s["cpu_s"] for s in py),
            "pipeline.udf_stage.jvm_gc_s": sum(s["jvm_gc_s"] for s in py),
            "pipeline.udf_stage.task_skew": statistics.median(
                s["task_max_s"] / s["task_median_s"] if s["task_median_s"] else 1.0
                for s in py
            ) if py else 0.0,
            "pipeline.udf_stage.python_mb_sent":
                sum(s["python"]["data sent to Python workers"] for s in py) / mb,
            "pipeline.udf_stage.python_mb_received":
                sum(s["python"].get("data returned from Python workers", 0) for s in py)
                / mb,
            "linkrank.stages": len(rank),
            "linkrank.shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in rank) / mb,
            "linkops.harvest_ratio": (
                sum(s["python"].get("number of output rows", 0) for s in py)
                / oracle_rows
                if workload == "linkgraph" else 0.0
            ),
        }
        for k, v in vals.items():
            per_pass.setdefault(k, []).append(v)
    out = {k: statistics.median(v) for k, v in per_pass.items()}
    spans = traced["spans"]
    rank_s = durations(spans, "linkrank")
    out.update({
        "session.start_s": durations(spans, "session.start")[0],
        "pipeline.warmup_s": durations(spans, "pipeline.warmup")[0],
        "pipeline.scan_s": traced["scan_s"],
        "linkrank.run_s": statistics.median(rank_s[1:]) if len(rank_s) > 1 else 0.0,
    })
    return out


def _fmt(metrics: dict) -> dict:
    units = {**E2E_UNITS, **LAYER_UNITS}
    return {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--turns", type=int, default=None,
                    help="corpus size (default: the workload's standard size)")
    args = ap.parse_args(argv)
    t_start = time.monotonic()
    deadline = t_start + RUN_DEADLINE_S

    if not os.path.isdir(os.path.join(ROOT, "html_parser_spark")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    _become_subreaper()

    import corpus
    import layers

    input_path, props, oracle_path = corpus.prepare(
        args.workload, args.seed, os.path.join(WORK, "cache"), args.turns
    )
    with open(oracle_path) as f:
        oracle = json.load(f)
    turns = props["turns"]
    cores = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    base_cfg = {
        "repo": ROOT,
        "workload": args.workload,
        "input": input_path,
        "oracle": oracle_path,
        "turns": turns,
        "cores": cores,
        "shuffle_partitions": 2 * cores,
        "traced": False,
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "master": f"local[{cores}]",
        "shuffle_partitions": 2 * cores,
        "input": props,
    }

    try:
        if args.trace == 0:
            results = [
                run_session(dict(base_cfg, budget_s=args.seconds), tag, deadline)
            ]
            metrics = end_to_end(turns, results[0])
        else:
            cols = corpus.load_texts(input_path)
            sample = layers.sample_keys(cols, SAMPLE_TURNS, args.seed)
            metrics, sp_tokens, sp_spans = layers.run(
                args.workload, [t for _, _, t in sample], f"{tag}-single"
            )
            budget = args.seconds / 2
            plain = run_session(dict(base_cfg, budget_s=budget), f"{tag}-plain", deadline)
            traced = run_session(
                dict(base_cfg, budget_s=budget, traced=True,
                     sample_keys=[[c, t] for c, t, _ in sample]),
                f"{tag}-traced", deadline,
            )
            results = [plain, traced]
            metrics.update(spark_layers(args.workload, traced, oracle["rows"]))
            plain_tps = _tps(turns, plain)
            metrics["pipeline.spark_efficiency"] = plain_tps / (
                cores * metrics["single_process.turns_per_s"]
            )
            metrics["trace.overhead_frac"] = 1.0 - _tps(turns, traced) / plain_tps
            py_s = plain["python_cpu_s"]
            metrics["cpu.python_s_per_kturn"] = _per_kturn(py_s, turns, plain)
            metrics["cpu.jvm_s_per_kturn"] = _per_kturn(plain["cpu_s"] - py_s, turns, plain)
            record.update({
                "counts": {
                    "sample_turns": len(sample),
                    "single_process_tokens": sp_tokens,
                    "spark_tokens_on_sample": traced.get("spark_tokens_on_sample"),
                },
                "spans": {"single_process": sp_spans, "traced_session": traced["spans"],
                          "plain_session": plain["spans"]},
                "stages": traced["stages"],
            })
    except SessionError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1

    attempted_passes, failed, checks = _checks(results)
    attempted = attempted_passes * turns
    record.update({
        "sessions": [
            {k: r[k] for k in ("master", "shuffle_partitions", "setup_s", "passes_s",
                               "cpu_s", "worker_rss_peak_mb")}
            for r in results
        ],
        "status": [c["status"] for c in checks],
        "failed_frac": failed / attempted,
        "metrics": metrics,
        "wall_s": time.monotonic() - t_start,
    })
    runs = os.path.join(WORK, "runs")
    os.makedirs(runs, exist_ok=True)
    record_path = os.path.join(runs, f"{tag}.json")
    with open(record_path, "w") as f:
        json.dump(record, f)

    print(f"# workload={args.workload} seed={args.seed} master=local[{cores}] "
          f"shuffle_partitions={2 * cores} turns={turns} "
          f"passes={len([w for r in results for w in r['passes_s']])} "
          f"record={os.path.relpath(record_path, ROOT)}")
    for k, v in metrics.items():
        print(f"#   {k} = {v:.6g} {({**E2E_UNITS, **LAYER_UNITS})[k]}")
    print(f"#   failed_frac = {failed / attempted:.6g} ({failed}/{attempted} turns)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": _fmt(metrics),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
