"""One Spark session of a benchmark run, in a process of its own.

Usage: ``python3 sparkrun.py <config.json> <result.json>`` (``run.py``
writes the config and reads the result).

The session starts with ``get_spark`` on ``local[<cores>]`` with explicit
shuffle partitions, runs one warm-up pass and one settling pass, then
runs measured passes one at a time (a single closed-loop client) until
their total is nearest the time budget: the next pass, predicted to take
as long as the last, runs if it would end less than half a pass past it.  Between passes it calls ``clear_residents()`` and
``spark.catalog.clearCache()``.  Every pass, the warm-up included, is
checked against the oracle by row count and digest sum.  While the
measured passes run it samples the CPU time of the driver JVM and its
Python workers (and the workers' share of it) and the peak summed RSS of
the workers.

A traced session also writes a Spark event log, times a scan-only
action, and (``extract`` only) compares Spark's token counts with the
single-process ones on a sample of rows.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _failed_tasks(sc, groups: list) -> int:
    """Failed or retried tasks in the jobs of ``groups`` (status tracker)."""
    st = sc.statusTracker()
    bad = 0
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            job = st.getJobInfo(jid)
            for sid in job.stageIds if job else ():
                info = st.getStageInfo(sid)
                if info is not None:
                    bad += info.numFailedTasks + (info.currentAttemptId > 0)
    return bad


class Job:
    """The Spark work of one pass of a workload, with its correctness check."""

    def __init__(self, spark, cfg: dict, oracle: dict, tracer):
        self.sc = spark.sparkContext
        self.workload = cfg["workload"]
        self.df = spark.read.parquet(cfg["input"])
        self.oracle = oracle
        self.turns = cfg["turns"]
        self.tracer = tracer

    def _group(self, group: str, name: str) -> str:
        g = f"{group}.{name}"
        self.sc.setJobGroup(g, g)
        return g

    def run(self, group: str) -> dict:
        """One pass; returns its check result (``failed`` = failed turns)."""
        from pyspark.sql import functions as F

        from corpus import DOM_COLS, EXTRACT_COLS, LINK_COLS, row_digest_col

        if self.workload in ("extract", "dom"):
            from html_parser_spark.operators.pipeline import (
                run_dom_extraction,
                run_extraction,
            )

            if self.workload == "extract":
                out, cols = run_extraction(self.df), EXTRACT_COLS
                tok = F.sum("n_tokens")
            else:
                out, cols = run_dom_extraction(self.df), DOM_COLS
                tok = F.sum(F.lit(0))
            out = out.withColumn("h", row_digest_col(cols))
            groups = [self._group(group, "udf")]
            with self.tracer.span("pipeline.pass"):
                agg = (
                    out.groupBy("parse_status")
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum(F.col("h").cast("decimal(38,0)")).alias("d"),
                        tok.alias("tok"),
                    )
                    .collect()
                )
            got = {
                "rows": sum(r["n"] for r in agg),
                "digest": sum(int(r["d"]) for r in agg),
                "tokens": sum(int(r["tok"] or 0) for r in agg),
                "status": {r["parse_status"]: r["n"] for r in agg},
            }
            top_ok = True
        else:
            from html_parser_spark.operators.linkops import run_link_extraction
            from html_parser_spark.operators.linkrank import pagerank_fixed

            links = run_link_extraction(self.df)
            out = links.withColumn("h", row_digest_col(LINK_COLS))
            groups = [self._group(group, "links")]
            with self.tracer.span("pipeline.pass"):
                with self.tracer.span("linkops.harvest"):
                    r = out.agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum(F.col("h").cast("decimal(38,0)")).alias("d"),
                    ).first()
                groups.append(self._group(group, "rank"))
                with self.tracer.span("linkrank"):
                    edges = links.select(
                        F.concat(F.lit("doc:"), "conv_id", F.lit("#"), "turn_idx")
                        .alias("src"),
                        F.concat(F.lit("url:"), "href").alias("dst"),
                    )
                    top = (
                        pagerank_fixed(edges, iterations=4)
                        .orderBy(F.desc("rank_fp"), F.asc("node"))
                        .limit(100)
                        .collect()
                    )
            got = {"rows": r["n"], "digest": int(r["d"] or 0), "tokens": 0,
                   "status": {}}
            top_ok = [[t["node"], t["rank_fp"]] for t in top] == self.oracle["top100"]
        self.sc.setJobGroup("idle", "idle")
        failed = 0
        if got["rows"] != self.oracle["rows"] or got["digest"] != self.oracle["digest"]:
            failed = self._failed_turns(out)
        if not top_ok or _failed_tasks(self.sc, groups):
            failed = self.turns
        got["failed"] = failed
        return got

    def _failed_turns(self, out) -> int:
        """Turns whose output rows differ from the oracle's, or are missing."""
        per_turn: dict = {}
        for r in out.select("conv_id", "turn_idx", "h").collect():
            per_turn.setdefault(f"{r['conv_id']}#{r['turn_idx']}", []).append(r["h"])
        want = self.oracle["per_turn"]
        keys = set(want) | set(per_turn)
        return sum(sorted(per_turn.get(k, [])) != want.get(k, []) for k in keys)


def _sample_tokens(spark, job: Job, keys: list) -> int:
    """Spark's ``sum(n_tokens)`` over the rows named by ``keys``."""
    from pyspark.sql import functions as F

    from html_parser_spark.operators.pipeline import run_extraction

    sample = spark.createDataFrame(
        [(c, int(t)) for c, t in keys], "conv_id string, turn_idx int"
    )
    job._group("trace", "sample")
    r = (
        run_extraction(job.df)
        .join(F.broadcast(sample), ["conv_id", "turn_idx"])
        .agg(F.sum("n_tokens").alias("tok"))
        .first()
    )
    return int(r["tok"] or 0)


def main(cfg_path: str, out_path: str) -> None:
    with open(cfg_path) as f:
        cfg = json.load(f)
    sys.path.insert(0, cfg["repo"])
    with open(cfg["oracle"]) as f:
        oracle = json.load(f)

    import procstat
    from spans import Tracer, durations

    from html_parser_spark.plans.session import clear_residents, get_spark

    tracer = Tracer(cfg["run_id"])
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": cfg["local_dir"],
        "spark.sql.warehouse.dir": cfg["warehouse_dir"],
    }
    if cfg["traced"]:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + cfg["event_dir"],
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark(
            app_name=f"perfbench-{cfg['workload']}",
            master=f"local[{cfg['cores']}]",
            shuffle_partitions=cfg["shuffle_partitions"],
            extra_conf=conf,
        )
    spark.sparkContext.setLogLevel("ERROR")
    job = Job(spark, cfg, oracle, tracer)
    checks = []
    with tracer.span("pipeline.warmup"):
        checks.append(job.run("warmup"))
    setup_s = time.perf_counter() - t0
    # one more unmeasured pass: the JVM is still compiling the hot paths
    # after the first one, and measured passes should see a settled JVM
    clear_residents()
    spark.catalog.clearCache()
    checks.append(job.run("settle"))

    me = os.getpid()
    tree = procstat.descendants(me)
    cpu0 = procstat.cpu_seconds(tree)
    py0 = procstat.cpu_seconds(procstat.python_only(tree))
    rss = procstat.PeakRss(me)
    rss.start()
    walls = []
    m0 = time.perf_counter()
    while True:
        clear_residents()
        spark.catalog.clearCache()
        a = time.perf_counter()
        checks.append(job.run(f"pass{len(walls)}"))
        walls.append(time.perf_counter() - a)
        if time.perf_counter() - m0 + walls[-1] / 2 > cfg["budget_s"]:
            break
    peak_mb = rss.stop()
    tree = procstat.descendants(me)
    cpu_s = procstat.cpu_seconds(tree) - cpu0
    python_cpu_s = procstat.cpu_seconds(procstat.python_only(tree)) - py0

    result = {
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "setup_s": setup_s,
        "passes_s": walls,
        "cpu_s": cpu_s,
        "python_cpu_s": python_cpu_s,
        "worker_rss_peak_mb": peak_mb,
        "checks": checks,
    }
    if cfg["traced"]:
        from pyspark.sql import functions as F

        clear_residents()
        spark.catalog.clearCache()
        for _ in range(3):
            job._group("trace", "scan")
            with tracer.span("pipeline.scan"):
                job.df.select(F.sum(F.length("text"))).collect()
        if cfg["workload"] == "extract":
            result["spark_tokens_on_sample"] = _sample_tokens(
                spark, job, cfg["sample_keys"]
            )
        result["scan_s"] = sorted(durations(tracer.spans, "pipeline.scan"))[1]
    spark.stop()
    if cfg["traced"]:
        import eventlog

        result["stages"] = eventlog.stages(cfg["event_dir"])
    result["spans"] = tracer.spans
    with open(out_path, "w") as f:
        json.dump(result, f)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
