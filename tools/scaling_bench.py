#!/usr/bin/env python3
"""Scaling-efficiency evidence for the north rule (N vs 4N parallelism).

Without a real cluster, the two "cluster sizes" are ``local[n]`` and
``local[n4]`` on identical input, with ``n4`` the session's default core
count (``plans.session.DEFAULT_CPUS``) and ``n = max(1, n4 // 4)``.
The sandbox VM also shows variable CPU steal from neighbors and a shared
memory-bandwidth ceiling, so each Spark measurement is bracketed by a
same-moment pure-Python multiprocessing ceiling at the same parallelism:

- raw efficiency        = (T_n4 / T_n) / (n4 / n)
- normalized efficiency = (T_n4 / C_n4) / (T_n / C_n)

where C_N is the machine's aggregate pure-extract throughput with N
processes at that moment.  The normalized figure isolates what the north
rule is actually about — whether the *job's distribution machinery*
(shuffle, Arrow, scheduling) keeps scaling — from the host's shared
memory bus, which a real 4N-executor cluster would multiply rather than
share.  Best of ``TRIALS`` per configuration.

Usage: python tools/scaling_bench.py   (one JSON line on stdout)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TRIALS = 2


def _ceiling_worker(seed, n_texts, barrier, q):
    import random

    from html_parser_spark.fixtures import make_turn_text
    from html_parser_spark.functions.extract import extract

    rng = random.Random(seed)
    texts = [make_turn_text(rng) for _ in range(n_texts)]
    barrier.wait()  # all workers time their extraction simultaneously —
    # without this, staggered text generation deflates the measurement
    t0 = time.time()
    for t in texts:
        extract(t)
    q.put((n_texts, time.time() - t0))


def measure_ceiling(nproc: int, n_texts: int = 500) -> float:
    """Pure-Python ceiling with the process pinned to ``nproc`` CPUs —
    the same affinity mask the Spark measurement gets."""
    code = (
        "import sys, json; sys.path.insert(0, %r); "
        "from tools.scaling_bench import _pool_ceiling; "
        "print(json.dumps(_pool_ceiling(%d, %d)))" % (REPO, nproc, n_texts)
    )
    out = subprocess.run(
        ["taskset", "-c", f"0-{nproc - 1}", sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=600,
    )
    return float(out.stdout.strip().splitlines()[-1])


def _pool_ceiling(nproc: int, n_texts: int) -> float:
    import multiprocessing as mp

    barrier = mp.Barrier(nproc)
    q = mp.Queue()
    procs = [
        mp.Process(target=_ceiling_worker, args=(i, n_texts, barrier, q))
        for i in range(nproc)
    ]
    for pr in procs:
        pr.start()
    res = [q.get() for _ in range(nproc)]
    for pr in procs:
        pr.join()
    total = sum(r[0] for r in res)
    tmax = max(r[1] for r in res)
    return total / tmax


def measure_spark(ncores: int) -> dict:
    """Run bench.py in a subprocess (fresh JVM per measurement), pinned
    to ``ncores`` CPUs with taskset — in local mode the JVM's shuffle and
    Arrow threads otherwise spill onto the remaining cores, making
    local[N] an unfaithful stand-in for an N-core cluster."""
    out = subprocess.run(
        [
            "taskset",
            "-c",
            f"0-{ncores - 1}",
            sys.executable,
            os.path.join(REPO, "bench.py"),
            "--skip-secondary",
            "--master",
            f"local[{ncores}]",
        ],
        capture_output=True,
        text=True,
        timeout=900,
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    from html_parser_spark.plans.session import DEFAULT_CPUS

    n4 = DEFAULT_CPUS
    n = max(1, n4 // 4)

    # Each Spark run is BRACKETED by two ceiling measurements: a co-tenant
    # burst that starts mid-run (the failure mode of the two 2026-08-17
    # contaminated runs — the 32-core Spark landed in a 3-4x slowdown the
    # pre-run ceiling never saw) drags at least one bracket down.  A trial
    # counts as clean only if both its brackets reach >=0.85 of the
    # session-max ceiling at that parallelism; the reported number is the
    # best CLEAN Spark trial per config.
    trials = {n: [], n4: []}  # (c_pre, spark, c_post, steal)
    for trial in range(TRIALS):
        # alternate order across trials to decorrelate host noise
        order = (n, n4) if trial % 2 == 0 else (n4, n)
        for nc in order:
            c_pre = measure_ceiling(nc)
            parsed = measure_spark(nc)
            sp = parsed["value"]
            # steal DURING the winning pass (bench.py reports per-pass
            # steal) — brackets alone miss a burst shorter than the
            # Spark run itself (observed: 7k turns/s inside stable
            # 27.6k/28.3k brackets)
            secs = parsed.get("extract_passes_sec", [])
            st = parsed.get("extract_passes_steal", [])
            steal = st[secs.index(min(secs))] if secs and st else 0.0
            c_post = measure_ceiling(nc)
            trials[nc].append((c_pre, sp, c_post, steal))
            print(
                f"trial {trial} local[{nc}]: spark={sp:.0f}/s "
                f"ceiling={c_pre:.0f}/{c_post:.0f}/s steal={steal:.2f}",
                file=sys.stderr,
            )

    def pick(nc):
        cmax = max(c for t in trials[nc] for c in (t[0], t[2]))
        clean = [
            t
            for t in trials[nc]
            if min(t[0], t[2]) >= 0.85 * cmax and t[3] <= 0.10
        ]
        contaminated = not clean
        best = max(clean or trials[nc], key=lambda t: t[1])
        return best[1], cmax, contaminated

    t_n, c_n, dirty_n = pick(n)
    t_n4, c_n4, dirty_n4 = pick(n4)
    raw_eff = (t_n4 / t_n) / (n4 / n)
    norm_eff = (t_n4 / c_n4) / (t_n / c_n)
    out = {
        "metric": "scaling_efficiency",
        "n_cores": n,
        "n4_cores": n4,
        "spark_turns_per_sec": {str(n): t_n, str(n4): t_n4},
        "python_ceiling_turns_per_sec": {str(n): c_n, str(n4): c_n4},
        "spark_fraction_of_ceiling": {
            str(n): round(t_n / c_n, 3),
            str(n4): round(t_n4 / c_n4, 3),
        },
        "raw_efficiency": round(raw_eff, 3),
        "normalized_efficiency": round(norm_eff, 3),
        "trials": TRIALS,
        # True when NO trial at that parallelism had both ceiling brackets
        # within 15% of the session max — treat the numbers as a lower
        # bound measured under co-tenant interference, not evidence.
        "contaminated": {str(n): dirty_n, str(n4): dirty_n4},
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
