#!/usr/bin/env python3
"""Bulk fresh-seed differential sweep (reference binary vs our tokenizer).

The in-suite hypothesis tests run 900 examples per pass; round tallies
(BENCH.md) come from bulk sweeps like this one.  Inputs are composed
from the same atom pools the hypothesis strategies use — Data-state
markup soup plus direct-entry content-state cases (probe protocol v2).

Each worker owns one probe subprocess; hang/panic ledger inputs count
as matches by design (the reference never terminates on them — the
harness checks our parse_status classification instead).

Usage: python3 tools/golden_gen/sweep.py [n_data] [n_content] [seed]
       (defaults 12000 4000 <required seed>)
"""

from __future__ import annotations

import multiprocessing as mp
import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(os.path.dirname(HERE)), HERE]

from diff_runner import CONTENT_ATOMS, MARKUP_ATOMS  # noqa: E402

STATES = ["RCDATA", "RAWTEXT", "ScriptData", "PLAINTEXT", "CDATASection"]


def _gen_cases(n_data: int, n_content: int, seed: int) -> list:
    rng = random.Random(seed)
    cases = []
    for _ in range(n_data):
        s = "".join(rng.choice(MARKUP_ATOMS) for _ in range(rng.randint(0, 30)))
        cases.append((s, None))
    for _ in range(n_content):
        s = "".join(
            rng.choice(CONTENT_ATOMS) for _ in range(rng.randint(0, 25))
        )
        cases.append((s, rng.choice(STATES)))
    return cases


_probe = None


def _worker_init():
    global _probe
    from diff_runner import RefProbe

    _probe = RefProbe(timeout=5.0)


def _one(case):
    from diff_runner import compare_one

    s, state = case
    ok, detail = compare_one(_probe, s, state)
    return ok, None if ok else (s, state, detail)


def main() -> None:
    n_data = int(sys.argv[1]) if len(sys.argv) > 1 else 12000
    n_content = int(sys.argv[2]) if len(sys.argv) > 2 else 4000
    seed = int(sys.argv[3])
    cases = _gen_cases(n_data, n_content, seed)
    workers = min(8, mp.cpu_count())
    n_ok = 0
    mismatches = []
    with mp.Pool(workers, initializer=_worker_init) as pool:
        for i, (ok, mm) in enumerate(pool.imap_unordered(_one, cases, 64)):
            n_ok += ok
            if mm:
                mismatches.append(mm)
            if (i + 1) % 2000 == 0:
                print(f"{i + 1}/{len(cases)}: {len(mismatches)} mismatches",
                      file=sys.stderr, flush=True)
    print(
        f"seed={seed}: {n_ok}/{len(cases)} matched, "
        f"{len(mismatches)} mismatches"
    )
    for mm in mismatches[:10]:
        print("MISMATCH:", repr(mm[0])[:120], mm[1], str(mm[2])[:200])
    sys.exit(1 if mismatches else 0)


if __name__ == "__main__":
    main()
