"""Per-stage run record of the submit jobs.

Each stage of a job reports its input rows, output rows and wall time
as one JSON line on stdout, and :meth:`StageRecord.write` writes the
same lines to ``<output>/metrics.json``.  A stage that ``--resume``
skipped because its outputs were already committed carries
``"skipped": true``.
"""

from __future__ import annotations

import json
import os
import time


class StageRecord:
    def __init__(self) -> None:
        self.stages: list[dict] = []

    def stage(
        self, name: str, rows_in: int, rows_out: int, t0: float,
        skipped: bool = False,
    ) -> None:
        """Record stage ``name``, started at ``time.time()`` = ``t0``."""
        m = {
            "stage": name,
            "rows_in": rows_in,
            "rows_out": rows_out,
            "wall_sec": round(time.time() - t0, 2),
        }
        if skipped:
            m["skipped"] = True
        self.stages.append(m)
        print(json.dumps(m), flush=True)

    def write(self, output: str) -> None:
        os.makedirs(output, exist_ok=True)
        with open(os.path.join(output, "metrics.json"), "w") as f:
            for m in self.stages:
                f.write(json.dumps(m) + "\n")
