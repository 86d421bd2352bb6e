"""Per-stage run record of the submit jobs.

Each stage of a job reports its input rows, output rows, wall time and
the generated classes Spark compiled for it (``codegen_compiles``: the
change of :func:`..plans.session.codegen_compiles` since the previous
stage line, or since the record was made) as one JSON line on stdout,
and :meth:`StageRecord.write` writes the same lines to
``<output>/metrics.json``.  A stage that ``--resume`` skipped because
its outputs were already committed carries ``"skipped": true``.
"""

from __future__ import annotations

import json
import os
import time

from .session import codegen_compiles


class StageRecord:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.stages: list[dict] = []
        self._compiles = codegen_compiles(spark)

    def stage(
        self, name: str, rows_in: int, rows_out: int, t0: float,
        skipped: bool = False,
    ) -> None:
        """Record stage ``name``, started at ``time.time()`` = ``t0``."""
        compiles = codegen_compiles(self.spark)
        m = {
            "stage": name,
            "rows_in": rows_in,
            "rows_out": rows_out,
            "wall_sec": round(time.time() - t0, 2),
            "codegen_compiles": compiles - self._compiles,
        }
        self._compiles = compiles
        if skipped:
            m["skipped"] = True
        self.stages.append(m)
        print(json.dumps(m), flush=True)

    def write(self, output: str) -> None:
        os.makedirs(output, exist_ok=True)
        with open(os.path.join(output, "metrics.json"), "w") as f:
            for m in self.stages:
                f.write(json.dumps(m) + "\n")
