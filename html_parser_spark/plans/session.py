"""SparkSession factory with the engine's tuned defaults.

One place to set every scale-relevant knob so tests, bench, and the
spark-submit job all run the same plan shape (SURVEY.md §4.2):

- Arrow on for all pandas-UDF transfer (the executor↔Python boundary is
  Arrow record batches, never pickled rows).
- ``maxRecordsPerBatch`` bounds Python-worker memory: turn texts have a
  64 KB P99 tail, so 4096 rows/batch ≈ 8 MB typical / ~50 MB worst case.
- AQE on (partition coalescing + skew-join splitting) — handles *shuffle*
  skew at runtime; per-row compute skew inside the UDF is handled by the
  salted repartition in :mod:`..operators.pipeline` instead, because AQE
  cannot see Python compute time.
- ``shuffle_partitions`` is still set explicitly (AQE coalesces down from
  it, never up): cluster formula ≈ input_bytes / 128 MB; locally one
  partition per task slot.
- task slots: one per core of the CPU budget — ``SPARK_GRAFT_CPUS`` when
  set, else the cores this process may run on (``sched_getaffinity``),
  so an unset budget never oversubscribes a small box (a full budget
  beat a reserved one in 3 of 4 clean-window ABAB pairs on a 32-core
  box, BENCH.md r4); on a real cluster keep
  ``spark.executor.cores`` ≈ 0.9 × vcores only when profiling shows JVM
  service threads contended.  Explicit masters are honored verbatim.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))
)


def get_spark(
    app_name: str = "html-parser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    max_records_per_batch: int = 4096,
    extra_conf: dict | None = None,
) -> SparkSession:
    # an explicit master (tests, scaling harness) is honored verbatim;
    # the default uses one task slot per core of the CPU budget
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_CPUS
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(max_records_per_batch),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 128 MB parquet split target — same figure the shuffle-partition
        # formula uses, so scan and shuffle parallelism stay aligned
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # compress serialized RDD blocks (persist/localCheckpoint spill):
        # Spark writes block-store disk RAW by default, and the dedup
        # stage's persisted rep frames + per-round LP checkpoints carry
        # document text — measured ~4-6x on text for negligible CPU next
        # to the UDF stages; the difference between the sf10 corpus job
        # fitting the sandbox disk (~37 GB peak scratch) and disk-full
        # (>56 GB), BENCH.md round 4 fifth decade
        .config("spark.rdd.compress", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def free_local_checkpoint(df) -> bool:
    """Best-effort release of a ``localCheckpoint()``'ed DataFrame's
    storage blocks.

    ``DataFrame.unpersist()`` only clears CacheManager entries
    (``persist()``/``cache()``); a local checkpoint persists the
    underlying RDD directly and registers nothing there, so iterative
    operators that checkpoint per round (connected components, PageRank)
    would otherwise accumulate one label/rank table per round until the
    ContextCleaner gets around to it (verified empirically:
    ``getRDDStorageInfo`` keeps the blocks after ``unpersist()``).  The
    checkpointed RDD is reachable through the plan — a checkpoint
    returns a bare ``LogicalRDD`` node whose ``rdd`` field is the stored
    RDD — and unpersisting THAT frees the blocks immediately (non-
    blocking).  Returns True when the blocks were released; False (never
    raises) when the plan isn't the expected shape, in which case the
    ContextCleaner fallback still applies.
    """
    try:
        node = df._jdf.queryExecution().analyzed()
        if node.getClass().getSimpleName() != "LogicalRDD":
            return False
        node.rdd().unpersist(False)
        return True
    except Exception:
        return False


# one resident cached frame per operator key: builders that persist() an
# intermediate register it here; the NEXT call under the same key
# unpersists the previous frame, bounding a long-lived session's cache
# growth to one table per operator.  The swap is one call behind, so the
# frame a call returns stays persisted until the caller's action runs; a
# holder re-executing a STALE frame just recomputes (slower, never wrong).
_RESIDENT: dict = {}


def swap_persist(key: str, df):
    prev = _RESIDENT.get(key)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass
    p = df.persist()
    _RESIDENT[key] = p
    return p


def clear_residents() -> None:
    """Unpersist every :func:`swap_persist` resident now.  Stage/step
    boundaries that are done with the operators' cached intermediates
    (the corpus job after DEDUP, the profiler between steps) call this
    so the blocks don't ride executor storage into unrelated work."""
    for key in list(_RESIDENT):
        try:
            _RESIDENT.pop(key).unpersist()
        except Exception:
            pass
