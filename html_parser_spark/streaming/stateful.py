"""Custom stateful streaming operator: gap-based sessionization with
``applyInPandasWithState``.

The batch twin is :func:`..operators.temporal.sessionize` (lag + running
sum — one shuffle, no state).  On a STREAM the same semantics need
per-key state that outlives a microbatch: each user's open session
(start, last-seen, count) is kept in the state store and a session row is
emitted when the 30-minute gap elapses in EVENT time, i.e. when the
watermark passes ``last_seen + gap`` (GroupStateTimeout.EventTimeTimeout
— deterministic w.r.t. the data, unlike processing-time timeouts).

Scale notes: state is O(open sessions) = O(active users), keyed and
shuffled once on user_id; the state store is RocksDB-spillable on a real
cluster; the watermark bounds both state size and out-of-order
tolerance.  This is the ``applyInPandasWithState`` surface of the brief
(custom stateful operators) — the windowed aggregations in
:mod:`stream` cover the built-in stateful path.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.temporal import SESSION_GAP_SEC  # the batch twin's gap —
# imported, not copied, so the stream≡batch twin test can never diverge
# on the constant

OUTPUT_SCHEMA = (
    "user_id long, session_start_sec long, session_end_sec long, "
    "n_events long, closed_by string"
)
STATE_SCHEMA = "start_sec long, end_sec long, n_events long"


def _sessionize_group(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    out = []
    if state.hasTimedOut:
        # watermark passed last_seen + gap with no new events → close
        start_sec, end_sec, n = state.get
        out.append((user_id, start_sec, end_sec, n, "timeout"))
        state.remove()
    else:
        rows = pd.concat(list(pdfs))
        secs = sorted(int(s) for s in rows["sec"])
        if state.exists:
            start_sec, end_sec, n = state.get
        else:
            start_sec = end_sec = None
            n = 0
        for s in secs:
            if start_sec is None:
                start_sec = end_sec = s
                n = 1
            elif s - end_sec > SESSION_GAP_SEC:
                out.append((user_id, start_sec, end_sec, n, "gap"))
                start_sec = end_sec = s
                n = 1
            else:
                end_sec = max(end_sec, s)
                n += 1
        wake_ms = (end_sec + SESSION_GAP_SEC) * 1000
        if wake_ms <= state.getCurrentWatermarkMs():
            # the watermark already passed this session's gap (its user
            # went quiet batches ago) — close now; a timeout in the past
            # is rejected by the engine
            out.append((user_id, start_sec, end_sec, n, "timeout"))
            state.remove()
        else:
            state.update((start_sec, end_sec, n))
            # wake when the watermark passes the gap after the last event
            state.setTimeoutTimestamp(wake_ms)
    if out:
        yield pd.DataFrame(
            out,
            columns=[
                "user_id",
                "session_start_sec",
                "session_end_sec",
                "n_events",
                "closed_by",
            ],
        )


# Event-time lateness the stream tolerates before the engine drops an
# event (bounds the state store).
WATERMARK = "10 minutes"


def sessionize_stream(events: DataFrame) -> DataFrame:
    """events stream (user_id, ts, …) → closed-session rows.

    ``events`` must be a streaming DataFrame with an event-time ``ts``
    column; late data beyond ``WATERMARK`` is dropped by the engine (the
    documented trade of bounded state)."""
    from pyspark.sql import functions as F

    # watermarks require TIMESTAMP (testdata parquet carries TIMESTAMP_NTZ)
    prepared = (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", WATERMARK)
        .select(
            "user_id",
            "ts",
            F.unix_timestamp("ts").alias("sec"),
        )
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


# ------------------------------------------------------- driver-gate form

_RUN_COUNTER = [0]


def run_sessionize_backfill(events: DataFrame) -> DataFrame:
    """Deterministic catch-up run of :func:`sessionize_stream` over the
    ``events`` table, returned as a batch DataFrame of NON-FINAL
    sessions — the driver-gate form (VERDICT r4 item 5).

    Determinism (same strategy as test_stateful_streaming.py): events
    are staged time-sorted into 4 parquet files with strictly
    increasing mtimes (the file source orders triggers by mtime), one
    file per trigger, ``Trigger.AvailableNow`` into a memory sink.
    Gap-closures don't depend on watermark timing, so every session
    except each user's LAST is emitted deterministically; final
    sessions may or may not close via event-time timeout depending on
    watermark progression, so the gate filters to sessions ending
    strictly before the user's last event — exactly the set the batch
    twin (temporal.sessionize) can reproduce in SQL.

    The staging pass is test/gate scaffolding (bounded by the gate
    events table), NOT the production path: a real backfill streams the
    landed files as-is and pays no re-sort.
    """
    import glob
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    spark = events.sparkSession
    stage = tempfile.mkdtemp(prefix="sess_stage_")
    # the memory sink holds the output; the staged files and the
    # checkpoint are scratch once the query has terminated
    try:
        flat = os.path.join(stage, "flat")
        os.makedirs(flat)
        # 4 contiguous time ranges -> 4 files; percent_rank avoids a
        # driver collect and keeps the split deterministic (ties broken
        # by event_id)
        from pyspark.sql import Window

        w = Window.orderBy("ts", "event_id")
        bucketed = events.withColumn(
            "_b", F.least(F.floor(F.percent_rank().over(w) * 4), F.lit(3))
        )
        k = 0
        for b in range(4):
            part_dir = os.path.join(stage, f"b{b}")
            part = bucketed.filter(F.col("_b") == b).drop("_b")
            part.coalesce(1).write.mode("overwrite").parquet(part_dir)
            for f in sorted(glob.glob(f"{part_dir}/part-*.parquet")):
                dst = os.path.join(flat, f"{k:03d}.parquet")
                shutil.copy(f, dst)
                os.utime(dst, (1_000_000_000 + k, 1_000_000_000 + k))
                k += 1

        _RUN_COUNTER[0] += 1
        qname = f"sess_gate_{_RUN_COUNTER[0]}"
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(flat)
        )
        q = (
            sessionize_stream(stream)
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(stage, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    emitted = spark.table(qname)

    last = events.groupBy("user_id").agg(
        F.max(F.unix_timestamp("ts")).alias("_last_sec")
    )
    return (
        emitted.join(last, "user_id")
        .filter(F.col("session_end_sec") < F.col("_last_sec"))
        .select("user_id", "session_start_sec", "session_end_sec", "n_events")
        .orderBy("user_id", "session_start_sec")
    )


def stream_sessionize_sql() -> str:
    """DuckDB twin: the batch sessionization recurrence (the same SQL
    family as temporal.sessionize_sql) restricted to sessions ending
    strictly before the user's last event — the deterministically
    emitted subset of the stream.  A state-handling bug in the stream
    (wrong counts, merged/split sessions, dropped gap closures) breaks
    row count or value hash."""
    return f"""
    WITH flagged AS (
      SELECT user_id, event_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w IS NULL
                    OR CAST(floor(epoch(ts)) AS BIGINT)
                       - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w
                       > {SESSION_GAP_SEC}
                  THEN 1 ELSE 0 END AS is_new,
             ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tagged AS (
      SELECT user_id, sec,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM flagged
    ),
    sess AS (
      SELECT user_id, session_seq,
             min(sec) AS session_start_sec, max(sec) AS session_end_sec,
             count(*) AS n_events
      FROM tagged GROUP BY user_id, session_seq
    ),
    mx AS (SELECT user_id, max(sec) AS last_sec FROM flagged GROUP BY user_id)
    SELECT s.user_id, s.session_start_sec, s.session_end_sec, s.n_events
    FROM sess s JOIN mx USING (user_id)
    WHERE s.session_end_sec < mx.last_sec
    ORDER BY s.user_id, s.session_start_sec
    """
