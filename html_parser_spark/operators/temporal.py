"""Temporal join operators Spark lacks natively: as-of join, range join.

Both are implemented in their *scalable* form — no cross product, no
per-row Python:

- **as-of join** — union + window scan.  Tag both sides, union, one
  shuffle on the key, then ``last_value(..., ignoreNulls)`` over an
  ordered window picks each right-side row's most recent left-side
  match.  O(n log n) per key group, single shuffle; this beats the
  naive `a.ts >= b.ts` theta-join (which Spark executes as
  BroadcastNestedLoopJoin) by orders of magnitude at scale.
- **range join** — time-bucketing.  Events are assigned to coarse
  buckets; each probe row joins only buckets overlapping its window
  (equi-join on (key, bucket), then exact filter) — the standard
  bucketed range-join decomposition that keeps the join an equi hash
  join.

Tie rule for the as-of join (deterministic, mirrored in the DuckDB
oracle): latest ``ts`` wins; same-instant left rows DO match
(``l.ts <= r.ts``); among equal ``ts`` the highest ``event_id`` wins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def asof_last_click(events: DataFrame) -> DataFrame:
    """For every 'purchase' event: the most recent prior (or
    simultaneous) 'click' by the same user."""
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts"),
        F.col("event_id"),
        F.lit(0).alias("kind"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit(1).alias("kind")
    )
    both = clicks.unionByName(purchases)
    # clicks sort before purchases at equal ts (kind asc) → a same-instant
    # click is visible to the purchase; ascending event_id → ties resolve
    # to the highest id, matching the oracle's ORDER BY ... DESC LIMIT 1
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("kind"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_id = F.when(F.col("kind") == 0, F.col("event_id"))
    joined = both.withColumn(
        "asof_click_id", F.last(click_id, ignorenulls=True).over(w)
    )
    return (
        joined.filter(F.col("kind") == 1)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "asof_click_id",
        )
        .orderBy("purchase_id")
    )


def asof_last_click_sql() -> str:
    return """
    WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
         p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
    SELECT p.event_id AS purchase_id, p.user_id,
           (SELECT c.event_id FROM c
            WHERE c.user_id = p.user_id AND c.ts <= p.ts
            ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) AS asof_click_id
    FROM p ORDER BY purchase_id
    """


SESSION_GAP_SEC = 1800  # 30-minute inactivity gap


def sessionize(events: DataFrame) -> DataFrame:
    """Gap-based sessionization: per-user session summaries where a
    >30-minute gap starts a new session.

    Classic scalable form: one shuffle on user_id, then lag → boundary
    flag → running sum = session number — no self-join, no state blowup.
    (The streaming twin would be ``F.session_window``; this is the batch
    backfill form.)"""
    sec = F.unix_timestamp("ts")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    is_new = (
        F.when(
            F.lag(sec).over(w).isNull()
            | ((sec - F.lag(sec).over(w)) > SESSION_GAP_SEC),
            1,
        )
        .otherwise(0)
    )
    tagged = events.select(
        "user_id",
        "event_id",
        sec.alias("sec"),
        F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("session_seq"),
    )
    return (
        tagged.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("sec").alias("start_sec"),
            F.max("sec").alias("end_sec"),
            (F.max("sec") - F.min("sec")).alias("duration_sec"),
        )
        .orderBy("user_id", "session_seq")
    )


def sessionize_sql() -> str:
    return f"""
    WITH flagged AS (
      SELECT user_id, event_id, ts,
             CAST(floor(epoch(ts)) AS BIGINT) AS sec,
             CASE WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w IS NULL
                    OR CAST(floor(epoch(ts)) AS BIGINT)
                       - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER w
                       > {SESSION_GAP_SEC}
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tagged AS (
      SELECT user_id, event_id, sec,
             -- DuckDB types a windowed SUM as HUGEINT, which lands in the
             -- driver canonicalizer as float64 and breaks the value hash
             -- (round-1 rel_sessionize FAIL); driver contract: ints as
             -- BIGINT both sides.
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM flagged
    )
    SELECT user_id, session_seq, count(*) AS n_events,
           min(sec) AS start_sec, max(sec) AS end_sec,
           max(sec) - min(sec) AS duration_sec
    FROM tagged GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
    """


BUCKET_SEC = 600  # 10-minute buckets = the range width → ≤2 buckets/probe


def range_join_activity(events: DataFrame) -> DataFrame:
    """For every 'purchase': how many events the same user produced in
    the preceding 10 minutes (exclusive of the purchase instant)."""
    ts_sec = F.unix_timestamp("ts")
    left = events.select(
        F.col("user_id").alias("l_user"),
        ts_sec.alias("l_sec"),
        (ts_sec / BUCKET_SEC).cast("long").alias("l_bucket"),
    )
    probe = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("r_user"),
        ts_sec.alias("r_sec"),
        (ts_sec / BUCKET_SEC).cast("long").alias("r_bucket"),
    )
    # each probe window [r_sec-600, r_sec) overlaps exactly buckets
    # {r_bucket-1, r_bucket} → explode probe to 2 bucket keys, equi-join
    probe2 = probe.withColumn(
        "b", F.explode(F.array(F.col("r_bucket") - 1, F.col("r_bucket")))
    )
    hits = probe2.join(
        left,
        (F.col("l_user") == F.col("r_user")) & (F.col("l_bucket") == F.col("b")),
    ).filter(
        (F.col("l_sec") >= F.col("r_sec") - BUCKET_SEC)
        & (F.col("l_sec") < F.col("r_sec"))
    )
    counts = hits.groupBy("purchase_id").agg(
        F.count(F.lit(1)).alias("n_recent_events")
    )
    return (
        probe.join(counts, "purchase_id", "left")
        .select(
            "purchase_id",
            F.col("r_user").alias("user_id"),
            F.coalesce("n_recent_events", F.lit(0)).alias("n_recent_events"),
        )
        .orderBy("purchase_id")
    )


def range_join_activity_sql() -> str:
    return f"""
    SELECT p.event_id AS purchase_id, p.user_id,
           (SELECT count(*) FROM events e
            WHERE e.user_id = p.user_id
              AND CAST(floor(epoch(e.ts)) AS BIGINT)
                    >= CAST(floor(epoch(p.ts)) AS BIGINT) - {BUCKET_SEC}
              AND CAST(floor(epoch(e.ts)) AS BIGINT)
                    <  CAST(floor(epoch(p.ts)) AS BIGINT)) AS n_recent_events
    FROM events p WHERE p.event_type = 'purchase'
    ORDER BY purchase_id
    """
