"""SURVEY.md §2.9 — event-time operators, batch-first.

Each operator here is the oracle-checkable BATCH form over the `events`
fixture; the Structured Streaming twins (same semantics behind
readStream/watermark) live in ``streaming/`` and register as rows-mode.

Scale: all of these shuffle once on (user_id | window bucket); event-time
bucketing is embarrassingly parallel before the shuffle, so they scale
like plain groupBys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import t
from ..functions.deterministic import micros, sql_micros
from .registry import register


@register(
    "stream_tumbling",
    f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM({sql_micros("value")}) AS DOUBLE) / 1000000, 4) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F.window is the same operator the streaming twin uses with
    # withWatermark — batch/stream parity by construction.
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(micros(F.col("value"))).cast("double") / 1_000_000, 4
            ).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "stream_sliding",
    """
    WITH offsets AS (SELECT unnest([0, 1, 2, 3]) AS k)
    SELECT time_bucket(INTERVAL '15 minutes', ts)
             - k * INTERVAL '15 minutes' AS window_start,
           COUNT(*) AS n_events
    FROM events CROSS JOIN offsets
    GROUP BY 1
    ORDER BY 1
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 1h window sliding every 15m: each event lands in exactly 4 windows.
    # Spark expands via its window() table function; the oracle replays the
    # same epoch-aligned arithmetic with an explicit offset spine.
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
        .orderBy("window_start")
    )


@register(
    "stream_session",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER w <= INTERVAL 30 MINUTE
                  THEN 0 ELSE 1 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts, event_id,
             CAST(SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gaps-and-islands sessionization (30-min gap): the batch twin of
    # session_window(ts, '30 minutes'). LAG is NULL on the first event →
    # new_session=1, so session_ids start at 1 per user.
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    flagged = e.withColumn(
        "new_session",
        F.when(
            F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
            <= gap_us,
            0,
        ).otherwise(1),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    return (
        numbered.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id", "session_id")
    )


@register(
    "stream_dedup",
    "SELECT event_id, ts, user_id, event_type, value, props FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exactly-once dedup by event_id: the input is doubled (union all with
    # itself) then dropDuplicates restores one copy per id — equivalent to
    # the raw table, which is what the oracle states. The streaming twin
    # is dropDuplicatesWithinWatermark (streaming/twins.py).
    e = t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    return e.unionByName(e).dropDuplicates(["event_id"])


@register(
    "stream_stateful_funnel",
    """
    WITH s AS (
      SELECT user_id, MIN(ts) FILTER (WHERE event_type = 'signup') AS signup_ts
      FROM events GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS click_ts
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'click' AND e.ts > s.signup_ts
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS purchase_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
      GROUP BY e.user_id
    )
    SELECT s.user_id, s.signup_ts, c.click_ts, p.purchase_ts,
           1 + CASE WHEN c.click_ts IS NULL THEN 0 ELSE 1 END
             + CASE WHEN p.purchase_ts IS NULL THEN 0 ELSE 1 END AS funnel_depth
    FROM s LEFT JOIN c ON s.user_id = c.user_id
           LEFT JOIN p ON s.user_id = p.user_id
    WHERE s.signup_ts IS NOT NULL
    ORDER BY s.user_id
    """,
)
def stream_stateful_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Ordered funnel signup→click→purchase as a conditional-min chain.
    # The streaming twin implements the same state machine with
    # applyInPandasWithState.
    #
    # ONE shuffle total: the chain is three sequential window projections
    # over the SAME partitioning (user_id) — Catalyst reuses the single
    # exchange for all three windows AND the final per-user collapse
    # (the earlier aggregate-join-chain formulation shuffled 11 times).
    # Null semantics carry the chain: ts > NULL is NULL, so clicks before
    # (or without) a signup never produce a click_ts — identical to the
    # join form the oracle uses.
    e = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    w = W.partitionBy("user_id")
    is_ = lambda et: F.col("event_type") == et  # noqa: E731
    e = e.withColumn("signup_ts", F.min(F.when(is_("signup"), F.col("ts"))).over(w))
    e = e.withColumn(
        "click_ts",
        F.min(
            F.when(is_("click") & (F.col("ts") > F.col("signup_ts")), F.col("ts"))
        ).over(w),
    )
    e = e.withColumn(
        "purchase_ts",
        F.min(
            F.when(
                is_("purchase") & (F.col("ts") > F.col("click_ts")), F.col("ts")
            )
        ).over(w),
    )
    depth = (
        F.lit(1)
        + F.when(F.col("click_ts").isNull(), 0).otherwise(1)
        + F.when(F.col("purchase_ts").isNull(), 0).otherwise(1)
    )
    return (
        e.groupBy("user_id")
        .agg(
            F.first("signup_ts").alias("signup_ts"),
            F.first("click_ts").alias("click_ts"),
            F.first("purchase_ts").alias("purchase_ts"),
        )
        .filter(F.col("signup_ts").isNotNull())
        .select(
            "user_id", "signup_ts", "click_ts", "purchase_ts",
            depth.alias("funnel_depth"),
        )
        .orderBy("user_id")
    )


_DYN_SESSION_ORACLE = """
WITH iv AS (
  SELECT user_id, ts, event_id,
         ts + CASE WHEN event_type = 'purchase'
                   THEN INTERVAL 60 MINUTE ELSE INTERVAL 30 MINUTE END AS te
  FROM events
),
x AS (
  SELECT user_id, ts, event_id, te,
         MAX(te) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM iv
),
flagged AS (
  SELECT user_id, ts, event_id, te,
         CASE WHEN prev_end IS NULL OR ts >= prev_end THEN 1 ELSE 0 END
           AS new_session
  FROM x
),
numbered AS (
  SELECT user_id, ts, te,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(te) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM numbered
GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


@register("stream_session_dynamic_gap", _DYN_SESSION_ORACLE)
def stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``session_window`` with a DYNAMIC per-event gap (Spark 3.2+
    surface): purchases hold a session open for 60 minutes, everything
    else 30 — the "high-intent events extend the session" rule real
    funnels use, inexpressible with a constant gap. Each event spans
    [ts, ts+gap(event)) and overlapping spans merge, which is interval
    union, not lag-vs-gap — the oracle computes the same merge with a
    running MAX(end) over (ts, event_id) order (new session iff ts >=
    every previous end; Spark's window end is exclusive, so an event
    landing exactly on the boundary starts a new session in both
    engines). Plan: one shuffle on user_id into the native
    session-window aggregation — state is per-open-session, which is
    what survives on a 100 TB stream (same operator works under
    readStream + watermark).
    """
    e = t(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("60 minutes")
    ).otherwise(F.lit("30 minutes"))
    return (
        e.groupBy(
            "user_id", F.session_window("ts", gap).alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )
