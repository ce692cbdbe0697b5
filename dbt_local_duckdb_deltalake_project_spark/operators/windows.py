"""SURVEY.md §2.5 — window functions.

Each window = one shuffle on the partition key + local sort. Determinism
discipline: every ORDER BY inside a window carries a unique tiebreak
column, and double accumulations over frames use the decimal detour
(native double window sums use segment trees whose addition order is
engine-dependent — functions/deterministic.py rationale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import t
from ..functions.deterministic import cents, micros, sql_cents, sql_micros
from .registry import register


@register(
    "win_ranking",
    """
    SELECT o_orderkey, o_orderstatus,
           ROW_NUMBER()   OVER w AS rn,
           RANK()         OVER w AS rnk,
           DENSE_RANK()   OVER w AS drnk,
           ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
           NTILE(4)       OVER w AS quartile,
           ROUND(CUME_DIST() OVER w, 6) AS cdist
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice DESC, o_orderkey ASC)
    """,
)
def win_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
    )


@register(
    "win_lag_lead",
    """
    SELECT event_id, user_id, ts,
           LAG(event_type, 1, 'none')  OVER w AS prev_type,
           LEAD(event_type, 1, 'none') OVER w AS next_type,
           LAG(value, 2) OVER w AS value_2back
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.lag("event_type", 1, "none").over(w).alias("prev_type"),
        F.lead("event_type", 1, "none").over(w).alias("next_type"),
        F.lag("value", 2).over(w).alias("value_2back"),
    )


@register(
    "win_first_last_nth",
    """
    SELECT o_orderkey, o_custkey,
           FIRST_VALUE(o_orderkey) OVER w AS first_order,
           LAST_VALUE(o_orderkey)  OVER w AS last_order,
           NTH_VALUE(o_orderkey, 2) OVER w AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate ASC, o_orderkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def win_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Frame made explicit: the default frame stops at CURRENT ROW, which
    # silently turns last_value into "current value" — classic pitfall.
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    )


@register(
    "win_running_sum",
    f"""
    SELECT o_orderkey, o_custkey, o_orderdate,
           ROUND(CAST(SUM({sql_micros("o_totalprice")}) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 1000000, 2) AS running_spend
    FROM orders
    """,
)
def win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.round(
            F.sum(micros(F.col("o_totalprice"))).over(w).cast("double")
            / 1_000_000,
            2,
        ).alias("running_spend"),
    )


@register(
    "win_moving_avg_rows",
    f"""
    SELECT o_orderkey, o_custkey,
           ROUND(CAST(SUM({sql_micros("o_totalprice")}) OVER w AS DOUBLE)
                 / 1000000 / COUNT(o_totalprice) OVER w, 6) AS moving_avg_7
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate ASC, o_orderkey ASC
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def win_moving_avg_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(-6, W.currentRow)
    )
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(
            F.sum(micros(F.col("o_totalprice"))).over(w).cast("double")
            / 1_000_000
            / F.count("o_totalprice").over(w),
            6,
        ).alias("moving_avg_7"),
    )


@register(
    "win_range_frame",
    f"""
    SELECT event_id, user_id, ts,
           ROUND(CAST(SUM({sql_micros("value")}) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 3 DAYS PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 1000000, 4) AS value_3d
    FROM events
    """,
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Value-range frame over event time. Spark range frames need a numeric
    # ORDER BY key → microseconds since epoch; 3 days = 259.2e9 µs. RANGE
    # includes all ts-ties in both engines, so no tiebreak column (it
    # would change the frame semantics).
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3 * 86400 * 1_000_000, 0)
    )
    return t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.round(
            F.sum(micros(F.col("value"))).over(w).cast("double") / 1_000_000,
            4,
        ).alias("value_3d"),
    )


@register(
    "win_topk_per_group",
    """
    SELECT c_mktsegment, c_custkey, c_acctbal
    FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             RANK() OVER (PARTITION BY c_mktsegment
                          ORDER BY c_acctbal DESC, c_custkey ASC) AS r
      FROM customer
    ) WHERE r <= 3
    ORDER BY c_mktsegment, c_acctbal DESC, c_custkey
    """,
)
def win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    # QUALIFY idiom. At 100 TB: Spark pushes a per-partition rank limit
    # (WindowGroupLimit) before the shuffle, so only ~k rows per group per
    # task move — verified in plan tests.
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        t(spark, sf_dir, "customer")
        .withColumn("r", F.rank().over(w))
        .filter(F.col("r") <= 3)
        .select("c_mktsegment", "c_custkey", "c_acctbal")
        .orderBy("c_mktsegment", F.col("c_acctbal").desc(), "c_custkey")
    )


@register(
    "win_distribution",
    """
    SELECT o_orderkey,
           o_orderstatus,
           ROUND(PERCENT_RANK() OVER w, 9) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 9) AS cume,
           NTILE(4) OVER w AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    ORDER BY o_orderkey
    """,
)
def win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: percent_rank / cume_dist / ntile —
    the quantile-bucketing trio (price-position scoring, quartile
    assignment). One shuffle on the partition key; the unique
    (o_totalprice, o_orderkey) tiebreak makes every rank — and therefore
    the two ratios, each a single IEEE division of exact integers —
    deterministic across engines. ntile's remainder distribution
    (earlier buckets get the extra rows) matches between Spark and
    DuckDB by the standard's definition.
    """
    w = (
        W.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    )
    return (
        t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 9).alias("cume"),
            # long: DuckDB NTILE yields BIGINT, Spark int — align widths
            F.ntile(4).over(w).cast("long").alias("quartile"),
        )
        .orderBy("o_orderkey")
    )


@register(
    "win_gap_fill",
    """
    SELECT event_id, user_id, ts,
           last_value(
             CASE WHEN event_type = 'error' THEN NULL ELSE value END
             IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS value_filled
    FROM events
    """,
)
def win_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Time-series gap fill (LOCF): readings from 'error' events are
    # treated as missing and forward-filled with the user's last good
    # value — last(..., ignorenulls) over a running frame. Values pass
    # through unmodified (no arithmetic), so doubles compare exactly.
    # One shuffle on user_id; the running frame is a single in-order
    # pass per partition, and a leading gap (no prior good reading)
    # stays NULL in both engines. At 100 TB this is the standard
    # sessionized-sensor densification: partition count scales with
    # users, state per row is one value.
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    e = t(spark, sf_dir, "events")
    reading = F.when(F.col("event_type") == "error", None).otherwise(
        F.col("value")
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.last(reading, ignorenulls=True).over(w).alias("value_filled"),
    )


_ZSCORE_ORACLE = f"""
WITH v AS (
  SELECT event_id, user_id, ts,
         {sql_cents("value")} AS cents
  FROM events
),
w AS (
  SELECT event_id, user_id, cents,
         SUM(cents) OVER win AS s,
         SUM(cents * cents) OVER win AS ssq,
         COUNT(*) OVER win AS n
  FROM v
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id,
       CAST(n AS BIGINT) AS n_window,
       CASE WHEN n >= 3
             AND (CAST(ssq AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) > 0
            THEN (CAST(cents AS DOUBLE) - CAST(s AS DOUBLE) / n)
                 / sqrt((CAST(ssq AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                        / (n - 1))
       END AS zscore,
       CASE WHEN n >= 3
             AND (CAST(ssq AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) > 0
            THEN abs((CAST(cents AS DOUBLE) - CAST(s AS DOUBLE) / n)
                 / sqrt((CAST(ssq AS DOUBLE)
                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                        / (n - 1))) > 2.5
       END AS is_anomaly
FROM w
ORDER BY user_id, event_id
"""


@register("win_rolling_zscore", _ZSCORE_ORACLE)
def win_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flag — the time-series monitoring staple:
    each event scored against its user's trailing 7-reading window. The
    determinism trick extends deterministic.py to VARIANCE: the frame
    keeps exact integer Σx and Σx² over 2-dp cents (bounded: 7 readings
    × 33k cents → Σx² ~ 5e10 ≪ 2^63), and mean/var/z are then derived
    with an IDENTICAL chain of double ops on both engines — bit-equal
    inputs + same op order = bit-equal doubles, no epsilon. Windows with
    n < 3 or zero variance emit NULL (no z is defined there). One
    shuffle on user_id; both running sums come from the same frame, so
    Catalyst evaluates one window node. At 100 TB this is the
    per-entity-sorted scan shape that motivates bucketing event tables
    by user.
    """
    v = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        cents(F.col("value")).alias("cents"),
    )
    win = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, 0)
    )
    w = v.select(
        "event_id",
        "user_id",
        "cents",
        F.sum("cents").over(win).alias("s"),
        F.sum(F.col("cents") * F.col("cents")).over(win).alias("ssq"),
        F.count(F.lit(1)).over(win).alias("n"),
    )
    num = F.col("ssq").cast("double") - F.col("s").cast("double") * F.col(
        "s"
    ).cast("double") / F.col("n")
    z = (F.col("cents").cast("double") - F.col("s").cast("double") / F.col("n")) / F.sqrt(
        num / (F.col("n") - 1)
    )
    defined = (F.col("n") >= 3) & (num > 0)
    return w.select(
        "event_id",
        "user_id",
        F.col("n").alias("n_window"),
        F.when(defined, z).alias("zscore"),
        F.when(defined, F.abs(z) > 2.5).alias("is_anomaly"),
    ).orderBy("user_id", "event_id")


_CUMDISTINCT_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN ROW_NUMBER() OVER (
                PARTITION BY user_id, event_type
                ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS first_seen
  FROM events
)
SELECT event_id, user_id,
       CAST(SUM(first_seen) OVER (
              PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS distinct_types_so_far
FROM flagged
ORDER BY user_id, event_id
"""


@register("win_cumulative_distinct", _CUMDISTINCT_ORACLE)
def win_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) per partition — SQL has no distinct-frame
    aggregate, and the naive self-join is O(n²) per partition. The
    scalable rewrite is the FIRST-SEEN FLAG: rank each (user, type)
    occurrence, flag rank 1, and a plain running SUM of flags IS the
    cumulative distinct count. Two window passes over the same user_id
    shuffle (Catalyst keeps the partitioning between them — one
    exchange), both codegen, any partition size. The engagement-breadth
    metric ("how many distinct event types has this user produced so
    far") every growth dashboard wants.
    """
    e = t(spark, sf_dir, "events")
    first_seen = (
        F.row_number().over(
            W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
        )
        == 1
    ).cast("long")
    running = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        e.select(
            "event_id",
            "user_id",
            "ts",
            first_seen.alias("first_seen"),
        )
        .select(
            "event_id",
            "user_id",
            F.sum("first_seen").over(running).alias("distinct_types_so_far"),
        )
        .orderBy("user_id", "event_id")
    )


_GAPS_ISLANDS_ORACLE = """
WITH r AS (
  SELECT user_id, event_type, ts, event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn_all,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn_type
  FROM events
)
SELECT user_id, event_type,
       CAST(MIN(ts) AS TIMESTAMP) AS island_start,
       CAST(MAX(ts) AS TIMESTAMP) AS island_end,
       COUNT(*) AS run_len,
       MIN(event_id) AS first_event_id
FROM r
GROUP BY user_id, event_type, rn_all - rn_type
ORDER BY user_id, first_event_id
"""


@register("win_gaps_islands", _GAPS_ISLANDS_ORACLE)
def win_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: group CONSECUTIVE same-type events per user into
    runs ("the user clicked 5 times in a row") via the classic
    row-number-difference rewrite — rn over the user minus rn over
    (user, type) is constant exactly within a consecutive run, so a
    plain groupBy on it recovers the islands. No self-join, no
    iteration: two window passes that share the user_id shuffle
    (Catalyst plans one exchange; the second sort is local) plus one
    aggregation, all codegen — the run-length analysis every
    clickstream/quality pipeline needs, at any partition size.
    Tiebreak (ts, event_id) is unique so ranks are engine-identical.
    """
    e = t(spark, sf_dir, "events")
    rn_all = F.row_number().over(
        W.partitionBy("user_id").orderBy("ts", "event_id")
    )
    rn_type = F.row_number().over(
        W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    )
    return (
        e.select(
            "user_id", "event_type", "ts", "event_id",
            (rn_all - rn_type).alias("island_key"),
        )
        .groupBy("user_id", "event_type", "island_key")
        .agg(
            F.min("ts").alias("island_start"),
            F.max("ts").alias("island_end"),
            F.count(F.lit(1)).alias("run_len"),
            F.min("event_id").alias("first_event_id"),
        )
        .drop("island_key")
        .orderBy("user_id", "first_event_id")
    )


_SESSIONIZE_ORACLE = """
WITH l AS (
  SELECT user_id, event_id, ts,
         LAG(ts) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS prev_ts
  FROM events
), f AS (
  SELECT user_id, event_id, ts,
         CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM l
), s AS (
  SELECT user_id, event_id, ts,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_no
  FROM f
)
SELECT user_id, session_no,
       CAST(MIN(ts) AS TIMESTAMP) AS session_start,
       CAST(MAX(ts) AS TIMESTAMP) AS session_end,
       COUNT(*) AS n_events,
       epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us
FROM s
GROUP BY user_id, session_no
ORDER BY user_id, session_no
"""


@register("win_sessionize", _SESSIONIZE_ORACLE)
def win_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min inactivity gap): flag a session break
    where the gap to the previous event exceeds the threshold, then a
    running sum of break flags IS the session id — lag + cumsum, the
    standard batch rewrite of the streaming session window
    (stream_session is the event-time sibling). Both window passes ride
    one user_id shuffle; gap math is exact integer micros so the break
    decision cannot flip on float rounding. Linear per partition at any
    scale; a skewed mega-user is bounded by that user's own history,
    not the corpus.
    """
    gap_us = 30 * 60 * 1_000_000
    e = t(spark, sf_dir, "events")
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros("ts")).over(order)
    new_sess = F.when(
        prev_us.isNull() | (F.unix_micros("ts") - prev_us > gap_us), 1
    ).otherwise(0)
    running = order.rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        e.select(
            "user_id", "event_id", "ts", new_sess.alias("new_sess")
        )
        .select(
            "user_id", "event_id", "ts",
            F.sum("new_sess").over(running).alias("session_no"),
        )
        .groupBy("user_id", "session_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            .alias("duration_us"),
        )
        .orderBy("user_id", "session_no")
    )


# EWMA weights ∝ 0.8^k for lags k=0..9, as exact integers (0.8 = 4/5, so
# 4^k·5^(9-k) keeps the exact ratio with max weight ~2e6 — integer
# arithmetic never overflows: 10 lags × 2e6 weight × ≤1e5 cents ≈ 2e12,
# and the final ×10000 micros upscale stays under 2^63).
_EWMA_W = [4**k * 5 ** (9 - k) for k in range(10)]

_EWMA_ORACLE = f"""
WITH x AS (
  SELECT user_id, event_id,
         {sql_cents("value")} AS v_c
  FROM events
), l AS (
  SELECT user_id, event_id, v_c,
         {", ".join(f"LAG(v_c, {k}) OVER (PARTITION BY user_id ORDER BY event_id) AS l{k}" for k in range(1, 10))}
  FROM x
)
SELECT user_id, event_id, v_c AS value_cents,
       CAST((10000 * ({_EWMA_W[0]} * v_c + {" + ".join(f"{_EWMA_W[k]} * COALESCE(l{k}, 0)" for k in range(1, 10))}))
            // ({_EWMA_W[0]} + {" + ".join(f"{_EWMA_W[k]} * CASE WHEN l{k} IS NOT NULL THEN 1 ELSE 0 END" for k in range(1, 10))})
            AS BIGINT) AS ewma_micros
FROM l
ORDER BY user_id, event_id
"""


@register("win_ewma", _EWMA_ORACLE)
def win_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α=0.2) per user — the
    time-series smoothing every metrics pipeline wants. The recursive
    definition doesn't distribute, so this is the standard truncated
    rewrite: a 10-lag weighted sum with weights ∝ (1-α)^k, renormalized
    over the lags actually present (contributions beyond lag 9 are
    < 0.8^10 ≈ 11% of a fresh sample and are cut by construction —
    documented finite-memory EWMA). All ten lags ride ONE window sort
    (Catalyst plans a single user_id exchange + sort for identical
    window specs), weights are exact integers (0.8 = 4/5 → 4^k·5^(9-k))
    over cent-quantized values, and the floor division runs on positive
    operands — Spark DIV and DuckDB // agree bit-for-bit, nothing
    floats. Linear per partition at any scale.
    """
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("event_id")
    v = cents(F.col("value"))
    x = e.select("user_id", "event_id", v.alias("v_c"))
    lags = [F.col("v_c")] + [
        F.lag("v_c", k).over(w) for k in range(1, 10)
    ]
    num = sum(
        (F.lit(_EWMA_W[k]) * F.coalesce(lags[k], F.lit(0)) for k in range(10)),
        start=F.lit(0),
    )
    den = sum(
        (
            F.lit(_EWMA_W[k])
            * F.when(lags[k].isNotNull(), 1).otherwise(0)
            for k in range(10)
        ),
        start=F.lit(0),
    )
    return x.select(
        "user_id",
        "event_id",
        F.col("v_c").alias("value_cents"),
        (F.lit(10000) * num)
        .cast("long")
        .alias("_num"),
        den.cast("long").alias("_den"),
    ).select(
        "user_id",
        "event_id",
        "value_cents",
        F.expr("_num DIV _den").alias("ewma_micros"),
    ).orderBy("user_id", "event_id")


_RATIO_ORACLE = f"""
WITH x AS (
  SELECT o_custkey, o_orderkey,
         {sql_micros("o_totalprice")} AS price_m
  FROM orders
), s AS (
  SELECT o_custkey, o_orderkey, price_m,
         CAST(SUM(price_m) OVER (PARTITION BY o_custkey) AS BIGINT)
           AS cust_total_m,
         CAST(SUM(price_m) OVER () AS BIGINT) AS grand_total_m
  FROM x
)
SELECT o_custkey, o_orderkey,
       CAST(price_m AS DOUBLE) / 1000000 AS price,
       CAST(price_m AS DOUBLE) / CAST(cust_total_m AS DOUBLE)
         AS pct_of_customer,
       CAST(price_m AS DOUBLE) / CAST(grand_total_m AS DOUBLE)
         AS pct_of_total
FROM s
ORDER BY o_custkey, o_orderkey
"""


@register("win_ratio_to_report", _RATIO_ORACLE)
def win_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each order as a share of its customer's spend and
    of the grand total — the two-level contribution breakdown every
    revenue report carries. Both denominators accumulate as exact
    scaled longs so the shares divide bit-identical integers on both
    engines. The customer-level denominator is an unframed window sum
    (one shuffle on o_custkey, group size = orders per customer); the
    GRAND total is a broadcast scalar — a map-side-combined global agg
    crossJoined back (the llm_tfidf pattern, r6 rewrite) — NOT an
    empty-partition window, which would funnel every order row through
    one task at 100 TB.
    """
    o = t(spark, sf_dir, "orders")
    x = o.select(
        "o_custkey", "o_orderkey",
        micros(F.col("o_totalprice"))
        .alias("price_m"),
    )
    by_cust = W.partitionBy("o_custkey")
    totals = x.agg(F.sum("price_m").alias("grand_total_m"))
    s = x.select(
        "o_custkey", "o_orderkey", "price_m",
        F.sum("price_m").over(by_cust).alias("cust_total_m"),
    ).crossJoin(F.broadcast(totals))
    return s.select(
        "o_custkey", "o_orderkey",
        (F.col("price_m").cast("double") / 1_000_000).alias("price"),
        (
            F.col("price_m").cast("double")
            / F.col("cust_total_m").cast("double")
        ).alias("pct_of_customer"),
        (
            F.col("price_m").cast("double")
            / F.col("grand_total_m").cast("double")
        ).alias("pct_of_total"),
    ).orderBy("o_custkey", "o_orderkey")


_PARETO_ORACLE = f"""
WITH spend AS (
  SELECT o_custkey,
         CAST(SUM({sql_micros("o_totalprice")}) AS BIGINT)
           AS spend_m
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT o_custkey, spend_m,
         ROW_NUMBER() OVER (ORDER BY spend_m DESC, o_custkey) AS rk,
         CAST(SUM(spend_m) OVER (ORDER BY spend_m DESC, o_custkey
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_m,
         CAST(SUM(spend_m) OVER () AS BIGINT) AS total_m
  FROM spend
)
SELECT o_custkey, CAST(rk AS BIGINT) AS rk,
       CAST(spend_m AS DOUBLE) / 1000000 AS spend,
       CAST(cum_m AS DOUBLE) / CAST(total_m AS DOUBLE) AS cum_share,
       (cum_m * 5 <= total_m * 4) AS in_top80_revenue
FROM ranked
ORDER BY rk
"""


@register("win_pareto_analysis", _PARETO_ORACLE)
def win_pareto_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC analysis — customers ranked by spend with cumulative
    revenue share and the "which customers make up the first 80% of
    revenue" flag (the 80/20 cut every account-tiering exercise runs).
    Cumulative sums ride exact scaled longs; the 80% membership test is
    integer cross-multiplication (cum·5 ≤ total·4), so no boundary row
    can flip on float rounding.

    Scale-safe two-pass cumsum (r6 rewrite — no single-partition
    WindowExec anywhere in the plan): (1) range-partition the per-
    customer aggregate on the global sort key and stamp
    spark_partition_id (localCheckpoint pins the nondeterministic pid
    assignment so every consumer sees the same one); (2) running
    sum/rank WITHIN each pid via a pid-partitioned window — group size
    is bounded by n/P, distributed; (3) per-pid totals fold into
    prefix offsets with a P×P theta self-join (P = partition count,
    O(1) in data); (4) offsets and the grand total broadcast back.
    cum = local_cum + offset, exact longs end-to-end.
    """
    o = t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(
            micros(F.col("o_totalprice"))
        ).alias("spend_m")
    )
    parts = (
        spend.repartitionByRange(
            16, F.col("spend_m").desc(), F.col("o_custkey").asc()
        )
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    wl = W.partitionBy("pid").orderBy(F.col("spend_m").desc(), "o_custkey")
    local = parts.select(
        "o_custkey",
        "spend_m",
        "pid",
        F.row_number().over(wl).cast("long").alias("lrk"),
        F.sum("spend_m")
        .over(wl.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("lcum_m"),
    )
    pstats = parts.groupBy("pid").agg(
        F.sum("spend_m").alias("psum"), F.count(F.lit(1)).alias("pcnt")
    )
    offsets = (
        pstats.alias("a")
        .join(pstats.alias("b"), F.col("b.pid") < F.col("a.pid"), "left")
        .groupBy(F.col("a.pid").alias("pid"))
        .agg(
            F.coalesce(F.sum("b.psum"), F.lit(0)).cast("long").alias("off_m"),
            F.coalesce(F.sum("b.pcnt"), F.lit(0)).cast("long").alias("off_rk"),
        )
    )
    total = parts.agg(F.sum("spend_m").alias("total_m"))
    ranked = (
        local.join(F.broadcast(offsets), "pid")
        .crossJoin(F.broadcast(total))
        .select(
            "o_custkey",
            "spend_m",
            (F.col("lrk") + F.col("off_rk")).alias("rk"),
            (F.col("lcum_m") + F.col("off_m")).alias("cum_m"),
            "total_m",
        )
    )
    return ranked.select(
        "o_custkey", "rk",
        (F.col("spend_m").cast("double") / 1_000_000).alias("spend"),
        (
            F.col("cum_m").cast("double") / F.col("total_m").cast("double")
        ).alias("cum_share"),
        (F.col("cum_m") * 5 <= F.col("total_m") * 4).alias(
            "in_top80_revenue"
        ),
    ).orderBy("rk")


_INTERVAL_MERGE_ORACLE = """
WITH iv AS (
  SELECT o_custkey,
         datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
           AS start_d,
         datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
           + (o_orderkey % 25) + 3 AS end_d,
         o_orderkey
  FROM orders
), flagged AS (
  SELECT o_custkey, start_d, end_d, o_orderkey,
         CASE WHEN start_d > COALESCE(MAX(end_d) OVER (
                PARTITION BY o_custkey ORDER BY start_d, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
              ), -1)
              THEN 1 ELSE 0 END AS new_grp
  FROM iv
), grouped AS (
  SELECT o_custkey, start_d, end_d,
         CAST(SUM(new_grp) OVER (
           PARTITION BY o_custkey ORDER BY start_d, o_orderkey
           ROWS UNBOUNDED PRECEDING
         ) AS BIGINT) AS grp
  FROM flagged
)
SELECT o_custkey, grp,
       MIN(start_d) AS merged_start,
       MAX(end_d) AS merged_end,
       COUNT(*) AS n_intervals
FROM grouped
GROUP BY o_custkey, grp
ORDER BY o_custkey, grp
"""


@register("win_interval_merge", _INTERVAL_MERGE_ORACLE)
def win_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping intervals per key — coverage windows from
    per-order service periods (the genomics/maintenance/uptime
    staple, and the interval cousin of gaps-and-islands). The
    classic O(n log n) rewrite: sort intervals, flag a NEW group
    exactly where an interval's start clears the running MAX of all
    PRECEDING ends (a touching-or-overlapping interval doesn't), and
    a running sum of flags numbers the merged groups — two window
    passes over ONE per-key sort plus a final groupBy, no self-join,
    no recursion. All day arithmetic is integer; (start, orderkey)
    tiebreaks make the flag sequence engine-identical. Skew bound =
    the largest single key's interval count, same as any windowed op.
    """
    o = t(spark, sf_dir, "orders")
    iv = o.select(
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01")).alias(
            "start_d"
        ),
        (
            F.datediff(F.col("o_orderdate"), F.lit("1995-01-01"))
            + (F.col("o_orderkey") % 25)
            + 3
        ).alias("end_d"),
        "o_orderkey",
    )
    order = W.partitionBy("o_custkey").orderBy("start_d", "o_orderkey")
    prev_max_end = F.max("end_d").over(
        order.rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = iv.select(
        "o_custkey", "start_d", "end_d", "o_orderkey",
        F.when(
            F.col("start_d") > F.coalesce(prev_max_end, F.lit(-1)), 1
        ).otherwise(0).alias("new_grp"),
    )
    grouped = flagged.select(
        "o_custkey", "start_d", "end_d",
        F.sum("new_grp")
        .over(order.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("grp"),
    )
    return (
        grouped.groupBy("o_custkey", "grp")
        .agg(
            F.min("start_d").cast("long").alias("merged_start"),
            F.max("end_d").cast("long").alias("merged_end"),
            F.count(F.lit(1)).alias("n_intervals"),
        )
        .orderBy("o_custkey", "grp")
    )


_YOY_ORACLE = f"""
WITH yearly AS (
  SELECT o_orderpriority,
         CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
         CAST(SUM({sql_cents("o_totalprice")}) AS BIGINT)
           AS rev_c
  FROM orders GROUP BY o_orderpriority, EXTRACT(year FROM o_orderdate)
)
SELECT o_orderpriority, yr,
       CAST(rev_c AS DOUBLE) / 100 AS revenue,
       CAST(LAG(rev_c) OVER w AS BIGINT) AS prev_rev_c,
       CASE WHEN LAG(rev_c) OVER w IS NOT NULL
            THEN (CAST(rev_c AS DOUBLE)
                  - CAST(LAG(rev_c) OVER w AS DOUBLE))
                 / CAST(LAG(rev_c) OVER w AS DOUBLE)
       END AS yoy_growth
FROM yearly
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY yr)
ORDER BY o_orderpriority, yr
"""


@register("win_yoy_growth", _YOY_ORACLE)
def win_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth per segment — aggregate to (segment, year)
    in exact scaled-long cents FIRST, then lag-compare on the tiny
    yearly frame: the windowed pass runs over |segments|×|years| rows,
    not the fact table, which is the composition order that keeps
    period-over-period reporting O(groups) after one fact scan. Growth
    divides two bit-identical integers as doubles; first year is NULL
    by definition. Years via EXTRACT, engine-identical on timestamps.
    Cents (not micros) because the surfaced lag column must clear the
    float64 2^53 exactness bound on the driver's fetchdf path at large
    SF: cents bound |prev_rev_c| ~1.2e11 × SF/0.1 (safe to ~sf75000),
    while micros crossed 2^53 near sf1. o_totalprice is 2-dp money, so
    ×100 is already exact; revenue and yoy_growth are bit-identical to
    the micros form (scale-invariant quotients of the same rational).
    """
    o = t(spark, sf_dir, "orders")
    yearly = o.groupBy(
        "o_orderpriority", F.year("o_orderdate").cast("long").alias("yr")
    ).agg(
        F.sum(cents(F.col("o_totalprice"))).alias("rev_c")
    )
    w = W.partitionBy("o_orderpriority").orderBy("yr")
    prev = F.lag("rev_c").over(w)
    return yearly.select(
        "o_orderpriority", "yr",
        (F.col("rev_c").cast("double") / 100).alias("revenue"),
        prev.alias("prev_rev_c"),
        F.when(
            prev.isNotNull(),
            (F.col("rev_c").cast("double") - prev.cast("double"))
            / prev.cast("double"),
        ).alias("yoy_growth"),
    ).orderBy("o_orderpriority", "yr")


_IGNORE_NULLS_ORACLE = """
WITH base AS (
  SELECT event_id, user_id, ts,
         CASE WHEN event_type = 'click' THEN NULL ELSE value END AS vn
  FROM events
)
SELECT event_id, user_id, ts, vn,
       last_value(vn IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_nn,
       last_value(vn IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_nn,
       first_value(vn IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_nn
FROM base
ORDER BY user_id, ts, event_id
"""


@register("win_lead_lag_ignore_nulls", _IGNORE_NULLS_ORACLE)
def win_lead_lag_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IGNORE NULLS navigation — the gap-bridging forms every sparse
    time series needs (sensor last-observation-carried-forward, CDC
    last-known-value): last/prev/next NON-NULL value per user ordered
    by event time, with clicks' values nulled out to make the gaps
    real. All three are expressed as frame-bounded first/last with
    ignorenulls=True (the form both engines implement identically —
    lag/lead IGNORE NULLS are sugar for exactly these frames). One
    shuffle+sort on (user_id) serves all three window frames; values
    pass through untouched, so doubles stay bit-identical.
    """
    e = t(spark, sf_dir, "events")
    base = e.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "click", F.lit(None)).otherwise(
            F.col("value")
        ).alias("vn"),
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return base.select(
        "event_id",
        "user_id",
        "ts",
        "vn",
        F.last("vn", ignorenulls=True)
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("last_nn"),
        F.last("vn", ignorenulls=True)
        .over(w.rowsBetween(W.unboundedPreceding, -1))
        .alias("prev_nn"),
        F.first("vn", ignorenulls=True)
        .over(w.rowsBetween(1, W.unboundedFollowing))
        .alias("next_nn"),
    ).orderBy("user_id", "ts", "event_id")


_DRAWDOWN_ORACLE = f"""
WITH series AS (
  SELECT user_id, ts, event_id,
         CAST(SUM({sql_micros("value")}) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS equity_m
  FROM events
),
peaked AS (
  SELECT user_id, ts, event_id, equity_m,
         CAST(MAX(equity_m) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS peak_m
  FROM series
)
SELECT user_id,
       CAST(MAX(peak_m - equity_m) AS BIGINT) AS max_drawdown_m,
       CAST(MAX(peak_m) AS BIGINT) AS peak_m,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM peaked
GROUP BY user_id
ORDER BY user_id
"""


@register("win_running_drawdown", _DRAWDOWN_ORACLE)
def win_running_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user — the running-peak-minus-current
    classic (portfolio risk, SLO burn-down, battery/stock depletion):
    cumulative sum of event values forms the equity curve, a running
    MAX over the same frame is the peak, and the largest gap is the
    drawdown. Two stacked cumulative windows share ONE per-user
    shuffle+sort (Catalyst plans both over the same window spec);
    values accumulate as exact micros longs so every intermediate is
    engine-identical. The final per-user fold is an algebraic groupBy.
    """
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    series = e.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(micros(F.col("value")))
        .over(w)
        .alias("equity_m"),
    )
    peaked = series.withColumn("peak_m", F.max("equity_m").over(w))
    return (
        peaked.groupBy("user_id")
        .agg(
            F.max(F.col("peak_m") - F.col("equity_m")).alias(
                "max_drawdown_m"
            ),
            F.max("peak_m").alias("peak_m"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


_NTILE_ORACLE = f"""
WITH tiled AS (
  SELECT c_mktsegment,
         {sql_micros("c_acctbal")} AS bal_m,
         NTILE(10) OVER (
           PARTITION BY c_mktsegment
           ORDER BY {sql_micros("c_acctbal")}, c_custkey
         ) AS decile
  FROM customer
)
SELECT c_mktsegment, CAST(decile AS INTEGER) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(bal_m) AS BIGINT) AS lo_m,
       CAST(MAX(bal_m) AS BIGINT) AS hi_m
FROM tiled
GROUP BY c_mktsegment, decile
ORDER BY c_mktsegment, decile
"""


@register("win_ntile_deciles", _NTILE_ORACLE)
def win_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile banding per segment via NTILE(10) — the equal-population
    bucketing behind score bands, price tiers, and contributor
    leaderboards (vs fixed-width histogram bins, agg_histogram). NTILE
    is standard SQL (earlier tiles absorb the remainder), so with a
    deterministic (micros balance, key) ordering both engines assign
    identical tiles; the per-tile fold reports population and exact
    micros bounds. One per-segment window shuffle + an algebraic
    groupBy.
    """
    c = t(spark, sf_dir, "customer")
    bal_m = micros(F.col("c_acctbal"))
    tiled = c.select(
        "c_mktsegment",
        bal_m.alias("bal_m"),
        F.ntile(10)
        .over(
            W.partitionBy("c_mktsegment").orderBy(
                bal_m, F.col("c_custkey")
            )
        )
        .alias("decile"),
    )
    return (
        tiled.groupBy("c_mktsegment", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("bal_m").alias("lo_m"),
            F.max("bal_m").alias("hi_m"),
        )
        .orderBy("c_mktsegment", "decile")
    )


_ROLLMED_ORACLE = f"""
WITH v AS (
  SELECT event_id, user_id, ts,
         {sql_cents("value")} AS cents
  FROM events
)
SELECT event_id, user_id,
       median(cents) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
       ) AS med_cents
FROM v
ORDER BY user_id, event_id
"""


@register("win_rolling_median", _ROLLMED_ORACLE)
def win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median over the trailing 5 readings per user — the robust
    de-noising twin of win_moving_avg_rows (a median shrugs off the
    spike that drags a mean). Spark has no MEDIAN-with-frame window
    (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC), so the fixed ROWS frame
    is UNROLLED: 4 lags + the current row form an array, array_sort
    (nulls last) orders it, and the median is picked by order-statistic
    index off the in-frame count. All inputs are exact 2-dp cents
    (longs), so odd frames yield an exact value and even frames an
    exact .5 midpoint — bit-equal to DuckDB's native MEDIAN OVER.
    One shuffle on user_id, all codegen expressions; the unroll is
    frame-size-bounded (k lags for a k-row frame), the right trade for
    the small fixed frames monitoring queries use. At 100 TB the
    partition key (user) shards the sort, same shape as zscore above.
    """
    v = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        cents(F.col("value")).alias("cents"),
    )
    ow = W.partitionBy("user_id").orderBy("ts", "event_id")
    arr = F.array_sort(
        F.array(
            F.col("cents"),
            *[F.lag("cents", k).over(ow) for k in range(1, 5)],
        )
    )
    n = F.least(F.row_number().over(ow), F.lit(5))
    lo = F.element_at(arr, F.floor((n + F.lit(1)) / 2).cast("int"))
    hi = F.element_at(arr, (F.floor(n / 2) + F.lit(1)).cast("int"))
    return (
        v.select(
            "event_id",
            "user_id",
            ((lo + hi) / F.lit(2.0)).alias("med_cents"),
        )
        .orderBy("user_id", "event_id")
    )


_ANOMALY_MAD_ORACLE = f"""
WITH v AS (
  SELECT event_id, user_id, ts,
         {sql_cents("value")} AS cents
  FROM events
),
w AS (
  SELECT event_id, user_id, cents,
         median(cents) OVER fr AS med,
         mad(cents) OVER fr AS mad
  FROM v
  WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, med AS med_cents, mad AS mad_cents,
       (abs(cents - med) > 3 * mad) AS is_anomaly
FROM w ORDER BY user_id, event_id
"""


@register("win_anomaly_mad", _ANOMALY_MAD_ORACLE)
def win_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly flagging over the trailing 5 readings per user:
    a point is anomalous when its deviation from the frame median
    exceeds 3× the frame's median absolute deviation — the
    Hampel-filter shape monitoring pipelines run where a rolling
    z-score (win_rolling_zscore) would let one spike inflate its own
    sigma. Spark lacks MEDIAN/MAD window frames, so the fixed frame is
    UNROLLED twice (win_rolling_median lesson): once for the median,
    once over the |x − med| deviations — both arrays are codegen
    expressions, no HOF lambdas. Everything stays in scaled integers
    (med2 = 2·median is integer because cents sums pair-even; mad4 =
    4·MAD likewise), so the flag 2·dev2 > 3·mad4 is an exact integer
    compare, bit-equal to DuckDB's native interpolating MEDIAN/MAD
    windows (dyadic halves are exact doubles). One shuffle on
    user_id; frame-bounded unroll, same 100 TB shape as the zscore op.
    """
    # Staged projections, not one nested expression: the naive form
    # embeds the sorted lag array inside med2 and med2 inside each of
    # the 5 deviation terms — a ~12x-duplicated subtree that was
    # MEASURED 24x slower than win_rolling_median (7.6 s vs 0.31 s
    # standalone at sf0.1). Multi-referenced aliases block
    # CollapseProject, so every stage below evaluates once.
    v = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        (cents(F.col("value")) * 2).alias("c2"),
    )
    ow = W.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = v.select(
        "event_id",
        "user_id",
        "c2",
        *[F.lag("c2", k).over(ow).alias(f"l{k}") for k in range(1, 5)],
        F.least(F.row_number().over(ow), F.lit(5)).alias("n"),
    )
    lag_cols = [F.col("c2")] + [F.col(f"l{k}") for k in range(1, 5)]
    lo_idx = F.floor((F.col("n") + F.lit(1)) / 2).cast("int")
    hi_idx = (F.floor(F.col("n") / 2) + F.lit(1)).cast("int")
    sorted_ = lagged.select(
        "event_id", "user_id", "c2", "n",
        *[F.col(f"l{k}") for k in range(1, 5)],
        F.array_sort(F.array(*lag_cols)).alias("arr"),
    )
    with_med = sorted_.select(
        "event_id", "user_id", "c2", "n",
        *[F.col(f"l{k}") for k in range(1, 5)],
        (
            (F.element_at("arr", lo_idx) + F.element_at("arr", hi_idx)) / 2
        )
        .cast("long")
        .alias("med2"),  # exact: lo+hi is even
    )
    with_dev = with_med.select(
        "event_id", "user_id", "c2", "n", "med2",
        F.array_sort(
            F.array(*[F.abs(c - F.col("med2")) for c in lag_cols])
        ).alias("devarr"),
    )
    with_mad = with_dev.select(
        "event_id", "user_id", "c2", "med2",
        (
            F.element_at("devarr", lo_idx) + F.element_at("devarr", hi_idx)
        ).alias("mad4"),  # 4×MAD: dev2 values are 2×deviation
    )
    dev2 = F.abs(F.col("c2") - F.col("med2"))  # 2×deviation
    return (
        with_mad.select(
            "event_id",
            "user_id",
            (F.col("med2") / F.lit(2.0)).alias("med_cents"),
            (F.col("mad4") / F.lit(4.0)).alias("mad_cents"),
            (2 * dev2 > 3 * F.col("mad4")).alias("is_anomaly"),
        )
        .orderBy("user_id", "event_id")
    )


# ---------------------------------------------------------------------------
# win_ohlc_resample — open/high/low/close candle per (user, day), the
# canonical time-series downsample. Open/close are first/last by
# (ts, event_id) — carried via two ROW_NUMBER passes over the SAME
# partition keys (one ascending, one descending) so the whole op is two
# co-partitioned window sorts + one algebraic groupBy; volume is an
# exact long sum of cents.
# At 100 TB: partition key (user, day) is the natural hypertable chunk
# key — the window shuffle IS the rollup shuffle, nothing global.
# ---------------------------------------------------------------------------

_OHLC_ORACLE = f"""
WITH v AS (
  SELECT user_id,
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         ts, event_id,
         {sql_cents("value")} AS cents
  FROM events
),
r AS (
  SELECT user_id, day, cents,
         ROW_NUMBER() OVER (PARTITION BY user_id, day
                            ORDER BY ts ASC, event_id ASC) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY user_id, day
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM v
)
SELECT user_id, day,
       CAST(MAX(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT)
         AS open_cents,
       CAST(MAX(cents) AS BIGINT) AS high_cents,
       CAST(MIN(cents) AS BIGINT) AS low_cents,
       CAST(MAX(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT)
         AS close_cents,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS volume_cents
FROM r
GROUP BY user_id, day
ORDER BY user_id, day
"""


@register("win_ohlc_resample", _OHLC_ORACLE)
def win_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = t(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        "ts",
        "event_id",
        cents(F.col("value")).alias("cents"),
    )
    pw = W.partitionBy("user_id", "day")
    r = v.select(
        "user_id",
        "day",
        "cents",
        F.row_number()
        .over(pw.orderBy(F.asc("ts"), F.asc("event_id")))
        .alias("rn_a"),
        F.row_number()
        .over(pw.orderBy(F.desc("ts"), F.desc("event_id")))
        .alias("rn_d"),
    )
    return (
        r.groupBy("user_id", "day")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("cents"))).alias(
                "open_cents"
            ),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.max(F.when(F.col("rn_d") == 1, F.col("cents"))).alias(
                "close_cents"
            ),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("volume_cents"),
        )
        .orderBy("user_id", "day")
    )


# ---------------------------------------------------------------------------
# win_cusum_alarm — one-sided CUSUM control chart per user: S_t =
# max(0, S_{t−1} + (x_t − μ₀ᵤ)) alarms when S_t exceeds hᵤ. The
# recursion is NOT window-expressible directly, but has the exact
# closed form S_t = cum_t − min(0, min_{j≤t} cum_j) (running sum minus
# its running floor) — two stacked window passes over ONE (user, time)
# sort. Baselines are per-user: μ₀ᵤ = the user's mean, hᵤ = 4× the
# user's mean absolute deviation, all exact integer floor divisions —
# the entire chart is integer arithmetic, no float anywhere.
# At 100 TB: the baseline groupBy, the join back and both windows all
# key on user_id — ONE shuffle; alarm emission is a filter, output ∝
# per-user drift rate.
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = f"""
WITH v AS (
  SELECT user_id, event_id, ts,
         {sql_cents("value")} AS cents
  FROM events
),
g1 AS (
  SELECT user_id, CAST(SUM(cents) // COUNT(*) AS BIGINT) AS mu0
  FROM v GROUP BY user_id
),
g2 AS (
  SELECT v.user_id,
         CAST(SUM(ABS(cents - mu0)) // COUNT(*) AS BIGINT) AS mad
  FROM v JOIN g1 ON g1.user_id = v.user_id
  GROUP BY v.user_id
),
c1 AS (
  SELECT v.user_id, event_id, ts,
         CAST(SUM(cents - mu0) OVER (
           PARTITION BY v.user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum
  FROM v JOIN g1 ON g1.user_id = v.user_id
),
c2 AS (
  SELECT user_id, event_id, cum,
         CAST(MIN(cum) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS runmin
  FROM c1
)
SELECT c2.user_id, c2.event_id,
       cum - LEAST(0, runmin) AS s_cents,
       4 * g2.mad AS threshold_cents
FROM c2 JOIN g2 ON g2.user_id = c2.user_id
WHERE cum - LEAST(0, runmin) > 4 * g2.mad
ORDER BY c2.user_id, c2.event_id
"""


@register("win_cusum_alarm", _CUSUM_ORACLE)
def win_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        cents(F.col("value")).alias("cents"),
    )
    g1 = v.groupBy("user_id").agg(
        F.expr("sum(cents) div count(*)").alias("mu0")
    )
    g2 = (
        v.join(F.broadcast(g1), "user_id")
        .groupBy("user_id")
        .agg(F.expr("sum(abs(cents - mu0)) div count(*)").alias("mad"))
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c1 = v.join(F.broadcast(g1), "user_id").select(
        "user_id",
        "event_id",
        "ts",
        F.sum(F.col("cents") - F.col("mu0")).over(w).alias("cum"),
    )
    # the running floor must traverse cum in the SAME time order it was
    # accumulated — both window passes share the (ts, event_id) sort,
    # so Catalyst reuses one shuffle+sort for both
    w2 = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c2 = c1.select(
        "user_id",
        "event_id",
        "ts",
        "cum",
        F.min("cum").over(w2).alias("runmin"),
    )
    s = F.col("cum") - F.least(F.lit(0), F.col("runmin"))
    return (
        c2.join(F.broadcast(g2), "user_id")
        .filter(s > 4 * F.col("mad"))
        .select(
            "user_id",
            "event_id",
            s.alias("s_cents"),
            (4 * F.col("mad")).alias("threshold_cents"),
        )
        .orderBy("user_id", "event_id")
    )


_ROLLING_CORR_ORACLE = f"""
WITH v AS (
  SELECT event_id, user_id, ts,
         {sql_cents("value")} AS x,
         epoch_us(ts) // 1000000 - 1704000000 AS y
  FROM events
),
w AS (
  SELECT event_id, user_id,
         COUNT(*)       OVER win AS n,
         SUM(x)         OVER win AS sx,
         SUM(y)         OVER win AS sy,
         SUM(x * x)     OVER win AS sxx,
         SUM(y * y)     OVER win AS syy,
         SUM(x * y)     OVER win AS sxy
  FROM v
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
),
m AS (
  SELECT event_id, user_id, n,
         n * sxy - sx * sy AS num,
         n * sxx - sx * sx AS dxx,
         n * syy - sy * sy AS dyy
  FROM w
)
SELECT event_id, user_id, CAST(n AS BIGINT) AS n_window,
       CASE WHEN n >= 6 THEN CAST(num AS BIGINT) END AS trend_cov_num,
       CASE WHEN n >= 6 AND dxx > 0 AND dyy > 0
            THEN CAST(sign(num) AS BIGINT)
                 * CAST((CAST(num AS HUGEINT) * num * 1000000)
                        // (CAST(dxx AS HUGEINT) * dyy) AS BIGINT)
       END AS trend_r2_signed_micros
FROM m
ORDER BY user_id, event_id
"""


@register("win_rolling_corr", _ROLLING_CORR_ORACLE)
def win_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling trend correlation — each event scored for how strongly its
    user's trailing 12 readings drift with TIME (the metric-drift
    detector behind "is this sensor/user trending up"). Pearson r needs
    a sqrt, which is engine-divergent at the last ulp — so the emitted
    statistic is SIGNED r² = sign(cov)·cov²/(dxx·dyy), a pure RATIONAL
    of exact integer window moments: x is 2-dp cents, y is whole seconds
    rebased to the fixture epoch (bounds: |Σxy| ≤ 12·3.3e4·2.6e6 ≈ 1e12,
    num² ≈ 1e26 — the cross products go through DECIMAL(38,0)/HUGEINT,
    the agg_cuped_adjustment widening), quantized by integer floor-div
    to micros. Six moments ride ONE frame over ONE user_id shuffle
    (Catalyst folds them into a single window node); n<6 or degenerate
    variance emits NULL. At 100 TB this is the bucket-by-entity sorted
    scan — state per row is six longs, frame is ROWS-bounded, so the
    plan is memory-flat regardless of partition length.
    """
    v = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        cents(F.col("value")).alias("x"),
        (F.expr("unix_micros(ts) div 1000000") - F.lit(1_704_000_000))
        .cast("long")
        .alias("y"),
    )
    win = (
        W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-11, 0)
    )
    w = v.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(win).alias("n"),
        F.sum("x").over(win).alias("sx"),
        F.sum("y").over(win).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(win).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(win).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(win).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dxx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dyy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    m = w.select(
        "event_id",
        "user_id",
        "n",
        num.alias("num"),
        dxx.alias("dxx"),
        dyy.alias("dyy"),
    )
    dec = "decimal(38,0)"
    scaled = (
        F.col("num").cast(dec) * F.col("num").cast(dec) * F.lit(1_000_000)
    )
    den = F.col("dxx").cast(dec) * F.col("dyy").cast(dec)
    r2 = (
        F.signum("num").cast("long")
        * ((scaled - F.pmod(scaled, den)) / den).cast("long")
    )
    return m.select(
        "event_id",
        "user_id",
        F.col("n").alias("n_window"),
        F.when(F.col("n") >= 6, F.col("num")).alias("trend_cov_num"),
        F.when(
            (F.col("n") >= 6) & (F.col("dxx") > 0) & (F.col("dyy") > 0), r2
        ).alias("trend_r2_signed_micros"),
    ).orderBy("user_id", "event_id")


_THEIL_SEN_ORACLE = f"""
WITH daily AS (
  SELECT user_id,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
         CAST(SUM({sql_cents("value")}) AS BIGINT) AS cents
  FROM events GROUP BY user_id, date_diff('day', DATE '2024-01-01',
                                          CAST(ts AS DATE))
),
pairs AS (
  SELECT a.user_id,
         CAST(b.cents - a.cents AS DOUBLE) / (b.day - a.day) AS slope
  FROM daily a JOIN daily b
    ON a.user_id = b.user_id AND a.day < b.day
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       median(slope) AS theil_sen_slope
FROM pairs
GROUP BY user_id
ORDER BY user_id
"""


@register("win_theil_sen", _THEIL_SEN_ORACLE)
def win_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen estimator — the robust trend line: the MEDIAN of all
    pairwise slopes shrugs off the outliers that wreck least squares
    (win_rolling_corr's complement: that one detects drift, this one
    measures it robustly; breakdown point 29%). The quadratic pair
    blowup is tamed the 100 TB way BEFORE pairing: events first fold
    to (user, day) cells — one map-side-combined groupBy — so the
    per-user self-join is over ≤ span-days points (≤435 pairs/user
    here), key-partitioned on user_id and co-located, never a
    cartesian. Each slope is ONE IEEE division of exact integers
    (bit-identical both engines); the per-user median sorts doubles
    and averages the middle two — same two values, same single
    add-and-halve on both sides, so no epsilon. Spark's F.median and
    DuckDB's median share the interpolating even-count convention.
    """
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            "user_id",
            F.date_diff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("day"),
        )
        .agg(
            F.sum(cents(F.col("value"))).alias("cents")
        )
    )
    a = daily.select(
        F.col("user_id"),
        F.col("day").alias("day_a"),
        F.col("cents").alias("cents_a"),
    )
    b = daily.select(
        F.col("user_id"),
        F.col("day").alias("day_b"),
        F.col("cents").alias("cents_b"),
    )
    pairs = a.join(b, "user_id").filter(F.col("day_a") < F.col("day_b"))
    slopes = pairs.select(
        "user_id",
        (
            (F.col("cents_b") - F.col("cents_a")).cast("double")
            / (F.col("day_b") - F.col("day_a"))
        ).alias("slope"),
    )
    return (
        slopes.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.median("slope").alias("theil_sen_slope"),
        )
        .orderBy("user_id")
    )


_SEASONAL_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
         CAST(SUM({sql_cents("value")}) AS BIGINT) AS cents
  FROM events GROUP BY event_type, date_diff('day', DATE '2024-01-01',
                                             CAST(ts AS DATE))
),
tr AS (
  SELECT event_type, day, cents,
         SUM(cents) OVER w AS s7, COUNT(*) OVER w AS n7
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
det AS (
  SELECT event_type, day, cents,
         CASE WHEN n7 = 7 THEN CAST(s7 * 1000000 AS BIGINT) // 7 END
           AS trend_micros,
         CASE WHEN n7 = 7
              THEN cents * 1000000 - CAST(s7 * 1000000 AS BIGINT) // 7 END
           AS detrended_micros
  FROM tr
),
seas AS (
  SELECT event_type, day % 7 AS dow,
         CAST(SUM(detrended_micros) AS BIGINT) AS sd,
         COUNT(detrended_micros) AS nd
  FROM det GROUP BY event_type, day % 7
)
SELECT d.event_type, CAST(d.day AS BIGINT) AS day, d.cents,
       d.trend_micros,
       CASE WHEN s.nd > 0
            THEN CAST(CASE WHEN s.sd < 0 THEN -1
                           WHEN s.sd > 0 THEN 1 ELSE 0 END
                      * (abs(s.sd) // s.nd) AS BIGINT) END
         AS seasonal_micros,
       d.detrended_micros
         - CASE WHEN s.nd > 0
                THEN CAST(CASE WHEN s.sd < 0 THEN -1
                               WHEN s.sd > 0 THEN 1 ELSE 0 END
                          * (abs(s.sd) // s.nd) AS BIGINT) END
         AS residual_micros
FROM det d JOIN seas s
  ON s.event_type = d.event_type AND s.dow = d.day % 7
ORDER BY d.event_type, d.day
"""


@register("win_seasonal_decompose", _SEASONAL_ORACLE)
def win_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition (trend + day-of-week
    seasonal + residual) of the per-type daily revenue series — the
    moving-average method every monitoring stack runs before alerting
    on "is today actually anomalous or just a Sunday". Trend is a
    CENTERED 7-day moving average (emitted only where the full window
    exists — edges are NULL, the statsmodels convention); seasonal is
    the mean detrended value per weekday; residual is what's left.
    Exact arithmetic: cents are integers, the MA is s7·1e6 // 7
    (positive), the seasonal mean is sign·(|Σ| // n) — TRUNCATED
    division, matching DuckDB's // and Spark's div on negatives —
    and the residual is integer subtraction. NULL BIGINT outputs are
    driver-proven (join_left precedent). Plan: day-cell fold first,
    one type-partitioned 7-row frame, one (type, dow) groupBy joined
    back broadcast — state is types × days, scale-free.
    """
    from pyspark.sql import Window as W

    daily = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.date_diff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("day"),
        )
        .agg(
            F.sum(cents(F.col("value"))).alias("cents")
        )
    )
    w = W.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "event_type",
        "day",
        "cents",
        F.sum("cents").over(w).alias("s7"),
        F.count(F.lit(1)).over(w).alias("n7"),
    )
    det = tr.select(
        "event_type",
        "day",
        "cents",
        F.when(F.col("n7") == 7, F.expr("s7 * 1000000 div 7")).alias(
            "trend_micros"
        ),
        F.when(
            F.col("n7") == 7,
            F.col("cents") * 1_000_000 - F.expr("s7 * 1000000 div 7"),
        ).alias("detrended_micros"),
    )
    seas = det.groupBy(
        F.col("event_type").alias("s_type"), (F.col("day") % 7).alias("dow")
    ).agg(
        F.sum("detrended_micros").alias("sd"),
        F.count("detrended_micros").alias("nd"),
    )
    seasonal = F.when(
        F.col("nd") > 0,
        F.signum("sd").cast("long") * F.expr("abs(sd) div nd"),
    )
    return (
        det.join(
            F.broadcast(seas),
            (F.col("s_type") == F.col("event_type"))
            & (F.col("dow") == F.col("day") % 7),
        )
        .select(
            "event_type",
            F.col("day").cast("long").alias("day"),
            "cents",
            "trend_micros",
            seasonal.alias("seasonal_micros"),
            (F.col("detrended_micros") - seasonal).alias("residual_micros"),
        )
        .orderBy("event_type", "day")
    )


_ATTRIBUTION_ORACLE = f"""
WITH e AS (
  SELECT event_id, user_id, event_type, ts,
         {sql_cents("value")} AS cents,
         CASE WHEN event_type = 'click' THEN event_id END AS click_id
  FROM events
),
touched AS (
  SELECT event_id, user_id, event_type, cents,
         LAST_VALUE(click_id IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS last_touch_event,
         FIRST_VALUE(click_id IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS first_touch_event
  FROM e
)
SELECT event_id, user_id, cents, last_touch_event, first_touch_event,
       (last_touch_event IS NOT NULL) AS attributed,
       (last_touch_event IS NOT NULL
        AND last_touch_event = first_touch_event) AS single_touch
FROM touched
WHERE event_type = 'purchase'
ORDER BY event_id
"""


@register("win_attribution", _ATTRIBUTION_ORACLE)
def win_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch marketing attribution — the classic funnel-credit
    assignment: each purchase is attributed to the LAST click before it
    (last-touch, the performance-marketing default) and to the user's
    FIRST click ever (first-touch, the brand-marketing counterfactual);
    purchases with no preceding click stay unattributed (organic). Both
    touches fall out of ONE user-partitioned ordered pass: carry the
    click's event_id forward with LAST_VALUE IGNORE NULLS (the
    win_lead_lag_ignore_nulls idiom) and pin the first with FIRST_VALUE
    IGNORE NULLS over the same frame — no self-join against the click
    history, no per-purchase subquery (the naive correlated form is
    quadratic in events per user). NULLABLE BIGINT outputs are the
    driver-proven null class (join_left precedent); (ts, event_id)
    ordering makes the carry deterministic under timestamp ties. At
    100 TB: one hash shuffle on user_id, window state is two ids —
    skew bound is the busiest single user, same as any sessionization.
    """
    e = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        cents(F.col("value")).alias("cents"),
        F.when(F.col("event_type") == "click", F.col("event_id")).alias(
            "click_id"
        ),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    touched = e.select(
        "event_id",
        "user_id",
        "event_type",
        "cents",
        F.last("click_id", ignorenulls=True).over(w).alias(
            "last_touch_event"
        ),
        F.first("click_id", ignorenulls=True).over(w).alias(
            "first_touch_event"
        ),
    )
    return (
        touched.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "cents",
            "last_touch_event",
            "first_touch_event",
            F.col("last_touch_event").isNotNull().alias("attributed"),
            (
                F.col("last_touch_event").isNotNull()
                & (F.col("last_touch_event") == F.col("first_touch_event"))
            ).alias("single_touch"),
        )
        .orderBy("event_id")
    )
