"""SURVEY.md §2.3 — join operators.

Scale strategy per join, stated once: dimension tables (region 5 →
customer 150k rows at sf=1000) stay well under the broadcast threshold —
every dim join here uses an explicit F.broadcast hint so the plan is
map-side at any fact-table size. Fact-fact joins (lineitem⋈orders) shuffle
on the join key; both sides would be bucketed by orderkey in a real
deployment, which Spark then exploits to skip the shuffle entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import sql, t
from ..functions.deterministic import dsum, micros, sql_dsum, sql_micros
from .registry import register


@register(
    "join_inner_equi",
    f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           {sql_dsum("o_totalprice", "revenue")}
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "join_left",
    """
    SELECT c_custkey, c_name, o_orderkey, o_totalprice
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_totalprice > 300000
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Non-key predicate in the ON clause (not WHERE) — null-extension
    # semantics differ between the two placements; this exercises the
    # ON-clause form.
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(
        o, (c.c_custkey == o.o_custkey) & (o.o_totalprice > 300000), "left"
    ).select("c_custkey", "c_name", "o_orderkey", "o_totalprice")


@register(
    "join_right",
    """
    SELECT s_suppkey, s_name, n_name
    FROM nation RIGHT JOIN supplier ON n_nationkey = s_nationkey
    """,
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = t(spark, sf_dir, "nation")
    s = t(spark, sf_dir, "supplier")
    return n.join(s, n.n_nationkey == s.s_nationkey, "right").select(
        "s_suppkey", "s_name", "n_name"
    )


@register(
    "join_full",
    """
    WITH cust_nations AS (
      SELECT DISTINCT c_nationkey AS nationkey FROM customer
    ), supp_nations AS (
      SELECT DISTINCT s_nationkey AS nationkey FROM supplier
    )
    SELECT c.nationkey AS cust_nation, s.nationkey AS supp_nation
    FROM cust_nations c FULL JOIN supp_nations s ON c.nationkey = s.nationkey
    """,
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        t(spark, sf_dir, "customer")
        .select(F.col("c_nationkey").alias("nationkey"))
        .distinct()
    )
    s = (
        t(spark, sf_dir, "supplier")
        .select(F.col("s_nationkey").alias("nationkey"))
        .distinct()
    )
    return c.alias("c").join(
        s.alias("s"), F.col("c.nationkey") == F.col("s.nationkey"), "outer"
    ).select(
        F.col("c.nationkey").alias("cust_nation"),
        F.col("s.nationkey").alias("supp_nation"),
    )


@register(
    "join_semi",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 250000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    big = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 250000)
    return c.join(big, c.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dbt `relationships` test shape: children without parents.
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "join_cross",
    """
    SELECT r_name, s_name FROM region CROSS JOIN supplier
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Cartesian of two tiny dims (5×10). Never cross-join a fact table;
    # Spark requires the explicit crossJoin call precisely to make this a
    # deliberate act.
    return t(spark, sf_dir, "region").crossJoin(
        t(spark, sf_dir, "supplier")
    ).select("r_name", "s_name")


@register(
    "join_broadcast",
    f"""
    SELECT n_name, r_name,
           {sql_dsum("c_acctbal", "total_balance")}
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY n_name, r_name ORDER BY n_name, r_name
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Explicit broadcast of both dims: zero shuffle for the joins
    # themselves regardless of customer-table size. Plan asserted
    # broadcast in tests/test_plans.py.
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(dsum(F.col("c_acctbal"), "total_balance"))
        .orderBy("n_name", "r_name")
    )


@register(
    "join_theta_range",
    """
    SELECT a.o_orderkey AS first_order, b.o_orderkey AS repeat_order,
           a.o_custkey AS custkey
    FROM orders a JOIN orders b
      ON a.o_custkey = b.o_custkey
     AND b.o_orderkey <> a.o_orderkey
     AND b.o_orderdate > a.o_orderdate
     AND b.o_orderdate <= a.o_orderdate + INTERVAL 30 DAY
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Band join: repeat orders within 30 days. The equi component
    # (custkey) drives the shuffle; the band predicate filters inside each
    # key group — scalable as long as per-key fan-out is bounded.
    o = t(spark, sf_dir, "orders")
    a = o.alias("a")
    b = o.alias("b")
    return a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("b.o_orderkey") != F.col("a.o_orderkey"))
        & (F.col("b.o_orderdate") > F.col("a.o_orderdate"))
        & (
            F.col("b.o_orderdate")
            <= F.col("a.o_orderdate") + F.expr("INTERVAL 30 DAY")
        ),
    ).select(
        F.col("a.o_orderkey").alias("first_order"),
        F.col("b.o_orderkey").alias("repeat_order"),
        F.col("a.o_custkey").alias("custkey"),
    )


# ---------------------------------------------------------------------------
# join_asof — DuckDB `ASOF JOIN` has no Catalyst strategy (SURVEY.md §4);
# emulated with the union+last_value(ignorenulls) rewrite: tag both inputs,
# union, and for each probe row take the last build-side value at ts ≤
# probe.ts within the key partition. One shuffle on (key), no fan-out —
# this is the scalable form (a naive range join explodes quadratically).
# Build side deduped to one row per (key, ts) so ties are deterministic.
# ---------------------------------------------------------------------------


@register(
    "join_asof",
    """
    WITH views AS (
      SELECT user_id, ts, MAX(event_id) AS view_id
      FROM events WHERE event_type = 'view'
      GROUP BY user_id, ts
    ), purchases AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE event_type = 'purchase'
    )
    SELECT p.event_id AS purchase_id, p.user_id,
           v.view_id AS preceding_view, p.value
    FROM purchases p
    ASOF JOIN views v ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    tagged = views.select(
        "user_id", "ts", "view_id",
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("double").alias("value"),
        F.lit(0).alias("side"),
    ).unionByName(
        purchases.select(
            "user_id", "ts",
            F.lit(None).cast("long").alias("view_id"),
            "event_id", "value",
            F.lit(1).alias("side"),
        )
    )
    # views sort before purchases at equal ts (side 0 < 1) → ts >= matches
    # ties, like ASOF's >= semantics.
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        tagged.withColumn(
            "preceding_view", F.last("view_id", ignorenulls=True).over(w)
        )
        .filter((F.col("side") == 1) & F.col("preceding_view").isNotNull())
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "preceding_view",
            "value",
        )
    )


@register(
    "join_multiway_star",
    f"""
    SELECT r_name, n_name,
           COUNT(*) AS n_items,
           {sql_dsum("l_extendedprice * (1 - l_discount)", "revenue")}
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY r_name, n_name
    ORDER BY r_name, n_name
    """,
)
def join_multiway_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gold-mart star join. lineitem⋈orders is the only fact-fact shuffle;
    # customer/nation/region are broadcast. Date filter pushes into the
    # orders scan before the join.
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
            ),
        )
        .orderBy("r_name", "n_name")
    )


@register(
    "join_self",
    """
    SELECT a.event_id AS first_id, b.event_id AS next_id, a.user_id
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'signup' AND b.event_type = 'purchase'
     AND b.ts > a.ts
    """,
)
def join_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "signup").alias("a")
    b = e.filter(F.col("event_type") == "purchase").alias("b")
    return a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts")),
    ).select(
        F.col("a.event_id").alias("first_id"),
        F.col("b.event_id").alias("next_id"),
        F.col("a.user_id").alias("user_id"),
    )


@register(
    "join_skew_salted",
    """
    SELECT e.user_id,
           COUNT(*) AS n_events,
           MAX(c.c_mktsegment) AS segment
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY e.user_id
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Explicit skew-salting — the manual fallback when AQE's runtime
    # skew-split can't fire (e.g. the skewed side feeds an aggregation
    # with the same key). events.user_id has ~15 hot values; a plain
    # shuffle join lands each entirely on one task. Salting: fact key →
    # (key, salt∈0..S), dimension replicated S× with every salt, join on
    # both columns → each hot key spreads over S tasks. The aggregation
    # then combines per-(key,salt) partials — an extra cheap reduce, in
    # exchange for S-way parallelism on the hot keys. Semantics are
    # unchanged (oracle is the plain join+group).
    S = 8
    e = t(spark, sf_dir, "events").select("user_id")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    salted = e.withColumn(
        "salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(S)).cast(
            "int"
        ),
    )
    dim = c.join(
        F.broadcast(
            t(spark, sf_dir, "region")
            .sparkSession.range(S)
            .select(F.col("id").cast("int").alias("salt"))
        )
    )
    per_salt = (
        salted.join(
            dim,
            (F.col("c_custkey") == F.col("user_id"))
            & (dim.salt == salted.salt),
        )
        .groupBy("user_id", salted.salt)
        .agg(
            F.count(F.lit(1)).alias("n_partial"),
            F.max("c_mktsegment").alias("seg_partial"),
        )
    )
    return per_salt.groupBy("user_id").agg(
        F.sum("n_partial").alias("n_events"),
        F.max("seg_partial").alias("segment"),
    )


@register(
    "join_bucketed_colocated",
    f"""
    SELECT o.o_orderkey, o.o_totalprice,
           COUNT(*) AS n_items,
           CAST(SUM({sql_micros("l.l_extendedprice")})
                AS DOUBLE) / 1000000 AS item_total
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_totalprice
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Co-located join via bucketing — the 100 TB fact⋈fact strategy.
    # Both tables are written CLUSTERED BY the join key into the same
    # bucket count; Spark's bucketed scan then satisfies the join's
    # hash-partitioning requirement FROM STORAGE: no Exchange on either
    # side (asserted in tests/test_plans.py), and the post-join groupBy
    # on the same key reuses the bucketing too. Staging is a one-time
    # cost per fixture dir (sources/bucketed.py reattaches existing
    # files via metadata-only DDL), mirroring the warehouse reality
    # where bucketing is ETL, not query work. (merge hint: keep SMJ so
    # the demonstration isn't absorbed by a broadcast at fixture scale.)
    from ..sources.bucketed import ensure_bucketed_tables

    to_, tl_ = ensure_bucketed_tables(spark, sf_dir)
    o, li = spark.table(to_), spark.table(tl_)
    return (
        o.hint("merge")
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice"), "item_total"),
        )
    )


@register(
    "join_bloom_runtime_filter",
    f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_items,
           {sql_dsum("l_extendedprice", "revenue")}
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    WHERE o_totalprice > 500000
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def join_bloom_runtime_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter join (Spark's injected semi-join reduction):
    a selective dimension-side predicate builds a Bloom filter at run
    time, and the fact scan drops non-matching rows BEFORE the shuffle —
    at 100 TB this cuts the shuffled fact volume to ~the join
    selectivity, the single biggest lever on selective fact⋈fact joins
    (plan-asserted: `might_contain` on the probe side,
    `bloom_filter_agg` on the build side; semantics unchanged, so the
    oracle is the plain join).

    Runs on its own ``newSession`` with the injection thresholds forced
    (fixture tables are far below the 10 MB production defaults) and
    broadcast disabled (a broadcast join needs no runtime filter) —
    session-local conf, nothing leaks to the shared session. Reads bind
    to that session directly; orders/lineitem carry no ns-timestamps so
    the catalog's events normalization isn't needed.
    """
    from ..catalog import table_path

    s2 = spark.newSession()
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        "10GB",
    )
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold",
        "0",
    )
    s2.conf.set("spark.sql.optimizer.runtimeFilter.number.threshold", "10")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    o = (
        s2.read.parquet(table_path(sf_dir, "orders"))
        .filter(F.col("o_totalprice") > 500000)
        .select("o_orderkey", "o_orderstatus")
    )
    li = s2.read.parquet(table_path(sf_dir, "lineitem")).select(
        "l_orderkey", "l_extendedprice"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice"), "revenue"),
        )
        .orderBy("o_orderstatus")
    )


_ASOF_NEAREST_ORACLE = """
WITH views AS (
  SELECT user_id, ts, MAX(event_id) AS view_id
  FROM events WHERE event_type = 'view'
  GROUP BY user_id, ts
), purchases AS (
  SELECT user_id, ts, event_id FROM events
  WHERE event_type = 'purchase'
),
back AS (
  SELECT p.event_id, p.user_id, p.ts, v.view_id AS bview, v.ts AS bts
  FROM purchases p ASOF LEFT JOIN views v
    ON p.user_id = v.user_id AND p.ts >= v.ts
),
fwd AS (
  SELECT p.event_id, v.view_id AS fview, v.ts AS fts
  FROM purchases p ASOF LEFT JOIN views v
    ON p.user_id = v.user_id AND p.ts <= v.ts
)
SELECT b.event_id AS purchase_id, b.user_id,
       CASE WHEN fview IS NULL THEN bview
            WHEN bview IS NULL THEN fview
            WHEN epoch_us(b.ts) - epoch_us(bts)
                 <= epoch_us(fts) - epoch_us(b.ts) THEN bview
            ELSE fview END AS nearest_view,
       CASE WHEN fview IS NULL AND bview IS NULL THEN NULL
            WHEN fview IS NULL THEN 'backward'
            WHEN bview IS NULL THEN 'forward'
            WHEN epoch_us(b.ts) - epoch_us(bts)
                 <= epoch_us(fts) - epoch_us(b.ts) THEN 'backward'
            ELSE 'forward' END AS direction,
       CASE WHEN fview IS NULL AND bview IS NULL THEN NULL
            WHEN fview IS NULL THEN epoch_us(b.ts) - epoch_us(bts)
            WHEN bview IS NULL THEN epoch_us(fts) - epoch_us(b.ts)
            ELSE least(epoch_us(b.ts) - epoch_us(bts),
                       epoch_us(fts) - epoch_us(b.ts)) END AS delta_us
FROM back b JOIN fwd f ON b.event_id = f.event_id
ORDER BY purchase_id
"""


@register("join_asof_nearest", _ASOF_NEAREST_ORACLE)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join (both directions): each purchase pairs with the
    temporally CLOSEST view — backward or forward, ties to backward —
    the sensor-alignment / feature-attribution shape (`merge_asof
    direction='nearest'`). Same scalable rewrite as join_asof: tag both
    inputs, union, ONE shuffle on user_id, then two frame passes over
    the same sort — last non-null view at-or-before (ascending frame)
    and first non-null view after (descending frame) — and an O(1)
    per-row comparison picks the nearer side. No range-join fan-out at
    any scale. The oracle runs DuckDB's native two-direction ASOF JOIN
    pair; distances compare in exact integer micros.
    """
    e = t(spark, sf_dir, "events")
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    tagged = views.select(
        "user_id", "ts", "view_id",
        F.lit(None).cast("long").alias("event_id"),
        F.lit(0).alias("side"),
    ).unionByName(
        purchases.select(
            "user_id", "ts",
            F.lit(None).cast("long").alias("view_id"),
            "event_id",
            F.lit(1).alias("side"),
        )
    )
    # views sort before purchases at equal ts → the backward frame sees a
    # same-ts view (δ = 0, always wins); forward frame starts after it.
    asc = (
        W.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    fwd = (
        W.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    vts = F.when(F.col("side") == 0, F.col("ts"))
    scored = (
        tagged.withColumn("bview", F.last("view_id", ignorenulls=True).over(asc))
        .withColumn("bts", F.last(vts, ignorenulls=True).over(asc))
        .withColumn("fview", F.first("view_id", ignorenulls=True).over(fwd))
        .withColumn("fts", F.first(vts, ignorenulls=True).over(fwd))
        .filter(F.col("side") == 1)
    )
    db = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("bts"))
    df_ = F.unix_micros(F.col("fts")) - F.unix_micros(F.col("ts"))
    back_wins = db <= df_
    return scored.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.when(F.col("fview").isNull(), F.col("bview"))
        .when(F.col("bview").isNull(), F.col("fview"))
        .when(back_wins, F.col("bview"))
        .otherwise(F.col("fview"))
        .alias("nearest_view"),
        F.when(F.col("fview").isNull() & F.col("bview").isNull(), None)
        .when(F.col("fview").isNull(), "backward")
        .when(F.col("bview").isNull(), "forward")
        .when(back_wins, "backward")
        .otherwise("forward")
        .alias("direction"),
        F.when(F.col("fview").isNull() & F.col("bview").isNull(), None)
        .when(F.col("fview").isNull(), db)
        .when(F.col("bview").isNull(), df_)
        .otherwise(F.least(db, df_))
        .alias("delta_us"),
    ).orderBy("purchase_id")


_RANGE_BUCKETED_ORACLE = f"""
WITH camp AS (
  SELECT s_suppkey AS campaign_id,
         (s_suppkey * 37) % 2000 AS start_day,
         (s_suppkey * 37) % 2000 + (s_suppkey % 45) + 5 AS end_day
  FROM supplier
), o AS (
  SELECT o_orderkey, o_totalprice,
         datediff('day', DATE '1995-01-01', o_orderdate) AS od
  FROM orders
)
SELECT campaign_id,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice', 'revenue')}
FROM camp JOIN o ON o.od >= camp.start_day AND o.od < camp.end_day
GROUP BY campaign_id
ORDER BY campaign_id
"""


@register("join_range_bucketed", _RANGE_BUCKETED_ORACLE)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join via BUCKETING — the scale rewrite of the
    point-in-interval join (`join_theta_range` is the plain
    inequality form, which Spark plans as broadcast-nested-loop:
    O(N·M) comparisons). Here every campaign interval explodes to the
    few fixed-width day-buckets it covers (width 64 ≥ the 50-day max
    interval ⇒ ≤ 2 buckets per interval) and every order maps to
    exactly ONE bucket, so the match becomes a hash EQUI-join on the
    bucket id followed by the exact residual predicate — O(N+M)
    shuffle, no nested loop, no duplicate pairs to dedup (a point
    lives in one bucket). This bucket-explode-then-equi-join is the
    standard distributed range/interval/genomics-overlap pattern;
    bucket width tunes the explode factor vs residual selectivity.
    Day arithmetic is all integers; revenue uses the exact
    scaled-long sum.
    """
    width = 64
    sup = t(spark, sf_dir, "supplier")
    camp = sup.select(
        F.col("s_suppkey").alias("campaign_id"),
        ((F.col("s_suppkey") * 37) % 2000).alias("start_day"),
        (
            (F.col("s_suppkey") * 37) % 2000 + (F.col("s_suppkey") % 45) + 5
        ).alias("end_day"),
    )
    camp_b = camp.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.floor(F.col("start_day") / width),
                F.floor((F.col("end_day") - 1) / width),
            )
        ),
    )
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01")).alias("od"),
    ).withColumn("bucket", F.floor(F.col("od") / width))
    return (
        o.join(F.broadcast(camp_b), "bucket")
        .filter(
            (F.col("od") >= F.col("start_day"))
            & (F.col("od") < F.col("end_day"))
        )
        .groupBy("campaign_id")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .orderBy("campaign_id")
    )


_ASOF_TOL_ORACLE = """
WITH views AS (
  SELECT user_id, ts, MAX(event_id) AS view_id
  FROM events WHERE event_type = 'view'
  GROUP BY user_id, ts
), purchases AS (
  SELECT user_id, ts, event_id, value FROM events
  WHERE event_type = 'purchase'
)
SELECT p.event_id AS purchase_id, p.user_id,
       CASE WHEN epoch_us(p.ts) - epoch_us(v.ts) <= 1800000000
            THEN v.view_id END AS view_within_tol,
       p.value
FROM purchases p
ASOF LEFT JOIN views v ON p.user_id = v.user_id AND p.ts >= v.ts
ORDER BY purchase_id
"""


@register("join_asof_tolerance", _ASOF_TOL_ORACLE)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a match tolerance (`merge_asof(..., tolerance=
    30min)`): the preceding view only counts if it happened within the
    attribution window — stale context is worse than no context in
    feature pipelines, so the tolerance is API surface, not a filter
    afterthought. Same single-shuffle union+frame rewrite as
    join_asof (no range-join fan-out at any scale), carrying BOTH the
    last view id and its timestamp through the frame (the two
    `last(ignorenulls)` calls ride one window sort and null out on
    exactly the same rows); the gap check is exact integer micros.
    LEFT semantics: unmatched and out-of-tolerance purchases survive
    with NULL, mirroring DuckDB's ASOF LEFT JOIN + CASE oracle.
    """
    tol_us = 30 * 60 * 1_000_000
    e = t(spark, sf_dir, "events")
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    tagged = views.select(
        "user_id", "ts", "view_id",
        F.unix_micros("ts").alias("view_us"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("double").alias("value"),
        F.lit(0).alias("side"),
    ).unionByName(
        purchases.select(
            "user_id", "ts",
            F.lit(None).cast("long").alias("view_id"),
            F.lit(None).cast("long").alias("view_us"),
            "event_id", "value",
            F.lit(1).alias("side"),
        )
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "side")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        tagged.withColumn(
            "pv", F.last("view_id", ignorenulls=True).over(w)
        )
        .withColumn("pv_us", F.last("view_us", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.when(
                F.unix_micros("ts") - F.col("pv_us") <= tol_us, F.col("pv")
            ).alias("view_within_tol"),
            "value",
        )
        .orderBy("purchase_id")
    )


_NULLSAFE_ORACLE = f"""
WITH a AS (
  SELECT o_orderkey, NULLIF(o_orderpriority, '3-MEDIUM') AS pr,
         {sql_micros("o_totalprice")} AS price_m
  FROM orders WHERE o_orderkey % 2 = 0
), b AS (
  SELECT NULLIF(o_orderpriority, '3-MEDIUM') AS pr,
         COUNT(*) AS n_b
  FROM orders WHERE o_orderkey % 2 = 1
  GROUP BY 1
)
SELECT a.pr, COUNT(*) AS n_a, MIN(b.n_b) AS n_b,
       CAST(SUM(a.price_m) AS BIGINT) AS price_checksum_m
FROM a JOIN b ON a.pr IS NOT DISTINCT FROM b.pr
GROUP BY a.pr
ORDER BY a.pr NULLS FIRST
"""


@register("join_null_safe_eq", _NULLSAFE_ORACLE)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of vanishing — the semantics dimension-key
    reconciliation needs when "unknown" is itself a join key (a plain
    equi-join silently drops every NULL-keyed row, the classic silent
    data-loss bug). Spark hashes `<=>` keys like any equi-key, so this
    plans as a regular hash join — no nested loop penalty; note the
    flip side at scale: ALL null-keyed rows land in ONE hash bucket,
    so a null-heavy key is the canonical skew case (AQE skew split or
    pre-filtering the null partition handles it). Checksums are exact
    scaled longs.
    """
    o = t(spark, sf_dir, "orders")
    pr = F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM"))
    a = o.filter(F.col("o_orderkey") % 2 == 0).select(
        pr.alias("pr"),
        micros(F.col("o_totalprice"))
        .alias("price_m"),
    )
    b = (
        o.filter(F.col("o_orderkey") % 2 == 1)
        .select(pr.alias("pr_b"))
        .groupBy("pr_b")
        .agg(F.count(F.lit(1)).alias("n_b"))
    )
    return (
        a.join(b, a.pr.eqNullSafe(b.pr_b))
        .groupBy("pr")
        .agg(
            F.count(F.lit(1)).alias("n_a"),
            F.min("n_b").alias("n_b"),
            F.sum("price_m").alias("price_checksum_m"),
        )
        .orderBy(F.col("pr").asc_nulls_first())
    )


_DPP_ORACLE = f"""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice', 'revenue')}
FROM orders
WHERE o_orderstatus IN (SELECT s FROM (VALUES ('F')) AS dim(s))
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("join_dynamic_partition_pruning", _DPP_ORACLE)
def join_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning — the optimization that makes
    star-schema joins viable on partitioned fact tables: the fact side
    is partitioned on the join key, the dim side's filter only
    resolves at runtime, and Spark injects a dynamic-pruning subquery
    into the fact SCAN so non-qualifying partitions are never listed,
    let alone read. The op stages orders partitioned by status (the
    one-time layout cost a warehouse pays at write), joins a
    runtime-filtered dim, and `tests/test_plans.py` asserts
    `dynamicpruning` actually reached the scan — at 100 TB this is
    the difference between reading one date partition and reading the
    year. Oracle = the semantically-equal IN-subquery filter.
    """
    import os

    from ..sources.workspace import staged

    def build(base: str) -> None:
        t(spark, sf_dir, "orders").write.mode("overwrite").partitionBy(
            "o_orderstatus"
        ).parquet(base)
        spark.createDataFrame(
            [("F", 1), ("O", 0), ("P", 0)], ["s", "is_final"]
        ).write.parquet(os.path.join(base, "_dim"))

    base = staged(sf_dir, "dpp_fact", build)
    dim_path = os.path.join(base, "_dim")
    fact = spark.read.option("basePath", base).parquet(
        os.path.join(base, "o_orderstatus=*")
    )
    # Selective predicate on the BROADCAST dim side is what arms DPP:
    # the fact scan receives a dynamicpruning# partition filter fed by
    # the reused broadcast (plan-asserted in tests/test_plans.py).
    dim = F.broadcast(
        spark.read.parquet(dim_path).filter(F.col("is_final") == 1)
    )
    return (
        fact.join(dim, fact.o_orderstatus == dim.s)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
        )
        .orderBy("o_orderpriority")
    )


_SPATIAL_ORACLE = """
WITH cust AS (
  SELECT c_custkey,
         CAST(('0x' || substr(md5('gx:' || CAST(c_custkey AS VARCHAR)),
                              1, 8)) AS BIGINT) % 10000 AS x,
         CAST(('0x' || substr(md5('gy:' || CAST(c_custkey AS VARCHAR)),
                              1, 8)) AS BIGINT) % 10000 AS y
  FROM customer
),
supp AS (
  SELECT s_suppkey,
         CAST(('0x' || substr(md5('gx:s' || CAST(s_suppkey AS VARCHAR)),
                              1, 8)) AS BIGINT) % 10000 AS x,
         CAST(('0x' || substr(md5('gy:s' || CAST(s_suppkey AS VARCHAR)),
                              1, 8)) AS BIGINT) % 10000 AS y
  FROM supplier
),
hits AS (
  SELECT s.s_suppkey,
         CAST(COUNT(*) AS BIGINT) AS n_within,
         CAST(MIN((s.x - c.x) * (s.x - c.x)
                  + (s.y - c.y) * (s.y - c.y)) AS BIGINT) AS min_d2
  FROM supp s JOIN cust c
    ON (s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y) <= 62500
  GROUP BY s.s_suppkey
)
SELECT p.s_suppkey,
       COALESCE(h.n_within, 0) AS n_within,
       h.min_d2
FROM supp p LEFT JOIN hits h ON h.s_suppkey = p.s_suppkey
ORDER BY p.s_suppkey
"""


@register("join_spatial_grid", _SPATIAL_ORACLE)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join via grid binning — "customers within 250 units
    of each supplier" on a synthetic 10k×10k integer plane (coordinates
    are key-constructed md5 integers, so the oracle reproduces them
    exactly). The 100 TB shape: cell size = radius, points bucket into
    cells, each probe point fans out to its 3×3 neighborhood, and the
    candidate join is a plain EQUI-join on the cell key (shuffle both
    sides on cellk, uniform by construction) followed by the exact
    integer distance filter — candidates per probe ≈ 9·density, never
    the O(n·m) theta join the oracle runs at fixture scale. Exactness:
    a grid of cell size R with 8-neighbor probing covers every pair
    within distance R; all arithmetic is integer (squared distances),
    so both engines agree bit-for-bit.
    """
    R = 250

    def coords(df, key, salt):
        def axis(prefix):
            return (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit(prefix + salt),
                                F.col(key).cast("string"),
                            )
                        ),
                        1, 8,
                    ),
                    16, 10,
                ).cast("long")
                % 10000
            )

        return df.select(
            F.col(key), axis("gx:").alias("x"), axis("gy:").alias("y")
        )

    cust = coords(t(spark, sf_dir, "customer"), "c_custkey", "")
    supp = coords(t(spark, sf_dir, "supplier"), "s_suppkey", "s")
    cgrid = cust.select(
        "c_custkey", "x", "y",
        ((F.col("x") / R).cast("long") * 1000
         + (F.col("y") / R).cast("long")).alias("cellk"),
    )
    off = F.explode(
        F.array(*[F.lit(d) for d in range(9)])
    ).alias("d")
    sgrid = supp.select("s_suppkey", "x", "y", off).select(
        "s_suppkey", "x", "y",
        (
            ((F.col("x") / R).cast("long") + F.col("d") % 3 - 1) * 1000
            + (
                (F.col("y") / R).cast("long")
                + F.floor(F.col("d") / 3).cast("long")
                - 1
            )
        ).cast("long").alias("cellk"),
    )
    d2 = (
        (F.col("sx") - F.col("cx")) * (F.col("sx") - F.col("cx"))
        + (F.col("sy") - F.col("cy")) * (F.col("sy") - F.col("cy"))
    )
    hits = (
        sgrid.select(
            "s_suppkey", "cellk",
            F.col("x").alias("sx"), F.col("y").alias("sy"),
        )
        .join(
            cgrid.select(
                "cellk", F.col("x").alias("cx"), F.col("y").alias("cy")
            ),
            "cellk",
        )
        .filter(d2 <= R * R)
        .groupBy("s_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_within"),
            F.min(d2).alias("min_d2"),
        )
    )
    return (
        supp.select("s_suppkey")
        .join(hits, "s_suppkey", "left")
        .select(
            "s_suppkey",
            F.coalesce("n_within", F.lit(0)).cast("long").alias("n_within"),
            F.col("min_d2").cast("long").alias("min_d2"),
        )
        .orderBy("s_suppkey")
    )


_INTERVAL_OVERLAP_ORACLE = """
WITH camp AS (
  SELECT s_suppkey AS campaign_id,
         (s_suppkey * 37) % 2000 AS sa,
         (s_suppkey * 37) % 2000 + (s_suppkey % 45) + 5 AS ea
  FROM supplier
),
act AS (
  SELECT c_custkey AS cust_id,
         (c_custkey * 17) % 2000 AS cb,
         (c_custkey * 17) % 2000 + (c_custkey % 30) + 3 AS eb
  FROM customer
)
SELECT a.campaign_id,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(LEAST(a.ea, b.eb) - GREATEST(a.sa, b.cb)) AS BIGINT)
         AS overlap_days
FROM camp a JOIN act b ON a.sa < b.eb AND b.cb < a.ea
GROUP BY a.campaign_id
ORDER BY a.campaign_id
"""


@register("join_interval_overlap", _INTERVAL_OVERLAP_ORACLE)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join — the genomics/ad-exposure
    pattern where BOTH sides are ranges (vs join_range_bucketed's
    point-in-interval). The naive `a.start < b.end AND b.start <
    a.end` plans as a nested loop; here both sides explode to the
    fixed-width buckets they cover (width 64 ≥ both max lengths ⇒ ≤2
    buckets each) and overlap becomes a bucket EQUI-join + the exact
    residual predicate. An overlapping pair can now meet in up to two
    buckets, so each pair is counted ONCE in the bucket that contains
    the later of the two starts — the standard dedup rule that keeps
    the join duplicate-free without a distinct. Overlap length is
    pure integer day arithmetic. O(N+M) shuffle at any scale; bucket
    width trades explode factor vs residual selectivity exactly as in
    the point form.
    """
    width = 64
    sup = t(spark, sf_dir, "supplier")
    camp = sup.select(
        F.col("s_suppkey").alias("campaign_id"),
        ((F.col("s_suppkey") * 37) % 2000).alias("sa"),
        (
            (F.col("s_suppkey") * 37) % 2000 + (F.col("s_suppkey") % 45) + 5
        ).alias("ea"),
    ).withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.floor(F.col("sa") / width),
                F.floor((F.col("ea") - 1) / width),
            )
        ),
    )
    cust = t(spark, sf_dir, "customer")
    act = cust.select(
        F.col("c_custkey").alias("cust_id"),
        ((F.col("c_custkey") * 17) % 2000).alias("cb"),
        (
            (F.col("c_custkey") * 17) % 2000 + (F.col("c_custkey") % 30) + 3
        ).alias("eb"),
    ).withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.floor(F.col("cb") / width),
                F.floor((F.col("eb") - 1) / width),
            )
        ),
    )
    return (
        act.join(F.broadcast(camp), "bucket")
        .filter(
            (F.col("sa") < F.col("eb"))
            & (F.col("cb") < F.col("ea"))
            # count each overlapping pair exactly once: in the bucket
            # holding the later start
            & (
                F.col("bucket")
                == F.floor(F.greatest("sa", "cb") / width)
            )
        )
        .groupBy("campaign_id")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(
                F.least("ea", "eb") - F.greatest("sa", "cb")
            ).alias("overlap_days"),
        )
        .orderBy("campaign_id")
    )
