"""SURVEY.md §2.4 — aggregation operators.

Each query is a (PySpark DataFrame plan, DuckDB oracle SQL) pair. All
double accumulations go through functions.deterministic (exact decimal
sums) so the order-insensitive value hash matches bit-for-bit.

Scale notes per operator are inline; the common ones:
- groupBy on low-cardinality keys → map-side partial aggregation makes the
  shuffle tiny regardless of input size; safe at 100 TB.
- count_distinct on a high-cardinality key → 2-phase shuffle on the key;
  prefer approx_count_distinct at scale (provided as rows-mode twin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import sql, t
from ..functions.deterministic import (
    DEC,
    cents,
    davg,
    dsum,
    ln_micros,
    micros,
    sql_cents,
    sql_davg,
    sql_dsum,
    sql_ln_micros,
    sql_micros,
)
from .registry import register

# ---------------------------------------------------------------------------
# agg_groupby_basic — the flagship: TPC-H Q1-shaped pricing summary.
# scan → filter → hash agg (map-side partial) → sort. (SURVEY.md §7.3)
# At 100 TB: filter pushes to parquet row groups; 6-group output means the
# shuffle after partial agg is a few KB per task — this plan is scale-free.
# ---------------------------------------------------------------------------

_Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {sql_dsum("l_quantity", "sum_qty")},
  {sql_dsum("l_extendedprice", "sum_base_price")},
  {sql_dsum("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
  {sql_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge")},
  {sql_davg("l_quantity", "avg_qty")},
  {sql_davg("l_extendedprice", "avg_price")},
  {sql_davg("l_discount", "avg_disc")},
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("agg_groupby_basic", _Q1_ORACLE)
def agg_groupby_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), "sum_qty"),
            dsum(F.col("l_extendedprice"), "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg(F.col("l_quantity"), "avg_qty"),
            davg(F.col("l_extendedprice"), "avg_price"),
            davg(F.col("l_discount"), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "agg_global",
    f"""
    SELECT
      COUNT(*) AS n_rows,
      {sql_dsum("o_totalprice", "total_revenue")},
      {sql_davg("o_totalprice", "avg_price")},
      ROUND(MIN(o_totalprice), 2) AS min_price,
      ROUND(MAX(o_totalprice), 2) AS max_price
    FROM orders
    """,
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(F.col("o_totalprice"), "total_revenue"),
        davg(F.col("o_totalprice"), "avg_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


@register(
    "agg_count_distinct",
    """
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact distinct: Spark expands to a 2-phase agg (distinct on
    # (status, custkey) then count). At 100 TB this double-shuffles on a
    # wide key — acceptable for dims; for high-card keys use the
    # approx twin below.
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "agg_approx_count_distinct",
    """
    SELECT COUNT(DISTINCT user_id) AS exact_users,
           COUNT(DISTINCT event_id) AS exact_events,
           TRUE AS users_within_10pct,
           TRUE AS events_within_10pct
    FROM events
    """,
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # HyperLogLog++: single-pass, fixed memory, no exact-distinct
    # double shuffle — the 100 TB path for distinct counts. Sketch
    # estimates are engine-specific, so the driver-checkable contract is
    # the error bound: emit the exact counts plus booleans asserting the
    # HLL estimate (rsd=0.02) landed within 10% of exact — the oracle
    # expects TRUE, so a drifting sketch FAILS the hash compare.
    ev = t(spark, sf_dir, "events")
    # Two passes, not one: mixing exact multi-DISTINCT with HLL in a
    # single agg makes Catalyst evaluate the sketches over the Expand'd
    # (per-distinct-set duplicated) rows — measured 8.5s vs 2.4s split at
    # sf0.1. Each 1-row side then cross-joins for free.
    exact = ev.agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.countDistinct("event_id").alias("exact_events"),
    )
    hll = ev.agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("au"),
        F.approx_count_distinct("event_id", rsd=0.02).alias("ae"),
    )
    agg = exact.crossJoin(hll)
    def within(approx, exact_col):
        return (
            F.abs(F.col(approx) - F.col(exact_col))
            <= F.lit(0.10) * F.col(exact_col)
        )
    return agg.select(
        "exact_users",
        "exact_events",
        within("au", "exact_users").alias("users_within_10pct"),
        within("ae", "exact_events").alias("events_within_10pct"),
    )


@register(
    "agg_filtered",
    f"""
    SELECT
      l_returnflag,
      {sql_dsum("CASE WHEN l_discount > 0.05 THEN l_extendedprice END",
                "discounted_rev")},
      COUNT(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
      COUNT(*) AS n_total
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            dsum(
                F.when(F.col("l_discount") > 0.05, F.col("l_extendedprice")),
                "discounted_rev",
            ),
            F.count(F.when(F.col("l_quantity") > 25, F.lit(1))).alias("n_bulk"),
            F.count(F.lit(1)).alias("n_total"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_having",
    f"""
    SELECT o_custkey, COUNT(*) AS n_orders,
           {sql_dsum("o_totalprice", "spend")}
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 12
    ORDER BY o_custkey
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "spend"),
        )
        .filter(F.col("n_orders") >= 12)
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# agg_stats — stddev/variance/corr/covar via exact power sums.
# Native stddev/corr use Welford-style merges whose result depends on
# partition order (nondeterministic run-to-run); computing from exact
# sums of x, y (micros) and x², y², xy (wide decimal: they can pass
# 2^63 micros) makes the result bit-stable and engine-portable. Same
# single shuffle as the native aggregate.
# ---------------------------------------------------------------------------

_STATS_ORACLE = f"""
WITH s AS (
  SELECT
    c_mktsegment,
    COUNT(*) AS n,
    {sql_dsum("c_acctbal", "sx")},
    SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(38,6))) AS sxx
  FROM customer GROUP BY c_mktsegment
)
SELECT
  c_mktsegment,
  n AS n_customers,
  ROUND((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
        / (n - 1), 4) AS var_bal,
  ROUND(SQRT((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
        / (n - 1)), 4) AS stddev_bal
FROM s ORDER BY c_mktsegment
"""


@register("agg_stats", _STATS_ORACLE)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    x = F.col("c_acctbal")
    grouped = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(x, "sx"),
        F.sum((x * x).cast(DEC)).alias("sxx"),
    )
    n = F.col("n")
    sx = F.col("sx")
    sxx = F.col("sxx").cast("double")
    var = (sxx - sx * sx / n) / (n - 1)
    return grouped.select(
        "c_mktsegment",
        n.alias("n_customers"),
        F.round(var, 4).alias("var_bal"),
        F.round(F.sqrt(var), 4).alias("stddev_bal"),
    ).orderBy("c_mktsegment")


_CORR_ORACLE = f"""
WITH s AS (
  SELECT
    COUNT(*) AS n,
    {sql_dsum("l_quantity", "sx")},
    {sql_dsum("l_extendedprice", "sy")},
    SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6))) AS sxx,
    SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS syy,
    SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))) AS sxy
  FROM lineitem
)
SELECT
  ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (SQRT(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           * SQRT(n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
        6) AS corr_qty_price,
  ROUND((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) / n,
        4) AS covar_pop_qty_price
FROM s
"""


@register("agg_corr_covar", _CORR_ORACLE)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        dsum(x, "sx"),
        dsum(y, "sy"),
        F.sum((x * x).cast(DEC)).alias("sxx"),
        F.sum((y * y).cast(DEC)).alias("syy"),
        F.sum((x * y).cast(DEC)).alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx"), F.col("sy")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    covar_pop = (sxy - sx * sy / n) / n
    return s.select(
        F.round(corr, 6).alias("corr_qty_price"),
        F.round(covar_pop, 4).alias("covar_pop_qty_price"),
    )


@register(
    "agg_percentile",
    """
    SELECT
      l_returnflag,
      ROUND(MEDIAN(l_extendedprice), 6) AS median_price,
      ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25_price,
      ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact percentile needs per-group sorted values: fine for bounded
    # groups; at 100 TB switch to approx_percentile (t-digest sketch).
    # One percentile aggregate with an array of fractions → ONE sorted
    # buffer per group instead of three (3 separate aggs each kept their
    # own copy of the group's values: 4s → ~1.5s at sf0.1).
    li = t(spark, sf_dir, "lineitem")
    pcts = F.percentile(
        "l_extendedprice", F.array(F.lit(0.5), F.lit(0.25), F.lit(0.95))
    )
    return (
        li.groupBy("l_returnflag")
        .agg(pcts.alias("p"))
        .select(
            "l_returnflag",
            F.round(F.col("p")[0], 6).alias("median_price"),
            F.round(F.col("p")[1], 6).alias("p25_price"),
            F.round(F.col("p")[2], 6).alias("p95_price"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_percentile_approx",
    """
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           TRUE AS median_rank_ok,
           TRUE AS p95_rank_ok
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The 100 TB percentile path: approx_percentile keeps a
    # Greenwald-Khanna sketch with bounded memory and a PARTIAL
    # aggregation phase (map-side combine, plan-asserted in
    # tests/test_plans.py) — unlike exact percentile's per-group sorted
    # buffer (agg_percentile). Sketch values are engine-specific, so the
    # driver-checkable contract is the sketch's RANK guarantee, verified
    # without ever materializing an exact percentile: a second codegen
    # pass counts rows ≤ the estimate, and the boolean asserts that rank
    # lands within GK's accuracy bound (1/accuracy = 1e-4 of rank, plus
    # value-tie slack) of the requested fraction. Both passes are
    # streaming aggregates — no sorted buffer anywhere in the plan.
    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    sk = (
        li.groupBy("l_returnflag")
        .agg(
            F.percentile_approx(
                "l_extendedprice", F.array(F.lit(0.5), F.lit(0.95)), F.lit(10000)
            ).alias("a")
        )
        .select(
            "l_returnflag",
            F.col("a")[0].alias("ap50"),
            F.col("a")[1].alias("ap95"),
        )
    )
    def rank_ok(est, frac):
        achieved = F.avg((F.col("l_extendedprice") <= F.col(est)).cast("double"))
        return (achieved >= F.lit(frac) - F.lit(0.01)) & (
            achieved <= F.lit(frac) + F.lit(0.01)
        )
    return (
        li.join(F.broadcast(sk), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            rank_ok("ap50", 0.5).alias("median_rank_ok"),
            rank_ok("ap95", 0.95).alias("p95_rank_ok"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_minmax_by",
    """
    SELECT
      o_orderstatus,
      arg_max(o_orderkey, o_totalprice) AS biggest_order,
      arg_min(o_orderkey, o_totalprice) AS smallest_order,
      ROUND(MAX(o_totalprice), 2) AS max_price
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Determinism caveat: arg_max ties are engine-defined; o_totalprice is
    # a continuous double over distinct orders, so ties don't occur in the
    # fixtures (verified); at scale pair with a unique tiebreak column.
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.max_by("o_orderkey", "o_totalprice").alias("biggest_order"),
            F.min_by("o_orderkey", "o_totalprice").alias("smallest_order"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "agg_collect",
    """
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           COUNT(*) AS n_nations
    FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    # collect_list order is partition-dependent → always array_sort for a
    # deterministic value. Only safe for bounded groups (dims), never the
    # fact table. The collected list surfaces as a comma-joined string so
    # the flat value is hashable by any row-comparison harness (a true
    # array<string> column is not).
    return (
        t(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(
            F.array_join(
                F.array_sort(F.collect_list("n_name")), ","
            ).alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
        .orderBy("n_regionkey")
    )


@register(
    "agg_string_agg",
    """
    SELECT c_mktsegment,
           string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority)
             AS priorities
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.array_join(
                F.array_sort(F.collect_set("o_orderpriority")), ","
            ).alias("priorities")
        )
        .orderBy("c_mktsegment")
    )


@register(
    "agg_rollup",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum("l_extendedprice", "revenue")},
           COUNT(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_extendedprice"), "revenue"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@register(
    "agg_cube",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           {sql_dsum("o_totalprice", "revenue")}
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    # CUBE expands to 2^k grouping sets — the expansion happens before the
    # shuffle (Expand operator), so input is replicated 4×; at 100 TB
    # prefer explicit GROUPING SETS of only the needed combinations.
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(dsum(F.col("o_totalprice"), "revenue"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@register(
    "agg_grouping_sets",
    f"""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_flag,
           GROUPING(l_linestatus) AS g_status,
           {sql_dsum("l_quantity", "qty")}
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sql(
        spark,
        sf_dir,
        f"""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
               {sql_dsum("l_quantity", "qty")}
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY g_flag, g_status, l_returnflag NULLS FIRST,
                 l_linestatus NULLS FIRST
        """,
    )


@register(
    "agg_distinct_on",
    """
    SELECT o_custkey, o_orderkey AS latest_order, o_orderdate AS latest_date
    FROM (
      SELECT o_custkey, o_orderkey, o_orderdate,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn = 1
    ORDER BY o_custkey
    """,
)
def agg_distinct_on(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DuckDB DISTINCT ON (k) ... ORDER BY — first row per key. The
    # window-rank form is the scalable Spark equivalent (single shuffle on
    # the key; AQE handles skew).
    from pyspark.sql import Window as W

    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_order"),
            F.col("o_orderdate").alias("latest_date"),
        )
        .orderBy("o_custkey")
    )


@register(
    "agg_time_rollup",
    f"""
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
           CAST(EXTRACT(month FROM o_orderdate) AS INT) AS mo,
           COUNT(*) AS n_orders,
           {sql_dsum("o_totalprice", "revenue")},
           CAST(GROUPING(CAST(EXTRACT(year FROM o_orderdate) AS INT)) AS INT)
             AS g_yr,
           CAST(GROUPING(CAST(EXTRACT(month FROM o_orderdate) AS INT)) AS INT)
             AS g_mo
    FROM orders
    GROUP BY ROLLUP (1, 2)
    """,
)
def agg_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hypertable-style time-hierarchy rollup: month → year → grand total
    # in one pass (GROUP BY ROLLUP over extracted time parts). At scale
    # this is the continuous-aggregate shape: partial aggregation happens
    # once at the finest grain and the coarser grains combine partials —
    # no extra scans. grouping() flags disambiguate subtotal rows.
    o = t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        "o_totalprice",
    )
    return (
        o.rollup("yr", "mo")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), "revenue"),
            F.grouping("yr").cast("int").alias("g_yr"),
            F.grouping("mo").cast("int").alias("g_mo"),
        )
    )


@register(
    "agg_pivot",
    f"""
    SELECT l_returnflag,
           {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END",
                     "qty_F")},
           {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END",
                     "qty_O")}
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PIVOT (long → wide): groupBy().pivot() with EXPLICIT pivot values —
    # omitting them forces an extra distinct-scan job to discover the
    # domain, which at 100 TB is a full pass you didn't need. The oracle
    # is the portable CASE-aggregation form (one shuffle either way).
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(dsum(F.col("l_quantity"), "q"))
        .select(
            "l_returnflag",
            F.col("F").alias("qty_F"),
            F.col("O").alias("qty_O"),
        )
    )


@register(
    "agg_unpivot",
    """
    SELECT o_orderkey, 'totalprice' AS measure, o_totalprice AS value
    FROM orders
    UNION ALL
    SELECT o_orderkey, 'custkey' AS measure, CAST(o_custkey AS DOUBLE) AS value
    FROM orders
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    # UNPIVOT (wide → long) via the native unpivot operator — a narrow
    # per-row explode, no shuffle; the portable oracle is the UNION ALL
    # form.
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").alias("totalprice"),
        F.col("o_custkey").cast("double").alias("custkey"),
    )
    return o.unpivot(
        ["o_orderkey"], ["totalprice", "custkey"], "measure", "value"
    )


@register(
    "agg_date_spine",
    """
    WITH spine AS (
      SELECT unnest(generate_series(
        TIMESTAMP '1998-01-01', TIMESTAMP '1998-01-31', INTERVAL 1 DAY)) AS day
    ), daily AS (
      SELECT date_trunc('day', o_orderdate) AS day, COUNT(*) AS n
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        AND o_orderdate < TIMESTAMP '1998-02-01'
      GROUP BY 1
    )
    SELECT spine.day, COALESCE(daily.n, 0) AS n_orders
    FROM spine LEFT JOIN daily ON spine.day = daily.day
    """,
)
def agg_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Date spine (dbt-utils classic): a generated calendar LEFT JOINed
    # against facts so empty days surface as zeros. The spine is a
    # sequence() explode of a literal range — tiny, always broadcast;
    # gaps appear as NULL → COALESCE 0.
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1998-01-01").cast("timestamp"),
                F.lit("1998-01-31").cast("timestamp"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    daily = (
        t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= "1998-01-01")
            & (F.col("o_orderdate") < "1998-02-01")
        )
        .groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return spine.join(daily, "day", "left").select(
        "day", F.coalesce(F.col("n"), F.lit(0)).alias("n_orders")
    )


_MODE_MEDIAN_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       mode(CASE WHEN l_quantity <= 35 THEN 'standard' ELSE 'bulk' END)
         AS mode_class,
       CAST(mode(CAST(l_quantity <= 35 AS INTEGER)) AS INTEGER)
         AS mode_class_flag,
       median({sql_cents("l_quantity")}) AS median_qty_cents,
       median({sql_micros("l_extendedprice")})
         AS median_price_micros,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("agg_mode_median", _MODE_MEDIAN_ORACLE)
def agg_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mode() / median() — the two order-statistic aggregates DuckDB users
    reach for before percentile. Both need determinism care:

    - mode() is tie-unspecified in BOTH engines, so the measured column is
      a constructed 70/30 class split (quantity ≤ 35 over a uniform 1..50
      domain) — the winner leads by ~40% of each group, so no fixture SF
      can flip it. The uniform synthetic fixtures have no naturally-skewed
      low-cardinality column (l_linenumber's 1..7 counts differ by <0.2%),
      so a demo on raw data would be a coin-flip across engines.
    - median() interpolates the middle pair on even counts; over raw
      doubles the interpolation arithmetic is engine-specific. Quantizing
      to integer cents/micros first makes every candidate midpoint k or
      k+0.5 — exactly representable, computed identically.

    Both are single hash-aggregate shuffles on the group key; mode keeps a
    per-group value→count map (bounded by the 2-value class domain) and
    Spark's median is a typed percentile buffer — at 100 TB the GK-sketch
    `agg_percentile_approx` is the registered scale path for the latter.
    """
    li = t(spark, sf_dir, "lineitem")
    cls = F.when(F.col("l_quantity") <= 35, "standard").otherwise("bulk")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.mode(cls).alias("mode_class"),
            F.mode((F.col("l_quantity") <= 35).cast("int")).alias(
                "mode_class_flag"
            ),
            F.median(cents(F.col("l_quantity"))).alias("median_qty_cents"),
            F.median(
                micros(F.col("l_extendedprice"))
            ).alias("median_price_micros"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_BITMAP_ORACLE = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_distinct_parts,
       COUNT(DISTINCT l_orderkey) AS n_distinct_orders
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_bitmap_distinct", _BITMAP_ORACLE)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) via Spark's bitmap aggregates — the
    scale-out pattern for high-cardinality distinct counters. Keys are
    bucketed into 32k-bit bitmaps (`bitmap_bucket_number` /
    `bitmap_bit_position`), `bitmap_construct_agg` ORs positions within
    a (group, bucket) — a fixed-width binary accumulator that merges
    associatively map-side, unlike the Expand-based multi-DISTINCT
    rewrite — and the outer SUM of per-bucket `bitmap_count`s is the
    exact distinct count. At 100 TB this shape also serves incremental
    materialization: per-bucket bitmaps persist and OR with tomorrow's
    delta (`bitmap_or_agg`), giving exact running distincts without
    re-scanning history. Oracle: plain COUNT(DISTINCT).
    """
    li = t(spark, sf_dir, "lineitem")

    def bitmap_distinct(key: str, alias: str) -> DataFrame:
        # one aggregation per counted key: a shared (bucket_a, bucket_b)
        # grouping would split key A's bitmap across key B's buckets and
        # overcount the SUM
        per_bucket = li.groupBy(
            "l_returnflag",
            F.expr(f"bitmap_bucket_number({key})").alias("bucket"),
        ).agg(
            F.expr(
                f"bitmap_count(bitmap_construct_agg("
                f"bitmap_bit_position({key})))"
            ).alias("c")
        )
        return per_bucket.groupBy("l_returnflag").agg(
            F.sum("c").alias(alias)
        )

    parts = bitmap_distinct("l_partkey", "n_distinct_parts")
    orders = bitmap_distinct("l_orderkey", "n_distinct_orders")
    return parts.join(orders, "l_returnflag").orderBy("l_returnflag")


_HISTOGRAM_ORACLE = f"""
SELECT CAST(FLOOR((l_quantity - 1) / 5.0) AS BIGINT) + 1 AS bucket,
       CAST(1.0 + (CAST(FLOOR((l_quantity - 1) / 5.0) AS BIGINT)) * 5.0
            AS DOUBLE) AS bucket_lo,
       COUNT(*) AS n,
       CAST(SUM({sql_micros("l_extendedprice")})
            AS DOUBLE) / 1000000 AS revenue
FROM lineitem
GROUP BY 1, 2
ORDER BY bucket
"""


@register("agg_histogram", _HISTOGRAM_ORACLE)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram via ``width_bucket`` — the profiling /
    dashboard staple. Quantity spans [1, 51) in 10 buckets of width 5;
    the width (51-1)/10 = 5.0 and the offsets (q-1)/5.0 are exact
    doubles for the integer-valued domain, so Spark's width_bucket and
    the oracle's explicit floor-formula (DuckDB 1.0 has no
    width_bucket) land every value in the same bucket with no boundary
    ambiguity — the same discipline as deterministic.py: keep bucketing
    arithmetic exactly representable. One partial-aggregated shuffle of
    ≤10 group states per task at any scale.
    """
    li = t(spark, sf_dir, "lineitem")
    b = F.expr("width_bucket(l_quantity, 1, 51, 10)")
    return (
        li.groupBy(
            b.alias("bucket"),
            (1.0 + (b - 1) * 5.0).alias("bucket_lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                micros(F.col("l_extendedprice"))
            ).cast("double").alias("revenue"),
        )
        .withColumn("revenue", F.col("revenue") / 1_000_000)
        .orderBy("bucket")
    )


_HLL_MERGE_ORACLE = """
SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS within_5pct
FROM events GROUP BY event_type
UNION ALL
SELECT '__union__' AS event_type, COUNT(DISTINCT user_id), TRUE
FROM events
ORDER BY event_type
"""


@register("agg_hll_sketch_merge", _HLL_MERGE_ORACLE)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct counts via Datasketches HLL (Spark 3.5+
    `hll_sketch_agg` / `hll_union_agg`): build one fixed-width sketch
    per group, then MERGE the sketches — no raw re-scan — to get the
    cross-group distinct. This is THE 100 TB pattern for distinct
    metrics over rollup hierarchies (hourly sketches union into daily
    into monthly; a materialized sketch column makes every coarser
    distinct a metadata-sized merge). Sketch bytes are engine-specific,
    so the driver contract is the agg_approx_count_distinct pattern:
    exact values + booleans asserting the estimate landed within 5%
    (default lgConfigK=12 → ~1.6% rel. error), oracle expects TRUE.
    Exact distincts and sketches run as separate aggs — mixing them
    makes Catalyst evaluate sketches over Expand'd rows (CLAUDE.md).
    """
    ev = t(spark, sf_dir, "events")
    sketches = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    per_type = (
        ev.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("exact_users"))
        .join(
            F.broadcast(
                sketches.select(
                    "event_type",
                    F.hll_sketch_estimate("sk").alias("est"),
                )
            ),
            "event_type",
        )
    )
    union_row = (
        ev.agg(F.count_distinct("user_id").alias("exact_users"))
        .crossJoin(
            F.broadcast(
                sketches.agg(
                    F.hll_sketch_estimate(
                        F.hll_union_agg("sk")
                    ).alias("est")
                )
            )
        )
        .select(F.lit("__union__").alias("event_type"), "exact_users", "est")
    )
    within = (
        F.abs(F.col("est") - F.col("exact_users"))
        <= F.lit(0.05) * F.col("exact_users")
    ).alias("within_5pct")
    return (
        per_type.select("event_type", "exact_users", within)
        .unionAll(union_row.select("event_type", "exact_users", within))
        .orderBy("event_type")
    )


_AB_TTEST_ORACLE = f"""
WITH x AS (
  SELECT event_type, user_id % 2 AS arm,
         {sql_cents("value")} AS v
  FROM events
), s AS (
  SELECT event_type, arm, COUNT(*) AS n,
         CAST(SUM(v) AS BIGINT) AS sx,
         CAST(SUM(v * v) AS BIGINT) AS sxx
  FROM x GROUP BY event_type, arm
), p AS (
  SELECT event_type,
         MAX(CASE WHEN arm = 0 THEN n END)   AS n_a,
         MAX(CASE WHEN arm = 0 THEN sx END)  AS sx_a,
         MAX(CASE WHEN arm = 0 THEN sxx END) AS sxx_a,
         MAX(CASE WHEN arm = 1 THEN n END)   AS n_b,
         MAX(CASE WHEN arm = 1 THEN sx END)  AS sx_b,
         MAX(CASE WHEN arm = 1 THEN sxx END) AS sxx_b
  FROM s GROUP BY event_type
)
SELECT event_type, n_a, n_b,
       CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a_cents,
       CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b_cents,
       (CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        - CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE))
       / sqrt(
           ((CAST(sxx_a AS DOUBLE)
             - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE)
               / CAST(n_a AS DOUBLE))
            / CAST(n_a - 1 AS DOUBLE)) / CAST(n_a AS DOUBLE)
         + ((CAST(sxx_b AS DOUBLE)
             - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE)
               / CAST(n_b AS DOUBLE))
            / CAST(n_b - 1 AS DOUBLE)) / CAST(n_b AS DOUBLE)
       ) AS t_stat
FROM p
ORDER BY event_type
"""


@register("agg_ab_ttest", _AB_TTEST_ORACLE)
def agg_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t-statistic per experiment cell — the A/B-test readout
    every product-analytics deployment computes. One pass accumulates
    exact integer Σx / Σx² over cent-quantized values per (metric,
    arm) — order-insensitive longs, map-side combined — then the
    pivoted per-metric row derives means, variances and the t-stat
    through an IDENTICAL double-op chain on both engines (the
    win_rolling_zscore discipline: from bit-equal integer inputs,
    the same IEEE ops in the same order give bit-equal doubles; no
    rounding anywhere). The shuffle carries 2 rows per metric at any
    corpus size — statistics at 100 TB cost one scan.
    """
    e = t(spark, sf_dir, "events")
    x = e.select(
        "event_type",
        (F.col("user_id") % 2).alias("arm"),
        cents(F.col("value")).alias("v"),
    )
    s = x.groupBy("event_type", "arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sx"),
        F.sum(F.col("v") * F.col("v")).alias("sxx"),
    )
    def side(col, arm):
        return F.max(F.when(F.col("arm") == arm, F.col(col)))
    p = s.groupBy("event_type").agg(
        side("n", 0).alias("n_a"), side("sx", 0).alias("sx_a"),
        side("sxx", 0).alias("sxx_a"),
        side("n", 1).alias("n_b"), side("sx", 1).alias("sx_b"),
        side("sxx", 1).alias("sxx_b"),
    )
    def mean(sx, n):
        return F.col(sx).cast("double") / F.col(n).cast("double")
    def var_over_n(sxx, sx, n):
        return (
            (
                F.col(sxx).cast("double")
                - F.col(sx).cast("double") * F.col(sx).cast("double")
                / F.col(n).cast("double")
            )
            / (F.col(n) - 1).cast("double")
        ) / F.col(n).cast("double")
    t_stat = (mean("sx_a", "n_a") - mean("sx_b", "n_b")) / F.sqrt(
        var_over_n("sxx_a", "sx_a", "n_a") + var_over_n("sxx_b", "sx_b", "n_b")
    )
    return p.select(
        "event_type", "n_a", "n_b",
        mean("sx_a", "n_a").alias("mean_a_cents"),
        mean("sx_b", "n_b").alias("mean_b_cents"),
        t_stat.alias("t_stat"),
    ).orderBy("event_type")


_RETENTION_ORACLE = """
WITH w AS (
  SELECT user_id,
         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7
           AS week_idx
  FROM events
), c AS (
  SELECT user_id, MIN(week_idx) AS cohort_week FROM w GROUP BY user_id
), a AS (
  SELECT c.cohort_week, w.week_idx,
         COUNT(DISTINCT w.user_id) AS n_active
  FROM w JOIN c ON w.user_id = c.user_id
  GROUP BY c.cohort_week, w.week_idx
), z AS (
  SELECT cohort_week, COUNT(*) AS cohort_size FROM c GROUP BY cohort_week
)
SELECT a.cohort_week, a.week_idx, a.n_active, z.cohort_size,
       CAST(a.n_active AS DOUBLE) / CAST(z.cohort_size AS DOUBLE)
         AS retention
FROM a JOIN z ON a.cohort_week = z.cohort_week
ORDER BY a.cohort_week, a.week_idx
"""


@register("agg_retention_cohort", _RETENTION_ORACLE)
def agg_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — users bucketed by first-seen week, then
    the classic "what fraction of each cohort was still active in week
    N" triangle every growth dashboard renders. Three aggregations
    that all hash-partition on user_id / cohort_week (Catalyst reuses
    the user_id exchange between the cohort min and the activity
    join; the cohort frame is ≤ |users| rows and broadcast-joins back)
    — no window over the full event stream, no per-user state. Week
    indexes are pure integer day arithmetic (no date_trunc
    engine-variance), retention is one double division of exact ints.
    """
    e = t(spark, sf_dir, "events")
    w = e.select(
        "user_id",
        F.floor(
            F.datediff(F.col("ts"), F.lit("2024-01-01")) / 7
        ).alias("week_idx"),
    )
    c = w.groupBy("user_id").agg(F.min("week_idx").alias("cohort_week"))
    a = (
        w.join(F.broadcast(c), "user_id")
        .groupBy("cohort_week", "week_idx")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )
    z = c.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        a.join(F.broadcast(z), "cohort_week")
        .select(
            "cohort_week", "week_idx", "n_active", "cohort_size",
            (
                F.col("n_active").cast("double")
                / F.col("cohort_size").cast("double")
            ).alias("retention"),
        )
        .orderBy("cohort_week", "week_idx")
    )


_REGR_ORACLE = f"""
WITH x AS (
  SELECT event_type,
         CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
              AS BIGINT) AS xd,
         {sql_cents("value")} AS yc
  FROM events
), s AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(xd) AS BIGINT) AS sx,
         CAST(SUM(yc) AS BIGINT) AS sy,
         CAST(SUM(xd * yc) AS BIGINT) AS sxy,
         CAST(SUM(xd * xd) AS BIGINT) AS sxx
  FROM x GROUP BY event_type
)
SELECT event_type, n,
       CAST(CAST(n * sxy - sx * sy AS BIGINT) AS DOUBLE)
       / CAST(CAST(n * sxx - sx * sx AS BIGINT) AS DOUBLE)
         AS slope_cents_per_day,
       (CAST(sy AS DOUBLE)
        - (CAST(CAST(n * sxy - sx * sy AS BIGINT) AS DOUBLE)
           / CAST(CAST(n * sxx - sx * sx AS BIGINT) AS DOUBLE))
          * CAST(sx AS DOUBLE))
       / CAST(n AS DOUBLE) AS intercept_cents
FROM s
ORDER BY event_type
"""


@register("agg_regression_trend", _REGR_ORACLE)
def agg_regression_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend (slope + intercept of value over day index) —
    the metric-drift line every monitoring system fits. Built-in
    regr_slope/regr_avg accumulate doubles in partition order and so
    drift between engines; this uses the moment-sum formulation
    instead: five exact integer accumulators (n, Σx, Σy, Σxy, Σx²),
    map-side combinable, then slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²)
    where numerator and denominator are computed IN BIGINT (exact) and
    divided once as doubles — the agg_ab_ttest discipline. One scan,
    5-rows-per-group shuffle, any scale.
    """
    e = t(spark, sf_dir, "events")
    x = e.select(
        "event_type",
        F.datediff(F.col("ts"), F.lit("2024-01-01"))
        .cast("long")
        .alias("xd"),
        cents(F.col("value")).alias("yc"),
    )
    s = x.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xd").alias("sx"),
        F.sum("yc").alias("sy"),
        F.sum(F.col("xd") * F.col("yc")).alias("sxy"),
        F.sum(F.col("xd") * F.col("xd")).alias("sxx"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("long")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("long")
    slope = num.cast("double") / den.cast("double")
    intercept = (
        F.col("sy").cast("double") - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return s.select(
        "event_type", "n",
        slope.alias("slope_cents_per_day"),
        intercept.alias("intercept_cents"),
    ).orderBy("event_type")


_MOMENTS_ORACLE = f"""
WITH x AS (
  SELECT event_type, CAST({sql_cents("value")} AS HUGEINT) AS v
  FROM events
), s0 AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(v) AS w1, SUM(v * v) AS w2,
         SUM(v * v * v) AS w3, SUM(v * v * v * v) AS w4
  FROM x GROUP BY event_type
), s AS (
  -- exact wide-int → double via hi/lo 32-bit split: both halves are
  -- exactly representable, one IEEE add rounds identically everywhere
  -- (a direct HUGEINT→DOUBLE cast is not correctly rounded in DuckDB)
  SELECT event_type, n,
         CAST(w1 AS DOUBLE) AS s1,
         CAST(w2 AS DOUBLE) AS s2,
         CAST(w3 - (w3 % 4294967296) AS DOUBLE)
           + CAST(w3 % 4294967296 AS DOUBLE) AS s3,
         CAST(w4 - (w4 % 4294967296) AS DOUBLE)
           + CAST(w4 % 4294967296 AS DOUBLE) AS s4
  FROM s0
), m AS (
  SELECT event_type, n,
         s1 / CAST(n AS DOUBLE) AS mean,
         s2 / CAST(n AS DOUBLE) AS r2,
         s3 / CAST(n AS DOUBLE) AS r3,
         s4 / CAST(n AS DOUBLE) AS r4
  FROM s
)
SELECT event_type, n, mean AS mean_cents,
       (r3 - 3 * mean * r2 + 2 * mean * mean * mean)
       / ((r2 - mean * mean) * sqrt(r2 - mean * mean)) AS skewness,
       (r4 - 4 * mean * r3 + 6 * mean * mean * r2
        - 3 * mean * mean * mean * mean)
       / ((r2 - mean * mean) * (r2 - mean * mean)) - 3 AS kurtosis_excess
FROM m
ORDER BY event_type
"""


@register("agg_higher_moments", _MOMENTS_ORACLE)
def agg_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis per group — the distribution-shape
    monitors (value distributions going long-tailed or bimodal is what
    skew/kurtosis alerts catch before means move). Built-in skewness()/
    kurtosis() accumulate running central moments in partition order
    (engine- and order-dependent bits); this uses raw power sums
    instead: Σv..Σv⁴ as EXACT wide-decimal integers (v⁴ of a cent
    value overflows BIGINT — a wide accumulator in the sense of
    functions/deterministic.py), converted once
    to double and pushed through an IDENTICAL arithmetic chain on both
    engines. Decimal aggregation is the documented ~2.5× slower path —
    paid only here, where longs cannot hold the moment. One scan,
    four accumulators per group, any scale.
    """
    e = t(spark, sf_dir, "events")
    v = cents(F.col("value")).cast("decimal(38,0)")
    x = e.select("event_type", v.alias("v"))
    s0 = x.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("w1"),
        F.sum(F.col("v") * F.col("v")).alias("w2"),
        F.sum(F.col("v") * F.col("v") * F.col("v")).alias("w3"),
        F.sum(F.col("v") * F.col("v") * F.col("v") * F.col("v")).alias("w4"),
    )
    # Exact wide-int → double via hi/lo 32-bit split (see oracle note):
    # w - (w % 2^32) keeps 53 significant bits (trailing 32 zeros) and
    # w % 2^32 fits 32 bits — both cast exactly; the single IEEE add
    # then rounds the true sum identically on every engine.
    two32 = F.lit(4294967296).cast("decimal(38,0)")

    def wide_to_double(col):
        lo = F.pmod(col, two32)
        return (col - lo).cast("double") + lo.cast("double")

    s = s0.select(
        "event_type", "n",
        F.col("w1").cast("double").alias("s1"),
        F.col("w2").cast("double").alias("s2"),
        wide_to_double(F.col("w3")).alias("s3"),
        wide_to_double(F.col("w4")).alias("s4"),
    )
    nd = F.col("n").cast("double")
    m = s.select(
        "event_type", "n",
        (F.col("s1") / nd).alias("mean"),
        (F.col("s2") / nd).alias("r2"),
        (F.col("s3") / nd).alias("r3"),
        (F.col("s4") / nd).alias("r4"),
    )
    mean, r2, r3, r4 = F.col("mean"), F.col("r2"), F.col("r3"), F.col("r4")
    var = r2 - mean * mean
    skew = (r3 - F.lit(3) * mean * r2 + F.lit(2) * mean * mean * mean) / (
        var * F.sqrt(var)
    )
    kurt = (
        r4
        - F.lit(4) * mean * r3
        + F.lit(6) * mean * mean * r2
        - F.lit(3) * mean * mean * mean * mean
    ) / (var * var) - F.lit(3)
    return m.select(
        "event_type", "n", mean.alias("mean_cents"),
        skew.alias("skewness"), kurt.alias("kurtosis_excess"),
    ).orderBy("event_type")


_BOOL_AGGS_ORACLE = """
SELECT o_orderpriority,
       COUNT(*) FILTER (o_orderstatus = 'F') AS n_finished,
       BOOL_AND(o_totalprice > 0) AS all_positive,
       BOOL_OR(o_totalprice > 400000) AS any_jumbo,
       CAST(MIN(o_orderkey) AS BIGINT) AS stable_any_key
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("agg_boolean_aggs", _BOOL_AGGS_ORACLE)
def agg_boolean_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate family — count_if / every / any (SQL BOOL_AND /
    BOOL_OR) are how data-quality invariants compile ("all rows
    positive", "any outlier present"): associative single-bit
    accumulators, map-side combinable, the cheapest aggregates that
    exist. ANY_VALUE is deliberately replaced by MIN — any_value is
    non-deterministic by contract (first row seen wins, and partition
    order decides it), so a reproducible pipeline uses an ordered
    surrogate; the docstring IS the lesson here. One scan, codegen
    throughout.
    """
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
            F.every(F.col("o_totalprice") > 0).alias("all_positive"),
            F.some(F.col("o_totalprice") > 400000).alias("any_jumbo"),
            F.min("o_orderkey").alias("stable_any_key"),
        )
        .orderBy("o_orderpriority")
    )


_WILSON_ORACLE = """
WITH x AS (
  SELECT event_type, user_id,
         COUNT(*) AS n,
         COUNT(*) FILTER (value > 100) AS k
  FROM events GROUP BY event_type, user_id
), s AS (
  SELECT event_type,
         CAST(SUM(n) AS BIGINT) AS trials,
         CAST(SUM(k) AS BIGINT) AS successes
  FROM x GROUP BY event_type
)
SELECT event_type, trials, successes,
       CAST(successes AS DOUBLE) / CAST(trials AS DOUBLE) AS rate,
       (CAST(successes AS DOUBLE) / CAST(trials AS DOUBLE)
        + 1.9208 / CAST(trials AS DOUBLE)
        - 1.96 * sqrt(
            (CAST(successes AS DOUBLE) / CAST(trials AS DOUBLE))
            * (1 - CAST(successes AS DOUBLE) / CAST(trials AS DOUBLE))
            / CAST(trials AS DOUBLE)
            + 0.9604 / (CAST(trials AS DOUBLE) * CAST(trials AS DOUBLE))))
       / (1 + 3.8416 / CAST(trials AS DOUBLE)) AS wilson_lower
FROM s
ORDER BY event_type
"""


@register("agg_wilson_interval", _WILSON_ORACLE)
def agg_wilson_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score lower bound per metric — the right way to RANK rates
    with unequal sample sizes (sorting by raw rate puts a 1-of-1
    event first; the Wilson lower bound shrinks small samples toward
    0.5, the "how not to sort by average rating" fix). Accumulators
    are exact integer trial/success counts; the z=1.96 bound is then
    one IDENTICAL double chain on both engines (z² constants folded
    as literals: 1.9208 = z²/2, 0.9604 = z²/4, 3.8416 = z²), the
    win_rolling_zscore discipline — bit-equal inputs through the same
    IEEE ops give bit-equal bounds, no quantization needed. One scan,
    two integers per group over the wire.
    """
    e = t(spark, sf_dir, "events")
    x = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("value") > 100).alias("k"),
    )
    s = x.groupBy("event_type").agg(
        F.sum("n").alias("trials"), F.sum("k").alias("successes")
    )
    td = F.col("trials").cast("double")
    p = F.col("successes").cast("double") / td
    wilson = (
        p
        + F.lit(1.9208) / td
        - F.lit(1.96)
        * F.sqrt(p * (F.lit(1) - p) / td + F.lit(0.9604) / (td * td))
    ) / (F.lit(1) + F.lit(3.8416) / td)
    return s.select(
        "event_type", "trials", "successes",
        p.alias("rate"), wilson.alias("wilson_lower"),
    ).orderBy("event_type")


_CUPED_ORACLE = f"""
WITH u AS (
  SELECT user_id, user_id % 2 AS arm,
         CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-07-01'
                       THEN {sql_cents("value")}
                       ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-07-01'
                       THEN {sql_cents("value")}
                       ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY user_id
), g AS (
  -- cross moments in HUGEINT: x*y grows quadratically with events per
  -- user and the n-scaled theta numerator overflows BIGINT ~10x sf0.1
  SELECT COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx
  FROM u
), w AS (
  SELECT n, sx,
         CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
         CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den
  FROM g
), th AS (
  -- exact wide-int → double via the hi/lo 2^32 split (one IEEE add;
  -- DuckDB's direct HUGEINT→DOUBLE cast is not correctly rounded)
  SELECT (CAST(num - (num % 4294967296) AS DOUBLE)
          + CAST(num % 4294967296 AS DOUBLE))
         / (CAST(den - (den % 4294967296) AS DOUBLE)
            + CAST(den % 4294967296 AS DOUBLE)) AS theta,
         CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_x
  FROM w
), a AS (
  SELECT arm, COUNT(*) AS n_users,
         CAST(SUM(x) AS BIGINT) AS asx,
         CAST(SUM(y) AS BIGINT) AS asy
  FROM u GROUP BY arm
)
SELECT a.arm, a.n_users,
       CAST(a.asy AS DOUBLE) / CAST(a.n_users AS DOUBLE) AS mean_y_cents,
       CAST(a.asy AS DOUBLE) / CAST(a.n_users AS DOUBLE)
       - th.theta * (CAST(a.asx AS DOUBLE) / CAST(a.n_users AS DOUBLE)
                     - th.mean_x) AS mean_y_cuped_cents,
       th.theta
FROM a CROSS JOIN th
ORDER BY a.arm
"""


@register("agg_cuped_adjustment", _CUPED_ORACLE)
def agg_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data) — the
    variance-reduction step serious A/B platforms apply before the
    t-test: each user's experiment-period metric Y is adjusted by
    θ·(X − mean X) using their PRE-period metric X, removing the
    between-user variance X explains (θ = cov(X,Y)/var X, the pooled
    OLS slope). Pipeline: one per-user aggregation (pre/post split on
    the period boundary, exact cents), then pooled moments and per-arm
    sums — two rows per arm over the wire. The cross-moment sums Σxy /
    Σx² and the θ numerator n·Σxy − Σx·Σy accumulate as EXACT
    DECIMAL(38,0) (the agg_higher_moments wide-accumulator rationale: per-user
    x grows linearly with events-per-user, so x·y grows quadratically
    and the n-scaled numerator overflows BIGINT around 10× the sf0.1
    volume — caught by the r10 10× full differential, ARITHMETIC_
    OVERFLOW); the wide values convert to double through the hi/lo
    2³² split (one IEEE add — correctly rounded on both engines,
    unlike DuckDB's direct HUGEINT→DOUBLE cast), then θ and the
    adjusted means are the usual identical IEEE chain. Composes with
    agg_ab_ttest: same experiment frame, tighter confidence at the
    same sample size.
    """
    e = t(spark, sf_dir, "events")
    v = cents(F.col("value"))
    boundary = F.lit("2024-07-01").cast("timestamp")
    u = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < boundary, v).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("ts") >= boundary, v).otherwise(0)).alias("y"),
    ).select("user_id", (F.col("user_id") % 2).alias("arm"), "x", "y")
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    g = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
    )
    two32 = F.lit(4294967296).cast("decimal(38,0)")

    def wide_to_double(col):
        lo = F.pmod(col, two32)
        return (col - lo).cast("double") + lo.cast("double")

    dec = "decimal(38,0)"
    num = (
        F.col("n").cast(dec) * F.col("sxy")
        - F.col("sx").cast(dec) * F.col("sy").cast(dec)
    )
    den = (
        F.col("n").cast(dec) * F.col("sxx")
        - F.col("sx").cast(dec) * F.col("sx").cast(dec)
    )
    th = g.select(
        (wide_to_double(num) / wide_to_double(den)).alias("theta"),
        (F.col("sx").cast("double") / F.col("n").cast("double")).alias(
            "mean_x"
        ),
    )
    a = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x").alias("asx"),
        F.sum("y").alias("asy"),
    )
    mean_y = F.col("asy").cast("double") / F.col("n_users").cast("double")
    mean_x_arm = F.col("asx").cast("double") / F.col("n_users").cast("double")
    return (
        a.crossJoin(F.broadcast(th))
        .select(
            "arm", "n_users",
            mean_y.alias("mean_y_cents"),
            (
                mean_y - F.col("theta") * (mean_x_arm - F.col("mean_x"))
            ).alias("mean_y_cuped_cents"),
            "theta",
        )
        .orderBy("arm")
    )


_CMS_ORACLE = """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
rows_ AS (SELECT r FROM (VALUES (0), (1), (2), (3)) AS v(r)),
hashed AS (
  SELECT w, md5('cms:' || w) AS h FROM tok
),
cms AS (
  SELECT r,
         CAST(('0x' || substr(h.h, r * 8 + 1, 8)) AS BIGINT) % 64 AS bucket,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM hashed h CROSS JOIN rows_
  GROUP BY 1, 2
),
exact AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS exact_count
  FROM tok GROUP BY w ORDER BY exact_count DESC, w LIMIT 10
)
SELECT e.w AS token, e.exact_count,
       MIN(c.cnt) AS cms_estimate,
       MIN(c.cnt) - e.exact_count AS overcount,
       (MIN(c.cnt) >= e.exact_count) AS never_undercounts
FROM exact e
JOIN rows_ r ON TRUE
JOIN cms c
  ON c.r = r.r
 AND c.bucket = CAST(('0x' || substr(md5('cms:' || e.w), r.r * 8 + 1, 8))
                     AS BIGINT) % 64
GROUP BY e.w, e.exact_count
ORDER BY token
"""


@register("agg_count_min_sketch", _CMS_ORACLE)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the token stream — the fixed-memory
    heavy-hitter counter for streams/corpora where an exact per-token
    groupBy's key cardinality is the bottleneck: d=4 hash rows × w=64
    buckets is 256 counters regardless of vocabulary size, mergeable
    across partitions/days by cell-wise addition. Probing the top-10
    exact tokens against the sketch demonstrates the one-sided
    guarantee (estimate ≥ true count, overcount bounded by collisions).
    Hashes are engine-portable md5-substring integers (the
    llm_minhash_signature_sql discipline), so every sketch CELL is
    value-hash-checked against the oracle, not just the bound. Plan:
    one explode, a 4-way row fan-out, and a groupBy on (row, bucket)
    whose map-side combine reduces each task to ≤256 partial cells —
    the shuffle is O(1) in corpus size; the probe side joins 40 rows.
    """
    # Fixture parquet is a single row group → the scan is ONE task, and
    # the hash/fan-out stage would run on one core (measured 6.8s vs
    # 4.0s at the 10x scale smoke). Fan out first; on a real cluster
    # the scan's own task count provides this (udtf_explode_custom note).
    d = t(spark, sf_dir, "documents").repartition(16)
    tok = d.select(F.explode(F.split("text", " ")).alias("w"))

    # ONE md5 per token: the 32-hex digest carries all four 8-hex row
    # buckets (substr r*8+1). Hashing dominated the sketch build at the
    # 10x scale smoke (4 digests/token: 17.5s -> 1 digest: ~4x less
    # hash work); the fan-out then reuses the digest column.
    def bucket(r_col, h_col):
        return (
            F.conv(
                F.substring(h_col, r_col * 8 + 1, 8), 16, 10
            ).cast("long")
            % 64
        )

    hashed = tok.select(
        "w", F.md5(F.concat(F.lit("cms:"), F.col("w"))).alias("h")
    )
    fan = hashed.select(
        "h", F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("r")
    )
    cms = (
        fan.select("r", bucket(F.col("r"), F.col("h")).alias("bucket"))
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    exact = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), "w")
        .limit(10)
    )
    probe = exact.select(
        F.col("w").alias("token"),
        F.md5(F.concat(F.lit("cms:"), F.col("w"))).alias("h"),
        "exact_count",
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("r"),
    ).select(
        "token", "exact_count", "r",
        bucket(F.col("r"), F.col("h")).alias("bucket"),
    )
    return (
        probe.join(F.broadcast(cms), ["r", "bucket"])
        .groupBy("token", "exact_count")
        .agg(F.min("cnt").alias("cms_estimate"))
        .select(
            "token",
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias("overcount"),
            (F.col("cms_estimate") >= F.col("exact_count")).alias(
                "never_undercounts"
            ),
        )
        .orderBy("token")
    )


_GINI_ORACLE = f"""
WITH x AS (
  SELECT c_mktsegment,
         {sql_micros("c_acctbal")} - (
           SELECT {sql_micros("MIN(c_acctbal)")}
           FROM customer) AS x_m,
         ROW_NUMBER() OVER (
           PARTITION BY c_mktsegment
           ORDER BY {sql_micros("c_acctbal")}, c_custkey
         ) AS rk
  FROM customer
),
g AS (
  SELECT c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x_m) AS BIGINT) AS sum_m,
         CAST(SUM(rk * x_m) AS BIGINT) AS rank_weighted_m
  FROM x GROUP BY c_mktsegment
)
SELECT c_mktsegment, n, sum_m, rank_weighted_m,
       ROUND(CAST(2 * rank_weighted_m AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(sum_m AS DOUBLE))
             - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE), 9) AS gini
FROM g ORDER BY c_mktsegment
"""


@register("agg_gini_by_segment", _GINI_ORACLE)
def agg_gini_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of account balances per market segment — the
    concentration/inequality readout (revenue concentration, data-
    contributor skew) via the rank formula G = 2·Σ(i·x_i)/(n·Σx_i) −
    (n+1)/n over ascending-sorted values. Balances shift to a
    non-negative scale (Gini needs x ≥ 0) as exact micros longs; the
    rank weighting runs in a PER-SEGMENT window (never a global
    single-task sort) with a key tiebreak, and the integer moments are
    emitted alongside the 9-dp-rounded ratio — Σ(i·x) exceeds 2^53 so
    the BIGINT columns carry the exact values (CAST from DuckDB's
    HUGEINT per the r5 rule) and the double division is the identical
    IEEE chain in both engines.
    """
    from pyspark.sql import Window as W

    c = t(spark, sf_dir, "customer")
    min_m = c.agg(
        micros(F.min("c_acctbal")).alias("m")
    )
    x = (
        c.crossJoin(F.broadcast(min_m))
        .select(
            "c_mktsegment",
            "c_custkey",
            (
                micros(F.col("c_acctbal"))
                - F.col("m")
            ).alias("x_m"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("c_mktsegment").orderBy("x_m", "c_custkey")
            ),
        )
    )
    g = x.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x_m").alias("sum_m"),
        F.sum(F.col("rk") * F.col("x_m")).alias("rank_weighted_m"),
    )
    gini = F.round(
        (F.col("rank_weighted_m") * 2).cast("double")
        / (F.col("n").cast("double") * F.col("sum_m").cast("double"))
        - (F.col("n") + 1).cast("double") / F.col("n").cast("double"),
        9,
    )
    return g.select(
        "c_mktsegment", "n", "sum_m", "rank_weighted_m", gini.alias("gini")
    ).orderBy("c_mktsegment")


_ENTROPY_ORACLE = f"""
WITH counts AS (
  SELECT user_id % 50 AS cohort, event_type,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT cohort, CAST(SUM(c) AS BIGINT) AS n FROM counts GROUP BY cohort
),
terms AS (
  SELECT c.cohort,
         {sql_micros(
             "ROUND((CAST(c.c AS DOUBLE) / t.n) * ln(CAST(t.n AS "
             "DOUBLE) / c.c), 9)"
         )} AS h_m
  FROM counts c JOIN tot t USING (cohort)
)
SELECT cohort,
       CAST(SUM(h_m) AS BIGINT) AS entropy_micros,
       CAST(COUNT(*) AS BIGINT) AS n_types
FROM terms GROUP BY cohort ORDER BY cohort
"""


@register("agg_entropy_by_group", _ENTROPY_ORACLE)
def agg_entropy_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the event-type mix per user cohort — the
    behavioral-diversity / load-balance readout (a cohort doing one
    thing scores 0; a uniform mix scores ln(k)). Each -p·ln(p) term is
    computed from exact integer counts, 9-dp-rounded, then
    micros-quantized (the fn_math / llm_perplexity_proxy transcendental
    discipline) so the per-cohort sum is an exact long in both engines.
    Two map-side-combined groupBys and a cohort-keyed join of ~50×5
    rows — scale-free at any event volume.
    """
    e = t(spark, sf_dir, "events")
    counts = e.groupBy(
        (F.col("user_id") % 50).alias("cohort"), "event_type"
    ).agg(F.count(F.lit(1)).alias("c"))
    tot = counts.groupBy("cohort").agg(F.sum("c").alias("n"))
    terms = counts.join(tot, "cohort").select(
        "cohort",
        micros(
            F.round(
                (F.col("c").cast("double") / F.col("n"))
                * F.log(F.col("n").cast("double") / F.col("c")),
                9,
            )
        ).alias("h_m"),
    )
    return (
        terms.groupBy("cohort")
        .agg(
            F.sum("h_m").alias("entropy_micros"),
            F.count(F.lit(1)).alias("n_types"),
        )
        .orderBy("cohort")
    )


_BOOTSTRAP_ORACLE = f"""
WITH w AS (
  SELECT c_mktsegment, b.b,
         CAST(('0x' || substr(md5('bs:' || CAST(b.b AS VARCHAR) || ':'
                              || CAST(c_custkey AS VARCHAR)), 1, 4))
              AS INTEGER) % 4 AS wt,
         {sql_micros("c_acctbal")} AS x_m
  FROM customer, (SELECT unnest(range(0, 32)) AS b) b
),
reps AS (
  SELECT c_mktsegment, b,
         CAST(SUM(wt * x_m) // SUM(wt) AS BIGINT) AS mean_m
  FROM w GROUP BY c_mktsegment, b
),
ranked AS (
  SELECT c_mktsegment, mean_m,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY mean_m, b) AS rk
  FROM reps
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_replicates,
       CAST(MIN(mean_m) AS BIGINT) AS ci_lo_m,
       CAST(MAX(mean_m) AS BIGINT) AS ci_hi_m,
       CAST(MIN(CASE WHEN rk = 16 THEN mean_m END) AS BIGINT) AS median_m
FROM ranked
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("agg_bootstrap_ci", _BOOTSTRAP_ORACLE)
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the segment mean balance —
    WITHOUT an RNG: replicate b resamples each row with weight
    md5(b, key) % 4 (key-addressed, the llm_split_assign discipline),
    so all 32 replicate means are exact integer ratios both engines
    reproduce bit-for-bit, and re-runs/backfills produce the identical
    interval — the reproducibility property seeded RNG bootstraps lose
    across engines and partitionings. Envelope (min/max) and the 16th
    order statistic summarize the replicate distribution. Plan: one
    32-way fan-out (map-side), one (segment, b) groupBy of ~160 partial
    cells per task, one tiny ranked fold — linear, scale-free.
    """
    c = t(spark, sf_dir, "customer")
    fan = c.select(
        "c_mktsegment",
        "c_custkey",
        micros(F.col("c_acctbal")).alias("x_m"),
        F.explode(F.array(*[F.lit(i) for i in range(32)])).alias("b"),
    ).select(
        "c_mktsegment",
        "b",
        "x_m",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("bs:"),
                            F.col("b").cast("string"),
                            F.lit(":"),
                            F.col("c_custkey").cast("string"),
                        )
                    ),
                    1, 4,
                ),
                16, 10,
            ).cast("int")
            % 4
        ).alias("wt"),
    )
    reps = fan.groupBy("c_mktsegment", "b").agg(
        F.expr("sum(wt * x_m) div sum(wt)").alias("mean_m")
    )
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.partitionBy("c_mktsegment").orderBy("mean_m", "b")
    )
    ranked = reps.withColumn("rk", rk)
    return (
        ranked.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_replicates"),
            F.min("mean_m").alias("ci_lo_m"),
            F.max("mean_m").alias("ci_hi_m"),
            F.min(F.when(F.col("rk") == 16, F.col("mean_m"))).alias(
                "median_m"
            ),
        )
        .orderBy("c_mktsegment")
    )


_MARKOV_ORACLE = """
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         LAG(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
),
trans AS (
  SELECT prev_type AS from_type, event_type AS to_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL
  GROUP BY 1, 2
),
tot AS (
  SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_n
  FROM trans GROUP BY from_type
)
SELECT t.from_type, t.to_type, t.n,
       CAST(t.n * 1000000 // o.row_n AS BIGINT) AS p_ppm
FROM trans t JOIN tot o USING (from_type)
ORDER BY from_type, to_type
"""


@register("agg_markov_transition", _MARKOV_ORACLE)
def agg_markov_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types per user
    journey — the behavioral model behind next-action prediction and
    funnel-shape drift monitoring: consecutive event pairs (lag over
    the per-user time order) are counted and row-normalized to exact
    ppm (integer floor division, engine-identical). One per-user
    window shuffle builds the pairs; the matrix itself is k² rows
    regardless of event volume — the groupBys map-side combine to it.
    """
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    trans = seq.groupBy(
        F.col("prev_type").alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = trans.groupBy("from_type").agg(F.sum("n").alias("row_n"))
    return (
        trans.join(tot, "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.expr("(n * 1000000L) div row_n").alias("p_ppm"),
        )
        .orderBy("from_type", "to_type")
    )


_WINSOR_ORACLE = f"""
WITH v AS (
  SELECT event_id, event_type,
         {sql_cents("value")} AS cents
  FROM events
),
ranked AS (
  SELECT event_type, event_id, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type
                            ORDER BY cents, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM v
),
bounds AS (
  SELECT event_type,
         MAX(CASE WHEN rn = GREATEST(1, (5 * n + 99) // 100)
                  THEN cents END) AS lo_cents,
         MAX(CASE WHEN rn = (95 * n + 99) // 100
                  THEN cents END) AS hi_cents,
         MAX(n) AS n_rows
  FROM ranked GROUP BY event_type
)
SELECT r.event_type,
       b.n_rows,
       b.lo_cents,
       b.hi_cents,
       ROUND(CAST(SUM(LEAST(GREATEST(r.cents, b.lo_cents), b.hi_cents))
                  AS DOUBLE) / b.n_rows, 6) AS winsor_mean_cents
FROM ranked r JOIN bounds b USING (event_type)
GROUP BY r.event_type, b.n_rows, b.lo_cents, b.hi_cents
ORDER BY r.event_type
"""


@register("agg_winsorized_mean", _WINSOR_ORACLE)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per event_type — the outlier-robust KPI: clamp to
    the [p05, p95] band, then average. Engines disagree on interpolated
    quantiles in the last double bit, so the cut points use an EXPLICIT
    discrete rule spelled out identically on both sides: rank rows by
    (cents, event_id), cut at rank ceil(q*n) via pure integer math
    ((5n+99)//100 — Spark's `div` truncates, DuckDB's `//` floors,
    positive operands so they agree). The value at a cut RANK only
    depends on the cents (ties share the value), so rows pre-collapse
    to one per DISTINCT (event_type, cents) before the cumulative
    window (the agg_ks_2sample ECDF trick): lo/hi = min cents whose
    cumulative count reaches the cut rank, and the clamp+mean folds
    count-weighted over the collapsed table. At 100 TB the window
    input is value-cardinality-, not volume-, sized; the oracle keeps
    the textbook per-row rank form (value-equal).
    """
    from pyspark.sql import Window as W

    v = t(spark, sf_dir, "events").select(
        "event_type",
        cents(F.col("value")).alias("cents"),
    )
    g = v.groupBy("event_type", "cents").agg(
        F.count(F.lit(1)).alias("c")
    )
    wt_ = W.partitionBy("event_type").orderBy("cents")
    cum = g.select(
        "event_type",
        "cents",
        "c",
        F.sum("c")
        .over(wt_.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cw"),
    )
    tot = g.groupBy("event_type").agg(F.sum("c").alias("n_rows"))
    r_lo = F.greatest(F.lit(1), F.expr("(5 * n_rows + 99) div 100"))
    r_hi = F.expr("(95 * n_rows + 99) div 100")
    bounds = (
        cum.join(F.broadcast(tot), "event_type")
        .groupBy("event_type", "n_rows")
        .agg(
            F.min(F.when(F.col("cw") >= r_lo, F.col("cents"))).alias(
                "lo_cents"
            ),
            F.min(F.when(F.col("cw") >= r_hi, F.col("cents"))).alias(
                "hi_cents"
            ),
        )
    )
    w_cents = F.least(
        F.greatest(F.col("cents"), F.col("lo_cents")), F.col("hi_cents")
    )
    return (
        cum.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type", "n_rows", "lo_cents", "hi_cents")
        .agg(
            F.round(
                F.sum(w_cents * F.col("c")).cast("double")
                / F.col("n_rows"),
                6,
            ).alias("winsor_mean_cents")
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# agg_heavy_hitters — φ-frequent items: every token whose global count
# exceeds N/50. The exact distributed form of frequent-item mining
# (Misra–Gries / space-saving collapse to this when the stream fits a
# shuffle): ONE hash aggregation with map-side combine — each mapper
# emits at most |vocab| partials, so at 100 TB the shuffle carries
# vocab-bounded state, not tokens — then the scalar total broadcasts
# back for the threshold test. cnt·50 > N is an exact integer compare,
# so the knife-edge at the threshold decides identically in both
# engines at any scale factor. No global window, no rank.
# ---------------------------------------------------------------------------

_HEAVY_HITTERS_ORACLE = """
WITH cnt AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w
),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM cnt)
SELECT c.w AS token, c.cnt,
       ROUND(CAST(c.cnt AS DOUBLE) / t.n, 6) AS share
FROM cnt c, tot t
WHERE c.cnt * 50 > t.n
ORDER BY c.cnt DESC, c.w
"""


@register("agg_heavy_hitters", _HEAVY_HITTERS_ORACLE)
def agg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    cnt = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    tot = cnt.agg(F.sum("cnt").alias("n"))
    return (
        cnt.crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") * 50 > F.col("n"))
        .select(
            F.col("w").alias("token"),
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("n"), 6).alias(
                "share"
            ),
        )
        .orderBy(F.col("cnt").desc(), "token")
    )


# ---------------------------------------------------------------------------
# agg_approx_top_k — Spark 4.0's approx_top_k sketch surface, driven in
# its EXACT regime: maxItemsTracked >= the column's distinct cardinality
# means the Apache DataSketches frequent-items sketch never evicts, so
# every reported count is exact and k >= cardinality returns the full
# histogram — the same "sketch value + provable-exactness" pattern as
# agg_percentile_approx / agg_hll_sketch_merge (tie-order at a top-k
# boundary is engine-unspecified, so the driver-checkable form tracks
# everything and re-sorts deterministically after exploding the struct
# array). At 100 TB this is the one-pass re-aggregatable top-k over a
# bounded key domain: partial sketches merge associatively map-side,
# the final array is O(k), and the explode is presentation only.
# ---------------------------------------------------------------------------

_APPROX_TOP_K_ORACLE = """
SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM customer
GROUP BY c_nationkey
ORDER BY cnt DESC, nationkey
"""


@register("agg_approx_top_k", _APPROX_TOP_K_ORACLE)
def agg_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    sk = c.agg(
        F.expr("approx_top_k(c_nationkey, 25, 1000)").alias("tk")
    )
    return (
        sk.select(F.explode("tk").alias("e"))
        .select(
            F.col("e.item").cast("long").alias("nationkey"),
            F.col("e.count").cast("long").alias("cnt"),
        )
        .orderBy(F.col("cnt").desc(), "nationkey")
    )


# ---------------------------------------------------------------------------
# agg_funnel_steps — the batch behavioral funnel (view → click → purchase):
# strictly-ordered step attainment per user, folded to step populations
# and step-over-step conversion. The sequential dependency (each step's
# first-touch must FOLLOW the previous step's) is three user-keyed
# min-aggregations chained by joins — all on the same key, so at scale
# one hash partitioning serves the whole chain (no window over the raw
# event stream, no global sort). The 3-row summary assembles from
# 1-row aggregates via broadcast crossJoins + stack, never an
# unpartitioned window. Exact: timestamps compare exactly; conversion
# is one division, 6-dp rounded.
# ---------------------------------------------------------------------------

_FUNNEL_STEPS_ORACLE = """
WITH fv AS (
  SELECT user_id, MIN(ts) AS fv FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
fc AS (
  SELECT e.user_id, MIN(e.ts) AS fc FROM events e
  JOIN fv ON e.user_id = fv.user_id
  WHERE e.event_type = 'click' AND e.ts > fv.fv GROUP BY e.user_id
),
fp AS (
  SELECT e.user_id, MIN(e.ts) AS fp FROM events e
  JOIN fc ON e.user_id = fc.user_id
  WHERE e.event_type = 'purchase' AND e.ts > fc.fc GROUP BY e.user_id
),
n AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM fv) AS n1,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM fc) AS n2,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM fp) AS n3
)
SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name, n1 AS n_users,
       CAST(NULL AS DOUBLE) AS conv_from_prev FROM n
UNION ALL
SELECT CAST(2 AS BIGINT), 'click_after_view', n2,
       ROUND(CAST(n2 AS DOUBLE) / n1, 6) FROM n
UNION ALL
SELECT CAST(3 AS BIGINT), 'purchase_after_click', n3,
       ROUND(CAST(n3 AS DOUBLE) / n2, 6) FROM n
ORDER BY step
"""


@register("agg_funnel_steps", _FUNNEL_STEPS_ORACLE)
def agg_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = t(spark, sf_dir, "events")
    fv = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fv"))
    )
    fc = (
        e.filter(F.col("event_type") == "click")
        .join(fv, "user_id")
        .filter(F.col("ts") > F.col("fv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("fc"))
    )
    fp = (
        e.filter(F.col("event_type") == "purchase")
        .join(fc, "user_id")
        .filter(F.col("ts") > F.col("fc"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp"))
    )
    n1 = fv.agg(F.count(F.lit(1)).alias("n1"))
    n2 = fc.agg(F.count(F.lit(1)).alias("n2"))
    n3 = fp.agg(F.count(F.lit(1)).alias("n3"))
    n = n1.crossJoin(F.broadcast(n2)).crossJoin(F.broadcast(n3))
    return (
        n.select(
            F.expr(
                "stack(3,"
                " 1L, 'view', n1, CAST(NULL AS DOUBLE),"
                " 2L, 'click_after_view', n2,"
                "   ROUND(CAST(n2 AS DOUBLE) / n1, 6),"
                " 3L, 'purchase_after_click', n3,"
                "   ROUND(CAST(n3 AS DOUBLE) / n2, 6)"
                ") AS (step, step_name, n_users, conv_from_prev)"
            )
        )
        .orderBy("step")
    )


# ---------------------------------------------------------------------------
# agg_target_encode_loo — leave-one-out mean target encoding (the ML
# feature-engineering staple for high-cardinality categoricals): each
# order's segment is encoded as the mean order total of its segment
# EXCLUDING the order itself, killing the self-leakage that plain mean
# encoding injects into training data. Exact integers end-to-end:
# micros sums per segment fold once (map-side combine), broadcast back,
# and the LOO value is (sum − own) div (n − 1) — truncating division on
# non-negative operands, identical in both engines. One shuffle for the
# fold, one broadcast join; linear at any scale, no window over the
# fact stream.
# ---------------------------------------------------------------------------

_TARGET_ENCODE_ORACLE = f"""
WITH j AS (
  SELECT o.o_orderkey, c.c_mktsegment,
         {sql_micros("o.o_totalprice")} AS t_m
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
seg AS (
  SELECT c_mktsegment, CAST(SUM(t_m) AS BIGINT) AS sum_m,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM j GROUP BY c_mktsegment
)
SELECT j.o_orderkey, j.c_mktsegment,
       (seg.sum_m - j.t_m) // (seg.n - 1) AS loo_enc_micros
FROM j JOIN seg ON j.c_mktsegment = seg.c_mktsegment
ORDER BY j.o_orderkey
"""


@register("agg_target_encode_loo", _TARGET_ENCODE_ORACLE)
def agg_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey",
        "c_mktsegment",
        micros(F.col("o_totalprice")).alias("t_m"),
    )
    seg = j.groupBy("c_mktsegment").agg(
        F.sum("t_m").alias("sum_m"), F.count(F.lit(1)).alias("n")
    )
    return (
        j.join(F.broadcast(seg), "c_mktsegment")
        .select(
            "o_orderkey",
            "c_mktsegment",
            F.expr("(sum_m - t_m) div (n - 1)").alias("loo_enc_micros"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# agg_seasonality_profile — hour-of-day seasonality per event type: each
# (type, hour) cell's mean spend and its deviation from the type's
# overall mean — the profile behind load forecasting, anomaly baselines
# and send-time optimization. Two algebraic folds (cell and type), the
# 5-row type table broadcast back; the deviation is a difference of two
# single exact-integer divisions (identical IEEE chain both engines,
# 6-dp rounded). Cell cardinality (types × 24) bounds the output at any
# scale.
# ---------------------------------------------------------------------------

_SEASONALITY_ORACLE = f"""
WITH v AS (
  SELECT event_type, CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
         {sql_cents("value")} AS cents
  FROM events
),
cell AS (
  SELECT event_type, hr, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS s
  FROM v GROUP BY event_type, hr
),
typ AS (
  SELECT event_type, CAST(SUM(n) AS BIGINT) AS n_t,
         CAST(SUM(s) AS BIGINT) AS s_t
  FROM cell GROUP BY event_type
)
SELECT c.event_type, c.hr, c.n,
       ROUND(CAST(c.s AS DOUBLE) / c.n, 6) AS mean_cents,
       ROUND(CAST(c.s AS DOUBLE) / c.n
             - CAST(t.s_t AS DOUBLE) / t.n_t, 6) AS dev_from_type_mean
FROM cell c JOIN typ t ON c.event_type = t.event_type
ORDER BY c.event_type, c.hr
"""


@register("agg_seasonality_profile", _SEASONALITY_ORACLE)
def agg_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = t(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("long").alias("hr"),
        cents(F.col("value")).alias("cents"),
    )
    cell = v.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("s")
    )
    typ = cell.groupBy("event_type").agg(
        F.sum("n").alias("n_t"), F.sum("s").alias("s_t")
    )
    mean_c = F.col("s").cast("double") / F.col("n")
    mean_t = F.col("s_t").cast("double") / F.col("n_t")
    return (
        cell.join(F.broadcast(typ), "event_type")
        .select(
            "event_type",
            "hr",
            "n",
            F.round(mean_c, 6).alias("mean_cents"),
            F.round(mean_c - mean_t, 6).alias("dev_from_type_mean"),
        )
        .orderBy("event_type", "hr")
    )


# ---------------------------------------------------------------------------
# agg_mann_whitney — nonparametric two-sample location test (the A/B
# readout when the metric is skewed and a t-test is wrong). Parity
# target: the reference's hypothesis-test battery alongside
# agg_ab_ttest. Everything stays exact integer: average ranks over ties
# are half-integers, so we carry DOUBLED ranks (2·rank + ties − 1) and
# a doubled U statistic — no float accumulation at all.
# At 100 TB: rows pre-collapse to one per DISTINCT (cohort, cents)
# BEFORE the cumulative window (the agg_ks_2sample ECDF trick — a raw
# rank window would serialize all volume through 8 cohort tasks), so
# the window input is bounded by value cardinality; the tie-group
# algebra t1·(2·cum − t + 1) reconstructs the doubled-rank mass
# exactly. Oracle keeps the textbook per-row rank form (value-equal).
# ---------------------------------------------------------------------------

_MANN_WHITNEY_ORACLE = f"""
WITH v AS (
  SELECT user_id % 8 AS cohort,
         event_type = 'purchase' AS g1,
         {sql_cents("value")} AS cents
  FROM events WHERE event_type IN ('purchase', 'click')
),
r AS (
  SELECT cohort, g1,
         2 * RANK() OVER (PARTITION BY cohort ORDER BY cents)
           + COUNT(*) OVER (PARTITION BY cohort, cents) - 1 AS dr
  FROM v
),
s AS (
  SELECT cohort,
         CAST(COUNT(*) FILTER (WHERE g1) AS BIGINT) AS n1,
         CAST(COUNT(*) FILTER (WHERE NOT g1) AS BIGINT) AS n2,
         CAST(SUM(dr) FILTER (WHERE g1) AS BIGINT) AS r1_doubled
  FROM r GROUP BY cohort
)
SELECT cohort, n1, n2,
       r1_doubled - n1 * (n1 + 1) AS u1_doubled,
       LEAST(r1_doubled - n1 * (n1 + 1),
             2 * n1 * n2 - (r1_doubled - n1 * (n1 + 1))) AS u_min_doubled
FROM s
ORDER BY cohort
"""


@register("agg_mann_whitney", _MANN_WHITNEY_ORACLE)
def agg_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    v = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "click"))
        .select(
            (F.col("user_id") % 8).alias("cohort"),
            (F.col("event_type") == "purchase").alias("g1"),
            cents(F.col("value")).alias("cents"),
        )
    )
    # doubled average rank: 2·rank + (#ties at this value) − 1 is always
    # an integer — the half-integer tie-average never touches a double.
    # Rows collapse to one per DISTINCT (cohort, cents) BEFORE the
    # cumulative window (the KS ECDF trick): for the tie group at a
    # value, rank = c_before + 1, so every member's doubled rank is
    # 2·cum − t + 1 and the group's g1 mass contributes t1·(2·cum−t+1)
    # — window input is value-cardinality-, not volume-, sized
    g = v.groupBy("cohort", "cents").agg(
        F.count(F.lit(1)).alias("tt"),
        F.count(F.when(F.col("g1"), 1)).alias("t1"),
    )
    wc = W.partitionBy("cohort").orderBy("cents")
    cum = g.select(
        "cohort",
        "tt",
        "t1",
        F.sum("tt")
        .over(wc.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cw"),
    )
    s = cum.groupBy("cohort").agg(
        F.sum("t1").alias("n1"),
        F.sum(F.col("tt") - F.col("t1")).alias("n2"),
        F.sum(
            F.col("t1") * (2 * F.col("cw") - F.col("tt") + 1)
        ).alias("r1_doubled"),
    )
    u1 = F.col("r1_doubled") - F.col("n1") * (F.col("n1") + 1)
    return s.select(
        "cohort",
        "n1",
        "n2",
        u1.alias("u1_doubled"),
        F.least(u1, F.lit(2) * F.col("n1") * F.col("n2") - u1).alias(
            "u_min_doubled"
        ),
    ).orderBy("cohort")


# ---------------------------------------------------------------------------
# agg_ks_2sample — Kolmogorov–Smirnov two-sample distance per cohort,
# the drift detector every feature-monitoring pipeline runs between a
# reference and a live window. D = max |ECDF₁ − ECDF₂| is carried as the
# exact integer numerator |c1·n2 − c2·n1| over denominator n1·n2, so
# the statistic is engine-identical with no float compare; the reported
# micros value uses integer floor division (Spark `div` ≡ DuckDB `//`
# on the positive operands here).
# At 100 TB: counts collapse to one row per DISTINCT (cohort, value)
# BEFORE the cumulative window — the window input is bounded by value
# cardinality, not event volume.
# ---------------------------------------------------------------------------

_KS_2SAMPLE_ORACLE = f"""
WITH v AS (
  SELECT user_id % 8 AS cohort,
         event_type = 'purchase' AS g1,
         {sql_cents("value")} AS cents
  FROM events WHERE event_type IN ('purchase', 'click')
),
pts AS (
  SELECT cohort, cents,
         CAST(COUNT(*) FILTER (WHERE g1) AS BIGINT) AS c1,
         CAST(COUNT(*) FILTER (WHERE NOT g1) AS BIGINT) AS c2
  FROM v GROUP BY cohort, cents
),
cum AS (
  SELECT cohort,
         SUM(c1) OVER (PARTITION BY cohort ORDER BY cents) AS a1,
         SUM(c2) OVER (PARTITION BY cohort ORDER BY cents) AS a2
  FROM pts
),
tot AS (
  SELECT cohort, CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2
  FROM pts GROUP BY cohort
)
SELECT c.cohort, t.n1, t.n2,
       CAST(MAX(ABS(a1 * t.n2 - a2 * t.n1)) AS BIGINT) AS d_num,
       CAST(MAX(ABS(a1 * t.n2 - a2 * t.n1)) * 1000000
            // (t.n1 * t.n2) AS BIGINT) AS d_micros
FROM cum c JOIN tot t ON c.cohort = t.cohort
GROUP BY c.cohort, t.n1, t.n2
ORDER BY c.cohort
"""


@register("agg_ks_2sample", _KS_2SAMPLE_ORACLE)
def agg_ks_2sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    v = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "click"))
        .select(
            (F.col("user_id") % 8).alias("cohort"),
            (F.col("event_type") == "purchase").alias("g1"),
            cents(F.col("value")).alias("cents"),
        )
    )
    pts = v.groupBy("cohort", "cents").agg(
        F.count(F.when(F.col("g1"), 1)).alias("c1"),
        F.count(F.when(~F.col("g1"), 1)).alias("c2"),
    )
    cw = W.partitionBy("cohort").orderBy("cents")
    cum = pts.select(
        "cohort",
        F.sum("c1").over(cw).alias("a1"),
        F.sum("c2").over(cw).alias("a2"),
    )
    tot = pts.groupBy("cohort").agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    j = cum.join(F.broadcast(tot), "cohort")
    dnum = F.max(
        F.abs(F.col("a1") * F.col("n2") - F.col("a2") * F.col("n1"))
    )
    return (
        j.groupBy("cohort", "n1", "n2")
        .agg(
            dnum.alias("d_num"),
            F.expr(
                "max(abs(a1 * n2 - a2 * n1)) * 1000000 div (n1 * n2)"
            ).alias("d_micros"),
        )
        .orderBy("cohort")
    )


# ---------------------------------------------------------------------------
# agg_chisq_independence — χ² test of independence on the
# event_type × cohort contingency table (is behavior mix independent of
# cohort?). Each cell's term (o·N − r·c)² / (N·r·c) is formed from
# exact BIGINT products (numerator ≤ ~10¹⁶ ≪ 2⁶³ — squaring in double
# would lose bits past 2⁵³), divided once (IEEE-exact, identical in
# both engines), then 9-dp-rounded and micros-quantized so the final
# sum is an exact long (the agg_entropy_by_group transcendental
# discipline, though here even the division is exact).
# At 100 TB: two map-side-combined groupBys to a k×m cell table (tiny),
# then driver-scale arithmetic — scale-free.
# ---------------------------------------------------------------------------

_CHISQ_ORACLE = f"""
WITH cell AS (
  SELECT event_type, user_id % 4 AS cohort, CAST(COUNT(*) AS BIGINT) AS o
  FROM events GROUP BY event_type, user_id % 4
),
m AS (
  SELECT event_type, cohort, o,
         CAST(SUM(o) OVER (PARTITION BY event_type) AS BIGINT) AS rt,
         CAST(SUM(o) OVER (PARTITION BY cohort) AS BIGINT) AS ct,
         CAST(SUM(o) OVER () AS BIGINT) AS n
  FROM cell
),
terms AS (
  SELECT n,
         {sql_micros(
             "ROUND(CAST((o * n - rt * ct) * (o * n - rt * ct) AS "
             "DOUBLE) / (n * rt * ct), 9)"
         )} AS t_m
  FROM m
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
       (SELECT CAST((COUNT(DISTINCT event_type) - 1)
                    * (COUNT(DISTINCT cohort) - 1) AS BIGINT) FROM cell)
         AS dof,
       CAST(MIN(n) AS BIGINT) AS n_obs,
       CAST(SUM(t_m) AS BIGINT) AS chi2_micros
FROM terms
"""


@register("agg_chisq_independence", _CHISQ_ORACLE)
def agg_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    cell = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", (F.col("user_id") % 4).alias("cohort"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    # rt/ct via windows partitioned on the tiny cell table; the GLOBAL
    # total comes from a 1-row broadcast crossJoin, not an unpartitioned
    # window (which would route all cells through one task and was the
    # last WindowExec warning in the bench stderr — found r7)
    m = cell.select(
        "event_type",
        "cohort",
        "o",
        F.sum("o").over(W.partitionBy("event_type")).alias("rt"),
        F.sum("o").over(W.partitionBy("cohort")).alias("ct"),
    ).crossJoin(F.broadcast(cell.agg(F.sum("o").alias("n"))))
    num = (F.col("o") * F.col("n") - F.col("rt") * F.col("ct"))
    term = micros(
        F.round(
            (num * num).cast("double")
            / (F.col("n") * F.col("rt") * F.col("ct")),
            9,
        )
    )
    terms = m.select("n", term.alias("t_m"))
    dof = cell.agg(
        (
            (F.count_distinct("event_type") - 1)
            * (F.count_distinct("cohort") - 1)
        ).alias("dof")
    )
    return (
        terms.agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.min("n").alias("n_obs"),
            F.sum("t_m").alias("chi2_micros"),
        )
        .crossJoin(F.broadcast(dof))
        .select("n_cells", "dof", "n_obs", "chi2_micros")
    )


# ---------------------------------------------------------------------------
# agg_benford_law — leading-digit distribution of order totals (in
# cents) against Benford's expected log10(1+1/d), the classic
# fabricated-data / ETL-corruption audit. Expected frequencies are
# HARDCODED micros literals (no transcendental evaluated at runtime);
# observed frequency uses integer floor division. A 9-row digit spine
# left-join keeps the output shape fixed across scale factors.
# At 100 TB: groupBy on a 9-value key — map-side combine makes it free.
# ---------------------------------------------------------------------------

_BENFORD_ORACLE = f"""
WITH c AS (
  SELECT CAST(SUBSTR(CAST({sql_cents("o_totalprice")}
                          AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM orders WHERE o_totalprice > 0
),
obs AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_orders FROM c GROUP BY digit
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
exp AS (
  SELECT d.digit,
         CASE d.digit WHEN 1 THEN 301030 WHEN 2 THEN 176091
                      WHEN 3 THEN 124939 WHEN 4 THEN 96910
                      WHEN 5 THEN 79181 WHEN 6 THEN 66947
                      WHEN 7 THEN 57992 WHEN 8 THEN 51153
                      ELSE 45757 END AS exp_micros
  FROM (SELECT unnest(range(1, 10)) AS digit) d
)
SELECT e.digit,
       COALESCE(o.n_orders, 0) AS n_orders,
       COALESCE(o.n_orders, 0) * 1000000 // t.n AS freq_micros,
       CAST(e.exp_micros AS BIGINT) AS exp_micros,
       ABS(COALESCE(o.n_orders, 0) * 1000000 // t.n - e.exp_micros)
         AS dev_micros
FROM exp e LEFT JOIN obs o ON o.digit = e.digit CROSS JOIN tot t
ORDER BY e.digit
"""

_BENFORD_MICROS = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


@register("agg_benford_law", _BENFORD_ORACLE)
def agg_benford_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(
            F.substring(
                cents(F.col("o_totalprice"))
                .cast("string"),
                1,
                1,
            )
            .cast("long")
            .alias("digit")
        )
    )
    obs = c.groupBy("digit").agg(F.count(F.lit(1)).alias("n_orders"))
    tot = c.agg(F.count(F.lit(1)).alias("n"))
    exp = spark.range(1, 10).select(
        F.col("id").alias("digit"),
        F.element_at(
            F.create_map(
                *[
                    F.lit(x)
                    for kv in _BENFORD_MICROS.items()
                    for x in kv
                ]
            ),
            F.col("id").cast("int"),
        )
        .cast("long")
        .alias("exp_micros"),
    )
    n_orders = F.coalesce(F.col("n_orders"), F.lit(0))
    return (
        exp.join(F.broadcast(obs), "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            n_orders.alias("n_orders"),
            F.expr("coalesce(n_orders, 0) * 1000000 div n").alias(
                "freq_micros"
            ),
            "exp_micros",
            F.abs(
                F.expr("coalesce(n_orders, 0) * 1000000 div n")
                - F.col("exp_micros")
            ).alias("dev_micros"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# agg_power_analysis — the experiment-design planner that pairs with
# agg_ab_ttest: per event_type, the per-arm sample size needed to
# detect a 5% lift at α=0.05 / power 0.80:
# n = 2·(z₀.₉₇₅+z₀.₈₀)²·σ²/Δ². Variance uses the TWO-PASS deviation
# form (deviations from the integer-floored mean) so every squared term
# stays small enough for exact BIGINT sums at 10× the bench fixture
# (the naive Σx² overflows long there; at larger factors the swap is
# the DEC power-sum route of agg_stats); mean_micros likewise uses the
# quotient-remainder split so the scaled product never wraps BIGINT
# (r7, ADVICE r6). z constants are literals; the
# final expression is one deterministic IEEE chain on quantized ints.
# At 100 TB: two map-side-combined groupBys + a broadcast of the 5-row
# means table — scale-free.
# ---------------------------------------------------------------------------

_POWER_ORACLE = f"""
WITH v AS (
  SELECT event_type, {sql_cents("value")} AS cents
  FROM events
),
m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS s1,
         CAST(SUM(cents) // COUNT(*) AS BIGINT) AS mean0
  FROM v GROUP BY event_type
),
d AS (
  SELECT v.event_type, m.n, m.s1,
         CAST(SUM(v.cents - m.mean0) AS BIGINT) AS s1d,
         CAST(SUM((v.cents - m.mean0) * (v.cents - m.mean0)) AS BIGINT)
           AS s2d
  FROM v JOIN m ON m.event_type = v.event_type
  GROUP BY v.event_type, m.n, m.s1
),
x AS (
  -- mean_micros in quotient-remainder form: (s1//n)*1e6 + (s1%n)*1e6//n
  -- equals s1*1e6//n exactly, but the largest intermediate is n*1e6
  -- instead of s1*1e6 — no BIGINT wrap however large the sum grows
  -- (r7 hardening, ADVICE r6)
  SELECT event_type, n,
         (s1 // n) * 1000000 + ((s1 % n) * 1000000) // n AS mean_micros,
         {sql_micros(
             "ROUND(CAST(n * s2d - s1d * s1d AS DOUBLE) / (n * (n - "
             "1)), 9)"
         )} AS var_cents2_micros,
         ((s1 // n) * 1000000 + ((s1 % n) * 1000000) // n) // 20
           AS delta_micros
  FROM d
)
SELECT event_type, n, mean_micros, var_cents2_micros, delta_micros,
       CAST(CEIL(2.0 * 2.801585 * 2.801585
                 * (CAST(var_cents2_micros AS DOUBLE) * 1000000.0)
                 / (CAST(delta_micros AS DOUBLE)
                    * CAST(delta_micros AS DOUBLE))) AS BIGINT)
         AS n_per_arm
FROM x
ORDER BY event_type
"""


@register("agg_power_analysis", _POWER_ORACLE)
def agg_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = t(spark, sf_dir, "events").select(
        "event_type",
        cents(F.col("value")).alias("cents"),
    )
    m = v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s1"),
        F.expr("sum(cents) div count(*)").alias("mean0"),
    )
    dev = F.col("cents") - F.col("mean0")
    d = (
        v.join(F.broadcast(m), "event_type")
        .groupBy("event_type", "n", "s1")
        .agg(
            F.sum(dev).alias("s1d"),
            F.sum(dev * dev).alias("s2d"),
        )
    )
    x = d.select(
        "event_type",
        "n",
        F.expr(
            "(s1 div n) * 1000000 + ((s1 % n) * 1000000) div n"
        ).alias("mean_micros"),
        micros(
            F.round(
                (F.col("n") * F.col("s2d") - F.col("s1d") * F.col("s1d"))
                .cast("double")
                / (F.col("n") * (F.col("n") - 1)),
                9,
            )
        ).alias("var_cents2_micros"),
        F.expr(
            "((s1 div n) * 1000000 + ((s1 % n) * 1000000) div n) div 20"
        ).alias("delta_micros"),
    )
    n_req = F.ceil(
        F.lit(2.0)
        * F.lit(2.801585)
        * F.lit(2.801585)
        * (F.col("var_cents2_micros").cast("double") * F.lit(1000000.0))
        / (
            F.col("delta_micros").cast("double")
            * F.col("delta_micros").cast("double")
        )
    ).cast("long")
    return x.select(
        "event_type",
        "n",
        "mean_micros",
        "var_cents2_micros",
        "delta_micros",
        n_req.alias("n_per_arm"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# agg_weighted_median — quantity-weighted median price per return flag.
# The weighted analogue of agg_mode_median: "the price at which half the
# UNITS (not half the order lines) trade". Exact-integer rule: the lower
# weighted median is the smallest value whose cumulative weight doubles
# to >= total weight; the upper uses strict >. At 100 TB the plan is the
# scale story: (key, value) pre-aggregation map-side combines the raw
# rows down to distinct prices BEFORE the cumulative window, so window
# input is value-cardinality-, not volume-, sized — the agg_ks_2sample
# ECDF trick applied to a quantile.
# ---------------------------------------------------------------------------

_WMEDIAN_ORACLE = f"""
WITH rows_ AS (
  SELECT l_returnflag AS flag,
         {sql_cents("l_extendedprice")} AS cents,
         CAST(l_quantity AS BIGINT) AS wt
  FROM lineitem
),
grp AS (
  SELECT flag, cents, CAST(SUM(wt) AS BIGINT) AS w
  FROM rows_ GROUP BY flag, cents
),
cum AS (
  SELECT flag, cents, w,
         CAST(SUM(w) OVER (PARTITION BY flag ORDER BY cents) AS BIGINT)
           AS cw
  FROM grp
),
tot AS (
  SELECT flag, CAST(SUM(w) AS BIGINT) AS tw,
         CAST(COUNT(*) AS BIGINT) AS n_prices
  FROM grp GROUP BY flag
)
SELECT c.flag,
       t.tw AS total_weight,
       t.n_prices,
       MIN(CASE WHEN 2 * c.cw >= t.tw THEN c.cents END) AS wmedian_lo,
       MIN(CASE WHEN 2 * c.cw >  t.tw THEN c.cents END) AS wmedian_hi
FROM cum c JOIN tot t ON c.flag = t.flag
GROUP BY c.flag, t.tw, t.n_prices
ORDER BY c.flag
"""


@register("agg_weighted_median", _WMEDIAN_ORACLE)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (lower and upper) of line price, weighted by
    quantity, per return flag. cents/weights are exact longs; the
    selection rule (2·cumweight vs total) never divides, so the result
    is engine-exact. Prices are NEAR-UNIQUE, so the (flag, cents) fold
    alone doesn't bound the cumulative pass — and a flag-partitioned
    window would serialize ~all rows through 3 tasks. The cumsum is
    therefore the win_pareto two-pass range-partition form: local
    cumsum within (pid, flag), per-(pid, flag) prefix offsets via a
    P×P theta fold (O(1) in data), offsets + totals broadcast back —
    every window group bounded by n/P at any scale.
    """
    from pyspark.sql import Window as W

    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        cents(F.col("l_extendedprice")).alias("cents"),
        F.col("l_quantity").cast("long").alias("wt"),
    )
    grp = li.groupBy("flag", "cents").agg(F.sum("wt").alias("w"))
    parts = (
        grp.repartitionByRange(16, F.col("flag").asc(), F.col("cents").asc())
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin the pid assignment
    )
    wl = W.partitionBy("pid", "flag").orderBy("cents")
    local = parts.select(
        "flag",
        "cents",
        "pid",
        F.sum("w")
        .over(wl.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("lcw"),
    )
    pstats = parts.groupBy("pid", "flag").agg(F.sum("w").alias("psum"))
    offsets = (
        pstats.alias("a")
        .join(
            pstats.alias("b"),
            (F.col("b.flag") == F.col("a.flag"))
            & (F.col("b.pid") < F.col("a.pid")),
            "left",
        )
        .groupBy(F.col("a.pid").alias("pid"), F.col("a.flag").alias("flag"))
        .agg(F.coalesce(F.sum("b.psum"), F.lit(0)).cast("long").alias("off"))
    )
    cum = local.join(F.broadcast(offsets), ["pid", "flag"]).select(
        "flag", "cents", (F.col("lcw") + F.col("off")).alias("cw")
    )
    tot = parts.groupBy("flag").agg(
        F.sum("w").alias("tw"), F.count(F.lit(1)).alias("n_prices")
    )
    return (
        cum.join(F.broadcast(tot), "flag")
        .groupBy("flag", "tw", "n_prices")
        .agg(
            F.min(
                F.when(2 * F.col("cw") >= F.col("tw"), F.col("cents"))
            ).alias("wmedian_lo"),
            F.min(
                F.when(2 * F.col("cw") > F.col("tw"), F.col("cents"))
            ).alias("wmedian_hi"),
        )
        .select(
            "flag",
            F.col("tw").alias("total_weight"),
            "n_prices",
            "wmedian_lo",
            "wmedian_hi",
        )
        .orderBy("flag")
    )


# ---------------------------------------------------------------------------
# agg_mann_kendall — Mann–Kendall trend test per user's daily series.
# The nonparametric "is this metric drifting?" readout (no linearity or
# normality assumed) that pairs with win_cusum_alarm (changepoint) and
# agg_seasonality_profile (cycle): S = sum of sign(x_j - x_i) over day
# pairs, tie-corrected variance kept as the exact integer numerator
# 18·Var = n(n-1)(2n+5) - sum_t t(t-1)(2t+5), z from one deterministic
# IEEE chain on the exact integers (agg_power_analysis discipline).
# The pairwise self-join is bounded per key: days-per-user, not events —
# at 100 TB this is (#users x days^2/2) rows with days <= retention
# window, while the daily pre-aggregation map-side combines the raw
# volume away first.
# ---------------------------------------------------------------------------

_MANN_KENDALL_ORACLE = f"""
WITH daily AS (
  SELECT user_id, date_trunc('day', ts) AS d,
         CAST(SUM({sql_cents("value")}) AS BIGINT) AS x
  FROM events GROUP BY user_id, date_trunc('day', ts)
),
s AS (
  SELECT a.user_id,
         CAST(SUM(CASE WHEN b.x > a.x THEN 1
                       WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s
  FROM daily a JOIN daily b
    ON a.user_id = b.user_id AND a.d < b.d
  GROUP BY a.user_id
),
nn AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM daily GROUP BY user_id
),
ties AS (
  SELECT user_id,
         CAST(COALESCE(SUM(tt * (tt - 1) * (2 * tt + 5)), 0) AS BIGINT)
           AS tie_term
  FROM (
    SELECT user_id, x, CAST(COUNT(*) AS BIGINT) AS tt
    FROM daily GROUP BY user_id, x
  ) GROUP BY user_id
)
SELECT n.user_id, n.n AS n_days, s.s AS s_stat,
       n.n * (n.n - 1) * (2 * n.n + 5) - t.tie_term AS var_num18,
       CASE
         WHEN n.n * (n.n - 1) * (2 * n.n + 5) - t.tie_term > 0 AND s.s <> 0
         THEN CAST(FLOOR(
           (CAST(s.s AS DOUBLE) - (CASE WHEN s.s > 0 THEN 1 ELSE -1 END))
           * 1000000.0
           / SQRT(CAST(n.n * (n.n - 1) * (2 * n.n + 5) - t.tie_term
                       AS DOUBLE) / 18.0)) AS BIGINT)
         ELSE 0
       END AS z_micros
FROM nn n JOIN s ON s.user_id = n.user_id
JOIN ties t ON t.user_id = n.user_id
ORDER BY n.user_id
"""


@register("agg_mann_kendall", _MANN_KENDALL_ORACLE)
def agg_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotone-trend test per user over daily spend.
    S and the tie-corrected 18·Var numerator are exact integers; z is
    FLOOR of one identical IEEE chain (sub, mul, div, sqrt are all
    correctly rounded, so both engines produce the same double). The
    day-pair self-join, tie fold, and count all hang off one daily
    pre-aggregation that map-side combines raw events first.
    """
    ev = t(spark, sf_dir, "events")
    daily = (
        ev.select(
            "user_id",
            F.date_trunc("day", "ts").alias("d"),
            cents(F.col("value")).alias("cents"),
        )
        .groupBy("user_id", "d")
        .agg(F.sum("cents").alias("x"))
    )
    a = daily.select(
        "user_id", F.col("d").alias("da"), F.col("x").alias("xa")
    )
    b = daily.select(
        F.col("user_id").alias("ub"),
        F.col("d").alias("db"),
        F.col("x").alias("xb"),
    )
    s = (
        a.join(b, (F.col("user_id") == F.col("ub")) & (F.col("da") < F.col("db")))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            ).alias("s_stat")
        )
    )
    nn = daily.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_days"))
    ties = (
        daily.groupBy("user_id", "x")
        .agg(F.count(F.lit(1)).alias("tt"))
        .groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("tt") * (F.col("tt") - 1) * (2 * F.col("tt") + 5)
                ),
                F.lit(0),
            ).alias("tie_term")
        )
    )
    j = nn.join(s, "user_id").join(ties, "user_id")
    var18 = (
        F.col("n_days") * (F.col("n_days") - 1) * (2 * F.col("n_days") + 5)
        - F.col("tie_term")
    )
    z = (
        F.when(
            (var18 > 0) & (F.col("s_stat") != 0),
            F.floor(
                (
                    F.col("s_stat").cast("double")
                    - F.when(F.col("s_stat") > 0, 1).otherwise(-1)
                )
                * 1_000_000.0
                / F.sqrt(var18.cast("double") / 18.0)
            ).cast("long"),
        )
        .otherwise(0)
        .alias("z_micros")
    )
    return j.select(
        "user_id", "n_days", "s_stat", var18.alias("var_num18"), z
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# GROUP BY ALL — Spark 4 / DuckDB shared surface. The grouping keys are
# inferred from the non-aggregate select items, so the SAME text runs on
# both engines (one source of truth, zero drift — the subqueries.py
# pattern). Plan-identical to an explicit GROUP BY: map-side partial agg
# on two low-cardinality keys, a few-KB shuffle at any input size.
# ---------------------------------------------------------------------------

_GROUP_BY_ALL_TEXT = f"""
SELECT l_returnflag,
       l_linestatus,
       CAST(SUM({sql_cents("l_quantity")}) AS BIGINT) AS qty_c,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY ALL
ORDER BY ALL
"""


@register("agg_group_by_all", _GROUP_BY_ALL_TEXT)
def agg_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (Spark 4 surface, DuckDB-native):
    grouping keys inferred from the select list — the analyzer expands
    ALL to the explicit key set, so the physical plan is byte-identical
    to agg_groupby_basic's (partial agg → tiny shuffle → sort; scale-
    free). Quantities are integral-valued doubles, so ×100 cents are
    exact longs; the outer CAST pins DuckDB's SUM(BIGINT)→HUGEINT
    promotion back to BIGINT (CLAUDE.md 2^53 rule)."""
    return sql(spark, sf_dir, _GROUP_BY_ALL_TEXT)


# ---------------------------------------------------------------------------
# UNPIVOT ... INCLUDE NULLS — Spark 4 SQL surface. Default UNPIVOT drops
# rows whose measure is NULL; INCLUDE NULLS keeps them (the shape a
# coverage/missingness report needs: a NULL measurement is a fact, not a
# non-row). Same narrow per-row expansion as agg_unpivot — no shuffle.
# ---------------------------------------------------------------------------

_UNPIVOT_NULLS_ORACLE = """
SELECT o_orderkey, 'price_f' AS measure,
       CASE WHEN o_orderstatus = 'F' THEN o_totalprice END AS value
FROM orders
UNION ALL
SELECT o_orderkey, 'price_nonurgent' AS measure,
       CASE WHEN o_orderpriority = '1-URGENT' THEN NULL
            ELSE o_totalprice END AS value
FROM orders
ORDER BY o_orderkey, measure
"""


@register("agg_unpivot_include_nulls", _UNPIVOT_NULLS_ORACLE)
def agg_unpivot_include_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT INCLUDE NULLS via the Spark 4 SQL clause (agg_unpivot is
    the default EXCLUDE form): wide → long keeping NULL measures, so
    every (key, measure) cell emits exactly one row — the contract a
    completeness audit needs (n_rows = |keys| × |measures| exactly).
    The portable oracle is the UNION ALL expansion. Narrow per-row
    generate, no shuffle; the ORDER BY is presentation only."""
    return sql(
        spark,
        sf_dir,
        """
        WITH m AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderstatus = 'F' THEN o_totalprice END
                   AS price_f,
                 CASE WHEN o_orderpriority = '1-URGENT'
                      THEN CAST(NULL AS DOUBLE)
                      ELSE o_totalprice END AS price_nonurgent
          FROM orders
        )
        SELECT o_orderkey, measure, value
        FROM m UNPIVOT INCLUDE NULLS (
          value FOR measure IN (price_f, price_nonurgent)
        )
        ORDER BY o_orderkey, measure
        """,
    )


# ---------------------------------------------------------------------------
# agg_ols_normal_equations — exact-rational multiple regression.

_OLS_ORACLE = f"""
WITH r AS (
  SELECT {sql_cents("l_extendedprice")} AS y,
         CAST(l_quantity AS BIGINT) AS x1,
         {sql_cents("l_discount")} AS x2
  FROM lineitem
), m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(x1) AS HUGEINT) AS s1,
         CAST(SUM(x2) AS HUGEINT) AS s2,
         CAST(SUM(y)  AS HUGEINT) AS sy,
         CAST(SUM(x1 * x1) AS HUGEINT) AS s11,
         CAST(SUM(x1 * x2) AS HUGEINT) AS s12,
         CAST(SUM(x2 * x2) AS HUGEINT) AS s22,
         CAST(SUM(x1 * y)  AS HUGEINT) AS s1y,
         CAST(SUM(x2 * y)  AS HUGEINT) AS s2y
  FROM r
), d AS (
  SELECT n,
         n  * (s11 * s22 - s12 * s12)
       - s1 * (s1  * s22 - s2  * s12)
       + s2 * (s1  * s12 - s2  * s11) AS det,
         sy  * (s11 * s22 - s12 * s12)
       - s1y * (s1  * s22 - s2  * s12)
       + s2y * (s1  * s12 - s2  * s11) AS n0,
       - sy  * (s1 * s22 - s12 * s2)
       + s1y * (n  * s22 - s2  * s2)
       - s2y * (n  * s12 - s2  * s1) AS n1,
         sy  * (s1 * s12 - s11 * s2)
       - s1y * (n  * s12 - s1  * s2)
       + s2y * (n  * s11 - s1  * s1) AS n2
  FROM m
), b AS (
  SELECT CAST(n AS BIGINT) AS n,
         CAST((n0 * 1000000 - ((n0 * 1000000 % det) + det) % det) // det
              AS BIGINT) AS b0_micros,
         CAST((n1 * 1000000 - ((n1 * 1000000 % det) + det) % det) // det
              AS BIGINT) AS b1_micros,
         CAST((n2 * 1000000 - ((n2 * 1000000 % det) + det) % det) // det
              AS BIGINT) AS b2_micros
  FROM d
)
SELECT n, b0_micros, b1_micros, b2_micros,
       b0_micros + 25 * b1_micros + 5 * b2_micros AS yhat_q25_d5_micros
FROM b
"""


@register("agg_ols_normal_equations", _OLS_ORACLE)
def agg_ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature OLS (extendedprice ~ quantity + discount) solved
    EXACTLY by normal equations + Cramer's rule in integer arithmetic —
    the distributed closed-form regression that needs one pass of
    map-side-combined moments (n, Σx, Σx², Σxy: nine scalars total)
    instead of an iterative solver. Inputs quantize losslessly (cents /
    units / discount points), moments are exact long sums (headroom to
    ~sf300: max Σx1·y ≈ 3e15 at 10× sf0.1 vs 2^63), and the 3×3
    determinants expand in DECIMAL(38,0)/HUGEINT (≤ ~1.1e31 at 10×
    sf0.1; ×10^6 stays under 38 digits). Coefficients come out as
    FLOOR-divided micro-unit integers via the engine-portable positive-
    mod identity (num − ((num % den + den) % den)) / den — no doubles
    anywhere, so the value hash is exact by construction rather than by
    IEEE-chain discipline (complements agg_regression_trend's
    single-feature double path and agg_cuped_adjustment's hi/lo-split
    θ). The probe prediction recombines the floored betas in plain
    BIGINT. Plan: one scan → one 9-cell partial aggregate → a 1-row
    driver-free select; nothing here grows with data volume except the
    scan itself.
    """
    li = t(spark, sf_dir, "lineitem")
    r = li.select(
        cents(F.col("l_extendedprice")).alias("y"),
        F.col("l_quantity").cast("long").alias("x1"),
        cents(F.col("l_discount")).alias("x2"),
    )
    dec = "decimal(38,0)"
    m = r.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x1").cast(dec).alias("s1"),
        F.sum("x2").cast(dec).alias("s2"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast(dec).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).cast(dec).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).cast(dec).alias("s22"),
        F.sum(F.col("x1") * F.col("y")).cast(dec).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).cast(dec).alias("s2y"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    sy, s11, s12 = F.col("sy"), F.col("s11"), F.col("s12")
    s22, s1y, s2y = F.col("s22"), F.col("s1y"), F.col("s2y")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s2 * s12)
        + s2 * (s1 * s12 - s2 * s11)
    )
    n0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1y * (s1 * s22 - s2 * s12)
        + s2y * (s1 * s12 - s2 * s11)
    )
    n1 = (
        -sy * (s1 * s22 - s12 * s2)
        + s1y * (n * s22 - s2 * s2)
        - s2y * (n * s12 - s2 * s1)
    )
    n2 = (
        sy * (s1 * s12 - s11 * s2)
        - s1y * (n * s12 - s1 * s2)
        + s2y * (n * s11 - s1 * s1)
    )
    d = m.select(
        n.alias("n"), det.alias("det"),
        n0.alias("n0"), n1.alias("n1"), n2.alias("n2"),
    )
    mic = F.lit(1000000).cast(dec)

    def floor_div_micros(num, den, alias):
        scaled = num * mic
        return ((scaled - F.pmod(scaled, den)) / den).cast("long").alias(
            alias
        )

    b = d.select(
        F.col("n").cast("long").alias("n"),
        floor_div_micros(F.col("n0"), F.col("det"), "b0_micros"),
        floor_div_micros(F.col("n1"), F.col("det"), "b1_micros"),
        floor_div_micros(F.col("n2"), F.col("det"), "b2_micros"),
    )
    return b.select(
        "n", "b0_micros", "b1_micros", "b2_micros",
        (
            F.col("b0_micros")
            + F.lit(25) * F.col("b1_micros")
            + F.lit(5) * F.col("b2_micros")
        ).alias("yhat_q25_d5_micros"),
    )


_HLL_INTERSECT_ORACLE = """
WITH x AS (
  SELECT COUNT(DISTINCT CASE WHEN o_orderpriority = '1-URGENT'
                             THEN o_custkey END) AS exact_urgent,
         COUNT(DISTINCT CASE WHEN o_orderpriority = '2-HIGH'
                             THEN o_custkey END) AS exact_high,
         COUNT(DISTINCT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN o_custkey END) AS exact_union
  FROM orders
)
SELECT exact_urgent, exact_high, exact_union,
       exact_urgent + exact_high - exact_union AS exact_intersection,
       TRUE AS sets_within_3pct,
       TRUE AS intersection_within_5pct
FROM x
"""


@register("agg_hll_intersection", _HLL_INTERSECT_ORACLE)
def agg_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra on HLL sketches — intersection via inclusion–exclusion
    (|A∩B| ≈ est(A) + est(B) − est(A∪B)), the trick that turns the
    union-only HLL into an audience-overlap / cross-segment-reach
    estimator without ever co-shuffling the raw sets. At 100 TB the
    urgent-buyers and high-buyers sketches are built in ONE pass
    (conditional hll_sketch_agg per segment, fixed 2^12-register state
    each, map-side combined), the union sketch is a register-wise MAX of
    the two (hll_union — metadata-sized, no data touch), and the overlap
    estimate costs three estimate() calls. Error compounds: each
    estimate carries ~1.6% rel. σ (lgConfigK=12), so the intersection
    bound is checked against the UNION size (the right denominator —
    a small overlap of two big sets is where inclusion–exclusion gets
    relatively noisy). Driver contract is the agg_hll_sketch_merge
    pattern: exact values + bound booleans, oracle emits TRUE; exact
    multi-DISTINCT and sketches run as SEPARATE aggs + broadcast join
    (mixing them makes Catalyst evaluate sketches over Expand'd rows —
    CLAUDE.md).
    """
    o = t(spark, sf_dir, "orders")
    urgent = F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_custkey"))
    high = F.when(F.col("o_orderpriority") == "2-HIGH", F.col("o_custkey"))
    exact = o.agg(
        F.count_distinct(urgent).alias("exact_urgent"),
        F.count_distinct(high).alias("exact_high"),
        F.count_distinct(
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
                F.col("o_custkey"),
            )
        ).alias("exact_union"),
    )
    sk = o.agg(
        F.hll_sketch_agg(urgent).alias("ska"),
        F.hll_sketch_agg(high).alias("skb"),
    ).select(
        F.hll_sketch_estimate("ska").alias("est_a"),
        F.hll_sketch_estimate("skb").alias("est_b"),
        F.hll_sketch_estimate(F.hll_union("ska", "skb")).alias("est_u"),
    )
    j = exact.crossJoin(F.broadcast(sk))
    within = lambda est, ex, frac: (  # noqa: E731
        F.abs(F.col(est) - F.col(ex)) <= F.lit(frac) * F.col(ex)
    )
    est_int = F.col("est_a") + F.col("est_b") - F.col("est_u")
    exact_int = (
        F.col("exact_urgent") + F.col("exact_high") - F.col("exact_union")
    )
    return j.select(
        "exact_urgent", "exact_high", "exact_union",
        exact_int.alias("exact_intersection"),
        (
            within("est_a", "exact_urgent", 0.03)
            & within("est_b", "exact_high", 0.03)
            & within("est_u", "exact_union", 0.03)
        ).alias("sets_within_3pct"),
        (
            F.abs(est_int - exact_int)
            <= F.lit(0.05) * F.col("exact_union")
        ).alias("intersection_within_5pct"),
    )


_HIST_LOG2_ORACLE = f"""
WITH v AS (
  SELECT event_type, {sql_cents("value")} AS cents
  FROM events
  WHERE {sql_cents("value")} > 0
),
b AS (
  SELECT event_type,
         length(bin(cents)) - 1 AS bucket_pow2,
         cents
  FROM v
),
g AS (
  SELECT event_type, bucket_pow2,
         COUNT(*) AS n,
         CAST(SUM(cents) AS BIGINT) AS sum_cents
  FROM b GROUP BY event_type, bucket_pow2
),
tot AS (SELECT event_type, SUM(n) AS t FROM g GROUP BY event_type)
SELECT g.event_type,
       CAST(g.bucket_pow2 AS BIGINT) AS bucket_pow2,
       CAST((1::BIGINT << g.bucket_pow2) AS BIGINT) AS bucket_lo_cents,
       CAST((1::BIGINT << (g.bucket_pow2 + 1)) - 1 AS BIGINT)
         AS bucket_hi_cents,
       g.n, g.sum_cents,
       CAST((g.n * 1000000) // tot.t AS BIGINT) AS share_ppm
FROM g JOIN tot ON g.event_type = tot.event_type
ORDER BY g.event_type, g.bucket_pow2
"""


@register("agg_histogram_log2", _HIST_LOG2_ORACLE)
def agg_histogram_log2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two (HdrHistogram-style) histogram — the latency/size
    profile every at-scale telemetry pipeline keeps: log2 buckets give
    constant relative resolution with a FIXED ~64-bucket state per
    group, so the aggregation state is O(1) no matter how skewed the
    distribution (equi-width agg_histogram's complement). The bucket
    index is EXACT integer math — floor(log2(x)) = length(bin(x)) − 1,
    no transcendental, no boundary ulp hazard (log2(4096) landing at
    11.9999... is the classic float-bucket bug this avoids). One
    map-side-combined groupBy on (type, bucket); the per-type share is
    an exact integer ppm floor-div via a broadcast of the per-type
    totals (5 rows). Scale-free: output cardinality is types × ≤64.
    """
    v = t(spark, sf_dir, "events").select(
        "event_type", cents(F.col("value")).alias("cents")
    ).filter(F.col("cents") > 0)
    b = v.select(
        "event_type",
        (F.length(F.bin("cents")) - 1).cast("int").alias("bucket_pow2"),
        "cents",
    )
    g = b.groupBy("event_type", "bucket_pow2").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sum_cents")
    )
    tot = g.groupBy("event_type").agg(F.sum("n").alias("t"))
    return (
        g.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            F.col("bucket_pow2").cast("long").alias("bucket_pow2"),
            F.expr("shiftleft(1L, bucket_pow2)").alias("bucket_lo_cents"),
            F.expr("shiftleft(1L, bucket_pow2 + 1) - 1L").alias(
                "bucket_hi_cents"
            ),
            "n",
            "sum_cents",
            F.expr("(n * 1000000) div t").alias("share_ppm"),
        )
        .orderBy("event_type", "bucket_pow2")
    )


_PSI_ORACLE = f"""
WITH v AS (
  SELECT CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'a' ELSE 'b' END
           AS period,
         LEAST({sql_cents("value")} // 2000, 16) AS bucket
  FROM events
),
g AS (
  SELECT bucket,
         COUNT(*) FILTER (period = 'a') AS na,
         COUNT(*) FILTER (period = 'b') AS nb
  FROM v GROUP BY bucket
),
tq AS (
  SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb,
         CAST(COUNT(*) AS BIGINT) AS nbuckets
  FROM g
),
terms AS (
  SELECT g.bucket, CAST(g.na AS BIGINT) AS na, CAST(g.nb AS BIGINT) AS nb,
         CAST(ROUND(
           (CAST(g.na + 1 AS DOUBLE) / (tq.ta + tq.nbuckets)
            - CAST(g.nb + 1 AS DOUBLE) / (tq.tb + tq.nbuckets))
           * ROUND(ln((CAST(g.na + 1 AS DOUBLE) / (tq.ta + tq.nbuckets))
                      / (CAST(g.nb + 1 AS DOUBLE)
                         / (tq.tb + tq.nbuckets))), 9)
           * 1000000000) AS BIGINT) AS psi_term_nanos
  FROM g CROSS JOIN tq
)
SELECT bucket, na, nb, psi_term_nanos,
       CAST(SUM(psi_term_nanos) OVER () AS BIGINT) AS psi_total_nanos
FROM terms
ORDER BY bucket
"""


@register("agg_psi_drift", _PSI_ORACLE)
def agg_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index — the drift monitor every production
    scoring pipeline runs between a reference window and live traffic:
    PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) over a FIXED bucket grid (2000-
    cent-wide, capped at 16 — constant state like agg_histogram_log2,
    immune to tail skew), Laplace-smoothed (+1 per bucket) so empty
    cells never hit ln(0). Determinism: counts are exact integers; p, q
    are single IEEE divisions of those integers (bit-identical both
    engines); ln goes through the 9-dp-round fn_math discipline; the
    term product is one further IEEE op, quantized to integer NANOS
    (PSI terms are ~1e-4 — micros would flatten them) and the total is
    an integer sum. Plan: one map-side-combined groupBy over the
    period-tagged scan, a 1-row totals broadcast, zero UDFs. The OVER ()
    total is over ≤17 bucket rows — bounded, not a corpus-wide global
    window.
    """
    v = t(spark, sf_dir, "events").select(
        F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp"), "a")
        .otherwise("b")
        .alias("period"),
        F.least(
            F.expr(f"{sql_cents('value')} div 2000"), F.lit(16)
        ).alias("bucket"),
    )
    g = v.groupBy("bucket").agg(
        F.count(F.when(F.col("period") == "a", 1)).alias("na"),
        F.count(F.when(F.col("period") == "b", 1)).alias("nb"),
    )
    tq = g.agg(
        F.sum("na").alias("ta"),
        F.sum("nb").alias("tb"),
        F.count(F.lit(1)).alias("nbuckets"),
    )
    j = g.crossJoin(F.broadcast(tq))
    p = (F.col("na") + 1).cast("double") / (F.col("ta") + F.col("nbuckets"))
    q = (F.col("nb") + 1).cast("double") / (F.col("tb") + F.col("nbuckets"))
    term = (
        F.round((p - q) * F.round(F.log(p / q), 9) * 1_000_000_000)
        .cast("long")
        .alias("psi_term_nanos")
    )
    terms = j.select("bucket", "na", "nb", term)
    total = terms.agg(F.sum("psi_term_nanos").alias("psi_total_nanos"))
    return terms.crossJoin(F.broadcast(total)).orderBy("bucket")


_KM_ORACLE = """
WITH u AS (
  SELECT user_id % 4 AS cohort,
         date_diff('day', MIN(ts), MAX(ts)) AS dur,
         MAX(ts) < TIMESTAMP '2024-01-28' AS observed
  FROM events GROUP BY user_id
),
steps AS (
  SELECT cohort, dur,
         COUNT(*) FILTER (observed) AS d,
         COUNT(*) FILTER (NOT observed) AS c
  FROM u GROUP BY cohort, dur
),
risk AS (
  SELECT cohort, dur, d, c,
         CAST(SUM(d + c) OVER (PARTITION BY cohort ORDER BY dur
                               ROWS BETWEEN CURRENT ROW
                               AND UNBOUNDED FOLLOWING) AS BIGINT) AS n
  FROM steps
),
terms AS (
  SELECT cohort, dur, CAST(d AS BIGINT) AS d, CAST(c AS BIGINT) AS c, n,
         CASE WHEN d > 0 AND d < n
              THEN CAST(ROUND(ROUND(ln(CAST(n - d AS DOUBLE) / n), 9)
                              * 1000000000) AS BIGINT)
              WHEN d = 0 THEN 0 END AS term_nanos,
         d >= n AS zero_factor
  FROM risk
)
SELECT cohort, CAST(dur AS BIGINT) AS dur, d, c, n,
       CAST(SUM(term_nanos) OVER w AS BIGINT) AS log_surv_nanos,
       CAST(MAX(CASE WHEN zero_factor THEN 1 ELSE 0 END) OVER w AS BIGINT)
         AS surv_hit_zero
FROM terms
WINDOW w AS (PARTITION BY cohort ORDER BY dur
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY cohort, dur
"""


@register("agg_survival_km", _KM_ORACLE)
def agg_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival estimator with right-censoring — the
    retention curve computed the way clinical statisticians (and churn
    teams) define it: users still active at the observation cutoff are
    CENSORED (leave the risk set without counting as churn), S(t) =
    Π_{u≤t} (1 − d_u/n_u). The product becomes a SUM in log space:
    each factor ln((n−d)/n) is a rational-argument ln through the
    9-dp-round discipline, quantized to integer nanos, and the running
    Σ is exact integer addition — engine-identical. The risk set n_t is
    a REVERSED-frame running sum (CURRENT ROW..UNBOUNDED FOLLOWING) —
    no self-join, one window pass. If a step consumes the whole risk
    set (d=n, S hits exactly 0, log undefined) the term is NULL and the
    cumulative `surv_hit_zero` flag marks the curve dead from there —
    both engines skip window NULLs identically. All windows partition
    by cohort; per-cohort step count is bounded by the 30-day fixture
    span, and at 100 TB by the duration domain, never by user count.
    """
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        (F.col("user_id") % 4).alias("cohort"),
        F.date_diff(F.max("ts"), F.min("ts")).alias("dur"),
        (F.max("ts") < F.lit("2024-01-28").cast("timestamp")).alias(
            "observed"
        ),
    )
    steps = u.groupBy("cohort", "dur").agg(
        F.count(F.when(F.col("observed"), 1)).alias("d"),
        F.count(F.when(~F.col("observed"), 1)).alias("c"),
    )
    wrev = (
        W.partitionBy("cohort")
        .orderBy("dur")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    risk = steps.select(
        "cohort",
        "dur",
        "d",
        "c",
        F.sum(F.col("d") + F.col("c")).over(wrev).alias("n"),
    )
    term = F.when(
        (F.col("d") > 0) & (F.col("d") < F.col("n")),
        F.round(
            F.round(
                F.log((F.col("n") - F.col("d")).cast("double") / F.col("n")),
                9,
            )
            * 1_000_000_000
        ).cast("long"),
    ).when(F.col("d") == 0, F.lit(0))
    terms = risk.select(
        "cohort",
        "dur",
        "d",
        "c",
        "n",
        term.alias("term_nanos"),
        (F.col("d") >= F.col("n")).alias("zero_factor"),
    )
    wcum = (
        W.partitionBy("cohort")
        .orderBy("dur")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return terms.select(
        "cohort",
        F.col("dur").cast("long").alias("dur"),
        "d",
        "c",
        "n",
        F.sum("term_nanos").over(wcum).alias("log_surv_nanos"),
        F.max(F.when(F.col("zero_factor"), 1).otherwise(0))
        .over(wcum)
        .cast("long")
        .alias("surv_hit_zero"),
    ).orderBy("cohort", "dur")


_SPRT_ORACLE = """
WITH d AS (
  SELECT user_id % 2 AS arm,
         date_diff('day', DATE '2024-01-01',
                   CAST(date_trunc('day', ts) AS DATE)) AS day,
         COUNT(*) AS n,
         COUNT(*) FILTER (event_type = 'purchase') AS x
  FROM events
  GROUP BY user_id % 2,
           date_diff('day', DATE '2024-01-01',
                     CAST(date_trunc('day', ts) AS DATE))
),
llr AS (
  SELECT arm, CAST(day AS BIGINT) AS day,
         CAST(x AS BIGINT) AS x, CAST(n AS BIGINT) AS n,
         x * 223143551 + (n - x) * (-182321557) AS llr_day_nanos
  FROM d
),
c AS (
  SELECT arm, day, x, n,
         CAST(SUM(llr_day_nanos) OVER (
           PARTITION BY arm ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS llr_nanos
  FROM llr
)
SELECT arm, day, x, n, llr_nanos,
       CASE WHEN llr_nanos >= 2944438979 THEN 'accept_h1'
            WHEN llr_nanos <= -2944438979 THEN 'accept_h0'
            ELSE 'continue' END AS decision
FROM c
ORDER BY arm, day
"""


@register("agg_sprt_sequential", _SPRT_ORACLE)
def agg_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test — the always-valid
    alternative to fixed-horizon A/B tests: the experiment STOPS the
    day the cumulative log-likelihood ratio crosses a boundary, so
    peeking daily costs nothing. Testing Bernoulli purchase-rate
    H0:p=0.40 vs H1:p=0.50 at α=β=0.05, the per-observation LLR
    contributions ln(p1/p0) and ln((1−p1)/(1−p0)) are CONSTANTS —
    pre-rounded to integer nanos at authoring time (223143551 /
    −182321557; the house constants-pre-rounded rule), so the whole
    statistic is exact integer arithmetic: llr_day = x·K1 + (n−x)·K2,
    cumulated by an arm-partitioned ordered window against Wald's
    boundaries ±ln((1−β)/α) = ±2944438979 nanos. Plan: one
    map-side-combined (arm, day) groupBy — daily cells, never raw rows,
    cross the shuffle — then a bounded window over ≤30 day rows per
    arm. Scale-free at 100 TB: state is days × arms.
    """
    from pyspark.sql import Window as W

    K1, K2, BOUND = 223143551, -182321557, 2944438979
    d = (
        t(spark, sf_dir, "events")
        .groupBy(
            (F.col("user_id") % 2).alias("arm"),
            F.date_diff(
                F.date_trunc("day", "ts").cast("date"),
                F.lit("2024-01-01").cast("date"),
            ).cast("long").alias("day"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
                "x"
            ),
        )
    )
    llr = d.select(
        "arm",
        "day",
        "x",
        "n",
        (F.col("x") * K1 + (F.col("n") - F.col("x")) * K2).alias(
            "llr_day_nanos"
        ),
    )
    w = (
        W.partitionBy("arm")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = llr.select(
        "arm",
        "day",
        "x",
        "n",
        F.sum("llr_day_nanos").over(w).alias("llr_nanos"),
    )
    return c.select(
        "arm",
        "day",
        "x",
        "n",
        "llr_nanos",
        F.when(F.col("llr_nanos") >= BOUND, "accept_h1")
        .when(F.col("llr_nanos") <= -BOUND, "accept_h0")
        .otherwise("continue")
        .alias("decision"),
    ).orderBy("arm", "day")


_EB_SHRINK_ORACLE = """
WITH u AS (
  SELECT user_id,
         COUNT(*) AS n,
         COUNT(*) FILTER (event_type = 'purchase') AS x
  FROM events GROUP BY user_id
),
g AS (SELECT CAST(SUM(x) AS BIGINT) AS gx, CAST(SUM(n) AS BIGINT) AS gn
      FROM u)
SELECT u.user_id, CAST(u.x AS BIGINT) AS x, CAST(u.n AS BIGINT) AS n,
       CAST(u.x * 1000000 // u.n AS BIGINT) AS raw_rate_micros,
       CAST((u.x * g.gn + 20 * g.gx) * 1000000
            // (g.gn * (u.n + 20)) AS BIGINT) AS shrunk_rate_micros,
       CAST(u.n * 1000000 // (u.n + 20) AS BIGINT) AS self_weight_ppm
FROM u CROSS JOIN g
ORDER BY u.user_id
"""


@register("agg_empirical_bayes_rate", _EB_SHRINK_ORACLE)
def agg_empirical_bayes_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes rate shrinkage — the beta-binomial smoothing every
    ranking/CTR pipeline applies so a 1-for-1 user doesn't outrank a
    970-for-1000 one: shrunk = (x + s·m)/(n + s) with the prior mean m
    taken from the GLOBAL pooled rate (the empirical part) and fixed
    prior strength s=20. Substituting m = X/N makes the estimate one
    exact integer rational — (x·N + s·X)/(N·(n+s)) — so no float prior
    ever exists to diverge: floor-div to micros, positive operands
    (Spark truncating div == DuckDB flooring //). Plan: one
    map-side-combined per-user groupBy, a 1-row pooled-totals
    broadcast, codegen arithmetic — two passes total, both linear. At
    100 TB the magnitude check matters: x·N ≤ 3e2·1.5e8·1e6 ≈ 4.5e16
    at sf1000 — still under 2^63; the decimal widening is one cast if
    a deployment exceeds it.
    """
    u = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
                "x"
            ),
        )
    )
    g = u.agg(F.sum("x").alias("gx"), F.sum("n").alias("gn"))
    return (
        u.crossJoin(F.broadcast(g))
        .select(
            "user_id",
            "x",
            "n",
            F.expr("x * 1000000 div n").alias("raw_rate_micros"),
            F.expr(
                "(x * gn + 20 * gx) * 1000000 div (gn * (n + 20))"
            ).alias("shrunk_rate_micros"),
            F.expr("n * 1000000 div (n + 20)").alias("self_weight_ppm"),
        )
        .orderBy("user_id")
    )


_DID_ORACLE = f"""
WITH cells AS (
  SELECT user_id % 2 = 0 AS treated,
         ts >= TIMESTAMP '2024-01-16' AS post,
         COUNT(*) AS n,
         CAST(SUM({sql_cents("value")}) AS BIGINT) AS s
  FROM events
  GROUP BY user_id % 2 = 0, ts >= TIMESTAMP '2024-01-16'
),
m AS (
  SELECT
    MAX(CASE WHEN treated AND NOT post THEN s * 10000 // n END)
      AS pre_t_micros,
    MAX(CASE WHEN treated AND post THEN s * 10000 // n END)
      AS post_t_micros,
    MAX(CASE WHEN NOT treated AND NOT post THEN s * 10000 // n END)
      AS pre_c_micros,
    MAX(CASE WHEN NOT treated AND post THEN s * 10000 // n END)
      AS post_c_micros,
    CAST(SUM(n) AS BIGINT) AS n_total
  FROM cells
)
SELECT CAST(pre_t_micros AS BIGINT) AS pre_t_micros,
       CAST(post_t_micros AS BIGINT) AS post_t_micros,
       CAST(pre_c_micros AS BIGINT) AS pre_c_micros,
       CAST(post_c_micros AS BIGINT) AS post_c_micros,
       CAST((post_t_micros - pre_t_micros)
            - (post_c_micros - pre_c_micros) AS BIGINT) AS did_micros,
       n_total
FROM m
"""


@register("agg_diff_in_diff", _DID_ORACLE)
def agg_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the quasi-experimental estimator for
    launches without randomization: effect = (post−pre) gap of the
    treated group MINUS the same gap for controls, removing both group
    level and common time trend. The 2×2 cell means are exact-integer
    floor-div micros (cents·10⁴/n — positive sums, so truncating div
    equals flooring //), and the DiD is integer subtraction of those
    quantized means (bias ≤ 4 µ-units, deterministic, documented —
    the exact-rational alternative needs n₁n₂n₃n₄ denominators that
    overflow 2^63). Plan: ONE map-side-combined groupBy over the
    (treated, post) tags — four cells cross the shuffle regardless of
    input size — then a conditional-MAX pivot to one row. The CUPED op
    (agg_cuped_adjustment) is the variance-reduction complement; this
    is the identification-strategy one. Scale-free at 100 TB.
    """
    cells = (
        t(spark, sf_dir, "events")
        .groupBy(
            (F.col("user_id") % 2 == 0).alias("treated"),
            (
                F.col("ts") >= F.lit("2024-01-16").cast("timestamp")
            ).alias("post"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents(F.col("value"))).alias("s"),
        )
    )

    def cell(tr, po, alias):
        cond = (F.col("treated") == tr) & (F.col("post") == po)
        return F.max(
            F.when(cond, F.expr("s * 10000 div n"))
        ).alias(alias)

    m = cells.agg(
        cell(True, False, "pre_t_micros"),
        cell(True, True, "post_t_micros"),
        cell(False, False, "pre_c_micros"),
        cell(False, True, "post_c_micros"),
        F.sum("n").alias("n_total"),
    )
    return m.select(
        "pre_t_micros",
        "post_t_micros",
        "pre_c_micros",
        "post_c_micros",
        (
            (F.col("post_t_micros") - F.col("pre_t_micros"))
            - (F.col("post_c_micros") - F.col("pre_c_micros"))
        ).alias("did_micros"),
        "n_total",
    )


_ACF_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
         CAST(SUM({sql_cents("value")}) AS BIGINT) AS cents
  FROM events GROUP BY event_type, date_diff('day', DATE '2024-01-01',
                                             CAST(ts AS DATE))
),
lagged AS (
  SELECT d.event_type, l.lag, d.day, d.cents AS x, p.cents AS y
  FROM daily d
  CROSS JOIN (SELECT UNNEST([1, 2, 3, 7]) AS lag) l
  JOIN daily p ON p.event_type = d.event_type AND p.day = d.day - l.lag
),
m AS (
  SELECT event_type, lag,
         COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM lagged
  GROUP BY event_type, lag
)
SELECT event_type, CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n,
       CAST(n * sxy - sx * sy AS BIGINT) AS acf_num,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
            THEN CAST(CASE WHEN n * sxy - sx * sy < 0 THEN -1
                           WHEN n * sxy - sx * sy > 0 THEN 1 ELSE 0 END
                 * (((abs(n * sxy - sx * sy) * 1000000)
                     // (n * sxx - sx * sx))
                    * abs(n * sxy - sx * sy)
                    // (n * syy - sy * sy)) AS BIGINT)
       END AS acf_r2_signed_micros
FROM m
ORDER BY event_type, lag
"""


@register("agg_autocorr_lags", _ACF_ORACLE)
def agg_autocorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function at lags {1,2,3,7} of the per-type daily
    revenue series — the seasonality detector (a strong lag-7 says
    weekly cycle; lag-1 says momentum): Pearson correlation between
    the series and its lag-shifted self, in the win_rolling_corr
    signed-r² exact-rational form (no sqrt — sign·cov²/(dxx·dyy) by
    truncated integer division; moments and cross-products widened to
    DECIMAL(38,0) Spark-side / HUGEINT in the oracle, r² two-stage
    staged). Plan: events fold to (type, day) cells FIRST
    (map-side combine — day cells, not raw rows, cross the shuffle),
    a 4-row lag spine cross-joins (broadcast, output ×4), and the
    lag pairing is a CALENDAR-day equi-join back to the same cell
    table (day−lag) — gap days pair with nothing rather than silently
    sliding to the previous row, the correct ACF for a daily series —
    then the moments collapse per (type, lag). Scale-free: state is
    types × lags × days at any corpus size.
    """
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
    spine = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3), F.lit(7))).alias(
            "lag"
        )
    )
    lg = daily.crossJoin(F.broadcast(spine))
    prev = daily.select(
        F.col("event_type").alias("p_type"),
        F.col("day").alias("p_day"),
        F.col("cents").alias("y"),
    )
    lagged = lg.join(
        prev,
        (F.col("p_type") == F.col("event_type"))
        & (F.col("p_day") == F.col("day") - F.col("lag")),
    ).select("event_type", "lag", F.col("cents").alias("x"), "y")
    dec = "decimal(38,0)"
    m = lagged.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
    )
    # cross-products stay in DECIMAL(38,0) end to end (the oracle's
    # HUGEINT path): |n·Σxy| measured 9.4e17 at scale10 — one more 10×
    # in daily cents would silently wrap a BIGINT n*sxy while the
    # oracle errors (the agg_cuped_adjustment defect class, r10).
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dxx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dyy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    # r² is the graph_assortativity TWO-STAGE staging
    # ((|num|·1e6 // dxx)·|num| // dyy): the one-shot num²·1e6 needs
    # ~2·digits(num)+6 — past DECIMAL(38)/HUGEINT once num clears
    # ~1e16 — while the staged peak is digits(num)+~10.
    a1 = F.abs(num) * F.lit(1_000_000)
    step1 = (a1 - F.pmod(a1, dxx)) / dxx
    a2 = step1 * F.abs(num)
    r2 = (
        F.signum(num).cast("long")
        * ((a2 - F.pmod(a2, dyy)) / dyy).cast("long")
    )
    return m.select(
        "event_type",
        F.col("lag").cast("long").alias("lag"),
        F.col("n").cast("long").alias("n"),
        num.cast("long").alias("acf_num"),
        F.when((dxx > 0) & (dyy > 0), r2).alias("acf_r2_signed_micros"),
    ).orderBy("event_type", "lag")


_SKYLINE_ORACLE = f"""
WITH cust AS (
  SELECT c.c_custkey, c.c_mktsegment,
         CAST(SUM({sql_cents("o.o_totalprice")}) AS BIGINT)
           AS spend_cents,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_mktsegment
)
SELECT a.c_mktsegment, a.c_custkey, a.spend_cents, a.n_orders
FROM cust a
WHERE NOT EXISTS (
  SELECT 1 FROM cust b
  WHERE b.c_mktsegment = a.c_mktsegment
    AND b.spend_cents >= a.spend_cents
    AND b.n_orders >= a.n_orders
    AND (b.spend_cents > a.spend_cents OR b.n_orders > a.n_orders)
)
ORDER BY a.c_mktsegment, a.c_custkey
"""


@register("agg_skyline_pareto", _SKYLINE_ORACLE)
def agg_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-front) query — the classic multi-criteria
    operator SQL never standardized: per market segment, the customers
    no one else BOTH out-spends AND out-orders (strict in at least one
    dimension). The dominance test is an ANTI-JOIN keyed on segment
    with the dominance predicate as join condition — key-partitioned
    and co-located, NOT a cartesian (Catalyst plans a segment-hash
    join; per-segment candidate sets bound the pair work). The 100 TB
    refinement documented by the skyline literature (Börzsönyi et al.
    2001): pre-prune with per-segment grid maxima before pairing —
    any point dominated by a grid-cell max dies map-side; at fixture
    scale the direct per-segment test IS the bounded form (~300
    candidates/segment). Exact integer dimensions (cents, counts), so
    dominance has no float edge; ties on both dims survive together
    (neither strictly dominates — the WHERE's strictness clause).
    """
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    cust = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.sum(cents(F.col("o_totalprice"))).alias(
                "spend_cents"
            ),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    dom = cust.select(
        F.col("c_mktsegment").alias("d_seg"),
        F.col("spend_cents").alias("d_spend"),
        F.col("n_orders").alias("d_orders"),
    )
    return (
        cust.join(
            dom,
            (F.col("d_seg") == F.col("c_mktsegment"))
            & (F.col("d_spend") >= F.col("spend_cents"))
            & (F.col("d_orders") >= F.col("n_orders"))
            & (
                (F.col("d_spend") > F.col("spend_cents"))
                | (F.col("d_orders") > F.col("n_orders"))
            ),
            "left_anti",
        )
        .select("c_mktsegment", "c_custkey", "spend_cents", "n_orders")
        .orderBy("c_mktsegment", "c_custkey")
    )


# Benjamini–Hochberg: ONE SQL text, valid verbatim in BOTH dialects —
# the strongest determinism guarantee available (identical op chains by
# construction). Normal CDF via the Abramowitz–Stegun 26.2.17
# polynomial (both engines lack erf); z is pure IEEE arithmetic on
# exact integer counts (sqrt is correctly rounded per IEEE-754, so the
# chain is bit-identical); p-values land as 9-dp-round micros ints.
_BH_TEXT = f"""
WITH c AS (
  SELECT user_id % 8 AS cohort, m.metric,
         COUNT(*) FILTER (WHERE ts < TIMESTAMP '2024-01-16') AS n1,
         COUNT(*) FILTER (WHERE ts < TIMESTAMP '2024-01-16'
                            AND event_type = m.metric) AS x1,
         COUNT(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-16') AS n2,
         COUNT(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-16'
                            AND event_type = m.metric) AS x2
  FROM events CROSS JOIN (SELECT 'purchase' AS metric
                          UNION ALL SELECT 'click') m
  GROUP BY user_id % 8, m.metric
),
z AS (
  SELECT metric, cohort, n1, x1, n2, x2,
         (CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
           / sqrt((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                  * (1 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                  * (1.0 / n1 + 1.0 / n2)) AS zval
  FROM c
  WHERE n1 > 0 AND n2 > 0 AND x1 + x2 > 0 AND x1 + x2 < n1 + n2
),
tt AS (
  SELECT metric, cohort,
         1 / (1 + 0.2316419 * abs(zval)) AS t,
         0.3989422804014327 * exp(-(zval * zval) / 2) AS phi
  FROM z
),
p AS (
  SELECT metric, cohort,
         {sql_micros(
             "ROUND(2 * phi * (t * (0.319381530 + t * (-0.356563782 + "
             "t * (1.781477937 + t * (-1.821255978 + t * "
             "1.330274429))))), 9)"
         )} AS p_micros
  FROM tt
),
r AS (
  SELECT metric, cohort, p_micros,
         ROW_NUMBER() OVER (PARTITION BY metric
                            ORDER BY p_micros, cohort) AS rnk,
         COUNT(*) OVER (PARTITION BY metric) AS m_tests
  FROM p
),
k AS (
  SELECT metric,
         MAX(CASE WHEN p_micros * m_tests <= rnk * 50000
                  THEN rnk ELSE 0 END) AS maxk
  FROM r GROUP BY metric
)
SELECT r.metric, r.cohort, r.p_micros, CAST(r.rnk AS BIGINT) AS rnk,
       r.p_micros <= 50000 AS reject_raw,
       r.rnk <= k.maxk AS reject_bh
FROM r JOIN k ON k.metric = r.metric
ORDER BY r.metric, r.rnk
"""


@register("agg_benjamini_hochberg", _BH_TEXT)
def agg_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR correction over a battery of two-proportion
    z-tests — the multiple-comparisons machinery any metrics platform
    needs once it runs 16 tests a day (raw α=0.05 expects ~1 false
    positive per battery; BH's step-up rule — reject all ranks ≤ max{k:
    p₍ₖ₎ ≤ k·α/m} — bounds the false-discovery RATE instead). Two
    families (purchase / click share shift across the month halves) ×
    8 cohorts. The BH comparison is exact integer arithmetic
    (p_micros·m ≤ rank·50000); per-metric rank windows are partitioned
    (8 rows each); maxk folds via groupBy + join-back. The SAME SQL
    text runs on both engines (dialect-parity determinism: identical
    literals, identical op order — see _BH_TEXT header). Counts fold
    map-side; everything after the first groupBy is O(tests).
    """
    return sql(spark, sf_dir, _BH_TEXT)


_IPW_ORACLE = f"""
WITH e AS (
  SELECT event_type AS bucket,
         (user_id % 2 = 0) AS treated,
         {sql_cents("value")} AS cents
  FROM events
),
cells AS (
  SELECT bucket,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         CAST(SUM(CASE WHEN treated THEN cents ELSE 0 END) AS BIGINT)
           AS sy_t,
         CAST(SUM(CASE WHEN NOT treated THEN cents ELSE 0 END) AS BIGINT)
           AS sy_c
  FROM e GROUP BY bucket
),
terms AS (
  -- products widened to HUGEINT explicitly (mirror of the Spark
  -- DECIMAL(38,0) widening): sy*n clears int64 once cents sums pass
  -- ~1e9 rows, and BIGINT x BIGINT would raise there, not widen
  SELECT bucket, n, n_t,
         CAST(CAST(n_t AS HUGEINT) * 1000000 // n AS BIGINT)
           AS propensity_ppm,
         CAST(CAST(sy_t AS HUGEINT) * n // n_t AS BIGINT) AS ipw_t_cents,
         CAST(CAST(sy_c AS HUGEINT) * n // (n - n_t) AS BIGINT)
           AS ipw_c_cents
  FROM cells
  WHERE n_t > 0 AND n_t < n
),
total AS (
  SELECT CAST(SUM(n) AS HUGEINT) AS n_total,
         SUM(CAST(ipw_t_cents AS HUGEINT)) AS st,
         SUM(CAST(ipw_c_cents AS HUGEINT)) AS sc
  FROM terms
)
SELECT bucket, n, n_t, propensity_ppm, ipw_t_cents, ipw_c_cents,
       CAST(NULL AS BIGINT) AS ate_micros
FROM terms
UNION ALL
SELECT 'TOTAL', CAST(n_total AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(CASE WHEN st >= sc
                 THEN (st - sc) * CAST(10000 AS HUGEINT) // n_total
                 ELSE -((sc - st) * CAST(10000 AS HUGEINT) // n_total)
            END AS BIGINT)
FROM total
ORDER BY bucket
"""


@register("agg_ipw_ate", _IPW_ORACLE)
def agg_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect (Horvitz–
    Thompson estimator) — the observational-causal sibling of
    agg_diff_in_diff/agg_cuped_adjustment: when treatment isn't
    randomized, weight each outcome by 1/p(treatment | covariates) so
    the reweighted groups match the covariate mix. The covariate cell
    is event_type; propensity p_b = n_treated_b / n_b is the exact
    empirical rate, and each cell's IPW term Σy·(1/p) collapses to the
    integer rational sy_t·n // n_t (one floor division per cell,
    positive operands — Spark DIV == DuckDB //), so no per-row float
    weights exist anywhere. Degenerate cells (all-treated or
    all-control: propensity 0/1 makes the weight undefined) are
    excluded, deterministically and mirrored. Output: one row per
    cell (n, n_treated, propensity ppm, both IPW sums) plus a TOTAL
    row carrying ATE in micros of a currency unit (÷100 cents ×10⁶).
    Plan: ONE map-side-combined groupBy on the cell key — cells, not
    rows, cross the shuffle — then a broadcast-size fold; scale-free
    at 100 TB like every cell-count estimator in the family.
    """
    ev = t(spark, sf_dir, "events")
    cells = ev.groupBy(F.col("event_type").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("user_id") % 2 == 0).cast("long")).alias("n_t"),
        F.sum(
            F.when(
                F.col("user_id") % 2 == 0,
                cents(F.col("value")),
            ).otherwise(F.lit(0))
        ).alias("sy_t"),
        F.sum(
            F.when(
                F.col("user_id") % 2 != 0,
                cents(F.col("value")),
            ).otherwise(F.lit(0))
        ).alias("sy_c"),
    )
    # products widened to DECIMAL(38,0) Spark-side AND to HUGEINT in
    # the oracle's terms/total CTEs (BIGINT x BIGINT would raise, not
    # widen): sy*n clears int64 once cents sums pass ~1e9 rows — the
    # agg_cuped_adjustment defect class, fixed ahead on BOTH sides.
    # Positive operands, so the pmod-truncated division == DuckDB //.
    dec = "decimal(38,0)"

    def tdiv(num, den, alias):
        return ((num - F.pmod(num, den)) / den).cast("long").alias(alias)

    terms = cells.filter(
        (F.col("n_t") > 0) & (F.col("n_t") < F.col("n"))
    ).select(
        "bucket",
        "n",
        "n_t",
        tdiv(
            F.col("n_t").cast(dec) * 1_000_000,
            F.col("n").cast(dec),
            "propensity_ppm",
        ),
        tdiv(
            F.col("sy_t").cast(dec) * F.col("n"),
            F.col("n_t").cast(dec),
            "ipw_t_cents",
        ),
        tdiv(
            F.col("sy_c").cast(dec) * F.col("n"),
            (F.col("n") - F.col("n_t")).cast(dec),
            "ipw_c_cents",
        ),
    )
    diff = (F.col("st") - F.col("sc")) * F.lit(10_000).cast(dec)
    ate = (
        F.signum(diff).cast("long")
        * (
            (F.abs(diff) - F.pmod(F.abs(diff), F.col("n_total")))
            / F.col("n_total")
        ).cast("long")
    )
    total = terms.agg(
        F.sum("n").cast(dec).alias("n_total"),
        F.sum(F.col("ipw_t_cents").cast(dec)).alias("st"),
        F.sum(F.col("ipw_c_cents").cast(dec)).alias("sc"),
    ).select(
        F.lit("TOTAL").alias("bucket"),
        F.col("n_total").cast("long").alias("n"),
        F.lit(None).cast("long").alias("n_t"),
        F.lit(None).cast("long").alias("propensity_ppm"),
        F.lit(None).cast("long").alias("ipw_t_cents"),
        F.lit(None).cast("long").alias("ipw_c_cents"),
        ate.alias("ate_micros"),
    )
    per_cell = terms.select(
        "bucket",
        "n",
        "n_t",
        "propensity_ppm",
        "ipw_t_cents",
        "ipw_c_cents",
        F.lit(None).cast("long").alias("ate_micros"),
    )
    return per_cell.unionAll(total).orderBy("bucket")


_CONFORMAL_ORACLE = f"""
WITH e AS (
  SELECT event_id, event_type,
         {sql_cents("value")} AS cents,
         (ts < TIMESTAMP '2024-01-16') AS is_cal
  FROM events
),
pred AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_cal,
         CAST(SUM(cents) // COUNT(*) AS BIGINT) AS pred_cents
  FROM e WHERE is_cal GROUP BY event_type
),
scores AS (
  SELECT e.event_type, e.event_id,
         ABS(e.cents - p.pred_cents) AS score,
         ROW_NUMBER() OVER (PARTITION BY e.event_type
                            ORDER BY ABS(e.cents - p.pred_cents),
                                     e.event_id) AS rn
  FROM e JOIN pred p ON p.event_type = e.event_type
  WHERE e.is_cal
),
qhat AS (
  SELECT s.event_type, CAST(s.score AS BIGINT) AS q_hat_cents
  FROM scores s JOIN pred p ON p.event_type = s.event_type
  WHERE s.rn = (9 * (p.n_cal + 1) + 9) // 10
),
cover AS (
  SELECT e.event_type,
         CAST(COUNT(*) AS BIGINT) AS n_test,
         CAST(SUM(CASE WHEN ABS(e.cents - p.pred_cents) <= q.q_hat_cents
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
  FROM e
  JOIN pred p ON p.event_type = e.event_type
  JOIN qhat q ON q.event_type = e.event_type
  WHERE NOT e.is_cal
  GROUP BY e.event_type
)
SELECT p.event_type, p.n_cal, c.n_test, p.pred_cents, q.q_hat_cents,
       CAST(c.n_covered * 1000000 // c.n_test AS BIGINT) AS coverage_ppm
FROM pred p
JOIN qhat q ON q.event_type = p.event_type
JOIN cover c ON c.event_type = p.event_type
ORDER BY p.event_type
"""


@register("agg_conformal_interval", _CONFORMAL_ORACLE)
def agg_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals (Vovk et al.; the
    distribution-free uncertainty wrapper modern ML serving bolts onto
    any point predictor): calibrate on the first half of the event
    stream, predict with the per-type calibration mean, take the
    conformal quantile q_hat = the ceil(0.9*(n+1))-th smallest absolute
    residual — the finite-sample-valid 90% radius — and report realized
    coverage on the held-out second half. Everything is exact integer
    arithmetic: predictions are truncated-div cents (positive sums),
    the quantile is an ORDER-STATISTIC selected by ROW_NUMBER at rank
    (9(n+1)+9)//10 (the value at rank k is the k-th order statistic
    regardless of tie placement; (score, event_id) ordering pins the
    row anyway), and coverage is an exact ppm rational. Types whose
    calibration set is smaller than the rank (conformal undefined —
    the interval would be infinite) drop out via the inner join,
    mirrored in both engines. Plan: one groupBy for the predictor,
    one type-partitioned rank window over calibration residuals, two
    broadcast joins onto the test scan, one fold — coverage state is
    per-type, scale-free at 100 TB.
    """
    from pyspark.sql import Window as W

    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        cents(F.col("value")).alias("cents"),
        (F.col("ts") < F.lit("2024-01-16").cast("timestamp")).alias(
            "is_cal"
        ),
    )
    cal = ev.filter(F.col("is_cal"))
    pred = cal.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_cal"),
        F.expr("sum(cents) div count(*)").alias("pred_cents"),
    )
    scores = cal.join(F.broadcast(pred), "event_type").select(
        "event_type",
        "event_id",
        F.abs(F.col("cents") - F.col("pred_cents")).alias("score"),
        "n_cal",
    )
    rn = F.row_number().over(
        W.partitionBy("event_type").orderBy("score", "event_id")
    )
    qhat = (
        scores.withColumn("rn", rn)
        .filter(F.expr("rn = (9 * (n_cal + 1) + 9) div 10"))
        .select("event_type", F.col("score").alias("q_hat_cents"))
    )
    cover = (
        ev.filter(~F.col("is_cal"))
        .join(F.broadcast(pred), "event_type")
        .join(F.broadcast(qhat), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                (
                    F.abs(F.col("cents") - F.col("pred_cents"))
                    <= F.col("q_hat_cents")
                ).cast("long")
            ).alias("n_covered"),
        )
    )
    return (
        pred.join(qhat, "event_type")
        .join(cover, "event_type")
        .select(
            "event_type",
            "n_cal",
            "n_test",
            "pred_cents",
            "q_hat_cents",
            F.expr("n_covered * 1000000 div n_test").alias("coverage_ppm"),
        )
        .orderBy("event_type")
    )


_QSKETCH_ORACLE = f"""
WITH pts AS (
  SELECT date_trunc('month', l_shipdate) AS g,
         {sql_cents("l_extendedprice")} AS cents
  FROM lineitem
),
gn AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM pts GROUP BY g),
rk AS (
  SELECT g, cents,
         ROW_NUMBER() OVER (PARTITION BY g ORDER BY cents) AS r
  FROM pts
),
tgt AS (
  SELECT gn.g, i.i,
         (i.i * gn.n) // 64 AS ri,
         (i.i * gn.n) // 64 - ((i.i - 1) * gn.n) // 64 AS w
  FROM gn, UNNEST(range(1, 65)) AS i(i)
),
bnd AS (
  SELECT t.g, t.i, t.w, r.cents AS v
  FROM tgt t JOIN rk r ON r.g = t.g AND r.r = t.ri
  WHERE t.w > 0
),
cum AS (
  SELECT v, SUM(w) OVER (ORDER BY v, g, i ROWS UNBOUNDED PRECEDING) AS cw
  FROM bnd
),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(COUNT(*) AS BIGINT) AS ng
  FROM gn
),
nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b FROM bnd),
qs AS (SELECT CAST(UNNEST([250000, 500000, 750000, 900000]) AS BIGINT)
         AS q_ppm),
est AS (
  SELECT q.q_ppm,
         MIN(CASE WHEN c.cw >= (q.q_ppm * t.nt + 999999) // 1000000
                  THEN c.v END) AS est_cents
  FROM qs q CROSS JOIN tot t CROSS JOIN cum c
  GROUP BY q.q_ppm
),
truth AS (
  SELECT e.q_ppm, e.est_cents,
         CAST(SUM(CASE WHEN p.cents <= e.est_cents THEN 1 ELSE 0 END)
              AS BIGINT) AS cle,
         CAST(SUM(CASE WHEN p.cents < e.est_cents THEN 1 ELSE 0 END)
              AS BIGINT) AS clt
  FROM est e CROSS JOIN pts p
  GROUP BY e.q_ppm, e.est_cents
)
SELECT tr.q_ppm,
       t.nt AS n_total, t.ng AS n_groups, nb.n_b AS n_boundaries,
       tr.est_cents,
       CAST(tr.cle * 1000000 // t.nt AS BIGINT) AS le_ppm,
       CAST(tr.clt * 1000000 // t.nt AS BIGINT) AS lt_ppm,
       CAST(15627 + (1000000 * t.ng) // t.nt AS BIGINT) AS bound_ppm,
       TRUE AS bound_ok
FROM truth tr CROSS JOIN tot t CROSS JOIN nb
ORDER BY tr.q_ppm
"""


@register("agg_quantile_sketch_merge", _QSKETCH_ORACLE)
def agg_quantile_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable equi-depth quantile summaries — the re-aggregatable
    percentile path a 100 TB rollup hierarchy needs (agg_hll_sketch_merge
    is the distinct-count sibling; agg_percentile_approx checks the
    single-pass GK bound): each shard (ship month) folds to a k=64
    boundary summary — the value at every rank floor(i*n_g/64), weighted
    by the EXACT rank gap it covers — and the shard summaries merge by
    weighted-rank selection into global quantile estimates, without ever
    re-touching shard rows (the KLL/t-digest production shape, kept
    deterministic: no randomized compaction, so the oracle replicates
    est_cents EXACTLY and the driver hash-checks the estimate itself,
    not just a bound). Rank guarantee, tie-aware and proven not assumed:
    count(x <= est) >= ceil(q*N) always, and count(x < est) overshoots
    q*N by at most sum_g ceil(n_g/64) <= N/64 + G — a second exact
    codegen pass computes both counts and the boolean asserts them
    against bound_ppm = 15625 + G*1e6/N + 2 (oracle emits TRUE, so a
    violated bound hash-mismatches). All integer arithmetic: cents
    values, rank-gap weights, ppm divisions; boolean products widened
    to DECIMAL(38,0) for >2^53-row headroom. Plan at 100 TB: per-shard
    rank windows are month-partitioned; the merged summary is
    SKETCH-sized (G x 64 rows), its cumsum runs in the
    agg_weighted_median two-pass range-partition form (no unpartitioned
    window); the truth pass broadcasts 4 scalar estimates over one
    map-side-combined scan. Shards re-sketch independently — the merge
    is associative, the point of the op.
    """
    from pyspark.sql import Window as W

    K = 64
    li = t(spark, sf_dir, "lineitem").select(
        F.date_trunc("month", F.col("l_shipdate")).alias("g"),
        cents(F.col("l_extendedprice")).alias("cents"),
    )
    # r13: gn feeds two branches (boundary targets AND the nt/ng
    # totals); truncate so the month fold runs once (12 rows).
    gn = li.groupBy("g").agg(
        F.count(F.lit(1)).alias("n")
    ).localCheckpoint(eager=False)
    rk = li.select(
        F.col("g").alias("rg"),
        F.col("cents"),
        F.row_number()
        .over(W.partitionBy("g").orderBy("cents"))
        .alias("r"),
    )
    tgt = (
        gn.select(
            "g", "n", F.explode(F.sequence(F.lit(1), F.lit(K))).alias("i")
        )
        .select(
            "g",
            "i",
            F.expr("(i * n) div 64").alias("ri"),
            (
                F.expr("(i * n) div 64") - F.expr("((i - 1) * n) div 64")
            ).alias("w"),
        )
        .filter(F.col("w") > 0)
    )
    bnd = tgt.join(
        rk, (tgt.g == rk.rg) & (tgt.ri == rk.r)
    ).select("g", "i", "w", F.col("cents").alias("v"))
    # merged-summary cumsum: two-pass range-partition form — the summary
    # is G x 64 rows, but no unpartitioned window regardless
    parts = (
        bnd.repartitionByRange(
            8, F.col("v").asc(), F.col("g").asc(), F.col("i").asc()
        )
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # pin the pid assignment
    )
    wl = W.partitionBy("pid").orderBy("v", "g", "i")
    local = parts.select(
        "v",
        "pid",
        F.sum("w")
        .over(wl.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("lcw"),
    )
    pstats = parts.groupBy("pid").agg(F.sum("w").alias("psum"))
    offsets = (
        pstats.alias("a")
        .join(pstats.alias("b"), F.col("b.pid") < F.col("a.pid"), "left")
        .groupBy(F.col("a.pid").alias("pid"))
        .agg(F.coalesce(F.sum("b.psum"), F.lit(0)).cast("long").alias("off"))
    )
    cum = local.join(F.broadcast(offsets), "pid").select(
        "v", (F.col("lcw") + F.col("off")).alias("cw")
    )
    # r13: count boundaries on the CHECKPOINTED parts (same rows as bnd
    # — repartitionByRange preserves cardinality); bnd.agg here
    # re-executed the whole 600k-row rank window + boundary join a
    # second time (plans/r13/agg_quantile_sketch_merge_before.txt).
    tot = gn.agg(
        F.sum("n").alias("nt"), F.count(F.lit(1)).alias("ng")
    ).crossJoin(parts.agg(F.count(F.lit(1)).alias("n_b")))
    qs = spark.createDataFrame(
        [(250000,), (500000,), (750000,), (900000,)], "q_ppm long"
    )
    est = (
        qs.crossJoin(F.broadcast(tot.select("nt")))
        .crossJoin(cum)
        .groupBy("q_ppm")
        .agg(
            F.min(
                F.when(
                    F.col("cw")
                    >= F.expr("(q_ppm * nt + 999999) div 1000000"),
                    F.col("v"),
                )
            ).alias("est_cents")
        )
    )
    truth = (
        li.crossJoin(F.broadcast(est))
        .groupBy("q_ppm", "est_cents")
        .agg(
            F.sum(
                (F.col("cents") <= F.col("est_cents")).cast("long")
            ).alias("cle"),
            F.sum(
                (F.col("cents") < F.col("est_cents")).cast("long")
            ).alias("clt"),
        )
    )
    dec = "decimal(38,0)"
    bound = (F.lit(15627) + F.expr("(1000000 * ng) div nt")).alias(
        "bound_ppm"
    )
    return (
        truth.crossJoin(F.broadcast(tot))
        .select(
            "q_ppm",
            F.col("nt").alias("n_total"),
            F.col("ng").alias("n_groups"),
            F.col("n_b").alias("n_boundaries"),
            "est_cents",
            F.expr("(cle * 1000000) div nt").alias("le_ppm"),
            F.expr("(clt * 1000000) div nt").alias("lt_ppm"),
            bound,
            (
                (
                    F.col("cle").cast(dec) * 1_000_000
                    >= (F.col("q_ppm") - 1).cast(dec) * F.col("nt")
                )
                & (
                    F.col("clt").cast(dec) * 1_000_000
                    <= (
                        F.col("q_ppm").cast(dec)
                        + F.lit(15627)
                        + F.expr("(1000000 * ng) div nt")
                    )
                    * F.col("nt")
                )
            ).alias("bound_ok"),
        )
        .orderBy("q_ppm")
    )


_HHI_ORACLE = f"""
WITH rev AS (
  SELECT s.s_nationkey AS nation, l.l_suppkey AS s,
         CAST(SUM({sql_cents("l.l_extendedprice")})
              AS BIGINT) AS cents
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY s.s_nationkey, l.l_suppkey
),
tot AS (
  SELECT nation, CAST(SUM(cents) AS BIGINT) AS t,
         CAST(COUNT(*) AS BIGINT) AS n_suppliers
  FROM rev GROUP BY nation
),
shares AS (
  SELECT r.nation, CAST(r.cents * 1000000 // t.t AS BIGINT) AS share_ppm
  FROM rev r JOIN tot t ON t.nation = r.nation
)
SELECT s.nation, t.n_suppliers, t.t AS total_cents,
       CAST(SUM(s.share_ppm * s.share_ppm) // 1000000 AS BIGINT)
         AS hhi_ppm
FROM shares s JOIN tot t ON t.nation = s.nation
GROUP BY s.nation, t.n_suppliers, t.t
ORDER BY s.nation
"""


@register("agg_hhi_concentration", _HHI_ORACLE)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market-concentration index per supplier
    nation — the antitrust/marketplace-health readout (HHI > 0.25 =
    highly concentrated) that pairs with agg_gini_by_segment
    (inequality) and agg_entropy_by_group (diversity): each supplier's
    revenue share within its nation, squared and summed. Exact integer
    discipline end to end: revenue folds to cents, shares floor to ppm
    (share_ppm = cents*1e6 // total), HHI = sum(share_ppm^2) // 1e6 —
    back in ppm, max 1e6 for a monopoly; the floor-before-square is
    mirrored in the oracle so both engines quantize identically.
    Plan at 100 TB: one (nation, supplier) map-side-combined fold over
    the scan, one nation-level fold, one broadcast-scale join back —
    group state is a long, scale-free like every share estimator here.
    """
    li = t(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    sup = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"),
        F.col("s_nationkey").alias("nation"),
    )
    rev = (
        li.join(F.broadcast(sup), "l_suppkey")
        .groupBy("nation", "l_suppkey")
        .agg(
            F.sum(cents(F.col("l_extendedprice"))).alias("cents")
        )
    )
    tot = rev.groupBy("nation").agg(
        F.sum("cents").alias("t"), F.count(F.lit(1)).alias("n_suppliers")
    )
    shares = rev.join(tot, "nation").select(
        "nation", F.expr("cents * 1000000 div t").alias("share_ppm")
    )
    return (
        shares.join(tot, "nation")
        .groupBy("nation", "n_suppliers", "t")
        # widen the SUMMAND, not the result: DuckDB's SUM(BIGINT) runs
        # in HUGEINT, so the Spark fold must be decimal(38,0) too or it
        # wraps silently at extreme scale where the oracle stays exact
        .agg(
            F.expr(
                "sum(CAST(share_ppm * share_ppm AS DECIMAL(38,0)))"
                " div 1000000"
            ).alias("hhi_ppm")
        )
        .select(
            "nation",
            "n_suppliers",
            F.col("t").alias("total_cents"),
            "hhi_ppm",
        )
        .orderBy("nation")
    )


_RAKING_ORACLE = """
WITH ev AS (
  SELECT event_type AS r, user_id % 4 AS c2,
         (ts < TIMESTAMP '2024-01-16') AS is_cal
  FROM events
),
tr AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS t_r FROM ev
       WHERE is_cal GROUP BY r),
tc AS (SELECT c2, CAST(COUNT(*) AS BIGINT) AS t_c FROM ev
       WHERE is_cal GROUP BY c2),
tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM ev WHERE is_cal),
cells0 AS MATERIALIZED (
  SELECT s.r, s.c2, s.n, tr.t_r, tc.t_c,
         CAST(1000000 AS BIGINT) AS w
  FROM (SELECT r, c2, CAST(COUNT(*) AS BIGINT) AS n FROM ev
        WHERE NOT is_cal GROUP BY r, c2) s
  JOIN tr ON tr.r = s.r JOIN tc ON tc.c2 = s.c2
),
m1 AS (SELECT r, CAST(SUM(n * w) AS HUGEINT) AS mr FROM cells0 GROUP BY r),
g1 AS (SELECT CAST(SUM(n * w) AS HUGEINT) AS wt FROM cells0),
cells1 AS MATERIALIZED (
  SELECT c.r, c.c2, c.n, c.t_r, c.t_c,
         CAST(CAST(c.w AS HUGEINT) * c.t_r * g1.wt
              // (tt.t * m1.mr) AS BIGINT) AS w
  FROM cells0 c JOIN m1 ON m1.r = c.r, g1, tt
),
m2 AS (SELECT c2, CAST(SUM(n * w) AS HUGEINT) AS mc FROM cells1 GROUP BY c2),
g2 AS (SELECT CAST(SUM(n * w) AS HUGEINT) AS wt FROM cells1),
cells2 AS MATERIALIZED (
  SELECT c.r, c.c2, c.n, c.t_r, c.t_c,
         CAST(CAST(c.w AS HUGEINT) * c.t_c * g2.wt
              // (tt.t * m2.mc) AS BIGINT) AS w
  FROM cells1 c JOIN m2 ON m2.c2 = c.c2, g2, tt
),
m3 AS (SELECT r, CAST(SUM(n * w) AS HUGEINT) AS mr FROM cells2 GROUP BY r),
g3 AS (SELECT CAST(SUM(n * w) AS HUGEINT) AS wt FROM cells2),
cells3 AS MATERIALIZED (
  SELECT c.r, c.c2, c.n, c.t_r, c.t_c,
         CAST(CAST(c.w AS HUGEINT) * c.t_r * g3.wt
              // (tt.t * m3.mr) AS BIGINT) AS w
  FROM cells2 c JOIN m3 ON m3.r = c.r, g3, tt
),
m4 AS (SELECT c2, CAST(SUM(n * w) AS HUGEINT) AS mc FROM cells3 GROUP BY c2),
g4 AS (SELECT CAST(SUM(n * w) AS HUGEINT) AS wt FROM cells3),
cells4 AS MATERIALIZED (
  SELECT c.r, c.c2, c.n, c.t_r, c.t_c,
         CAST(CAST(c.w AS HUGEINT) * c.t_c * g4.wt
              // (tt.t * m4.mc) AS BIGINT) AS w
  FROM cells3 c JOIN m4 ON m4.c2 = c.c2, g4, tt
),
mf AS (SELECT r, CAST(SUM(n * w) AS HUGEINT) AS mr FROM cells4 GROUP BY r),
gf AS (SELECT CAST(SUM(n * w) AS HUGEINT) AS wt FROM cells4)
SELECT c.r AS event_type, c.c2 AS user_bucket, c.n, c.t_r, c.t_c,
       c.w AS w_ppm,
       CAST(mf.mr * 1000000 // gf.wt AS BIGINT) AS row_share_ppm,
       CAST(c.t_r * 1000000 // tt.t AS BIGINT) AS tgt_row_ppm
FROM cells4 c JOIN mf ON mf.r = c.r, gf, tt
ORDER BY c.r, c.c2
"""


@register("agg_raking_ipf", _RAKING_ORACLE)
def agg_raking_ipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survey raking / iterative proportional fitting (Deming &
    Stephan 1940) — the weighting calibrator every metrics platform
    needs when the observed sample's mix drifts from a reference
    period: cell weights over (event_type x user-bucket) are
    alternately scaled so weighted row then column PROPORTIONS match
    the calibration window's margins (first half-month), two full
    row/column sweeps. Each sweep's factor is the exact integer
    rational t_k * W_tot / (T * m_k), applied by ONE staged floor
    division per cell per sweep (the graph_assortativity two-stage
    discipline: products widened to DECIMAL(38,0)/HUGEINT, divide
    once, land back in ppm longs) — both engines replay the identical
    quantization trajectory, so the final weights hash-match exactly.
    Support is restricted to cells whose row AND column margins exist
    in the calibration window (inner join — raking is undefined off
    the target support). Emits final cell weights plus achieved-vs-
    target row shares (after two sweeps the row shares are near-target
    again despite the column sweep landing last — the classic IPF
    convergence readout, exact integers so no tolerance needed).
    Plan at 100 TB: two corpus-scale map-side-combined counts (margins
    + cells), then every sweep is arithmetic over the CELL table
    (dims x dims rows) with broadcast scalar totals — iteration cost
    is independent of corpus size.
    """
    ev = t(spark, sf_dir, "events").select(
        F.col("event_type").alias("r"),
        (F.col("user_id") % 4).alias("c2"),
        (F.col("ts") < F.lit("2024-01-16").cast("timestamp")).alias(
            "is_cal"
        ),
    )
    cal = ev.filter("is_cal")
    tr = cal.groupBy("r").agg(F.count(F.lit(1)).alias("t_r"))
    tc = cal.groupBy("c2").agg(F.count(F.lit(1)).alias("t_c"))
    tt = cal.agg(F.count(F.lit(1)).alias("t"))
    cells = (
        ev.filter(~F.col("is_cal"))
        .groupBy("r", "c2")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(tr, "r")
        .join(tc, "c2")
        .withColumn("w", F.lit(1_000_000).cast("long"))
        # carry the target total INTO the checkpointed cell table: the
        # sweeps would otherwise re-scan events for it per sweep
        .crossJoin(F.broadcast(tt))
        .localCheckpoint(eager=False)
    )
    dec = "decimal(38,0)"

    def sweep(cells, key, tgt):
        # widen the SUMMAND: the oracle's SUM runs in HUGEINT, so the
        # Spark fold must accumulate in decimal(38,0) (casting only the
        # result would let the BIGINT partial sums wrap at extreme scale)
        m = cells.groupBy(key).agg(
            F.sum((F.col("n") * F.col("w")).cast(dec)).alias("mk")
        )
        g = cells.agg(
            F.sum((F.col("n") * F.col("w")).cast(dec)).alias("wt")
        )
        num = F.col("w").cast(dec) * F.col(tgt) * F.col("wt")
        den = F.col("t").cast(dec) * F.col("mk")
        return (
            cells.join(m, key)
            .crossJoin(F.broadcast(g))
            .withColumn(
                "w", ((num - F.pmod(num, den)) / den).cast("long")
            )
            .drop("mk", "wt")
        )

    for key, tgt in (("r", "t_r"), ("c2", "t_c"), ("r", "t_r"),
                     ("c2", "t_c")):
        # checkpoint EVERY sweep output (r13): each sweep references its
        # input three times (cells, margin agg, global agg), so without
        # truncation the plan tree grows 3^k — the pre-fix final plan
        # held 970 Exchange nodes (plans/r13/agg_raking_ipf_before.txt)
        # and Catalyst planned all of them. The checkpoint is a 12-row
        # cell table; per-sweep materialization is one tiny job.
        cells = sweep(cells, key, tgt).localCheckpoint(eager=False)
    mf = cells.groupBy("r").agg(
        F.sum((F.col("n") * F.col("w")).cast(dec)).alias("mr")
    )
    gf = cells.agg(F.sum((F.col("n") * F.col("w")).cast(dec)).alias("wt"))
    return (
        cells.join(mf, "r")
        .crossJoin(F.broadcast(gf))
        .select(
            F.col("r").alias("event_type"),
            F.col("c2").alias("user_bucket"),
            "n",
            "t_r",
            "t_c",
            F.col("w").alias("w_ppm"),
            F.expr("CAST((mr * 1000000) div wt AS LONG)").alias(
                "row_share_ppm"
            ),
            F.expr("CAST((CAST(t_r AS DECIMAL(38,0)) * 1000000) div t"
                   " AS LONG)").alias("tgt_row_ppm"),
        )
        .orderBy("event_type", "user_bucket")
    )


_ATT_MATCH_ORACLE = f"""
WITH y AS (
  SELECT l_orderkey AS okey, CAST(COUNT(*) AS BIGINT) AS y
  FROM lineitem GROUP BY l_orderkey
),
u AS (
  SELECT o.o_orderkey AS okey,
         CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP) AS m,
         {sql_cents("o.o_totalprice")} AS cents,
         (o.o_orderpriority LIKE '1-%' OR o.o_orderpriority LIKE '2-%')
           AS treated,
         y.y
  FROM orders o JOIN y ON y.okey = o.o_orderkey
),
nn AS (
  SELECT okey, m, cents, treated, y,
         last_value(CASE WHEN NOT treated THEN cents END IGNORE NULLS)
           OVER wp AS pc,
         last_value(CASE WHEN NOT treated THEN y END IGNORE NULLS)
           OVER wp AS py,
         first_value(CASE WHEN NOT treated THEN cents END IGNORE NULLS)
           OVER wn AS nc,
         first_value(CASE WHEN NOT treated THEN y END IGNORE NULLS)
           OVER wn AS ny
  FROM u
  WINDOW wp AS (PARTITION BY m ORDER BY cents, okey
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         wn AS (PARTITION BY m ORDER BY cents, okey
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
),
pairsd AS (
  SELECT m,
         CASE WHEN pc IS NULL AND nc IS NULL THEN NULL
              WHEN nc IS NULL THEN py
              WHEN pc IS NULL THEN ny
              WHEN cents - pc <= nc - cents THEN py
              ELSE ny END AS ym,
         y
  FROM nn WHERE treated
),
agg AS (
  SELECT m,
         CAST(COUNT(*) AS BIGINT) AS n_treated,
         CAST(COUNT(ym) AS BIGINT) AS n_matched,
         CAST(SUM(CASE WHEN ym IS NOT NULL THEN y - ym END) AS BIGINT)
           AS sum_diff
  FROM pairsd GROUP BY m
)
SELECT m AS month, n_treated, n_matched, sum_diff,
       CAST(CASE WHEN n_matched = 0 THEN NULL
                 WHEN sum_diff >= 0 THEN sum_diff * 1000000 // n_matched
                 ELSE -((-sum_diff) * 1000000 // n_matched)
            END AS BIGINT) AS att_micros
FROM agg
ORDER BY month
"""


@register("agg_att_nn_matching", _ATT_MATCH_ORACLE)
def agg_att_nn_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor covariate matching ATT — the fourth causal
    estimator beside agg_diff_in_diff / agg_cuped_adjustment /
    agg_ipw_ate: when treatment (urgent/high order priority) isn't
    randomized, pair each treated order with the CONTROL order nearest
    in total price within its order-month stratum and average the
    outcome gaps (lineitem count). The 1-NN search is NOT a pairwise
    join: within each stratum sorted by (price, key), the nearest
    control is always the closer of the last-preceding and
    first-following controls — two IGNORE-NULLS carry windows (the
    win_attribution idiom), so matching costs one sort per stratum at
    any scale. Determinism: prices as exact cents, distance ties to the
    PRECEDING (lower-price) control in both engines, ATT as the exact
    signed-floor micros rational (sum_diff * 1e6 // n_matched, the
    house negative-rational idiom). Unmatched treated rows (a stratum
    with no controls) are counted but excluded from the estimate —
    NULL att for fully-control-free strata, mirrored. Plan at 100 TB:
    one orderkey-keyed count fold, one stratum-partitioned window
    pass, one map-side-combined stratum fold — linear, no self-join.
    """
    from pyspark.sql import Window as W

    y = (
        t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("okey"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.date_trunc("month", F.col("o_orderdate")).alias("m"),
        cents(F.col("o_totalprice")).alias("cents"),
        (
            F.col("o_orderpriority").like("1-%")
            | F.col("o_orderpriority").like("2-%")
        ).alias("treated"),
    )
    u = o.join(y, "okey")
    base = W.partitionBy("m").orderBy("cents", "okey")
    wp = base.rowsBetween(W.unboundedPreceding, -1)
    # the "first following control" is computed as a LAST over the
    # REVERSED order: Spark evaluates an UNBOUNDED FOLLOWING frame by
    # rescanning to the partition end for every row (O(n^2) per
    # partition — MEASURED 19.7 s at sf0.1 vs 1 s for this form),
    # while the growing UNBOUNDED PRECEDING frame is incremental
    wr = W.partitionBy("m").orderBy(
        F.col("cents").desc(), F.col("okey").desc()
    ).rowsBetween(W.unboundedPreceding, -1)
    ctrl_c = F.when(~F.col("treated"), F.col("cents"))
    ctrl_y = F.when(~F.col("treated"), F.col("y"))
    nn = u.select(
        "m",
        "cents",
        "treated",
        "y",
        F.last(ctrl_c, ignorenulls=True).over(wp).alias("pc"),
        F.last(ctrl_y, ignorenulls=True).over(wp).alias("py"),
        F.last(ctrl_c, ignorenulls=True).over(wr).alias("nc"),
        F.last(ctrl_y, ignorenulls=True).over(wr).alias("ny"),
    )
    ym = (
        F.when(F.col("pc").isNull() & F.col("nc").isNull(), F.lit(None))
        .when(F.col("nc").isNull(), F.col("py"))
        .when(F.col("pc").isNull(), F.col("ny"))
        .when(
            F.col("cents") - F.col("pc") <= F.col("nc") - F.col("cents"),
            F.col("py"),
        )
        .otherwise(F.col("ny"))
    )
    agg = (
        nn.filter("treated")
        .select("m", "y", ym.alias("ym"))
        .groupBy("m")
        .agg(
            F.count(F.lit(1)).alias("n_treated"),
            F.count("ym").alias("n_matched"),
            F.sum(
                F.when(F.col("ym").isNotNull(), F.col("y") - F.col("ym"))
            ).alias("sum_diff"),
        )
    )
    att = F.when(
        F.col("n_matched") > 0,
        F.signum("sum_diff").cast("long")
        * F.expr("abs(sum_diff) * 1000000 div n_matched"),
    ).cast("long")
    return agg.select(
        F.col("m").alias("month"),
        "n_treated",
        "n_matched",
        "sum_diff",
        att.alias("att_micros"),
    ).orderBy("month")


_OAXACA_ORACLE = f"""
WITH e AS (
  SELECT event_type AS k, (user_id % 2 = 0) AS treated,
         {sql_cents("value")} AS cents
  FROM events
),
cells AS (
  SELECT k,
         CAST(SUM(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
         CAST(SUM(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS BIGINT)
           AS n_c,
         CAST(SUM(CASE WHEN treated THEN cents ELSE 0 END) AS BIGINT)
           AS s_t,
         CAST(SUM(CASE WHEN NOT treated THEN cents ELSE 0 END) AS BIGINT)
           AS s_c
  FROM e GROUP BY k
),
supp AS MATERIALIZED (
  SELECT * FROM cells WHERE n_t > 0 AND n_c > 0
),
tot AS (
  SELECT CAST(SUM(n_t) AS HUGEINT) AS nt,
         CAST(SUM(n_c) AS HUGEINT) AS nc
  FROM supp
),
terms AS (
  SELECT s.k, s.n_t, s.n_c,
         (CAST(s.n_t AS HUGEINT) * t.nc - CAST(s.n_c AS HUGEINT) * t.nt)
           * s.s_c AS mix_num,
         t.nt * t.nc * s.n_c AS mix_den,
         (CAST(s.s_t AS HUGEINT) * s.n_c - CAST(s.s_c AS HUGEINT) * s.n_t)
           AS rate_num,
         t.nt * s.n_c AS rate_den
  FROM supp s, tot t
),
quant AS (
  SELECT k, n_t, n_c,
         CAST(CASE WHEN mix_num >= 0 THEN
                (mix_num // mix_den) * 1000000
                + ((mix_num % mix_den) * 1000000) // mix_den
              ELSE
                -(((-mix_num) // mix_den) * 1000000
                  + (((-mix_num) % mix_den) * 1000000) // mix_den)
              END AS BIGINT) AS mix_micros,
         CAST(CASE WHEN rate_num >= 0 THEN
                (rate_num // rate_den) * 1000000
                + ((rate_num % rate_den) * 1000000) // rate_den
              ELSE
                -(((-rate_num) // rate_den) * 1000000
                  + (((-rate_num) % rate_den) * 1000000) // rate_den)
              END AS BIGINT) AS rate_micros
  FROM terms
)
SELECT k AS event_type, n_t, n_c, mix_micros, rate_micros,
       CAST(NULL AS BIGINT) AS gap_check_micros
FROM quant
UNION ALL
SELECT 'TOTAL', CAST(t.nt AS BIGINT), CAST(t.nc AS BIGINT),
       (SELECT CAST(SUM(mix_micros) AS BIGINT) FROM quant),
       (SELECT CAST(SUM(rate_micros) AS BIGINT) FROM quant),
       CAST(CASE WHEN st * t.nc >= sc * t.nt THEN
              (st * t.nc - sc * t.nt) * 1000000 // (t.nt * t.nc)
            ELSE
              -((sc * t.nt - st * t.nc) * 1000000 // (t.nt * t.nc))
            END AS BIGINT)
FROM tot t,
     (SELECT CAST(SUM(s_t) AS HUGEINT) AS st,
             CAST(SUM(s_c) AS HUGEINT) AS sc FROM supp)
ORDER BY event_type
"""


@register("agg_oaxaca_decomposition", _OAXACA_ORACLE)
def agg_oaxaca_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oaxaca-Blinder mean-gap decomposition — the "why did the average
    move" explainer every metrics review asks for: the treated-vs-
    control gap in mean order value splits, per event-type cell, into a
    MIX effect (the share shift (p_t,k − p_c,k) valued at control
    rates) and a RATE effect (treated share times the within-cell mean
    gap) — the two sum to the raw gap by identity. Every term is ONE
    exact integer rational: mix_k = (n_tk·N_c − n_ck·N_t)·S_ck /
    (N_t·N_c·n_ck), rate_k = (S_tk·n_ck − S_ck·n_tk) / (N_t·n_ck),
    quantized by the graph_assortativity TWO-STAGE signed floor
    (quotient·1e6 + remainder·1e6 // den — the one-shot num·1e6
    overflows even 128-bit at billion-row scales) identically in both
    engines; DECIMAL(38,0) Spark-side / HUGEINT oracle-side products.
    Support = cells observed in BOTH arms (the decomposition is
    undefined off common support, mirrored). A TOTAL row carries the
    summed effects plus the independently-computed raw gap — the ≤1
    micro-per-cell quantization slack is visible, not hidden. Plan:
    ONE map-side-combined groupBy on the cell key, then broadcast-size
    arithmetic — cells, not rows, cross the shuffle; scale-free.
    """
    ev = t(spark, sf_dir, "events")
    cells = ev.groupBy(F.col("event_type").alias("k")).agg(
        F.sum((F.col("user_id") % 2 == 0).cast("long")).alias("n_t"),
        F.sum((F.col("user_id") % 2 != 0).cast("long")).alias("n_c"),
        F.sum(
            F.when(
                F.col("user_id") % 2 == 0,
                cents(F.col("value")),
            ).otherwise(F.lit(0))
        ).alias("s_t"),
        F.sum(
            F.when(
                F.col("user_id") % 2 != 0,
                cents(F.col("value")),
            ).otherwise(F.lit(0))
        ).alias("s_c"),
    )
    supp = cells.filter((F.col("n_t") > 0) & (F.col("n_c") > 0))
    dec = "decimal(38,0)"
    tot = supp.agg(
        F.sum("n_t").cast(dec).alias("nt"),
        F.sum("n_c").cast(dec).alias("nc"),
        F.sum("s_t").cast(dec).alias("st"),
        F.sum("s_c").cast(dec).alias("sc"),
    )

    def staged(num, den, alias):
        # two-stage signed floor: (|num| // den)*1e6 + (|num| % den)*1e6
        # // den, re-signed — num*1e6 would overflow DECIMAL(38)
        a = F.abs(num)
        q = ((a - F.pmod(a, den)) / den).cast(dec)
        r = F.pmod(a, den)
        lo = ((r * 1_000_000 - F.pmod(r * 1_000_000, den)) / den).cast(dec)
        return (
            F.signum(num).cast("long")
            * (q * 1_000_000 + lo).cast("long")
        ).alias(alias)

    terms = supp.crossJoin(F.broadcast(tot)).select(
        "k",
        "n_t",
        "n_c",
        staged(
            (
                F.col("n_t").cast(dec) * F.col("nc")
                - F.col("n_c").cast(dec) * F.col("nt")
            )
            * F.col("s_c"),
            F.col("nt") * F.col("nc") * F.col("n_c"),
            "mix_micros",
        ),
        staged(
            F.col("s_t").cast(dec) * F.col("n_c")
            - F.col("s_c").cast(dec) * F.col("n_t"),
            F.col("nt") * F.col("n_c"),
            "rate_micros",
        ),
    )
    per_cell = terms.select(
        F.col("k").alias("event_type"),
        "n_t",
        "n_c",
        "mix_micros",
        "rate_micros",
        F.lit(None).cast("long").alias("gap_check_micros"),
    )
    gap = F.col("st") * F.col("nc") - F.col("sc") * F.col("nt")
    total = (
        terms.agg(
            F.sum("mix_micros").alias("mix_sum"),
            F.sum("rate_micros").alias("rate_sum"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.lit("TOTAL").alias("event_type"),
            F.col("nt").cast("long").alias("n_t"),
            F.col("nc").cast("long").alias("n_c"),
            F.col("mix_sum").alias("mix_micros"),
            F.col("rate_sum").alias("rate_micros"),
            (
                F.signum(gap).cast("long")
                * (
                    (
                        F.abs(gap) * 1_000_000
                        - F.pmod(
                            F.abs(gap) * 1_000_000,
                            F.col("nt") * F.col("nc"),
                        )
                    )
                    / (F.col("nt") * F.col("nc"))
                ).cast("long")
            ).alias("gap_check_micros"),
        )
    )
    return per_cell.unionAll(total).orderBy("event_type")


_NA_ORACLE = """
WITH u AS (
  SELECT user_id % 4 AS cohort,
         date_diff('day', MIN(ts), MAX(ts)) AS dur,
         MAX(ts) < TIMESTAMP '2024-01-28' AS observed
  FROM events GROUP BY user_id
),
steps AS (
  SELECT cohort, dur,
         COUNT(*) FILTER (observed) AS d,
         COUNT(*) FILTER (NOT observed) AS c
  FROM u GROUP BY cohort, dur
),
risk AS (
  SELECT cohort, dur, CAST(d AS BIGINT) AS d, CAST(c AS BIGINT) AS c,
         CAST(SUM(d + c) OVER (PARTITION BY cohort ORDER BY dur
                               ROWS BETWEEN CURRENT ROW
                               AND UNBOUNDED FOLLOWING) AS BIGINT) AS n
  FROM steps
),
terms AS (
  SELECT cohort, dur, d, c, n,
         CAST(d * 1000000000 // n AS BIGINT) AS haz_nanos,
         CAST(d * 1000000000 // (n * n) AS BIGINT) AS var_nanos
  FROM risk
)
SELECT cohort, CAST(dur AS BIGINT) AS dur, d, c, n,
       CAST(SUM(haz_nanos) OVER w AS BIGINT) AS cum_hazard_nanos,
       CAST(SUM(var_nanos) OVER w AS BIGINT) AS cum_var_nanos
FROM terms
WINDOW w AS (PARTITION BY cohort ORDER BY dur
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
ORDER BY cohort, dur
"""


@register("agg_nelson_aalen", _NA_ORACLE)
def agg_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative-hazard estimator — the KM curve's
    (agg_survival_km) nonparametric sibling and the quantity hazard
    models are actually fit against: H(t) = Σ_{u<=t} d_u/n_u with the
    same right-censoring risk-set semantics, plus the standard
    variance estimator Σ d/n². Unlike KM's log-space product, BOTH
    running sums here are exact integer rationals — each step's d/n
    and d/n² floor to nanos with no transcendental anywhere, so the
    curve is engine-exact by construction (no 9-dp-round needed; the
    ≤1-nano-per-step floor slack is identical in both engines). The
    risk set is the same REVERSED-frame running sum as KM; the
    per-cohort step domain is bounded by the duration span, never by
    user count, which keeps the reversed frame's per-row rescan
    irrelevant (the att_nn lesson applies to USER-cardinality
    partitions, not bounded step domains). One user fold, one step
    fold, two windows — scale-free.
    """
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.max("ts").alias("t1"),
    ).select(
        (F.col("user_id") % 4).alias("cohort"),
        F.datediff(F.col("t1"), F.col("t0")).alias("dur"),
        (F.col("t1") < F.lit("2024-01-28").cast("timestamp")).alias(
            "observed"
        ),
    )
    steps = u.groupBy("cohort", "dur").agg(
        F.count(F.when(F.col("observed"), 1)).alias("d"),
        F.count(F.when(~F.col("observed"), 1)).alias("c"),
    )
    wrev = (
        W.partitionBy("cohort")
        .orderBy("dur")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    risk = steps.select(
        "cohort",
        "dur",
        "d",
        "c",
        F.sum(F.col("d") + F.col("c")).over(wrev).alias("n"),
    )
    terms = risk.select(
        "cohort",
        "dur",
        "d",
        "c",
        "n",
        F.expr("d * 1000000000 div n").alias("haz_nanos"),
        F.expr("d * 1000000000 div (n * n)").alias("var_nanos"),
    )
    wcum = (
        W.partitionBy("cohort")
        .orderBy("dur")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return terms.select(
        "cohort",
        F.col("dur").cast("long").alias("dur"),
        "d",
        "c",
        "n",
        F.sum("haz_nanos").over(wcum).alias("cum_hazard_nanos"),
        F.sum("var_nanos").over(wcum).alias("cum_var_nanos"),
    ).orderBy("cohort", "dur")


_THEIL_ORACLE = f"""
WITH rev AS (
  SELECT s.s_nationkey AS nation, l.l_suppkey AS s,
         CAST(SUM({sql_cents("l.l_extendedprice")})
              AS BIGINT) AS x
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY s.s_nationkey, l.l_suppkey
),
tot AS (
  SELECT nation, CAST(SUM(x) AS BIGINT) AS xt,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM rev GROUP BY nation
),
terms AS (
  SELECT r.nation,
         CAST((CAST(r.x AS HUGEINT) *
               ({sql_ln_micros("CAST(t.n AS DOUBLE) * CAST(r.x AS DOUBLE)")}
                - {sql_ln_micros("CAST(t.xt AS DOUBLE)")})) // t.xt
              AS BIGINT) AS t_micros
  FROM rev r JOIN tot t ON t.nation = r.nation
)
SELECT tm.nation, t.n AS n_suppliers, t.xt AS total_cents,
       CAST(SUM(tm.t_micros) AS BIGINT) AS theil_t_micros
FROM terms tm JOIN tot t ON t.nation = tm.nation
GROUP BY tm.nation, t.n, t.xt
ORDER BY tm.nation
"""


@register("agg_theil_index", _THEIL_ORACLE)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index per supplier nation — the DECOMPOSABLE
    inequality measure (unlike Gini, Theil splits exactly into
    within-group + between-group terms, which is why national-accounts
    pipelines prefer it): T = Σ_i (x_i/X)·ln(n·x_i/X), zero under
    perfect equality, ln(n) under maximal concentration. Completes the
    concentration trio with agg_gini_by_segment (rank-based) and
    agg_hhi_concentration (share-squared). Determinism: each supplier
    term is share · (ln_micros(n·x_i) − ln_micros(X)) with the two logs
    independently micros-quantized (ln of the DOUBLE product n·x with
    the identical expression order in both engines, then the PMI
    9-dp-round micros) and the share applied as ONE sign-magnitude
    truncated division x_i·Δln // X in HUGEINT/DECIMAL-wide arithmetic
    (the house negative-rational idiom — below-average suppliers have
    NEGATIVE Δln, and DuckDB // truncates toward zero on negatives
    exactly like Spark div, measured r10); the ≤1-micro-per-supplier
    quantization slack is identical in both engines. Plan at 100 TB: one (nation, supplier)
    map-side-combined fold, one nation fold, one broadcast-scale join
    back — the HHI shape, scale-free.
    """
    li = t(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    sup = t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"),
        F.col("s_nationkey").alias("nation"),
    )
    rev = (
        li.join(F.broadcast(sup), "l_suppkey")
        .groupBy("nation", "l_suppkey")
        .agg(
            F.sum(cents(F.col("l_extendedprice"))).alias("x")
        )
    )
    tot = rev.groupBy("nation").agg(
        F.sum("x").alias("xt"), F.count(F.lit(1)).alias("n")
    )
    dec = "decimal(38,0)"
    dln = (
        ln_micros(F.col("n").cast("double") * F.col("x").cast("double"))
        - ln_micros(F.col("xt"))
    )
    num = F.col("x").cast(dec) * dln
    den = F.col("xt").cast(dec)
    terms = rev.join(tot, "nation").select(
        "nation",
        (
            F.signum(num).cast("long")
            * (
                (F.abs(num) - F.pmod(F.abs(num), den)) / den
            ).cast("long")
        ).alias("t_micros"),
    )
    return (
        terms.groupBy("nation")
        .agg(F.sum("t_micros").alias("theil_t_micros"))
        .join(tot, "nation")
        .select(
            "nation",
            F.col("n").alias("n_suppliers"),
            F.col("xt").alias("total_cents"),
            "theil_t_micros",
        )
        .orderBy("nation")
    )


_SMAPE_ORACLE = f"""
WITH daily AS (
  SELECT event_type,
         date_diff('day', DATE '2024-01-01',
                   CAST(date_trunc('day', ts) AS DATE)) AS day,
         CAST(SUM({sql_cents("value")}) AS BIGINT) AS a
  FROM events GROUP BY event_type, day
),
eval_ AS (
  SELECT c.event_type, c.day, c.a, p.a AS f
  FROM daily c JOIN daily p
    ON p.event_type = c.event_type AND p.day = c.day - 7
  WHERE c.day >= 14
),
pts AS (
  SELECT event_type,
         ABS(a - f) AS ae,
         CASE WHEN ABS(a) + ABS(f) > 0
              THEN CAST(2 * ABS(a - f) AS HUGEINT) * 1000000
                   // (ABS(a) + ABS(f))
              ELSE 0 END AS smape_ppm
  FROM eval_
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(ae) // COUNT(*) AS BIGINT) AS mae_cents,
       CAST(SUM(smape_ppm) // COUNT(*) AS BIGINT) AS smape_mean_ppm
FROM pts GROUP BY event_type
ORDER BY event_type
"""


@register("agg_forecast_eval_smape", _SMAPE_ORACLE)
def agg_forecast_eval_smape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy scoring against the seasonal-naive baseline —
    the backtest readout that closes the time-series family
    (agg_seasonality_profile finds the cycle, win_theil_sen the trend,
    agg_autocorr_lags the memory; this op says how good any of it is):
    the day-d forecast for each event type is the actual from day d−7
    (the baseline every real forecaster must beat, per the M-series
    competitions), scored with MAE in exact cents and symmetric MAPE —
    each point's 2|a−f|/(|a|+|f|) is ONE integer rational floored to
    ppm in HUGEINT/DECIMAL-wide arithmetic, the all-zero point defined
    as 0 (mirrored), and the per-type means are floor divisions of
    exact sums. No floats anywhere. Plan at 100 TB: one
    (type, day) map-side-combined daily fold, one self-join ON THE
    DAILY TABLE (days x types rows, not events — the lag-7 join is
    the agg_autocorr_lags calendar-join shape), one fold — linear in
    events, tiny after the first fold.
    """
    ev = t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(
            F.date_trunc("day", F.col("ts")),
            F.lit("2024-01-01").cast("timestamp"),
        ).alias("day"),
    ).agg(
        F.sum(cents(F.col("value"))).alias("a")
    )
    c = daily.alias("c")
    p = daily.alias("p")
    ev_ = (
        c.join(
            p,
            (F.col("p.event_type") == F.col("c.event_type"))
            & (F.col("p.day") == F.col("c.day") - 7),
        )
        .filter(F.col("c.day") >= 14)
        .select(
            F.col("c.event_type").alias("event_type"),
            F.col("c.a").alias("a"),
            F.col("p.a").alias("f"),
        )
    )
    dec = "decimal(38,0)"
    den = (F.abs(F.col("a")) + F.abs(F.col("f"))).cast(dec)
    num = F.lit(2).cast(dec) * F.abs(F.col("a") - F.col("f")) * 1_000_000
    pts = ev_.select(
        "event_type",
        F.abs(F.col("a") - F.col("f")).alias("ae"),
        F.when(
            den > 0, ((num - F.pmod(num, den)) / den).cast("long")
        )
        .otherwise(F.lit(0))
        .alias("smape_ppm"),
    )
    return (
        pts.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.expr("sum(ae) div count(1)").alias("mae_cents"),
            F.expr("sum(smape_ppm) div count(1)").alias("smape_mean_ppm"),
        )
        .select("event_type", "n_points", "mae_cents", "smape_mean_ppm")
        .orderBy("event_type")
    )


_LOGRANK_ORACLE = """
WITH u AS (
  SELECT user_id % 2 AS grp, (user_id // 2) % 3 AS stratum,
         date_diff('day', MIN(ts), MAX(ts)) AS dur,
         MAX(ts) < TIMESTAMP '2024-01-28' AS observed
  FROM events GROUP BY user_id
),
steps AS (
  SELECT stratum, dur,
         CAST(COUNT(*) FILTER (observed) AS BIGINT) AS d,
         CAST(COUNT(*) FILTER (observed AND grp = 1) AS BIGINT) AS d1,
         CAST(COUNT(*) AS BIGINT) AS at_all,
         CAST(COUNT(*) FILTER (grp = 1) AS BIGINT) AS at_g1
  FROM u GROUP BY stratum, dur
),
risk AS (
  SELECT stratum, dur, d, d1,
         CAST(SUM(at_all) OVER w AS BIGINT) AS n,
         CAST(SUM(at_g1) OVER w AS BIGINT) AS n1
  FROM steps
  WINDOW w AS (PARTITION BY stratum ORDER BY dur
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
),
terms AS (
  SELECT stratum, dur, d, d1,
         CAST(CAST(d AS HUGEINT) * n1 * 1000000 // n AS BIGINT)
           AS e1_micros,
         CASE WHEN n > 1 THEN
           CAST(CAST(d AS HUGEINT) * n1 * (n - n1) * (n - d) * 1000000
                // (CAST(n AS HUGEINT) * n * (n - 1)) AS BIGINT)
         ELSE 0 END AS v_micros
  FROM risk
),
agg AS (
  SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n_steps,
         CAST(SUM(d1) AS BIGINT) AS o1,
         CAST(SUM(e1_micros) AS BIGINT) AS e1_micros,
         CAST(SUM(v_micros) AS BIGINT) AS v_micros
  FROM terms GROUP BY stratum
)
SELECT stratum, n_steps, o1, e1_micros, v_micros,
       CASE WHEN v_micros > 0 THEN
         CAST(CAST(1000000 * o1 - e1_micros AS HUGEINT)
              * (1000000 * o1 - e1_micros) // v_micros AS BIGINT)
       END AS z2_micros,
       CASE WHEN v_micros > 0 THEN
         CAST(CAST(1000000 * o1 - e1_micros AS HUGEINT)
              * (1000000 * o1 - e1_micros) // v_micros AS BIGINT)
         > 3841459
       END AS significant_5pct
FROM agg ORDER BY stratum
"""


@register("agg_logrank_test", _LOGRANK_ORACLE)
def agg_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified two-sample log-rank (Mantel-Cox) test — the standard
    comparison test over the survival curves agg_survival_km /
    agg_nelson_aalen estimate: per event time, group 1's observed
    deaths vs the hypergeometric expectation d*n1/n, variance
    d*(n1/n)(1-n1/n)(n-d)/(n-1), chi-square statistic
    (sum(O-E))^2 / sum(V) with 1 df. Same right-censoring risk-set
    semantics as the estimators (reversed-frame running sums; the
    per-stratum step domain is duration-bounded, so the reversed
    frame's rescan is irrelevant — the NA note). Every step term is an
    exact integer rational floored to micros with products widened to
    DECIMAL(38,0)/HUGEINT (d*n1*(n-n1)*(n-d)*1e6 is ~n^4 — BIGINT
    wraps at ~50k at-risk users; DuckDB BIGINT*BIGINT raises rather
    than widening, the r12 lesson); z2's numerator is squared in the
    wide type too. significant_5pct compares z2_micros to the
    chi-square(1) 5% critical value 3.841459 in micros — an exact
    integer comparison both engines agree on. Group = user parity,
    stratum = (user_id div 2) % 3 (independent of parity, so every
    stratum holds both groups). Plan: one user fold, one step fold,
    two stratum-partitioned windows, one stratum fold — scale-free
    like the estimators.
    """
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"), F.max("ts").alias("t1")
    ).select(
        (F.col("user_id") % 2).alias("grp"),
        (F.expr("user_id div 2") % 3).alias("stratum"),
        F.datediff(F.col("t1"), F.col("t0")).alias("dur"),
        (F.col("t1") < F.lit("2024-01-28").cast("timestamp")).alias(
            "observed"
        ),
    )
    steps = u.groupBy("stratum", "dur").agg(
        F.count(F.when(F.col("observed"), 1)).alias("d"),
        F.count(
            F.when(F.col("observed") & (F.col("grp") == 1), 1)
        ).alias("d1"),
        F.count(F.lit(1)).alias("at_all"),
        F.count(F.when(F.col("grp") == 1, 1)).alias("at_g1"),
    )
    wrev = (
        W.partitionBy("stratum")
        .orderBy("dur")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    risk = steps.select(
        "stratum",
        "dur",
        "d",
        "d1",
        F.sum("at_all").over(wrev).alias("n"),
        F.sum("at_g1").over(wrev).alias("n1"),
    )
    terms = risk.select(
        "stratum",
        "d1",
        F.expr(
            "CAST((CAST(d AS DECIMAL(38,0)) * n1 * 1000000) div n AS LONG)"
        ).alias("e1_micros"),
        F.when(
            F.col("n") > 1,
            F.expr(
                "CAST((CAST(d AS DECIMAL(38,0)) * n1 * (n - n1) * (n - d)"
                " * 1000000)"
                " div (CAST(n AS DECIMAL(38,0)) * n * (n - 1)) AS LONG)"
            ),
        )
        .otherwise(F.lit(0))
        .alias("v_micros"),
    )
    agg = terms.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("n_steps"),
        F.sum("d1").alias("o1"),
        F.sum("e1_micros").alias("e1_micros"),
        F.sum("v_micros").alias("v_micros"),
    )
    z2 = F.expr(
        "CAST((CAST(1000000 * o1 - e1_micros AS DECIMAL(38,0))"
        " * (1000000 * o1 - e1_micros)) div v_micros AS LONG)"
    )
    return agg.select(
        "stratum",
        "n_steps",
        "o1",
        "e1_micros",
        "v_micros",
        F.when(F.col("v_micros") > 0, z2).alias("z2_micros"),
        F.when(F.col("v_micros") > 0, z2 > 3841459).alias(
            "significant_5pct"
        ),
    ).orderBy("stratum")


_RDD_ORACLE = f"""
WITH yc AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS y
  FROM lineitem GROUP BY l_orderkey
),
r AS (
  -- INNER join: an order with no lineitems has no outcome (mirrors
  -- the Spark fold-then-join; the synthetic fixture HAS such orders)
  SELECT ({sql_cents("o_totalprice")} - 15000000) // 100
           AS x,
         yc.y
  FROM orders o JOIN yc ON yc.l_orderkey = o.o_orderkey
  WHERE o_totalprice >= 100000 AND o_totalprice <= 200000
),
m AS (
  SELECT CAST(COUNT(*) FILTER (x < 0) AS HUGEINT) AS n_l,
         CAST(COALESCE(SUM(x)     FILTER (x < 0), 0) AS HUGEINT) AS sx_l,
         CAST(COALESCE(SUM(y)     FILTER (x < 0), 0) AS HUGEINT) AS sy_l,
         CAST(COALESCE(SUM(x * x) FILTER (x < 0), 0) AS HUGEINT) AS sxx_l,
         CAST(COALESCE(SUM(x * y) FILTER (x < 0), 0) AS HUGEINT) AS sxy_l,
         CAST(COUNT(*) FILTER (x >= 0) AS HUGEINT) AS n_r,
         CAST(COALESCE(SUM(x)     FILTER (x >= 0), 0) AS HUGEINT) AS sx_r,
         CAST(COALESCE(SUM(y)     FILTER (x >= 0), 0) AS HUGEINT) AS sy_r,
         CAST(COALESCE(SUM(x * x) FILTER (x >= 0), 0) AS HUGEINT) AS sxx_r,
         CAST(COALESCE(SUM(x * y) FILTER (x >= 0), 0) AS HUGEINT) AS sxy_r
  FROM r
),
d AS (
  SELECT n_l, n_r,
         n_l * sxx_l - sx_l * sx_l AS den_l,
         n_r * sxx_r - sx_r * sx_r AS den_r,
         sy_l * sxx_l - sx_l * sxy_l AS na_l,
         sy_r * sxx_r - sx_r * sxy_r AS na_r,
         n_l * sxy_l - sx_l * sy_l AS nb_l,
         n_r * sxy_r - sx_r * sy_r AS nb_r
  FROM m
),
b AS (
  SELECT CAST(n_l AS BIGINT) AS n_left, CAST(n_r AS BIGINT) AS n_right,
         CAST((na_l * 1000000
               - ((na_l * 1000000 % den_l) + den_l) % den_l) // den_l
              AS BIGINT) AS a_left_micros,
         CAST((na_r * 1000000
               - ((na_r * 1000000 % den_r) + den_r) % den_r) // den_r
              AS BIGINT) AS a_right_micros,
         CAST((nb_l * 1000000000
               - ((nb_l * 1000000000 % den_l) + den_l) % den_l) // den_l
              AS BIGINT) AS slope_left_nanos,
         CAST((nb_r * 1000000000
               - ((nb_r * 1000000000 % den_r) + den_r) % den_r) // den_r
              AS BIGINT) AS slope_right_nanos
  FROM d
)
SELECT n_left, n_right, a_left_micros, a_right_micros,
       a_right_micros - a_left_micros AS jump_micros,
       slope_left_nanos, slope_right_nanos
FROM b
"""


@register("agg_regression_discontinuity", _RDD_ORACLE)
def agg_regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression-discontinuity estimate (Thistlethwaite &
    Campbell 1960; the causal-inference battery's local-linear member
    beside DiD / IPW / CUPED / ATT-matching / Oaxaca): running
    variable = order total in whole dollars relative to a $150k
    cutoff, rectangular-kernel bandwidth $50k each side, outcome =
    the order's lineitem count. Each side fits y = a + b·x by EXACT
    single-feature normal equations (the agg_ols_normal_equations
    discipline: moments as long sums, numerators/denominators
    expanded in DECIMAL(38,0)/HUGEINT, coefficients FLOOR-divided via
    the portable positive-mod identity — signed numerators, so the
    flooring pmod idiom, NOT truncation); the causal readout is
    jump = a_right - a_left at x = 0, plus both slopes in nanos for
    the specification check (similar slopes = the jump is not a
    trend artifact). Dollars (not cents) keep na·1e6 under 38 digits
    out to ~1e9 orders per window. The y-per-order fold is one
    map-side-combined count shuffled on orderkey; the moment fold is
    ten scalars — nothing else grows with data.
    """
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_totalprice") >= 100000) & (F.col("o_totalprice") <= 200000)
    )
    ycnt = (
        t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    r = o.join(ycnt, "o_orderkey").select(
        F.expr(
            f"({sql_cents('o_totalprice')} - 15000000)"
            " div 100"
        ).alias("x"),
        "y",
    )
    dec = "decimal(38,0)"

    def side(flag, suffix):
        z = F.lit(0).cast("long")
        return [
            F.count(F.when(flag, 1)).cast(dec).alias(f"n_{suffix}"),
            F.coalesce(F.sum(F.when(flag, F.col("x"))), z)
            .cast(dec)
            .alias(f"sx_{suffix}"),
            F.coalesce(F.sum(F.when(flag, F.col("y"))), z)
            .cast(dec)
            .alias(f"sy_{suffix}"),
            F.coalesce(F.sum(F.when(flag, F.col("x") * F.col("x"))), z)
            .cast(dec)
            .alias(f"sxx_{suffix}"),
            F.coalesce(F.sum(F.when(flag, F.col("x") * F.col("y"))), z)
            .cast(dec)
            .alias(f"sxy_{suffix}"),
        ]

    m = r.agg(*(side(F.col("x") < 0, "l") + side(F.col("x") >= 0, "r")))

    def fd(num, den, scale, alias):
        scaled = num * F.lit(scale).cast(dec)
        return ((scaled - F.pmod(scaled, den)) / den).cast("long").alias(
            alias
        )

    def nsum(s):
        n, sx = F.col(f"n_{s}"), F.col(f"sx_{s}")
        sy, sxx, sxy = F.col(f"sy_{s}"), F.col(f"sxx_{s}"), F.col(f"sxy_{s}")
        return (
            (n * sxx - sx * sx).alias(f"den_{s}"),
            (sy * sxx - sx * sxy).alias(f"na_{s}"),
            (n * sxy - sx * sy).alias(f"nb_{s}"),
        )

    d = m.select(
        F.col("n_l"), F.col("n_r"), *nsum("l"), *nsum("r")
    )
    b = d.select(
        F.col("n_l").cast("long").alias("n_left"),
        F.col("n_r").cast("long").alias("n_right"),
        fd(F.col("na_l"), F.col("den_l"), 1_000_000, "a_left_micros"),
        fd(F.col("na_r"), F.col("den_r"), 1_000_000, "a_right_micros"),
        fd(F.col("nb_l"), F.col("den_l"), 1_000_000_000, "slope_left_nanos"),
        fd(F.col("nb_r"), F.col("den_r"), 1_000_000_000, "slope_right_nanos"),
    )
    return b.select(
        "n_left",
        "n_right",
        "a_left_micros",
        "a_right_micros",
        (F.col("a_right_micros") - F.col("a_left_micros")).alias(
            "jump_micros"
        ),
        "slope_left_nanos",
        "slope_right_nanos",
    )


_MEDIATION_ORACLE = f"""
WITH yc AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS m
  FROM lineitem GROUP BY l_orderkey
),
r AS (
  SELECT CASE WHEN o.o_orderpriority LIKE '1-%'
                OR o.o_orderpriority LIKE '2-%' THEN 1 ELSE 0 END AS x,
         yc.m,
         {sql_cents("o.o_totalprice")} AS y
  FROM orders o JOIN yc ON yc.l_orderkey = o.o_orderkey
),
mo AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(x) AS HUGEINT) AS s1,
         CAST(SUM(m) AS HUGEINT) AS s2,
         CAST(SUM(y) AS HUGEINT) AS sy,
         CAST(SUM(x * x) AS HUGEINT) AS s11,
         CAST(SUM(x * m) AS HUGEINT) AS s12,
         CAST(SUM(m * m) AS HUGEINT) AS s22,
         CAST(SUM(x * y) AS HUGEINT) AS s1y,
         CAST(SUM(m * y) AS HUGEINT) AS s2y,
         CAST(SUM(CASE WHEN x = 1 THEN m ELSE 0 END) AS HUGEINT) AS m1,
         CAST(SUM(CASE WHEN x = 0 THEN m ELSE 0 END) AS HUGEINT) AS m0,
         CAST(SUM(CASE WHEN x = 1 THEN y ELSE 0 END) AS HUGEINT) AS y1,
         CAST(SUM(CASE WHEN x = 0 THEN y ELSE 0 END) AS HUGEINT) AS y0
  FROM r
),
d AS (
  SELECT n, s1,
       n  * (s11 * s22 - s12 * s12)
     - s1 * (s1  * s22 - s2  * s12)
     + s2 * (s1  * s12 - s2  * s11) AS det,
     - sy  * (s1 * s22 - s12 * s2)
     + s1y * (n  * s22 - s2  * s2)
     - s2y * (n  * s12 - s2  * s1) AS n1,
       sy  * (s1 * s12 - s11 * s2)
     - s1y * (n  * s12 - s1  * s2)
     + s2y * (n  * s11 - s1  * s1) AS n2,
       (m1 * 1000000 - ((m1 * 1000000 % s1) + s1) % s1) // s1
     - (m0 * 1000000 - ((m0 * 1000000 % (n - s1)) + (n - s1))
        % (n - s1)) // (n - s1) AS a_micros,
       (y1 * 1000000 - ((y1 * 1000000 % s1) + s1) % s1) // s1
     - (y0 * 1000000 - ((y0 * 1000000 % (n - s1)) + (n - s1))
        % (n - s1)) // (n - s1) AS c_micros
  FROM mo
),
b AS (
  SELECT CAST(n AS BIGINT) AS n, CAST(s1 AS BIGINT) AS n_treated,
         CAST(a_micros AS BIGINT) AS a_micros,
         CAST((n2 * 1000000 - ((n2 * 1000000 % det) + det) % det) // det
              AS BIGINT) AS b_micros,
         CAST((n1 * 1000000 - ((n1 * 1000000 % det) + det) % det) // det
              AS BIGINT) AS cprime_micros,
         CAST(c_micros AS BIGINT) AS total_c_micros
  FROM d
)
SELECT n, n_treated, a_micros, b_micros, cprime_micros, total_c_micros,
       CAST(CAST(a_micros AS HUGEINT) * b_micros // 1000000 AS BIGINT)
         AS indirect_micros
FROM b
"""


@register("agg_mediation_analysis", _MEDIATION_ORACLE)
def agg_mediation_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baron-Kenny / product-of-coefficients mediation decomposition
    (the causal battery's pathway member): does order priority (X)
    move revenue (Y) THROUGH basket size (M)? a = E[M|X=1]-E[M|X=0]
    (exact per-arm floored means); (c', b) from the THREE-parameter
    regression Y ~ 1 + X + M solved by the agg_ols_normal_equations
    exact Cramer machinery (HUGEINT/DECIMAL(38,0) determinants,
    signed pmod-floor micros); total effect c from the raw arm means;
    indirect = a*b (micros product re-floored — both engines truncate
    the signed product identically, the measured div parity). The
    sanity identity c ~ c' + a*b holds up to floor slack. One
    orderkey-shuffled count fold + one 13-moment map-side-combined
    aggregate — nothing grows with data volume.
    """
    yc = (
        t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.count(F.lit(1)).alias("m"))
    )
    r = (
        t(spark, sf_dir, "orders")
        .join(yc, "o_orderkey")
        .select(
            F.when(
                F.col("o_orderpriority").like("1-%")
                | F.col("o_orderpriority").like("2-%"),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("x"),
            "m",
            cents(F.col("o_totalprice")).alias("y"),
        )
    )
    dec = "decimal(38,0)"
    mo = r.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("s1"),
        F.sum("m").cast(dec).alias("s2"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast(dec).alias("s11"),
        F.sum(F.col("x") * F.col("m")).cast(dec).alias("s12"),
        F.sum((F.col("m").cast(dec) * F.col("m"))).alias("s22"),
        F.sum(F.col("x") * F.col("y")).cast(dec).alias("s1y"),
        F.sum((F.col("m").cast(dec) * F.col("y"))).alias("s2y"),
        F.sum(F.when(F.col("x") == 1, F.col("m")).otherwise(0))
        .cast(dec)
        .alias("m1"),
        F.sum(F.when(F.col("x") == 0, F.col("m")).otherwise(0))
        .cast(dec)
        .alias("m0"),
        F.sum(F.when(F.col("x") == 1, F.col("y")).otherwise(0))
        .cast(dec)
        .alias("y1"),
        F.sum(F.when(F.col("x") == 0, F.col("y")).otherwise(0))
        .cast(dec)
        .alias("y0"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    sy, s11, s12 = F.col("sy"), F.col("s11"), F.col("s12")
    s22, s1y, s2y = F.col("s22"), F.col("s1y"), F.col("s2y")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s2 * s12)
        + s2 * (s1 * s12 - s2 * s11)
    )
    n1 = (
        -sy * (s1 * s22 - s12 * s2)
        + s1y * (n * s22 - s2 * s2)
        - s2y * (n * s12 - s2 * s1)
    )
    n2 = (
        sy * (s1 * s12 - s11 * s2)
        - s1y * (n * s12 - s1 * s2)
        + s2y * (n * s11 - s1 * s1)
    )
    mic = F.lit(1_000_000).cast(dec)

    def fmean(num, den):
        scaled = num * mic
        return (scaled - F.pmod(scaled, den)) / den

    def fdiv(num, den):
        scaled = num * mic
        return ((scaled - F.pmod(scaled, den)) / den).cast("long")

    b = mo.select(
        n.cast("long").alias("n"),
        s1.cast("long").alias("n_treated"),
        (fmean(F.col("m1"), s1) - fmean(F.col("m0"), n - s1))
        .cast("long")
        .alias("a_micros"),
        fdiv(n2, det).alias("b_micros"),
        fdiv(n1, det).alias("cprime_micros"),
        (fmean(F.col("y1"), s1) - fmean(F.col("y0"), n - s1))
        .cast("long")
        .alias("total_c_micros"),
    )
    return b.select(
        "n",
        "n_treated",
        "a_micros",
        "b_micros",
        "cprime_micros",
        "total_c_micros",
        F.expr(
            "CAST((CAST(a_micros AS DECIMAL(38,0)) * b_micros)"
            " div 1000000 AS LONG)"
        ).alias("indirect_micros"),
    )
