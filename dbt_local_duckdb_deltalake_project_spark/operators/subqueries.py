"""SURVEY.md §2.7 — subqueries, CTEs, inline VALUES.

Where the SQL is pure ANSI we run the *same text* through Spark SQL and
the DuckDB oracle — one source of truth, zero drift. Catalyst decorrelates
the subqueries (RewriteCorrelatedScalarSubquery / RewritePredicateSubquery)
into joins, so these stay shuffle-planned and scale like the §2.3 joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import sql, t
from ..functions.deterministic import micros, sql_dsum, sql_micros
from .registry import register


def _shared(qid: str, text: str):
    """Register a query whose Spark SQL and DuckDB oracle are identical."""

    @register(qid, text)
    def _q(spark: SparkSession, sf_dir: str, _text: str = text) -> DataFrame:
        return sql(spark, sf_dir, _text)

    _q.__name__ = qid
    return _q


_shared(
    "cte_chain",
    f"""
    WITH recent_orders AS (
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1998-01-01'
    ),
    cust_spend AS (
      SELECT o_custkey,
             ROUND(CAST(SUM({sql_micros("o_totalprice")}) AS DOUBLE) / 1000000, 2) AS spend,
             COUNT(*) AS n_orders
      FROM recent_orders
      GROUP BY o_custkey
    )
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           ROUND(CAST(SUM({sql_micros("spend")}) AS DOUBLE) / 1000000, 2) AS segment_spend
    FROM cust_spend
    JOIN customer ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)

_shared(
    "subq_scalar",
    f"""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 1.75 * (
      SELECT CAST(SUM({sql_micros("o_totalprice")}) AS DOUBLE) / 1000000 / COUNT(*)
      FROM orders
    )
    """,
)

_shared(
    "subq_in_exists",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE c_nationkey IN (
            SELECT n_nationkey FROM nation WHERE n_regionkey IN (0, 2))
      AND EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    """,
)

_shared(
    "subq_correlated_agg",
    f"""
    SELECT l_orderkey, l_partkey, l_quantity
    FROM lineitem l1
    WHERE l_quantity > 1.8 * (
      SELECT CAST(SUM({sql_micros("l_quantity")}) AS DOUBLE) / 1000000 / COUNT(*)
      FROM lineitem l2
      WHERE l2.l_partkey = l1.l_partkey
    )
    """,
)

_shared(
    "values_inline",
    """
    SELECT t.code, t.label, COUNT(o_orderkey) AS n_orders
    FROM (VALUES ('F', 'finished'), ('O', 'open'), ('P', 'pending'))
         AS t(code, label)
    LEFT JOIN orders ON o_orderstatus = t.code
    GROUP BY t.code, t.label
    ORDER BY t.code
    """,
)


_shared(
    "join_lateral",
    """
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 1
    ) o
    """,
)
# join_lateral: correlated per-row subquery (top-1 order per customer).
# Catalyst decorrelates the LATERAL into a ranked window join — same
# plan family as win_topk_per_group, so it scales as one shuffle on the
# correlation key rather than a per-row probe loop.


_shared(
    "cte_recursive",
    # Recursive CTE (Spark 4 WITH RECURSIVE): generate the 80-month spine
    # bounded by the fixture's order-date range, then left-join monthly
    # aggregates — the canonical "fill calendar gaps" pattern that a
    # sequence()/explode spine (agg_date_spine) expresses without
    # recursion. Recursion depth = months, driver-side rounds are
    # bounded and data-independent; each round is a 1-row union, so this
    # scales with the calendar, not the fact table.
    #
    # NOTE: Spark 4.1 recursive CTEs support UNION ALL only
    # (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so a cyclic-graph
    # transitive closure (llm_dedup_clusters' oracle form) is NOT yet
    # expressible — the iterative min-label propagation there remains
    # the Spark-side implementation.
    f"""
    WITH RECURSIVE months(month_start) AS (
      SELECT CAST('1995-01-01' AS TIMESTAMP) AS month_start
      UNION ALL
      SELECT CAST(month_start + INTERVAL 1 MONTH AS TIMESTAMP)
      FROM months WHERE month_start < CAST('2001-08-01' AS TIMESTAMP)
    ),
    mo AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             COUNT(*) AS n_orders,
             ROUND(CAST(SUM({sql_micros("o_totalprice")}) AS DOUBLE) / 1000000, 2) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT months.month_start,
           COALESCE(n_orders, 0) AS n_orders,
           COALESCE(revenue, 0.0) AS revenue
    FROM months LEFT JOIN mo ON months.month_start = mo.m
    ORDER BY months.month_start
    """,
)


# ---------------------------------------------------------------------------
# Classic TPC-H-shaped composite queries, adapted to the fixture schema
# (o_orderpriority stands in for o_shippriority; trimmed address/phone
# columns). These test multi-operator COMPOSITION — multiway join +
# filtered agg + exact money sums + top-k — through the same
# identical-text path as the CTE family. Catalyst picks broadcast for
# dims and TakeOrdered for the LIMIT; every money sum is the exact
# micros sum of functions/deterministic.py, so the hash compare is exact.
# ---------------------------------------------------------------------------

_DISC_PRICE = "l_extendedprice * (1 - l_discount)"

_shared(
    "tpch_q3",
    f"""
    SELECT l_orderkey,
           {sql_dsum(_DISC_PRICE, "revenue")},
           o_orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate  > TIMESTAMP '1998-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)

_shared(
    "tpch_q5",
    f"""
    SELECT n_name,
           {sql_dsum(_DISC_PRICE, "revenue")}
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = (SELECT r_name FROM region ORDER BY r_regionkey LIMIT 1)
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)

_shared(
    "tpch_q1",
    # Pricing-summary report: one scan of lineitem, grouped on the
    # 2×2 flag/status domain — pure map-side partial agg, the canonical
    # "scales linearly with the fact table" query. Averages are emitted
    # as micros-sum ÷ count in DOUBLE (decimal division precision rules
    # differ between engines; double division does not).
    f"""
    WITH l AS (
      SELECT l_returnflag, l_linestatus,
             {sql_micros("l_quantity")} AS qty_m,
             {sql_micros("l_extendedprice")} AS price_m,
             {sql_micros("l_discount")} AS disc_m,
             {sql_micros(_DISC_PRICE)} AS disc_price_m,
             {sql_micros(_DISC_PRICE + " * (1 + l_tax)")} AS charge_m
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    )
    SELECT l_returnflag,
           l_linestatus,
           CAST(SUM(qty_m) AS DOUBLE) / 1000000.0 AS sum_qty,
           CAST(SUM(price_m) AS DOUBLE) / 1000000.0 AS sum_base_price,
           CAST(SUM(disc_price_m) AS DOUBLE) / 1000000.0 AS sum_disc_price,
           CAST(SUM(charge_m) AS DOUBLE) / 1000000.0 AS sum_charge,
           CAST(SUM(qty_m) AS DOUBLE) / 1000000.0 / COUNT(*) AS avg_qty,
           CAST(SUM(price_m) AS DOUBLE) / 1000000.0 / COUNT(*) AS avg_price,
           CAST(SUM(disc_m) AS DOUBLE) / 1000000.0 / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM l
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)

_shared(
    "tpch_q4",
    # Order-priority checking, adapted: the fixture has no
    # l_commitdate/l_receiptdate, so "late" = shipped >30 days after
    # the order date. Catalyst rewrites the correlated EXISTS into a
    # left-semi join on o_orderkey — one shuffle, no per-row probe.
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate <  TIMESTAMP '1996-10-01'
      AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 30 DAYS)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)

_shared(
    "tpch_q6",
    # Forecast-revenue change: the pushdown showcase — every predicate
    # reaches the parquet scan (shipdate range + discount band +
    # quantity), then a single global exact micros sum.
    f"""
    SELECT CAST(SUM({sql_micros("l_extendedprice * l_discount")}) AS DOUBLE)
             / 1000000.0 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)

_shared(
    "tpch_q14",
    # Promotion-effect ratio, adapted to the fixture's p_type domain
    # (category words, 'PROMO' literal). Both CASE branches are exact
    # BIGINT micros so branch-type unification is identical across
    # engines; the final ratio is double÷double on identical operands.
    f"""
    SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                   THEN {sql_micros(_DISC_PRICE)} ELSE 0 END) AS DOUBLE)
             / CAST(SUM({sql_micros(_DISC_PRICE)}) AS DOUBLE)
             AS promo_revenue_pct
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate <  TIMESTAMP '1996-10-01'
    """,
)

_shared(
    "tpch_q18",
    # Large-volume customers: self-aggregating IN-subquery on the fact
    # table (threshold 250 ≈ fixture p99 of per-order quantity).
    # Catalyst plans the IN as a semi-join against the pre-aggregated
    # orderkeys — the big groupBy happens once, map-side partials first.
    f"""
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           {sql_dsum("l_quantity", "total_qty")}
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM({sql_micros("l_quantity")}) > 250 * 1000000)
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100
    """,
)

_shared(
    "tpch_q19",
    # Disjunctive bracketed predicates over a dim join, adapted to
    # p_brand/p_size (the fixture carries no container/shipmode). The
    # OR-of-ANDs shares the common join key, so Catalyst still plans one
    # equi-join with the residual disjunction as a post-join filter —
    # and pushes the brand/size/quantity envelope down to both scans.
    f"""
    SELECT CAST(SUM({sql_micros(_DISC_PRICE)}) AS DOUBLE) / 1000000.0 AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1  AND l_quantity <= 21)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 30)
       OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 40)
    """,
)

_shared(
    "tpch_q10",
    f"""
    SELECT c_custkey,
           c_name,
           {sql_dsum(_DISC_PRICE, "revenue")},
           c_acctbal,
           n_name
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)


_PIPE_ORACLE = f"""
SELECT l_returnflag,
       COUNT(*) AS n_items,
       {sql_dsum(_DISC_PRICE, "revenue")}
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("sql_pipe_syntax", _PIPE_ORACLE)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL pipe syntax (`|>`): the same revenue rollup the ANSI
    oracle computes, expressed as a linear operator chain — FROM |> WHERE
    |> EXTEND |> AGGREGATE ... GROUP BY |> ORDER BY. Pipe syntax is pure
    parser surface: Catalyst receives the identical logical plan (filter
    → project → partial/final hash aggregate → sort), so pushdown,
    map-side combine, and whole-stage codegen are unchanged, and the
    money sum goes through the same scaled-long exact path as everywhere
    else (functions/deterministic.py). At 100 TB this plans exactly like
    tpch_q6-style rollups: one pruned scan, one shuffle on the group key.
    """
    return sql(
        spark,
        sf_dir,
        f"""
        FROM lineitem
        |> WHERE l_shipdate >= TIMESTAMP '1997-01-01'
             AND l_shipdate <  TIMESTAMP '1998-01-01'
        |> EXTEND {_DISC_PRICE} AS disc_price
        |> AGGREGATE COUNT(*) AS n_items, {sql_dsum("disc_price", "revenue")}
           GROUP BY l_returnflag
        |> ORDER BY l_returnflag
        """,
    )


_SESSION_VARS_ORACLE = f"""
SELECT l_returnflag,
       COUNT(*) AS n_items,
       {sql_dsum(_DISC_PRICE, "revenue")}
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-03-01'
  AND l_quantity >= 10
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("sql_session_variables", _SESSION_VARS_ORACLE)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL session variables (`DECLARE` / `SET VARIABLE`) plus the
    `IDENTIFIER()` clause — the parameterized-query surface that replaces
    string-pasting values and table names into SQL text (reference repos
    expose this as dbt-style vars / prepared-statement params). Variables
    resolve to LITERALS during analysis, so Catalyst sees constants: the
    shipdate/quantity predicates constant-fold and PUSH DOWN to the
    parquet scan exactly as if hand-inlined, and `IDENTIFIER(sv_table)`
    binds the relation before optimization — zero runtime indirection at
    any scale. `DECLARE OR REPLACE` keeps the op idempotent in a shared
    session (bench pool reruns); the oracle is the same rollup with the
    variable values inlined, through the scaled-long exact money path.
    """
    spark.sql(
        "DECLARE OR REPLACE VARIABLE sv_ship_start TIMESTAMP"
        " DEFAULT TIMESTAMP '1997-03-01'"
    )
    spark.sql("DECLARE OR REPLACE VARIABLE sv_min_qty INT DEFAULT 5")
    spark.sql("SET VARIABLE sv_min_qty = 10")
    spark.sql("DECLARE OR REPLACE VARIABLE sv_table STRING DEFAULT 'lineitem'")
    return sql(
        spark,
        sf_dir,
        f"""
        SELECT l_returnflag,
               COUNT(*) AS n_items,
               {sql_dsum(_DISC_PRICE, "revenue")}
        FROM IDENTIFIER(sv_table)
        WHERE l_shipdate >= sv_ship_start
          AND l_quantity >= sv_min_qty
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """,
    )


_REUSE_ORACLE = f"""
WITH spend AS (
  SELECT o_custkey, COUNT(*) AS n_orders,
         CAST(SUM({sql_micros("o_totalprice")}) AS BIGINT) AS spend_m
  FROM orders GROUP BY o_custkey
), stats AS (
  SELECT CAST(MAX(spend_m) AS BIGINT) AS max_m,
         CAST(SUM(spend_m) AS BIGINT) AS total_m,
         CAST(SUM(n_orders) AS BIGINT) AS total_orders
  FROM spend
)
SELECT s.o_custkey, s.n_orders,
       CAST(s.spend_m AS DOUBLE) / 1000000 AS spend,
       (s.spend_m * 10 >= st.max_m * 9) AS near_top,
       CAST(s.spend_m AS DOUBLE) / CAST(st.total_m AS DOUBLE) AS share,
       st.total_orders
FROM spend s CROSS JOIN stats st
WHERE s.spend_m * 20 >= st.max_m
ORDER BY s.o_custkey
"""


@register("cte_reuse_exchange", _REUSE_ORACLE)
def cte_reuse_exchange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One CTE consumed twice — the per-customer spend aggregate feeds
    both the row stream AND the global stats that filter it. The
    engine must not compute the aggregation twice: Spark detects the
    identical exchange subtree and plans a ReusedExchange for the
    second consumer (asserted in tests/test_plans.py), which is
    Catalyst's answer to `WITH ... AS MATERIALIZED` — the shuffle
    files written for the first consumer are read again, zero extra
    scan or agg. The stats side collapses to one row and broadcasts.
    Threshold compares are integer cross-multiplications.
    """
    o = t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(micros(F.col("o_totalprice"))).alias("spend_m"),
    )
    # total_orders keeps BOTH spend columns referenced by the stats
    # consumer — otherwise column pruning specializes the second
    # aggregate subtree and the exchanges stop being identical (no
    # ReusedExchange).
    stats = spend.agg(
        F.max("spend_m").alias("max_m"),
        F.sum("spend_m").alias("total_m"),
        F.sum("n_orders").alias("total_orders"),
    )
    return (
        spend.crossJoin(F.broadcast(stats))
        .filter(F.col("spend_m") * 20 >= F.col("max_m"))
        .select(
            "o_custkey", "n_orders",
            (F.col("spend_m").cast("double") / 1_000_000).alias("spend"),
            (F.col("spend_m") * 10 >= F.col("max_m") * 9).alias("near_top"),
            (
                F.col("spend_m").cast("double")
                / F.col("total_m").cast("double")
            ).alias("share"),
            "total_orders",
        )
        .orderBy("o_custkey")
    )


_shared(
    "subq_not_in_nulls",
    """
    WITH probe AS (
      SELECT c_custkey FROM customer WHERE c_custkey <= 100
    ),
    nullable_set AS (
      SELECT CASE WHEN s_suppkey % 10 = 0 THEN NULL
                  ELSE s_suppkey END AS k
      FROM supplier
    ),
    clean_set AS (
      SELECT s_suppkey AS k FROM supplier WHERE s_suppkey % 10 <> 0
    )
    SELECT p.c_custkey,
           (p.c_custkey NOT IN (SELECT k FROM nullable_set)) IS TRUE
             AS not_in_nullable_is_true,
           p.c_custkey NOT IN (SELECT k FROM clean_set)
             AS not_in_clean,
           NOT EXISTS (SELECT 1 FROM nullable_set n
                       WHERE n.k = p.c_custkey) AS not_exists_2vl
    FROM probe p
    ORDER BY p.c_custkey
    """,
)
# subq_not_in_nulls: the classic NOT IN null trap as a first-class,
# value-checked surface. Against a set containing a NULL, standard SQL
# makes `x NOT IN (...)` three-valued (FALSE or NULL, never TRUE);
# engines disagree on the raw residue (DuckDB yields NULL, Spark's
# null-aware anti-join rewrite yields FALSE — measured r5), so the
# checked column is `(...) IS TRUE`, where both agree it can NEVER be
# true — the trap, asserted per key. The clean-set NOT IN and NOT
# EXISTS columns carry the real membership answer both ways. Catalyst
# rewrites NOT IN to a null-aware anti join (the expensive form — the
# reason style guides say NOT EXISTS) and NOT EXISTS to a plain anti.


_EXEC_IMMEDIATE_ORACLE = f"""
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       CAST(SUM({sql_micros("o_totalprice")}) AS BIGINT) AS total_micros
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND c_mktsegment IN ('BUILDING', 'MACHINERY')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("sql_execute_immediate", _EXEC_IMMEDIATE_ORACLE)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 `EXECUTE IMMEDIATE ... USING` plus `spark.sql(args=...)`
    named parameter markers — the two dynamic-SQL surfaces that replace
    f-string query pasting (and its injection/caching hazards). Both
    bind parameters during ANALYSIS, so Catalyst sees literal
    predicates: the date bound constant-folds and pushes to the orders
    scan, the two-segment IN-list prunes before the join, and the plan
    is byte-identical to the hand-inlined query — parameterization is
    free at any scale. The op stages the query TEXT in a session
    variable (the prepared-statement idiom), EXECUTE IMMEDIATE binds
    one positional marker from another variable, and the final result
    re-runs the same text through `spark.sql` named args — asserting
    the two binding paths agree by returning the second. Exact money
    via the scaled-long path.
    """
    from ..catalog import register_views

    register_views(spark, sf_dir)
    qtext = f"""
        SELECT c_mktsegment,
               COUNT(*) AS n_orders,
               CAST(SUM({sql_micros("o_totalprice")}) AS BIGINT) AS total_micros
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE o_orderdate >= :cutoff
          AND c_mktsegment IN ('BUILDING', 'MACHINERY')
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """
    spark.sql(
        "DECLARE OR REPLACE VARIABLE sv_exec_query STRING DEFAULT ''"
    )
    spark.sql(
        "SET VARIABLE sv_exec_query = ?",
        args=[qtext.replace(":cutoff", "?")],
    )
    spark.sql(
        "DECLARE OR REPLACE VARIABLE sv_cutoff TIMESTAMP"
        " DEFAULT TIMESTAMP '1996-01-01'"
    )
    prepared = spark.sql(
        "EXECUTE IMMEDIATE sv_exec_query USING sv_cutoff"
    ).collect()  # bounded: one row per segment (2-row IN-list)
    import datetime

    named = spark.sql(
        qtext, args={"cutoff": datetime.datetime(1996, 1, 1)}
    )
    assert [tuple(r) for r in prepared] == [
        tuple(r) for r in named.collect()  # bounded: one row per segment
    ], "EXECUTE IMMEDIATE and named-arg binding diverged"
    return named
