"""SURVEY.md §2.12 — dbt-runtime semantics as engine features.

A medallion mini-project (bronze orders/lineitem → silver conformed →
gold revenue mart) runs through plans/graph.py under each of the four
materializations; the dbt schema tests (unique / not_null /
accepted_values / relationships) and source freshness land as assertion
queries. Tests are written over columns that actually violate, so the
oracle comparison is non-trivial (a 0-row pass would match any oracle).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import t
from ..functions.deterministic import (
    cents,
    dsum,
    micros,
    sql_cents,
    sql_dsum,
    sql_micros,
)
from ..plans.graph import ModelGraph
from ..sources.workspace import workdir
from .registry import register

# The gold mart used by all four materialization ops: revenue by order
# month and status over non-returned lineitems. One canonical SQL, four
# execution strategies — results must be identical.
_GOLD_SQL = f"""
    SELECT CAST(DATE_TRUNC('month', o.o_orderdate) AS TIMESTAMP)
             AS order_month,
           o.o_orderstatus,
           COUNT(*) AS n_items,
           {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_returnflag <> 'A'
    GROUP BY DATE_TRUNC('month', o.o_orderdate), o.o_orderstatus
"""


def _silver(spark: SparkSession, deps: dict[str, DataFrame]) -> DataFrame:
    return (
        deps["lineitem"]
        .filter(F.col("l_returnflag") != "A")
        .join(
            deps["orders"].select("o_orderkey", "o_orderdate", "o_orderstatus"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "o_orderkey",
            "o_orderdate",
            "o_orderstatus",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net"),
        )
    )


def _gold(spark: SparkSession, deps: dict[str, DataFrame]) -> DataFrame:
    return (
        deps["silver_items"]
        .groupBy(
            # Spark's date_trunc returns TIMESTAMP; DuckDB's returns DATE
            # for a date input — the oracle casts its side to TIMESTAMP
            # (the fn_date pattern) so both engines emit timestamps.
            F.date_trunc("month", "o_orderdate").alias("order_month"),
            "o_orderstatus",
        )
        .agg(F.count("*").alias("n_items"), dsum(F.col("net"), "revenue"))
    )


def _run_mart(spark: SparkSession, sf_dir: str, mat: str, tag: str) -> DataFrame:
    g = ModelGraph(workdir(sf_dir, f"mart_{tag}"))
    g.model("silver_items", deps=["orders", "lineitem"], materialized="ephemeral")(
        _silver
    )
    g.model("gold_revenue", deps=["silver_items"], materialized=mat)(_gold)
    sources = {
        "orders": t(spark, sf_dir, "orders"),
        "lineitem": t(spark, sf_dir, "lineitem"),
    }
    return g.run(spark, sources)["gold_revenue"]


@register("dbt_materialize_table", _GOLD_SQL)
def dbt_materialize_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    # table: CTAS each run — result is read back from storage (lineage
    # cut), not recomputed. Ephemeral silver inlines into the gold plan.
    return _run_mart(spark, sf_dir, "table", "table")


@register("dbt_materialize_view", _GOLD_SQL)
def dbt_materialize_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    # view: logical only; every downstream read recomputes.
    return _run_mart(spark, sf_dir, "view", "view")


@register("dbt_materialize_ephemeral", _GOLD_SQL)
def dbt_materialize_ephemeral(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ephemeral: nothing materialized anywhere — one fused Catalyst plan.
    return _run_mart(spark, sf_dir, "ephemeral", "ephemeral")


@register("dbt_materialize_incremental", _GOLD_SQL)
def dbt_materialize_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental with unique_key: run 1 loads pre-1999 months, run 2
    # merges the rest in. Monthly grain keys may overlap at the boundary,
    # so the second run MERGEs on the (month,status) grain — emulated via
    # a composite key column. End state == full recompute (the dbt
    # incremental contract).
    g = ModelGraph(workdir(sf_dir, "mart_incr"))
    g.model("silver_items", deps=["orders", "lineitem"], materialized="ephemeral")(
        _silver
    )

    def gold_with_key(spark: SparkSession, deps: dict[str, DataFrame]) -> DataFrame:
        return _gold(spark, deps).withColumn(
            "grain_key",
            F.concat_ws("|", F.col("order_month").cast("string"), "o_orderstatus"),
        )

    g.model(
        "gold_revenue",
        deps=["silver_items"],
        materialized="incremental",
        unique_key="grain_key",
    )(gold_with_key)

    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    run1 = {"orders": o.filter(F.col("o_orderdate") < "1999-01-01"), "lineitem": li}
    g.run(spark, run1)
    run2 = {"orders": o, "lineitem": li}  # full source; MERGE reconciles
    return g.run(spark, run2)["gold_revenue"].drop("grain_key")


@register(
    "dbt_test_unique",
    """
    SELECT o_custkey, COUNT(*) AS n
    FROM orders GROUP BY o_custkey HAVING COUNT(*) > 1
    """,
)
def dbt_test_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dbt `unique` test: returns the violating keys (customers with >1
    # order — deliberately non-empty so the oracle check is meaningful).
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )


@register(
    "dbt_test_not_null",
    """
    SELECT o_orderkey
    FROM (SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS status_or_null
          FROM orders)
    WHERE status_or_null IS NULL
    """,
)
def dbt_test_not_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dbt `not_null` test over a silver column that genuinely goes null
    # (pending status normalized to NULL upstream).
    o = t(spark, sf_dir, "orders").withColumn(
        "status_or_null", F.nullif(F.col("o_orderstatus"), F.lit("P"))
    )
    return o.filter(F.col("status_or_null").isNull()).select("o_orderkey")


@register(
    "dbt_test_accepted_values",
    """
    SELECT o_orderpriority, COUNT(*) AS n
    FROM orders
    WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
    GROUP BY o_orderpriority
    """,
)
def dbt_test_accepted_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dbt `accepted_values`: domain deliberately narrowed so 4-NOT
    # SPECIFIED / 5-LOW surface as violations.
    return (
        t(spark, sf_dir, "orders")
        .filter(~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH", "3-MEDIUM"))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
    )


@register(
    "dbt_test_relationships",
    """
    SELECT DISTINCT e.user_id
    FROM events e
    WHERE NOT EXISTS (
        SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id
    )
    """,
)
def dbt_test_relationships(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dbt `relationships` (referential integrity) via left-anti join:
    # events.user_id starts at 0, customer keys at 1 → user 0 violates.
    e = t(spark, sf_dir, "events")
    c = t(spark, sf_dir, "customer")
    return (
        e.select("user_id")
        .distinct()
        .join(c.select(F.col("c_custkey").alias("user_id")), "user_id", "left_anti")
    )


@register(
    "dbt_source_freshness",
    """
    SELECT MAX(ts) AS max_loaded_at,
           MAX(ts) >= TIMESTAMP '2024-01-25 00:00:00' AS is_fresh
    FROM events
    """,
)
def dbt_source_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dbt source freshness: staleness of the newest ingested event vs a
    # fixed warn_after threshold (fixtures end 2024-01-30 → fresh).
    e = t(spark, sf_dir, "events")
    return e.agg(
        F.max("ts").alias("max_loaded_at"),
        (F.max("ts") >= F.lit("2024-01-25 00:00:00").cast("timestamp")).alias(
            "is_fresh"
        ),
    )


@register(
    "dbt_seed",
    """
    SELECT region_key, region_name, tier,
           CAST(price_factor_dec AS DOUBLE) AS price_factor
    FROM (VALUES
        (0, 'AFRICA',      'tier-2', 1.00),
        (1, 'AMERICA',     'tier-1', 1.25),
        (2, 'ASIA',        'tier-1', 1.10),
        (3, 'EUROPE',      'tier-1', 1.20),
        (4, 'MIDDLE EAST', 'tier-2', 1.05)
    ) AS seed(region_key, region_name, tier, price_factor_dec)
    ORDER BY region_key
    """,
)
def dbt_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dbt seed: a version-controlled CSV loaded into the warehouse with
    # DECLARED column types (dbt's seeds+column_types config — never
    # schema inference, which can silently flip a column's type between
    # environments). The CSV is written once per fixture dir (it stands
    # in for the file in the dbt repo), ingested, materialized as a
    # table, and read back from storage. Seeds are tiny lookup tables —
    # at 100 TB they are exactly the broadcast side of dimension joins.
    import os

    seed_dir = workdir(sf_dir, "seed_csv", fresh=False)
    path = os.path.join(seed_dir, "region_tiers.csv")
    if not os.path.exists(path):
        rows = [
            "region_key,region_name,tier,price_factor",
            "0,AFRICA,tier-2,1.00",
            "1,AMERICA,tier-1,1.25",
            "2,ASIA,tier-1,1.10",
            "3,EUROPE,tier-1,1.20",
            "4,MIDDLE EAST,tier-2,1.05",
        ]
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write("\n".join(rows) + "\n")
        os.replace(tmp, path)
    seed = spark.read.csv(
        path,
        header=True,
        schema="region_key int, region_name string, tier string, "
        "price_factor double",
    )
    from ..sources.deltalike import DeltaLikeTable

    tbl = DeltaLikeTable(workdir(sf_dir, "seed_table"))
    tbl.write(seed, mode="overwrite")
    return tbl.read(spark).orderBy("region_key")


@register(
    "dbt_lineage_export",
    """
    SELECT * FROM (VALUES
      ('bronze_orders', 'table',       0, ''),
      ('silver_orders', 'table',       1, 'bronze_orders,customer,nation'),
      ('gold_revenue_by_segment', 'table', 2, 'silver_orders')
    ) AS t(model, materialized, depth, depends_on)
    ORDER BY depth, model
    """,
)
def dbt_lineage_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dbt docs generate`-style lineage: the model DAG exported as a
    relation (model, materialization, topological depth, sorted
    dependency list) — what powers dbt's docs site and `dbt ls
    --select +model` graph selection. Derived from the same ModelGraph
    the medallion pipeline runs, so the lineage can never drift from
    the executed DAG. Depth = longest path from a source; dependency
    names serialize sorted so the output is deterministic.
    """
    from ..operators.medallion import build_medallion_graph

    g = build_medallion_graph(spark, sf_dir, storage_name="medallion_lineage")
    depth: dict[str, int] = {}

    def d(name: str) -> int:
        if name not in g.models:
            return -1  # source relation
        if name not in depth:
            depth[name] = 1 + max(
                (d(dep) for dep in g.models[name].deps), default=-1
            )
        return depth[name]

    rows = [
        (
            m.name,
            m.materialized,
            d(m.name),
            ",".join(sorted(dep for dep in m.deps)),
        )
        for m in g.models.values()
    ]
    return spark.createDataFrame(
        rows, "model string, materialized string, depth int, depends_on string"
    ).orderBy("depth", "model")


@register(
    "dbt_dq_observe",
    """
    SELECT COUNT(*) AS n_rows,
           COUNT(*) FILTER (WHERE o_custkey IS NULL) AS null_custkey,
           COUNT(*) FILTER (WHERE o_totalprice <= 0) AS nonpositive_price,
           COUNT(*) FILTER (
             WHERE o_orderstatus NOT IN ('O', 'F', 'P')
           ) AS bad_status,
           COUNT(*) FILTER (
             WHERE o_orderdate < TIMESTAMP '1990-01-01'
                OR o_orderdate > TIMESTAMP '2030-01-01'
           ) AS out_of_range_date
    FROM orders
    """,
)
def dbt_dq_observe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass data-quality metrics via Spark's ``Observation`` API:
    every expectation (null check, bound check, accepted values, date
    range) evaluates as an observed aggregate DURING one scan of the
    table — no second pass per check, which is the difference between
    one and N table scans when a dbt test suite runs against 100 TB.
    The metrics come back on the driver as a bounded 1-row dict; at
    scale the same pattern attaches to the WRITE of a model, so QA is
    free with materialization.
    """
    from pyspark.sql import Observation

    o = t(spark, sf_dir, "orders")
    obs = Observation("dq")
    observed = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).alias("null_custkey"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias(
            "nonpositive_price"
        ),
        F.count(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
        ).alias("bad_status"),
        F.count(
            F.when(
                (F.col("o_orderdate") < "1990-01-01")
                | (F.col("o_orderdate") > "2030-01-01"),
                1,
            )
        ).alias("out_of_range_date"),
    )
    observed.write.format("noop").mode("overwrite").save()  # one pass
    m = obs.get  # bounded: one metrics row
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["null_custkey"],
                m["nonpositive_price"],
                m["bad_status"],
                m["out_of_range_date"],
            )
        ],
        "n_rows long, null_custkey long, nonpositive_price long, "
        "bad_status long, out_of_range_date long",
    )


@register(
    "dbt_select_subgraph",
    """
    SELECT * FROM (VALUES
      ('+gold_revenue_by_segment', 'bronze_orders'),
      ('+gold_revenue_by_segment', 'gold_revenue_by_segment'),
      ('+gold_revenue_by_segment', 'silver_orders'),
      ('bronze_orders+',           'bronze_orders'),
      ('bronze_orders+',           'gold_revenue_by_segment'),
      ('bronze_orders+',           'silver_orders'),
      ('silver*+',                 'gold_revenue_by_segment'),
      ('silver*+',                 'silver_orders'),
      ('tag:mart',                 'gold_revenue_by_segment'),
      ('tag:staging',              'bronze_orders'),
      ('tag:staging',              'silver_orders')
    ) AS t(selector, model)
    ORDER BY selector, model
    """,
)
def dbt_select_subgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt node selection (`dbt run --select`): tag selectors, name
    wildcards, and `+`-closure over the DAG (plans/graph.py:select) —
    the last commonly-scripted dbt runtime behavior (deploys and
    backfills are driven by selectors). Evaluated against the SAME
    ModelGraph the medallion pipeline executes, so selection can never
    drift from the real DAG. Long-form (selector, model) output keeps
    every cell scalar for the driver's row hashing. Selection is pure
    driver-side graph walking — independent of data volume.
    """
    from ..operators.medallion import build_medallion_graph

    g = build_medallion_graph(spark, sf_dir, storage_name="medallion_select")
    selectors = [
        "+gold_revenue_by_segment",
        "bronze_orders+",
        "silver*+",
        "tag:mart",
        "tag:staging",
    ]
    rows = [
        (sel, model) for sel in selectors for model in g.select(sel)
    ]
    return spark.createDataFrame(
        rows, "selector string, model string"
    ).orderBy("selector", "model")


_UNIT_TEST_ORACLE = f"""
WITH mock_silver(o_orderkey, o_orderdate, o_orderstatus, net) AS (
  VALUES (1, TIMESTAMP '1997-01-05', 'F', 100.50),
         (2, TIMESTAMP '1997-01-20', 'F', 49.50),
         (3, TIMESTAMP '1997-01-11', 'O', 10.00),
         (4, TIMESTAMP '1997-02-02', 'F', 75.25),
         (5, TIMESTAMP '1997-02-14', 'F', 24.75),
         (6, TIMESTAMP '1997-02-14', 'O', 5.00)
),
actual AS (
  SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS order_month,
         o_orderstatus,
         COUNT(*) AS n_items,
         CAST(SUM({sql_micros("net")}) AS DOUBLE)
           / 1000000 AS revenue
  FROM mock_silver GROUP BY 1, 2
),
expected(order_month, o_orderstatus, n_items, revenue) AS (
  VALUES (TIMESTAMP '1997-01-01', 'F', CAST(2 AS BIGINT),
          CAST(150.00 AS DOUBLE)),
         (TIMESTAMP '1997-01-01', 'O', CAST(1 AS BIGINT),
          CAST(10.00 AS DOUBLE)),
         (TIMESTAMP '1997-02-01', 'F', CAST(2 AS BIGINT),
          CAST(100.00 AS DOUBLE)),
         (TIMESTAMP '1997-02-01', 'O', CAST(1 AS BIGINT),
          CAST(99.99 AS DOUBLE))
)
SELECT COALESCE(e.order_month, a.order_month) AS order_month,
       COALESCE(e.o_orderstatus, a.o_orderstatus) AS o_orderstatus,
       e.n_items AS exp_n, a.n_items AS act_n,
       e.revenue AS exp_revenue, a.revenue AS act_revenue,
       (e.n_items IS NOT DISTINCT FROM a.n_items)
         AND (e.revenue IS NOT DISTINCT FROM a.revenue) AS row_passed
FROM expected e FULL JOIN actual a
  ON e.order_month = a.order_month AND e.o_orderstatus = a.o_orderstatus
ORDER BY order_month, o_orderstatus
"""


@register("dbt_unit_test", _UNIT_TEST_ORACLE)
def dbt_unit_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt 1.8 unit tests: run a MODEL (the gold revenue mart) against
    MOCKED ref inputs (inline rows, no warehouse data) and diff the
    result against declared expected rows — logic testing at compile
    cost, vs the schema tests' data testing. The report is dbt's: one
    row per expected/actual grain with a row_passed verdict; a failing
    expectation (the 99.99 revenue row here, deliberately wrong) shows
    up as row_passed = FALSE rather than an exception, exactly how dbt
    renders unit-test diffs. The model function under test is the SAME
    callable the materialization ops execute (``_gold``) — the unit
    test exercises production plan code, not a copy. Mock inputs are
    O(rows-declared) so this runs identically at any warehouse scale.
    """
    mock = spark.createDataFrame(
        [
            (1, "1997-01-05", "F", 100.50),
            (2, "1997-01-20", "F", 49.50),
            (3, "1997-01-11", "O", 10.00),
            (4, "1997-02-02", "F", 75.25),
            (5, "1997-02-14", "F", 24.75),
            (6, "1997-02-14", "O", 5.00),
        ],
        "o_orderkey long, o_orderdate string, o_orderstatus string, net double",
    ).withColumn("o_orderdate", F.col("o_orderdate").cast("timestamp"))
    actual = _gold(spark, {"silver_items": mock}).alias("a")
    expected = spark.createDataFrame(
        [
            ("1997-01-01", "F", 2, 150.00),
            ("1997-01-01", "O", 1, 10.00),
            ("1997-02-01", "F", 2, 100.00),
            ("1997-02-01", "O", 1, 99.99),  # deliberately wrong
        ],
        "order_month string, o_orderstatus string, n_items long, revenue double",
    ).withColumn("order_month", F.col("order_month").cast("timestamp")).alias("e")
    on = (F.col("e.order_month") == F.col("a.order_month")) & (
        F.col("e.o_orderstatus") == F.col("a.o_orderstatus")
    )
    return (
        expected.join(actual, on, "full")
        .select(
            F.coalesce("e.order_month", "a.order_month").alias("order_month"),
            F.coalesce("e.o_orderstatus", "a.o_orderstatus").alias(
                "o_orderstatus"
            ),
            F.col("e.n_items").alias("exp_n"),
            F.col("a.n_items").alias("act_n"),
            F.col("e.revenue").alias("exp_revenue"),
            F.col("a.revenue").alias("act_revenue"),
            (
                F.col("e.n_items").eqNullSafe(F.col("a.n_items"))
                & F.col("e.revenue").eqNullSafe(F.col("a.revenue"))
            ).alias("row_passed"),
        )
        .orderBy("order_month", "o_orderstatus")
    )


_SNAPSHOT_TS_ORACLE = """
WITH base AS (
  SELECT c_custkey, c_mktsegment,
         100 + c_custkey % 30 AS t1,
         200 + c_custkey % 30 AS t2
  FROM customer
)
SELECT c_custkey, c_mktsegment, t1 AS valid_from, t2 AS valid_to
FROM base WHERE c_custkey % 7 = 0
UNION ALL
SELECT c_custkey, 'MOVED' AS c_mktsegment, t2 AS valid_from,
       CAST(NULL AS BIGINT) AS valid_to
FROM base WHERE c_custkey % 7 = 0
UNION ALL
SELECT c_custkey, c_mktsegment, t1 AS valid_from,
       CAST(NULL AS BIGINT) AS valid_to
FROM base WHERE c_custkey % 7 <> 0
ORDER BY c_custkey, valid_from
"""


def snapshot_rows(
    source: DataFrame,
    key: str,
    changed: Column,
    stamp: Column,
    invalidate_hard_deletes: bool,
) -> Callable[[DataFrame], DataFrame]:
    """One dbt snapshot run over an SCD2 dimension ``(key, tracked
    columns..., valid_from, valid_to)``, as a ``DeltaLikeTable.rewrite``
    transform. The open row (``valid_to`` NULL) of each key whose
    ``source`` row is ``changed`` (a predicate over the dimension alias
    ``d`` and the source alias ``n``) is closed at ``stamp``, and a row
    with the source's tracked values opens at ``stamp``. With
    ``invalidate_hard_deletes`` (dbt's ``hard_deletes: invalidate``) the
    open row of each key gone from ``source`` is closed at ``stamp`` too;
    ``stamp`` must then not read the source. Every other row, closed
    history included, is carried; the dimension keeps its schema."""

    def run(dim: DataFrame) -> DataFrame:
        tracked = [c for c in dim.columns if c not in (key, "valid_from", "valid_to")]
        cur = dim.alias("d")
        is_open = F.col("d.valid_to").isNull()
        open_rows = cur.filter(is_open)
        hits = open_rows.join(source.alias("n"), key).filter(changed)
        closed_at = stamp.cast(dim.schema["valid_to"].dataType).alias("valid_to")
        closed = hits.select(
            key, *[F.col(f"d.{c}").alias(c) for c in tracked], "d.valid_from", closed_at
        )
        opened = hits.select(
            key, *[F.col(f"n.{c}").alias(c) for c in tracked],
            stamp.cast(dim.schema["valid_from"].dataType).alias("valid_from"),
            F.lit(None).cast(dim.schema["valid_to"].dataType).alias("valid_to"),
        )
        out, touched = closed.unionByName(opened), hits.select(key)
        if invalidate_hard_deletes:
            gone = open_rows.join(source.select(key), key, "left_anti")
            out = out.unionByName(gone.select(key, *tracked, "valid_from", closed_at))
            touched = touched.unionByName(gone.select(key))
        carried = cur.filter(~is_open).unionByName(
            open_rows.join(touched, key, "left_anti")
        )
        return carried.select(dim.columns).unionByName(out)

    return run


@register("dbt_snapshot_timestamp", _SNAPSHOT_TS_ORACLE)
def dbt_snapshot_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt snapshot, TIMESTAMP strategy — change detection by the
    source's own `updated_at` watermark, not column comparison
    (`scd2_snapshot` is the check-cols sibling): a row is re-versioned
    iff its source stamp is NEWER than the open dim row's valid_from,
    so an upstream system that touches a row without changing tracked
    columns still produces a version (exactly dbt's documented
    behavior, and why check vs timestamp is a modeling choice). Stamps
    are integers here (epoch-day stand-ins) to stay engine-exact. The
    snapshot run is ``snapshot_rows``, the rewrite every SCD2 op commits
    through: a join on the natural key plus anti-joins for carried rows,
    all dim-sized.
    """
    from ..sources.deltalike import DeltaLikeTable

    tbl = DeltaLikeTable(workdir(sf_dir, "snap_ts"))
    c = t(spark, sf_dir, "customer")
    snap1 = c.select(
        "c_custkey", "c_mktsegment",
        (F.lit(100) + F.col("c_custkey") % 30).alias("updated_at"),
    )
    dim = snap1.select(
        "c_custkey", "c_mktsegment",
        F.col("updated_at").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    tbl.write(dim, mode="overwrite")
    # Source as of run 2: every 7th customer touched upstream (newer
    # stamp, segment rewritten); the rest re-delivered with old stamps.
    snap2 = c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, "MOVED")
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        (
            F.when(
                F.col("c_custkey") % 7 == 0, F.lit(200) + F.col("c_custkey") % 30
            ).otherwise(F.lit(100) + F.col("c_custkey") % 30)
        ).alias("updated_at"),
    )
    tbl.rewrite(spark, snapshot_rows(
        snap2, "c_custkey", F.col("n.updated_at") > F.col("d.valid_from"),
        F.col("n.updated_at"), invalidate_hard_deletes=False,
    ), "MERGE")
    return tbl.read(spark).select(
        "c_custkey", "c_mktsegment", "valid_from", "valid_to"
    ).orderBy("c_custkey", "valid_from")


_STORE_FAILURES_ORACLE = """
SELECT o_custkey, COUNT(*) AS n_rows
FROM orders GROUP BY o_custkey HAVING COUNT(*) > 1
ORDER BY o_custkey
"""


@register("dbt_store_failures", _STORE_FAILURES_ORACLE)
def dbt_store_failures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt `store_failures` — the failing rows of a schema test are
    PERSISTED to an audit table (dbt writes `dbt_test__audit.<test>`)
    instead of only counted, so an on-call engineer queries the
    violations directly rather than re-running the test. The op runs
    the uniqueness test (o_custkey over orders — legitimately
    non-unique, same contract as dbt_test_unique), writes the failure
    set through the Delta-protocol table (audit history = one commit
    per test run, time-travel gives past failure sets for free), and
    returns the READ-BACK of the audit table — the oracle sees the
    same rows only if persistence was lossless.
    """
    from ..sources.deltalike import DeltaLikeTable

    failures = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )
    audit = DeltaLikeTable(workdir(sf_dir, "test_audit"))
    audit.write(failures, mode="overwrite")
    return audit.read(spark).orderBy("o_custkey")


_PROFILE_ORACLE = """
SELECT 'event_id' AS column_name, COUNT(*) AS n_rows,
       COUNT(*) - COUNT(event_id) AS n_nulls,
       COUNT(DISTINCT event_id) AS n_distinct
FROM events
UNION ALL
SELECT 'user_id', COUNT(*), COUNT(*) - COUNT(user_id),
       COUNT(DISTINCT user_id) FROM events
UNION ALL
SELECT 'event_type_nullable', COUNT(*),
       COUNT(*) - COUNT(NULLIF(event_type, 'error')),
       COUNT(DISTINCT NULLIF(event_type, 'error')) FROM events
UNION ALL
SELECT 'value_nullable', COUNT(*),
       COUNT(*) - COUNT(NULLIF(value, 0.0)),
       COUNT(DISTINCT NULLIF(value, 0.0)) FROM events
ORDER BY column_name
"""


@register("dbt_profile_table", _PROFILE_ORACLE)
def dbt_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profiling (the dbt-osmosis / re_data "profile" step): one
    row per column with row/null/distinct counts — the metadata that
    feeds docs, drift alerts, and test suggestions. Two columns are
    made nullable via NULLIF so the null path is actually exercised.
    Shape: one exact-distinct aggregation PER COLUMN, unioned — NOT a
    single multi-DISTINCT agg, which Catalyst plans as an Expand that
    duplicates every input row per distinct set (the measured trap in
    CLAUDE.md); per-column passes over a columnar scan each prune to
    one column and stay map-side-combinable. At 100 TB swap exact
    distincts for HLL sketches (agg_hll_sketch_merge pattern) and all
    columns fit in ONE pass.
    """
    e = t(spark, sf_dir, "events")
    cols = [
        ("event_id", F.col("event_id")),
        ("user_id", F.col("user_id")),
        ("event_type_nullable", F.nullif(F.col("event_type"), F.lit("error"))),
        ("value_nullable", F.nullif(F.col("value"), F.lit(0.0))),
    ]
    parts = []
    for name, expr in cols:
        parts.append(
            e.select(expr.alias("c"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count("c")).alias("n_nulls"),
                F.count_distinct("c").alias("n_distinct"),
            )
            .select(
                F.lit(name).alias("column_name"),
                "n_rows", "n_nulls", "n_distinct",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("column_name")


# -- dbt docs generate -----------------------------------------------------

def _docs_oracle() -> str:
    """DESCRIBE x N + COUNT(*) x N over the registered views, with the
    DuckDB type names normalized to the same engine-neutral classes the
    Spark side emits."""
    from ..catalog import TABLES

    cols = "\n  UNION ALL\n".join(
        f"  SELECT '{n}' AS table_name, column_name, column_type"
        f" FROM (DESCRIBE {n})"
        for n in TABLES
    )
    counts = "\n  UNION ALL\n".join(
        f"  SELECT '{n}' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows"
        f" FROM {n}"
        for n in TABLES
    )
    return f"""
WITH cols AS (
{cols}
),
counts AS (
{counts}
)
SELECT c.table_name, c.column_name,
       CASE c.column_type
         WHEN 'BIGINT' THEN 'bigint'
         WHEN 'INTEGER' THEN 'int'
         WHEN 'VARCHAR' THEN 'string'
         WHEN 'DOUBLE' THEN 'double'
         WHEN 'FLOAT' THEN 'float'
         WHEN 'TIMESTAMP' THEN 'timestamp'
         WHEN 'TIMESTAMP_NS' THEN 'timestamp'
         WHEN 'DATE' THEN 'date'
         WHEN 'FLOAT[]' THEN 'array<float>'
         WHEN 'BLOB' THEN 'binary'
         WHEN 'BOOLEAN' THEN 'boolean'
         ELSE lower(c.column_type)
       END AS type_class,
       n.n_rows
FROM cols c JOIN counts n USING (table_name)
ORDER BY table_name, column_name
"""


_SPARK_TYPE_CLASS = {
    "bigint": "bigint",
    "long": "bigint",
    "int": "int",
    "integer": "int",
    "string": "string",
    "double": "double",
    "float": "float",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
    "date": "date",
    "array<float>": "array<float>",
    "binary": "binary",
    "boolean": "boolean",
}


@register("dbt_docs_generate", _docs_oracle())
def dbt_docs_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dbt docs generate`` — the catalog artifact (catalog.json): one
    row per (table, column) with a normalized type class and the
    table's row count, the inventory the docs site and column-level
    lineage tools read. Schema comes from parquet FOOTERS (driver-side
    metadata, no data scan; `timestamp`/`timestamp_ntz` collapse to
    one class so the doc is session-config-independent); row counts
    are one count aggregation per table — at 100 TB each count is
    metadata-answerable from parquet row-group stats (Spark's
    LocalLimit/count pushdown) or swapped for the Delta log's own
    numRecords stats, never a full scan. The per-table frames union
    into one catalog frame joined to the column inventory (both sides
    O(tables x columns), data-volume-free).
    """
    from ..catalog import TABLES

    col_rows = []
    counts = None
    for name in TABLES:
        df = t(spark, sf_dir, name)
        for fld in df.schema.fields:
            cls = _SPARK_TYPE_CLASS.get(
                fld.dataType.simpleString(), fld.dataType.simpleString()
            )
            col_rows.append((name, fld.name, cls))
        c = df.agg(F.count(F.lit(1)).cast("long").alias("n_rows")).select(
            F.lit(name).alias("table_name"), "n_rows"
        )
        counts = c if counts is None else counts.unionByName(c)
    cols = spark.createDataFrame(
        col_rows, "table_name string, column_name string, type_class string"
    )
    return (
        cols.join(counts, "table_name")
        .select("table_name", "column_name", "type_class", "n_rows")
        .orderBy("table_name", "column_name")
    )


# -- dbt incremental on_schema_change --------------------------------------

_OSC_ORACLE = f"""
WITH gold AS (
  SELECT CAST(DATE_TRUNC('month', o.o_orderdate) AS TIMESTAMP)
           AS order_month,
         o.o_orderstatus,
         COUNT(*) AS n_items,
         {sql_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
         CAST(SUM({sql_micros("l.l_discount")}) AS BIGINT)
           AS disc_all_m
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE l.l_returnflag <> 'A'
  GROUP BY DATE_TRUNC('month', o.o_orderdate), o.o_orderstatus
)
SELECT order_month, o_orderstatus, n_items, revenue,
       CASE WHEN order_month >= TIMESTAMP '1999-01-01'
            THEN disc_all_m END AS sum_disc_m
FROM gold
ORDER BY order_month, o_orderstatus
"""


@register("dbt_incremental_on_schema_change", _OSC_ORACLE)
def dbt_incremental_on_schema_change(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """dbt incremental with ``on_schema_change: append_new_columns`` —
    the model is EDITED between runs to emit a new column (here
    ``sum_disc_m``, exact discount micros): run 1 builds the target
    without it, run 2's MERGE evolves the table schema and the rows
    run 2 didn't touch read back NULL for the new column — exactly
    dbt's documented append_new_columns contract (the default
    ``ignore`` would silently drop the column; that path is the plain
    dbt_materialize_incremental). Runs split on the order-month
    boundary so the incremental grain keys are disjoint: run 1 loads
    pre-1999 months, run 2 merges 1999+ months with the widened
    schema. Same MERGE/schema-evolution machinery as
    delta_merge_schema_evolution underneath — the dbt config is a
    front-end over the storage layer's evolve path.
    """

    def silver_disc(spark: SparkSession, deps: dict[str, DataFrame]) -> DataFrame:
        return (
            deps["lineitem"]
            .filter(F.col("l_returnflag") != "A")
            .join(
                deps["orders"].select(
                    "o_orderkey", "o_orderdate", "o_orderstatus"
                ),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .select(
                "o_orderkey",
                "o_orderdate",
                "o_orderstatus",
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                    "net"
                ),
                micros(F.col("l_discount"))
                .alias("disc_m"),
            )
        )

    def _with_key(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "grain_key",
            F.concat_ws(
                "|", F.col("order_month").cast("string"), "o_orderstatus"
            ),
        )

    def gold_v1(spark: SparkSession, deps: dict[str, DataFrame]) -> DataFrame:
        return _with_key(_gold(spark, deps))

    def gold_v2(spark: SparkSession, deps: dict[str, DataFrame]) -> DataFrame:
        return _with_key(
            deps["silver_items"]
            .groupBy(
                F.date_trunc("month", "o_orderdate").alias("order_month"),
                "o_orderstatus",
            )
            .agg(
                F.count("*").alias("n_items"),
                dsum(F.col("net"), "revenue"),
                F.sum("disc_m").alias("sum_disc_m"),
            )
        )

    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    root = workdir(sf_dir, "mart_osc")

    g1 = ModelGraph(root)
    g1.model(
        "silver_items", deps=["orders", "lineitem"], materialized="ephemeral"
    )(_silver)
    g1.model(
        "gold_revenue",
        deps=["silver_items"],
        materialized="incremental",
        unique_key="grain_key",
    )(gold_v1)
    g1.run(
        spark,
        {
            "orders": o.filter(F.col("o_orderdate") < "1999-01-01"),
            "lineitem": li,
        },
    )

    # run 2: the edited model (new column) over the post-boundary slice,
    # same storage root — a fresh graph object, as a fresh `dbt run`.
    g2 = ModelGraph(root)
    g2.model(
        "silver_items", deps=["orders", "lineitem"], materialized="ephemeral"
    )(silver_disc)
    g2.model(
        "gold_revenue",
        deps=["silver_items"],
        materialized="incremental",
        unique_key="grain_key",
        on_schema_change="append_new_columns",
    )(gold_v2)
    out = g2.run(
        spark,
        {
            "orders": o.filter(F.col("o_orderdate") >= "1999-01-01"),
            "lineitem": li,
        },
    )["gold_revenue"]
    return out.drop("grain_key").orderBy("order_month", "o_orderstatus")


# -- dbt state:modified selection (slim CI) --------------------------------

@register(
    "dbt_state_modified",
    """
    SELECT * FROM (VALUES
      ('bronze_orders',            'unchanged',  FALSE),
      ('gold_revenue_by_segment',  'downstream', TRUE),
      ('silver_orders',            'modified',   TRUE)
    ) AS t(model, status, selected)
    ORDER BY model
    """,
)
def dbt_state_modified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt `--select state:modified+` — slim CI: diff each model's
    definition fingerprint against the PREVIOUS run's manifest and
    select only the changed models plus their downstream closure (the
    build that runs on every PR instead of the full DAG). Fingerprints
    are md5 over the canonical model definition (dbt hashes the
    compiled SQL the same way); the closure comes from the SAME
    ModelGraph the medallion pipeline executes (`graph.select`'s `+`
    walk), so CI selection can never drift from the real DAG. Here
    silver_orders' definition changed between manifests →
    silver_orders is `modified`, gold_revenue_by_segment (downstream)
    is pulled in, bronze_orders stays unselected. Pure driver-side
    graph/metadata work — independent of data volume, like dbt itself.
    """
    import hashlib

    from ..operators.medallion import build_medallion_graph

    g = build_medallion_graph(spark, sf_dir, storage_name="medallion_state")

    def fp(defn: str) -> str:
        return hashlib.md5(defn.encode()).hexdigest()

    # previous-state manifest vs current definitions: silver edited
    prev = {
        "bronze_orders": fp("select * from orders where o_orderkey > 0"),
        "silver_orders": fp("join customer nation -- v1"),
        "gold_revenue_by_segment": fp("group by segment"),
    }
    cur = {
        "bronze_orders": fp("select * from orders where o_orderkey > 0"),
        "silver_orders": fp("join customer nation -- v2 adds region"),
        "gold_revenue_by_segment": fp("group by segment"),
    }
    modified = {m for m in cur if prev.get(m) != cur[m]}
    selected: set[str] = set()
    for m in modified:
        selected |= set(g.select(f"{m}+"))
    rows = [
        (
            m,
            "modified"
            if m in modified
            else ("downstream" if m in selected else "unchanged"),
            m in selected,
        )
        for m in cur
    ]
    return spark.createDataFrame(
        rows, "model string, status string, selected boolean"
    ).orderBy("model")


_RUN_HOOKS_ORACLE = """
WITH gold AS (
  SELECT DATE_TRUNC('month', o.o_orderdate) AS m, o.o_orderstatus AS s
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE l.l_returnflag <> 'A'
  GROUP BY DATE_TRUNC('month', o.o_orderdate), o.o_orderstatus
), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM gold)
SELECT CAST(1 AS BIGINT) AS seq, 'run_start' AS event, '<run>' AS node,
       CAST(NULL AS BIGINT) AS n_rows
UNION ALL
SELECT CAST(2 AS BIGINT), 'pre_hook', 'gold_revenue', CAST(NULL AS BIGINT)
UNION ALL
SELECT CAST(3 AS BIGINT), 'post_hook', 'gold_revenue', (SELECT c FROM n)
UNION ALL
SELECT CAST(4 AS BIGINT), 'run_end', '<run>', (SELECT c FROM n)
ORDER BY seq
"""


@register("dbt_run_hooks", _RUN_HOOKS_ORACLE)
def dbt_run_hooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt `pre-hook` / `post-hook` + `on-run-start` / `on-run-end` —
    the audit-log pattern (dbt docs' canonical hook example): the run
    opens an audit table, each hooked model logs before and after its
    materialization (post-hook counting `{{ this }}`), and the
    run-end hook writes the summary row. Hooks are runtime surface
    (`plans/graph.py:Model.pre_hook/post_hook`, `ModelGraph.run`'s
    on_run_start/on_run_end), not op-local code. Every audit insert is
    one metadata-sized commit to the Delta-protocol log — O(models)
    tiny writes regardless of warehouse size, exactly how dbt's audit
    hooks behave at scale. Output = the audit table in hook firing
    order (deterministic seq, no wall-clock timestamps).
    """
    from ..sources.deltalike import DeltaLikeTable

    audit = DeltaLikeTable(workdir(sf_dir, "hooks_audit"))
    schema = "seq long, event string, node string, n_rows long"

    def log(seq: int, event: str, node: str, n_rows: int | None) -> None:
        row = spark.createDataFrame([(seq, event, node, n_rows)], schema)
        audit.write(row, mode="overwrite" if seq == 1 else "append")

    g = ModelGraph(workdir(sf_dir, "mart_hooks"))
    g.model(
        "silver_items", deps=["orders", "lineitem"], materialized="ephemeral"
    )(_silver)
    g.model(
        "gold_revenue",
        deps=["silver_items"],
        materialized="table",
        pre_hook=[lambda sp, ctx: log(2, "pre_hook", ctx["node"], None)],
        post_hook=[
            lambda sp, ctx: log(
                3, "post_hook", ctx["node"], ctx["df"].count()
            )
        ],
    )(_gold)
    resolved = g.run(
        spark,
        {
            "orders": t(spark, sf_dir, "orders"),
            "lineitem": t(spark, sf_dir, "lineitem"),
        },
        on_run_start=lambda sp: log(1, "run_start", "<run>", None),
        on_run_end=lambda sp, res: log(
            4, "run_end", "<run>", res["gold_revenue"].count()
        ),
    )
    del resolved
    return audit.read(spark).select(
        "seq", "event", "node", "n_rows"
    ).orderBy("seq")


_SNAPSHOT_HD_ORACLE = """
WITH base AS (SELECT s_suppkey, s_nationkey FROM supplier)
SELECT s_suppkey, s_nationkey,
       CAST(100 AS BIGINT) AS valid_from, CAST(200 AS BIGINT) AS valid_to
FROM base WHERE s_suppkey % 5 = 0
UNION ALL
SELECT s_suppkey, s_nationkey, CAST(100 AS BIGINT), CAST(200 AS BIGINT)
FROM base WHERE s_suppkey % 5 <> 0 AND s_suppkey % 7 = 0
UNION ALL
SELECT s_suppkey, s_nationkey + 100, CAST(200 AS BIGINT),
       CAST(NULL AS BIGINT)
FROM base WHERE s_suppkey % 5 <> 0 AND s_suppkey % 7 = 0
UNION ALL
SELECT s_suppkey, s_nationkey, CAST(100 AS BIGINT), CAST(NULL AS BIGINT)
FROM base WHERE s_suppkey % 5 <> 0 AND s_suppkey % 7 <> 0
ORDER BY s_suppkey, valid_from
"""


@register("dbt_snapshot_hard_deletes", _SNAPSHOT_HD_ORACLE)
def dbt_snapshot_hard_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt snapshot with `hard_deletes: invalidate` (the renamed
    `invalidate_hard_deletes: true`) — when a natural key vanishes
    from the source between runs, its open dim row is CLOSED at the
    snapshot stamp instead of silently persisting forever (the default
    `ignore` behavior, which `dbt_snapshot_timestamp`/`scd2_snapshot`
    model). Change detection here is the check strategy on
    s_nationkey; run 2's source hard-deletes every 5th supplier and
    moves every 7th surviving one. The run is ``snapshot_rows`` with
    ``invalidate_hard_deletes``: one equi-join and anti-joins on the
    natural key, all dim-sized. Integer stamps (100/200) keep the
    oracle engine-exact.
    """
    from ..sources.deltalike import DeltaLikeTable

    tbl = DeltaLikeTable(workdir(sf_dir, "snap_hd"))
    s = t(spark, sf_dir, "supplier")
    dim = s.select(
        "s_suppkey", "s_nationkey",
        F.lit(100).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
    )
    tbl.write(dim, mode="overwrite")
    # Source as of run 2: every 5th supplier gone upstream (hard
    # delete); every 7th surviving one re-homed (checked column moves).
    snap2 = s.filter(F.col("s_suppkey") % 5 != 0).select(
        "s_suppkey",
        F.when(F.col("s_suppkey") % 7 == 0, F.col("s_nationkey") + 100)
        .otherwise(F.col("s_nationkey"))
        .alias("s_nationkey"),
    )
    tbl.rewrite(spark, snapshot_rows(
        snap2, "s_suppkey", F.col("d.s_nationkey") != F.col("n.s_nationkey"),
        F.lit(200), invalidate_hard_deletes=True,
    ), "MERGE")
    return tbl.read(spark).select(
        "s_suppkey", "s_nationkey", "valid_from", "valid_to"
    ).orderBy("s_suppkey", "valid_from")


# -- semantic-layer metric query --------------------------------------------

_SEMANTIC_METRIC_ORACLE = f"""
WITH base AS (
  SELECT CAST(DATE_TRUNC('month', o.o_orderdate) AS TIMESTAMP)
           AS order_month,
         CAST(SUM({sql_micros("l.l_extendedprice * (1 - l.l_discount)")}) AS BIGINT)
           AS revenue_micros,
         CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY DATE_TRUNC('month', o.o_orderdate)
)
SELECT 'revenue' AS metric, order_month, revenue_micros AS value_micros
FROM base
UNION ALL
SELECT 'order_count' AS metric, order_month, n_orders FROM base
UNION ALL
SELECT 'avg_order_value' AS metric, order_month,
       revenue_micros // n_orders
FROM base
ORDER BY metric, order_month
"""


@register("dbt_semantic_metric", _SEMANTIC_METRIC_ORACLE)
def dbt_semantic_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-layer metric query (dbt MetricFlow shape): a metric
    catalog — two simple measures (`revenue`, `order_count`) and one
    DERIVED ratio metric (`avg_order_value = revenue / order_count`)
    — queried at a month grain and emitted long-form (metric, grain,
    value), the contract a BI layer consumes. The semantic model
    (orders ⋈ lineitem) is aggregated ONCE; all three metrics fan out
    from that single pass with a stack/unpivot, so adding a metric
    never adds a scan. Values are exact micros longs (the house money
    discipline); the derived metric uses truncating division, which
    Spark's `div` and DuckDB's `//` agree on for the non-negative
    revenue (the llm_cosine_topk_ivf lesson: they differ toward zero
    vs floor only for NEGATIVE operands, which money sums here never
    produce). One shuffle; month-grain output is KBs at any scale.
    """
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    base = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy(
            F.date_trunc("month", "o_orderdate").alias("order_month")
        )
        .agg(
            F.sum(
                micros(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue_micros"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )
    return (
        base.select(
            "order_month",
            F.expr(
                "stack(3,"
                " 'revenue', revenue_micros,"
                " 'order_count', n_orders,"
                " 'avg_order_value', revenue_micros div n_orders"
                ") AS (metric, value_micros)"
            ),
        )
        .select("metric", "order_month", "value_micros")
        .orderBy("metric", "order_month")
    )


# -- model contracts ---------------------------------------------------------

_CONTRACT_ORACLE = """
WITH checks(col, expected_type, actual_type) AS (
  VALUES ('o_orderkey',   'bigint',    'bigint'),
         ('o_orderstatus','string',    'string'),
         ('o_totalprice', 'decimal',   'double'),
         ('order_month',  'timestamp', 'timestamp'),
         ('discount_amt', 'double',    '<missing>')
),
nulls AS (
  SELECT CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS status_nulls
  FROM orders
)
SELECT 'orders_enriched' AS model, c.col AS column_name,
       c.expected_type, c.actual_type,
       (c.expected_type = c.actual_type) AS type_ok,
       CASE WHEN c.col = 'o_orderstatus'
            THEN (SELECT status_nulls FROM nulls) = 0
            ELSE TRUE END AS notnull_ok,
       ((c.expected_type = c.actual_type)
        AND CASE WHEN c.col = 'o_orderstatus'
                 THEN (SELECT status_nulls FROM nulls) = 0
                 ELSE TRUE END) AS contract_pass
FROM checks c ORDER BY column_name
"""


@register("dbt_model_contract", _CONTRACT_ORACLE)
def dbt_model_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt model contracts (`contract: enforced: true`): the declared
    (column, data_type, not_null) spec is checked against the
    MATERIALIZED model's actual schema and data — the build gate that
    turns silent schema drift into a failed `dbt run`. The contract
    here carries two deliberate violations (a decimal/double type
    drift and a column the model no longer produces), so the verdict
    table is non-trivial: pass/fail per column with the actual type
    read from the built DataFrame's schema (simpleString forms), and
    not_null enforced by an exact null count on the enforced column.
    Schema comparison is metadata-only; the null probe is one
    algebraic fold — at 100 TB the contract check costs one column
    scan, not a rebuild.
    """
    o = t(spark, sf_dir, "orders")
    model = o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.date_trunc("month", "o_orderdate").alias("order_month"),
    )
    actual = {f.name: f.dataType.simpleString() for f in model.schema.fields}
    contract = [
        ("o_orderkey", "bigint", False),
        ("o_orderstatus", "string", True),
        ("o_totalprice", "decimal", False),  # drifted: model has double
        ("order_month", "timestamp", False),
        ("discount_amt", "double", False),  # dropped from the model
    ]
    status_nulls = (
        model.agg(
            F.sum(
                F.when(F.col("o_orderstatus").isNull(), 1).otherwise(0)
            ).alias("n")
        ).first()["n"]
        or 0
    )
    rows = []
    for col, expected, not_null in contract:
        actual_type = actual.get(col, "<missing>")
        type_ok = expected == actual_type
        notnull_ok = (status_nulls == 0) if not_null else True
        rows.append(
            (
                "orders_enriched",
                col,
                expected,
                actual_type,
                type_ok,
                notnull_ok,
                type_ok and notnull_ok,
            )
        )
    return spark.createDataFrame(
        rows,
        "model string, column_name string, expected_type string, "
        "actual_type string, type_ok boolean, notnull_ok boolean, "
        "contract_pass boolean",
    ).orderBy("column_name")


# ---------------------------------------------------------------------------
# dbt microbatch incremental (dbt 1.9 incremental_strategy='microbatch')
# ---------------------------------------------------------------------------

_MICROBATCH_ORACLE = f"""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS event_day,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM({sql_micros("value")}) AS DOUBLE)
         / 1000000 AS value_sum
FROM events
GROUP BY date_trunc('day', ts), event_type
ORDER BY event_day, event_type
"""


@register("dbt_microbatch_incremental", _MICROBATCH_ORACLE)
def dbt_microbatch_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt 1.9 ``incremental_strategy='microbatch'`` — the incremental
    model is split by ``event_time`` into day-sized batches, and each
    batch is processed as its OWN idempotent insert_overwrite of
    exactly its time slice (dbt's answer to late-arriving reprocessing:
    a failed or stale day is re-run alone, never the whole model, and
    re-running a batch is a no-op by construction). Here the model is
    the daily per-type event rollup: days before the cutoff materialize
    in one historical run (dbt's initial full build), each of the last
    five days runs as a separate microbatch committed through
    ``write_dynamic_partition_overwrite`` — the table IS partitioned on
    the day key, so a batch stages only its own day's files and the
    commit removes exactly the matching partition's old files (r10:
    the physical write path now matches the slice claim; previously
    the slice semantics were logical over full rewrites). One
    mid-window batch is deliberately run TWICE to prove
    slice-idempotency — the final table must equal the direct full
    aggregate regardless. The batch loop is over the STATIC batch
    window (five days), never data-derived — O(window) commits, each
    O(day slice) work — and a loud guard asserts the fixture's max
    event day sits inside the window, so a regenerated fixture with a
    later time range fails HERE with a clear message instead of
    silently dropping days (the oracle aggregates everything). Sums
    via exact scaled-long micros (functions/deterministic).
    """
    from ..sources.deltalike import DeltaLikeTable

    ev = t(spark, sf_dir, "events")
    # one fact scan total: the rolled-up frame is O(days × types) rows,
    # checkpointed so each microbatch filters it instead of re-reading
    # events (dbt's engine likewise scans only each batch's slice).
    # day_key is the hive partition column (a clean yyyy-MM-dd string —
    # timestamp dir names would round-trip through partition-type
    # inference); event_day stays in the data files as the output col.
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("event_day"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value"), "value_sum"),
    ).withColumn(
        "day_key", F.date_format("event_day", "yyyy-MM-dd")
    ).localCheckpoint(eager=True)
    cutoff = "2024-01-26"
    # five daily microbatches; 2024-01-28 re-runs to prove idempotency
    batch_days = [
        "2024-01-26", "2024-01-27", "2024-01-28", "2024-01-28",
        "2024-01-29", "2024-01-30",
    ]
    n_late = daily.filter(
        F.col("day_key") > max(batch_days)
    ).limit(1).count()
    if n_late:
        raise ValueError(
            "dbt_microbatch_incremental: fixture has event days past "
            f"{max(batch_days)} — extend batch_days or the cutoff"
        )
    tbl = DeltaLikeTable(workdir(sf_dir, "dbt_microbatch"))
    # initial full build: everything before the microbatch window,
    # partitioned on day_key so later microbatches touch one partition
    tbl.write(
        daily.filter(F.col("event_day") < F.lit(cutoff).cast("timestamp")),
        mode="overwrite",
        partition_by=["day_key"],
    )
    for d in batch_days:
        fresh = daily.filter(F.col("day_key") == d)
        tbl.write_dynamic_partition_overwrite(
            fresh, ["day_key"], operation="REPLACE WHERE",
        )
    return (
        tbl.read(spark)
        .select("event_day", "event_type", "n_events", "value_sum")
        .orderBy("event_day", "event_type")
    )


# -- dbt clone-based CI environments (dbt 1.6 `dbt clone`) ------------------

_CLONE_CI_ORACLE = f"""
WITH bronze AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         {sql_cents("o_totalprice")} AS cents
  FROM orders WHERE o_orderkey % 2 = 0
),
silver AS (
  SELECT c.c_mktsegment, b.cents
  FROM bronze b JOIN customer c ON c.c_custkey = b.o_custkey
  WHERE b.o_orderstatus <> 'P'
),
gold AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS cents
  FROM silver GROUP BY c_mktsegment
)
SELECT * FROM (
  SELECT 'bronze_orders' AS model, 'clone' AS action, FALSE AS selected,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM bronze) AS n_rows,
         (SELECT CAST(SUM(cents) AS BIGINT) FROM bronze) AS check_cents,
         TRUE AS prod_untouched
  UNION ALL
  SELECT 'silver_orders', 'build', TRUE,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM silver),
         (SELECT CAST(SUM(cents) AS BIGINT) FROM silver),
         TRUE
  UNION ALL
  SELECT 'gold_revenue', 'build', TRUE,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM gold),
         (SELECT CAST(SUM(cents) AS BIGINT) FROM gold),
         TRUE
) ORDER BY model
"""


@register("dbt_clone_ci", _CLONE_CI_ORACLE)
def dbt_clone_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt 1.6 `dbt clone` CI composition: a PR build runs only
    `state:modified+` models, and every UNMODIFIED upstream the
    subgraph references is zero-copy SHALLOW-CLONED from production
    into the CI schema instead of rebuilt (`dbt clone` then
    `dbt build --select state:modified+`). Composes the two existing
    verbs — `delta_shallow_clone`'s metadata-only fork and
    `dbt_state_modified`'s manifest-fingerprint selection over the
    REAL ModelGraph DAG — end to end: prod is built once (bronze →
    silver v1 → gold), the manifest diff marks silver modified, CI
    clones bronze (zero bytes copied) and rebuilds silver v2 + gold
    against the clone. The emitted row set proves (a) the clone READ
    path (bronze counts/cents come from reading the clone), (b) the
    CI build used the v2 definition (silver/gold counts match the
    oracle's v2 logic), and (c) copy-on-write isolation —
    `prod_untouched` compares every prod table's latest_version
    before/after the CI run (the oracle pins TRUE).
    At 100 TB: cloning is O(live files) metadata work — the entire
    point of the verb — and the CI build touches only the modified
    subgraph's data.
    """
    import hashlib
    import os

    from ..sources.deltalike import DeltaLikeTable

    prod_root = workdir(sf_dir, "dbt_clone_ci_prod")
    ci_root = workdir(sf_dir, "dbt_clone_ci_ci")
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    customer = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )

    def bronze_fn(sp, deps):
        return deps["orders"].filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            cents(F.col("o_totalprice")).alias("cents"),
        )

    def silver_v1(sp, deps):
        return deps["bronze_orders"].join(
            F.broadcast(deps["customer"]),
            F.col("c_custkey") == F.col("o_custkey"),
        ).select("c_mktsegment", "cents")

    def silver_v2(sp, deps):
        # the PR's edit: exclude open ('P') orders
        return (
            deps["bronze_orders"]
            .filter(F.col("o_orderstatus") != "P")
            .join(
                F.broadcast(deps["customer"]),
                F.col("c_custkey") == F.col("o_custkey"),
            )
            .select("c_mktsegment", "cents")
        )

    def gold_fn(sp, deps):
        return (
            deps["silver_orders"]
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("cents").alias("cents"),
            )
        )

    # -- production run (v1 everywhere) --
    g1 = ModelGraph(prod_root)
    g1.model("bronze_orders", deps=["orders"], materialized="table")(
        bronze_fn
    )
    g1.model(
        "silver_orders",
        deps=["bronze_orders", "customer"],
        materialized="table",
    )(silver_v1)
    g1.model("gold_revenue", deps=["silver_orders"], materialized="table")(
        gold_fn
    )
    g1.run(spark, {"orders": orders, "customer": customer})
    prod_versions = {
        m: DeltaLikeTable(os.path.join(prod_root, m)).latest_version
        for m in ("bronze_orders", "silver_orders", "gold_revenue")
    }

    # -- manifest diff (dbt_state_modified's fingerprint discipline) --
    def fp(defn: str) -> str:
        return hashlib.md5(defn.encode()).hexdigest()

    prev = {
        "bronze_orders": fp("even orderkeys v1"),
        "silver_orders": fp("join customer -- v1"),
        "gold_revenue": fp("group by segment"),
    }
    cur = {
        "bronze_orders": fp("even orderkeys v1"),
        "silver_orders": fp("join customer -- v2 drops open orders"),
        "gold_revenue": fp("group by segment"),
    }
    modified = {m for m in cur if prev.get(m) != cur[m]}
    selected: set[str] = set()
    for m in modified:
        selected |= set(g1.select(f"{m}+"))

    # -- CI: clone every unselected upstream, build the modified+ rest --
    ci_inputs: dict[str, DataFrame] = {"customer": customer}
    actions: dict[str, str] = {}
    for m in ("bronze_orders", "silver_orders", "gold_revenue"):
        if m not in selected:
            clone = DeltaLikeTable(os.path.join(prod_root, m)).clone_to(
                os.path.join(ci_root, m)
            )
            ci_inputs[m] = clone.read(spark)
            actions[m] = "clone"
        else:
            actions[m] = "build"
    g2 = ModelGraph(ci_root)
    g2.model(
        "silver_orders",
        deps=["bronze_orders", "customer"],
        materialized="table",
    )(silver_v2)
    g2.model("gold_revenue", deps=["silver_orders"], materialized="table")(
        gold_fn
    )
    g2.run(spark, ci_inputs)

    untouched = {
        m: DeltaLikeTable(os.path.join(prod_root, m)).latest_version
        == prod_versions[m]
        for m in prod_versions
    }
    rows = []
    for m in ("bronze_orders", "silver_orders", "gold_revenue"):
        ci_tbl = DeltaLikeTable(os.path.join(ci_root, m)).read(spark)
        stats = ci_tbl.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        ).collect()[0]  # bounded: one row of table-level stats per model
        rows.append(
            (
                m,
                actions[m],
                m in selected,
                int(stats["n"]),
                int(stats["cents"]),
                untouched[m],
            )
        )
    return spark.createDataFrame(
        rows,
        "model string, action string, selected boolean, n_rows long,"
        " check_cents long, prod_untouched boolean",
    ).orderBy("model")
