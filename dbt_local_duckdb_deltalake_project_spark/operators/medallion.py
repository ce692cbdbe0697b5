"""End-to-end medallion pipeline (ref README.md:2 — "full deltalake
implementation of medallion architecture").

One query id runs the whole reference-shaped project through
plans/graph.py: bronze (raw CSV ingest, schema-on-read) → silver (typed,
deduped, conformed) → gold (aggregated mart), with dbt-style schema
tests executed between layers. The returned gold mart is oracle-checked
against a single SQL expression of the same pipeline — materialization
strategy must not change semantics.

Scale notes: bronze/silver/gold are Delta-like tables under the
workspace; on a cluster each layer is a partitioned table (gold
partitioned by month for pruning); the silver dedup is the
row_number()=1 idiom whose shuffle key (natural key) is uniform here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import t
from ..functions.deterministic import dsum, sql_dsum
from ..plans.graph import ModelGraph
from ..sources.workspace import staged, workdir
from .registry import register

def stage_bronze_csv(spark: SparkSession, sf_dir: str) -> str:
    """Raw CSV landing ("files arriving from upstream") — fixture staging,
    written once per fixture dir and reused; gated on the fixture
    fingerprint so regenerated fixtures rebuild it. Called untimed from
    prestage; the pipeline's own bronze/silver/gold work runs fresh."""
    def build(bronze_dir: str) -> None:
        t(spark, sf_dir, "orders").write.mode("overwrite").option(
            "header", True
        ).csv(bronze_dir)

    return staged(sf_dir, "medallion_bronze", build)


_PIPELINE_ORACLE = f"""
WITH silver AS (
  SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, o.o_totalprice,
         c.c_mktsegment, n.n_name AS nation
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n   ON n.n_nationkey = c.c_nationkey
  WHERE o.o_orderstatus <> 'P'
)
SELECT c_mktsegment,
       nation,
       COUNT(*) AS n_orders,
       {sql_dsum("o_totalprice", "revenue")}
FROM silver
GROUP BY c_mktsegment, nation
"""


def build_medallion_graph(
    spark: SparkSession, sf_dir: str, storage_name: str = "medallion_models"
) -> ModelGraph:
    """The medallion DAG definition, shared by the pipeline runner and
    the lineage export (dbt_lineage_export) so documented lineage can
    never drift from the executed graph. Building is cheap: no model
    runs until ``run``.

    ``storage_name``: callers that never ``run`` (lineage export) MUST
    pass their own name — this wipes the materialization dir fresh, and
    the bench pool runs queries concurrently (a shared dir raced the
    pipeline's writes: FileNotFoundException mid-materialization).
    """
    bronze_dir = stage_bronze_csv(spark, sf_dir)

    g = ModelGraph(workdir(sf_dir, storage_name))

    def bronze_orders(spark: SparkSession, deps) -> DataFrame:
        # declared ingest schema (no inferSchema: inference costs a full
        # extra pass over the raw files — schema-on-read with a DECLARED
        # schema is the production bronze pattern; scan_csv keeps the
        # inference demo)
        raw = spark.read.option("header", True).schema(
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp, "
            "o_orderpriority string"
        ).csv(bronze_dir)
        return raw.select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
        )

    def silver_orders(spark: SparkSession, deps) -> DataFrame:
        # conform: drop pending, dedup on the natural key keeping the
        # latest date (bronze may double-land rows), join dims.
        o = deps["bronze_orders"].filter(F.col("o_orderstatus") != "P")
        w = W.partitionBy("o_orderkey").orderBy(F.col("o_orderdate").desc())
        o = (
            o.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        return o.join(
            F.broadcast(deps["customer"]), F.col("c_custkey") == F.col("o_custkey")
        ).join(
            F.broadcast(deps["nation"]),
            F.col("n_nationkey") == F.col("c_nationkey"),
        ).select(
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            "o_totalprice",
            "c_mktsegment",
            F.col("n_name").alias("nation"),
        )

    def gold_revenue_by_segment(spark: SparkSession, deps) -> DataFrame:
        return (
            deps["silver_orders"]
            .groupBy("c_mktsegment", "nation")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                dsum(F.col("o_totalprice"), "revenue"),
            )
        )

    g.model(
        "bronze_orders", deps=[], materialized="table",
        tags=["bronze", "staging"],
    )(bronze_orders)
    g.model(
        "silver_orders", deps=["bronze_orders", "customer", "nation"],
        materialized="table", tags=["silver", "staging"],
    )(silver_orders)
    g.model(
        "gold_revenue_by_segment", deps=["silver_orders"],
        materialized="table", tags=["gold", "mart"],
    )(gold_revenue_by_segment)
    return g


@register("pipeline_medallion", _PIPELINE_ORACLE)
def pipeline_medallion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bronze: CSV round-trip of orders (schema-on-read ingest, the dbt
    # seed / raw-landing shape) + parquet dims as-is. The raw CSV landing
    # is fixture staging (the "files arriving from upstream"), so it is
    # written once per fixture dir and reused; the pipeline's own work —
    # bronze/silver/gold materializations — runs fresh every time.
    g = build_medallion_graph(spark, sf_dir)

    sources = {
        "customer": t(spark, sf_dir, "customer"),
        "nation": t(spark, sf_dir, "nation"),
    }
    out = g.run(spark, sources)

    # dbt-style schema tests between layers: fail the pipeline loudly if
    # the silver contract breaks (unique key, referential integrity).
    silver = out["silver_orders"]
    dups = silver.groupBy("o_orderkey").count().filter(F.col("count") > 1).count()
    orphans = (
        silver.join(
            sources["customer"].select(F.col("c_custkey").alias("o_custkey")),
            "o_custkey",
            "left_anti",
        ).count()
    )
    if dups or orphans:  # pragma: no cover - contract violation
        raise AssertionError(
            f"silver contract violated: {dups} dup keys, {orphans} orphans"
        )
    return out["gold_revenue_by_segment"]
