"""Fixture-table catalog: parquet files → DataFrames + temp views.

Every query entry point funnels through here so the SQL (entry B) and
DataFrame (entry C) surfaces share one catalog (SURVEY.md §3.2–3.3).

Scale note: at 100 TB each of these would be a partitioned/bucketed table
(lineitem bucketed by l_orderkey, orders by o_orderkey) registered in a
real metastore; locally they are single parquet files. The query code only
sees view names, so the swap is transparent.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# Per live SparkSession: the sf_dir whose views are registered, and the
# DataFrame handle of each (sf_dir, table). A newSession() clone is its
# own key — temp views and SQL conf are session-local, so it registers
# views of its own and its reads see its conf. Weak keys: a stopped and
# collected session's entries go with it, and no successor is handed
# its DataFrames.
_registered: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_df_cache: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

# The footer schema of each (sf_dir, table): only a table's first read
# in the process infers it, which starts a Spark job; every later
# session reads with it.
_schemas: dict[tuple[str, str], T.StructType] = {}


def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir}/{name}.parquet"


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy parquet scan of one fixture table.

    Every current fixture writes ``events.ts`` as parquet
    TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark 4 infers as
    TIMESTAMP_NTZ; it is cast to TIMESTAMP. The nanos branch is there for
    regenerated fixtures that write TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects: those are read as long
    (spark.sql.legacy.parquet.nanosAsLong) and truncated to microsecond
    timestamps — the same ns→µs truncation DuckDB applies, so the oracle
    sees identical values (SURVEY.md §1.1).
    """
    # Pin the session confs on every call, cached or not: conf.set is a
    # cheap local map write — no Spark job. Entry paths may hand us a
    # vanilla session; pin the tz so NTZ→TIMESTAMP casts and window
    # bucketing match the naive DuckDB oracle regardless of host tz.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    cache = _df_cache.setdefault(spark, {})
    cached = cache.get((sf_dir, name))
    if cached is not None:
        return cached
    schema = _schemas.get((sf_dir, name))
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(table_path(sf_dir, name))
    _schemas[(sf_dir, name)] = df.schema
    for field in df.schema.fields:
        if name == "events" and field.name == "ts":
            if isinstance(field.dataType, T.LongType):
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
            elif isinstance(field.dataType, T.TimestampNTZType):
                # TIMESTAMP(MICROS, isAdjustedToUTC=false) infers as
                # TIMESTAMP_NTZ, which unix_micros() and withWatermark()
                # both reject. The session tz is UTC in every entry path,
                # so the cast is value-preserving.
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    cache[(sf_dir, name)] = df
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all fixture tables as temp views named after themselves.

    Idempotent per (session, sf_dir); re-points the views when sf_dir
    changes (e.g. correctness at sf0.01 then bench at sf0.1).
    """
    if _registered.get(spark) == sf_dir:
        return
    for t in TABLES:
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)
    _registered[spark] = sf_dir


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table AND ensure the whole catalog's views are registered,
    so mixed DataFrame/SQL queries always resolve."""
    register_views(spark, sf_dir)
    return read_table(spark, sf_dir, name)


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Run SQL against the registered fixture views."""
    register_views(spark, sf_dir)
    return spark.sql(query)
