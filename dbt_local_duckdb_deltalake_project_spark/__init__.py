"""PySpark-native analytics engine with the capability surface of
``jackiedirecto/dbt-local-duckdb-deltalake-project`` (a dbt + DuckDB + Delta Lake
medallion-architecture project — see /root/repo/SURVEY.md).

The reference ships no implementation code (SURVEY.md §0: README + .gitignore
only), so the contract here is the declared capability surface of that stack
(SURVEY.md §2), re-expressed Spark-first:

- ``session``     — SparkSession factory tuned for local[N] and cluster scale
- ``catalog``     — fixture-table registry (parquet → temp views)
- ``operators``   — the §2 operator inventory as (PySpark query, DuckDB
                    oracle SQL) pairs
- ``sources``     — readers/writers (parquet/csv/json, partitioned sinks,
                    a Delta-protocol table layer with no delta-spark)
- ``functions``   — deterministic-aggregation helpers, vector math
- ``plans``       — medallion model-graph runner + dbt-style materializations
- ``streaming``   — Structured Streaming twins of the batch event-time ops
"""

__version__ = "0.1.0"
