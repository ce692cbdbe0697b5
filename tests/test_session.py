"""Session-level guards: the tuned session keeps a recurring workload's
generated code compiled."""

from __future__ import annotations

from dbt_local_duckdb_deltalake_project_spark.operators import QUERIES

# The non-Delta ops of perfbench's analyst_sql pass.
ANALYST_PASS = [f"tpch_q{i}" for i in (1, 3, 5, 6, 9, 18)] + [
    "join_inner_equi", "join_semi", "join_skew_salted",
    "agg_rollup", "win_ranking", "subq_correlated_agg", "scan_filter_pushdown",
]


def _janino_compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_recurring_pass_compiles_no_classes(spark, sf_dir):
    """A pass of 13 analyst ops needs about 170 generated classes at
    sf0.001, more than Spark's default codegen cache holds (100), so with
    the default every repeat of the pass recompiled all of them."""
    def run_pass() -> int:
        before = _janino_compiles(spark)
        for name in ANALYST_PASS:
            QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return _janino_compiles(spark) - before

    first = run_pass()
    second = run_pass()
    assert second == 0, f"the repeat recompiled {second} classes ({first} at first)"
