"""SURVEY.md §2.11 — UDF / UDAF / UDTF surface.

The slow-path hierarchy, demonstrated one level each:
- row-at-a-time Python UDF (udf_python) — serde per row; kept out of every
  other declared query on purpose.
- Arrow-vectorized pandas_udf (udf_pandas_scalar / grouped_agg) — the
  acceptable Python path at scale (~10-100× the row UDF).
- applyInPandas grouped map (udf_grouped_map) — per-group DataFrame
  transforms.
- Python UDTF (udtf_explode_custom) — one row in, N rows out.

Determinism: UDF bodies are chosen so results are exactly portable
(integer logic, numpy median on exact doubles, rank ratios) — see each
docstring.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import t
from ..functions.deterministic import cents, micros, sql_cents, sql_micros
from .registry import register


@register(
    "udf_python",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice >= 200000 THEN 'platinum'
                WHEN o_totalprice >= 100000 THEN 'gold'
                WHEN o_totalprice >= 25000  THEN 'silver'
                ELSE 'bronze' END AS tier
    FROM orders
    """,
)
def udf_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Row-at-a-time Python UDF: pickle/unpickle per row, breaks codegen —
    # exists to exercise the surface; every hot-path query uses builtins.
    @F.udf(T.StringType())
    def tier(price: float) -> str:
        if price >= 200000:
            return "platinum"
        if price >= 100000:
            return "gold"
        if price >= 25000:
            return "silver"
        return "bronze"

    o = t(spark, sf_dir, "orders")
    return o.select("o_orderkey", tier("o_totalprice").alias("tier"))


@register(
    "udf_pandas_scalar",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS final_price
    FROM lineitem
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arrow-batched Series→Series; numpy double arithmetic is IEEE-identical
    # to the JVM/DuckDB expression, so this is oracle-exact with NO rounding
    # (per-row double chains are bit-deterministic; a final ROUND would
    # re-introduce representation-boundary divergence — deterministic.py).
    @F.pandas_udf(T.DoubleType())
    def final_price(
        price: pd.Series, discount: pd.Series, tax: pd.Series
    ) -> pd.Series:
        return price * (1 - discount) * (1 + tax)

    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        final_price("l_extendedprice", "l_discount", "l_tax").alias(
            "final_price"
        ),
    )


@register(
    "udf_pandas_grouped_agg",
    """
    SELECT l_returnflag,
           ROUND(MEDIAN(l_extendedprice), 6) AS median_price
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def udf_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Custom aggregation via GROUPED_AGG pandas_udf. np.median sorts the
    # group (order-insensitive) and midpoint-averages — the same
    # linear-interpolation rule as quantile_cont(0.5), so exact vs oracle.
    @F.pandas_udf(T.DoubleType())
    def np_median(v: pd.Series) -> float:
        return float(np.median(v.to_numpy()))

    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(F.round(np_median("l_extendedprice"), 6).alias("median_price"))
        .orderBy("l_returnflag")
    )


@register(
    "udf_grouped_map",
    """
    SELECT o_orderkey, o_custkey,
           CASE WHEN COUNT(*) OVER (PARTITION BY o_custkey) > 1
                THEN ROUND(
                  CAST(RANK() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice ASC, o_orderkey ASC) - 1
                       AS DOUBLE)
                  / (COUNT(*) OVER (PARTITION BY o_custkey) - 1), 6)
                ELSE 0.0 END AS spend_pctile
    FROM orders
    """,
)
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    # applyInPandas per-group transform: percentile-within-customer.
    # Rank ratios are integer-derived → exactly portable.
    #
    # Scale shape: grouping directly by o_custkey makes millions of
    # few-row groups — each one a separate Arrow batch + Python call,
    # which is the classic applyInPandas anti-pattern (28s at sf0.1).
    # Instead we shuffle once on a BUCKET of the key (customers never
    # straddle buckets) and vectorize the per-customer logic inside
    # pandas with groupby().rank() — same semantics, ~64 fat Arrow
    # batches instead of N_customers tiny ones.
    def pctile(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["o_custkey", "o_totalprice", "o_orderkey"])
        grp = pdf.groupby("o_custkey")
        rank0 = grp.cumcount().astype(np.float64)
        n = grp["o_orderkey"].transform("size").astype(np.float64)
        pdf["spend_pctile"] = np.where(n > 1, (rank0 / (n - 1)).round(6), 0.0)
        return pdf[["o_orderkey", "o_custkey", "spend_pctile"]]

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    o = o.withColumn("bucket", (F.col("o_custkey") % 64).cast("int"))
    return (
        o.groupBy("bucket")
        .applyInPandas(
            pctile,
            schema="o_orderkey long, o_custkey long, spend_pctile double",
        )
    )


@register(
    "udtf_explode_custom",
    """
    SELECT o_orderkey, unnest(range(1, o_orderkey % 3 + 2)) AS slot
    FROM orders
    """,
)
def udtf_explode_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Python UDTF (Spark 4): one order row → (o_orderkey % 3 + 1) slot
    # rows. The lateral-join shape is how dbt-style date spines / row
    # multiplexers are built. useArrow batches rows over Arrow instead
    # of pickling them one at a time (~2× less serialization overhead);
    # the pure-codegen alternative for this shape is
    # explode(sequence(...)) — see join_lateral / agg_date_spine.
    from pyspark.sql.functions import udtf

    @udtf(returnType="slot: bigint", useArrow=True)
    class ExplodeN:
        def eval(self, n: int):
            for i in range(1, n + 1):
                yield (i,)

    spark.udtf.register("explode_n", ExplodeN)
    # The fixture parquet is a single row group, so the scan is one task —
    # which would serialize every UDTF eval through ONE Python worker
    # (measured 17s at sf0.1). Fan out first so the Python stage runs
    # wide; on a real cluster the scan's own task count provides this.
    o = t(spark, sf_dir, "orders").repartition(16)
    o.createOrReplaceTempView("orders_udtf_fanout")
    return spark.sql(
        """
        SELECT o_orderkey, s.slot
        FROM orders_udtf_fanout,
             LATERAL explode_n(CAST(o_orderkey % 3 + 1 AS INT)) s
        """
    )


_COGROUP_ORACLE = f"""
WITH c AS (
  SELECT c_nationkey AS nk, COUNT(*) AS n_cust,
         CAST(SUM({sql_micros("c_acctbal")}) AS BIGINT)
           AS cust_micros
  FROM customer GROUP BY c_nationkey
),
s AS (
  SELECT s_nationkey AS nk, COUNT(*) AS n_supp,
         CAST(SUM({sql_micros("s_acctbal")}) AS BIGINT)
           AS supp_micros
  FROM supplier GROUP BY s_nationkey
)
SELECT CAST(COALESCE(c.nk, s.nk) AS INTEGER) AS nationkey,
       CAST(COALESCE(n_cust, 0) AS BIGINT) AS n_cust,
       CAST(COALESCE(n_supp, 0) AS BIGINT) AS n_supp,
       CAST(COALESCE(cust_micros, 0) AS BIGINT) AS cust_micros,
       CAST(COALESCE(supp_micros, 0) AS BIGINT) AS supp_micros,
       CASE WHEN COALESCE(n_cust, 0) > 0 AND COALESCE(n_supp, 0) > 0
            THEN CAST(cust_micros AS DOUBLE) / 1000000 / n_cust
               - CAST(supp_micros AS DOUBLE) / 1000000 / n_supp
       END AS avg_bal_gap
FROM c FULL JOIN s ON c.nk = s.nk
ORDER BY nationkey
"""


@register("udf_cogrouped_map", _COGROUP_ORACLE)
def udf_cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped map (`groupBy.cogroup(...).applyInPandas`) — the
    two-sided per-key Arrow surface: both tables shuffle on the key
    and each key's pair of pandas frames lands in ONE Python call,
    the escape hatch for custom merges (as-of logic, per-entity
    reconciliation) no SQL join expresses. Here: per-nation customer
    vs supplier balance reconciliation with exact micros sums (the
    closure spells functions/deterministic.py's FLOOR(x*1e6 + 0.5) in
    numpy — a Python worker cannot import this package); one side may
    be empty for a key, which the callable must (and does) handle,
    mirrored by the oracle's FULL JOIN. 25 nation groups → 25 fat Arrow batches; a
    high-cardinality key would bucket first (udf_grouped_map pattern).
    """
    c = t(spark, sf_dir, "customer").select("c_nationkey", "c_acctbal")
    s = t(spark, sf_dir, "supplier").select("s_nationkey", "s_acctbal")

    def reconcile(key, cpdf, spdf):
        import numpy as np
        import pandas as pd

        def micros(col):
            if len(col) == 0:
                return 0
            return int(
                np.floor(col.to_numpy() * 1e6 + 0.5).astype(np.int64).sum()
            )

        nc, ns = len(cpdf), len(spdf)
        cm, sm = micros(cpdf["c_acctbal"]), micros(spdf["s_acctbal"])
        gap = (
            float(cm) / 1e6 / nc - float(sm) / 1e6 / ns
            if nc > 0 and ns > 0
            else None
        )
        return pd.DataFrame(
            {
                "nationkey": [int(key[0])],
                "n_cust": [nc],
                "n_supp": [ns],
                "cust_micros": [cm],
                "supp_micros": [sm],
                "avg_bal_gap": [gap],
            }
        )

    return (
        c.groupBy("c_nationkey")
        .cogroup(s.groupBy("s_nationkey"))
        .applyInPandas(
            reconcile,
            schema=(
                "nationkey int, n_cust long, n_supp long, "
                "cust_micros long, supp_micros long, avg_bal_gap double"
            ),
        )
        .orderBy("nationkey")
    )


_ITER_UDF_ORACLE = f"""
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM({sql_cents("value")}
                * (CASE event_type
                     WHEN 'purchase' THEN 5 WHEN 'click' THEN 3
                     WHEN 'view' THEN 2 ELSE 1 END)) AS BIGINT)
         AS score_cents
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register("udf_pandas_scalar_iter", _ITER_UDF_ORACLE)
def udf_pandas_scalar_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-form Pandas UDF (`Iterator[Tuple[Series, ...]] →
    Iterator[Series]`) — the API whose point is AMORTIZED PER-WORKER
    INIT: expensive state (a model, a tokenizer, a compiled automaton)
    is constructed ONCE before the batch loop and reused across every
    Arrow batch the worker sees, instead of per row or per batch. That
    is the only viable shape for model-scoring 100 TB (loading a model
    per batch would dominate the run). The "model" here is a
    deterministic weight table (the container has no ML runtime —
    same stubbing contract as multimodal decode); the scoring is
    integer cents × integer weight, so the UDF output is engine-exact
    and the oracle can replay it relationally.
    """
    from typing import Iterator, Tuple

    from pyspark.sql.functions import pandas_udf

    def _score(it):
        # one-time init per worker: the "model" loads before the loop
        model = {"purchase": 5, "click": 3, "view": 2}
        for etype, cents in it:
            yield cents * etype.map(lambda e: model.get(e, 1)).astype(
                "int64"
            )

    # `from __future__ import annotations` stringifies hints, which
    # pandas_udf's signature inference rejects — attach REAL type
    # objects so it recognizes the iterator form.
    _score.__annotations__ = {
        "it": Iterator[Tuple[pd.Series, pd.Series]],
        "return": Iterator[pd.Series],
    }
    score = pandas_udf(_score, "long")

    e = t(spark, sf_dir, "events")
    scored = e.select(
        "event_type",
        score(
            F.col("event_type"),
            cents(F.col("value")),
        ).alias("s"),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("s").alias("score_cents"),
        )
        .orderBy("event_type")
    )


_POLY_UDTF_ORACLE = """
SELECT doc_id,
       string_split(text, ' ')[1] AS c0,
       string_split(text, ' ')[2] AS c1,
       string_split(text, ' ')[3] AS c2,
       string_split(text, ' ')[4] AS c3
FROM documents
ORDER BY doc_id
"""


@register("udtf_polymorphic", _POLY_UDTF_ORACLE)
def udtf_polymorphic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF (Spark 4 ``analyze()`` API): the output
    SCHEMA is computed at plan time from a literal argument — here
    ``split_fixed(text, 4)`` derives columns c0..c3 from the requested
    width, the way real table functions (read_csv-style parsers,
    pivot-to-N, JSON flatteners) size their output from configuration
    rather than a hard-coded returnType. eval() then emits one row per
    input row with exactly the analyzed arity (padding with NULLs), so
    Catalyst plans downstream projections against a schema that never
    existed in source code. Arrow-batched; fixture scan fanned out
    first so the Python stage runs wide (single-row-group parquet would
    otherwise serialize through one worker — udtf_explode_custom note).
    """
    from pyspark.sql.functions import lit, udtf
    from pyspark.sql.types import StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf(useArrow=True)
    class SplitFixed:
        @staticmethod
        def analyze(s: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            width = int(n.value)
            return AnalyzeResult(
                StructType(
                    [
                        StructField(f"c{i}", StringType())
                        for i in range(width)
                    ]
                )
            )

        def eval(self, s, n):
            parts = (s or "").split(" ")
            yield tuple(
                parts[i] if i < len(parts) else None for i in range(n)
            )

    spark.udtf.register("split_fixed", SplitFixed)
    d = t(spark, sf_dir, "documents").repartition(16)
    d.createOrReplaceTempView("docs_udtf_poly")
    return spark.sql(
        """
        SELECT doc_id, s.c0, s.c1, s.c2, s.c3
        FROM docs_udtf_poly,
             LATERAL split_fixed(text, 4) s
        ORDER BY doc_id
        """
    )


@register(
    "udf_python_arrow",
    """
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debit'
                WHEN c_acctbal < 5000 THEN 'standard'
                ELSE 'premium' END
           || ':' || c_mktsegment AS account_class
    FROM customer
    """,
)
def udf_python_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Arrow-optimized Python UDF (`useArrow=True`): the same
    row-wise signature as udf_python but executed over Arrow record
    batches instead of pickled rows — the documented migration path
    that removes most of the row-UDF serde tax without rewriting the
    function as a pandas_udf. Logic is exact (threshold banding +
    string concat on 2-dp balances), so results are engine-portable.
    Still Python — the hot-path rule (builtins first, pandas_udf
    second) stands; this op pins the surface and its plan shape
    (ArrowEvalPython, one batch exchange, no per-row pickling).
    """
    @F.udf(T.StringType(), useArrow=True)
    def account_class(bal: float, seg: str) -> str:
        if bal < 0:
            band = "debit"
        elif bal < 5000:
            band = "standard"
        else:
            band = "premium"
        return f"{band}:{seg}"

    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        account_class("c_acctbal", "c_mktsegment").alias("account_class"),
    )


@register(
    "udf_pandas_window_agg",
    f"""
    SELECT o_orderkey,
           CAST(SUM({sql_cents("o_totalprice")}) OVER w3
                AS DOUBLE) / (100 * COUNT(*) OVER w3) AS roll3_avg,
           CAST(SUM({sql_cents("o_totalprice")}) OVER wrun
                AS DOUBLE) / (100 * COUNT(*) OVER wrun) AS run_avg
    FROM orders
    WHERE o_custkey % 100 = 0
    WINDOW w3 AS (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
           wrun AS (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY o_orderkey
    """,
)
def udf_pandas_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDAF evaluated OVER WINDOW FRAMES — the Arrow surface the
    grouped-agg demo doesn't cover: the same GROUPED_AGG pandas_udf,
    bound to bounded (3-row rolling) and growing (running) frames.
    Spark ships each frame's slice to the Python worker as an Arrow
    batch per partition; the frame bounds are enforced JVM-side, so the
    UDAF body sees exactly the SQL-defined window. Determinism is the
    house rule inside Python: cents as exact int64 (deterministic.py's
    FLOOR(x*100 + 0.5), spelled in numpy), one float division written
    token-for-token like the oracle's (SUM cents AS DOUBLE) /
    (100 * COUNT) — bit-identical IEEE ops on bit-identical integers.
    The (o_orderdate, o_orderkey) ordering makes every frame unique, and
    the window partitions by o_custkey. COST MODEL (measured sf0.1):
    unlike codegen window aggregates, a pandas UDAF over a frame costs
    one Python invocation PER ROW PER WINDOW (~0.5 ms each — 140 s over
    150k rows), because every frame slice is materialized and shipped;
    that is the API's contract, not a plan defect. The demo therefore
    bounds its input to a deterministic 1% customer slice (the
    surface is the point; win_* ops own the scale path), and the
    100 TB guidance in SURVEY.md §2.11 stands: keep pandas UDAFs on
    grouped aggregations, use built-in window functions for frames.
    """

    @F.pandas_udf(T.DoubleType())
    def cents_mean(v: pd.Series) -> float:
        import numpy as np

        cents = np.floor(v.to_numpy() * 100 + 0.5).astype(np.int64)
        return float(int(cents.sum())) / (100 * len(cents))

    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey") % 100 == 0)
    from pyspark.sql import Window as W

    base = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w3 = base.rowsBetween(-2, W.currentRow)
    wrun = base.rowsBetween(W.unboundedPreceding, W.currentRow)
    return o.select(
        "o_orderkey",
        cents_mean(F.col("o_totalprice")).over(w3).alias("roll3_avg"),
        cents_mean(F.col("o_totalprice")).over(wrun).alias("run_avg"),
    ).orderBy("o_orderkey")


_MAP_IN_ARROW_ORACLE = f"""
SELECT l_returnflag,
       CAST(SUM({sql_micros("l_extendedprice * (1 - l_discount)")}) AS BIGINT) AS revenue_micros,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("udf_map_in_arrow", _MAP_IN_ARROW_ORACLE)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mapInArrow` — the zero-copy tier below mapInPandas: the Python
    worker receives raw `pyarrow.RecordBatch`es (no pandas conversion,
    no index materialization, nulls stay bitmaps) and yields batches
    back. The body demonstrates the 100 TB idiom for Python-side
    aggregation: a PER-BATCH PARTIAL AGGREGATE (pyarrow group_by inside
    the worker — the map-side combine Catalyst can't inject across the
    Python boundary), so what crosses back to the JVM is
    O(groups·batches), not O(rows); the final groupBy then reduces
    partials. Revenue goes through the deterministic.py encoding,
    FLOOR(x·1e6 + 0.5) in pyarrow compute (integer sums are exact both
    sides), so the Arrow path hash-matches the relational oracle
    bit-for-bit. Imports
    live INSIDE the closure (cloudpickle ships no repo globals —
    CLAUDE.md).
    """

    def partial(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            cents = pc.cast(
                pc.floor(
                    pc.add(
                        pc.multiply(
                            pc.multiply(
                                b.column("l_extendedprice"),
                                pc.subtract(
                                    pa.scalar(1.0), b.column("l_discount")
                                ),
                            ),
                            pa.scalar(1_000_000.0),
                        ),
                        pa.scalar(0.5),
                    )
                ),
                pa.int64(),
            )
            tbl = pa.table(
                {"l_returnflag": b.column("l_returnflag"), "micros": cents}
            )
            part = tbl.group_by("l_returnflag").aggregate(
                [("micros", "sum"), ("micros", "count")]
            )
            part = part.rename_columns(
                ["l_returnflag", "part_micros", "part_rows"]
            )
            for out in part.to_batches():
                yield out

    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_discount"
    )
    partials = li.mapInArrow(
        partial, "l_returnflag string, part_micros long, part_rows long"
    )
    return (
        partials.groupBy("l_returnflag")
        .agg(
            F.sum("part_micros").alias("revenue_micros"),
            F.sum("part_rows").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )
