"""The benchmark's workloads. Each is a closed loop: a client sends its
next operation only when the previous one has returned.

A workload returns a ``Result``: per-operation latencies over the timed
window, the window's wall time, attempt and failure counts (a wrong
result counts as a failure; nothing is retried), the per-layer figures
and a few report-only figures.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
import time
import traceback
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import fixtures, oracle, sparkstats
from .instrument import listing
from .tracing import Tracer

# Six TPC-H queries, joins, grouped aggregation, ranking, a correlated
# subquery, a pushed-down parquet scan and the Delta read path. One pass
# on four clients takes about 5.5 s on four cores at sf0.01, and the
# untimed warm-up pass twice that.
ANALYST_OPS = [f"tpch_q{i}" for i in (1, 3, 5, 6, 9, 18)] + [
    "join_inner_equi", "join_semi", "join_skew_salted",
    "agg_rollup", "win_ranking", "subq_correlated_agg", "scan_filter_pushdown",
    "delta_data_skipping", "delta_partition_pruning", "scan_deltalike_datasource",
]

# The ops of medallion_pipeline besides its batch refreshes, one per op
# family the batches bypass: LLM-corpus exact dedup and multimodal
# perceptual-hash dedup, which run on Arrow/pandas Python workers, and
# the streaming twin of the Delta-like sink, which replays eagerly while
# the op is built.
PIPELINE_OPS = ["llm_dedup_exact", "mm_dedup_phash", "stream_sink_deltalike"]
BATCH = "<medallion batch>"  # a cycle item: land and refresh one batch

MEDALLION_BATCH_ROWS = 500
MEDALLION_INITIAL_ROWS = 2000
# Batches landed and refreshed once per checkout, before any run, so a
# run starts on tables with a log history: the first timed cycle
# (batches 17-20) commits version 20 of bronze and gold, so each run
# crosses a checkpoint. Silver, one commit ahead per compaction, crossed
# its version 20 in the history.
HISTORY_BATCHES = 17
MAINTENANCE_EVERY = 4  # silver compact + vacuum on every 4th batch
TIME_TRAVEL_EVERY = 4  # read an older silver version on every 4th batch
TIME_TRAVEL_BACK = 3


@dataclass
class Ctx:
    spark: SparkSession
    sf_dir: str
    seed: int
    seconds: float
    clients: int
    tracer: Tracer
    run_dir: str  # scratch space of this run, removed afterwards


@dataclass
class Result:
    latencies: list[float] = field(default_factory=list)
    labels: list[str] = field(default_factory=list)  # what each latency timed
    window_start: float = 0.0  # perf_counter() when the timed window opened
    wall_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    build_s: list[float] = field(default_factory=list)
    exec_s: list[float] = field(default_factory=list)
    counters: list[dict] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    report: dict[str, object] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)


def _run_op(ctx: Ctx, op: str):
    """Build and execute one registry op under a job group of its own.

    Returns (build seconds, execute seconds, counters or None)."""
    from dbt_local_duckdb_deltalake_project_spark.operators import QUERIES

    sc = ctx.spark.sparkContext
    group = sparkstats.group_for(op)
    sc.setJobGroup(group, op)
    ctx.tracer.set_op(group)
    t0 = time.perf_counter()
    with ctx.tracer.span("operators.build"):
        df = QUERIES[op](ctx.spark, ctx.sf_dir)
    t1 = time.perf_counter()
    with ctx.tracer.span("exec.run"):
        df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    counters = None
    if ctx.tracer.enabled:
        with ctx.tracer.span("trace.counters"):
            counters = sparkstats.read_group(sc, group)
    return t1 - t0, t2 - t1, counters


class _Checker:
    """Compares an op's rows with its DuckDB oracle."""

    def __init__(self, sf_dir: str):
        from dbt_local_duckdb_deltalake_project_spark.catalog import TABLES

        self._con = oracle.connect(sf_dir, TABLES)
        self._lock = threading.Lock()

    def check(self, op: str, df) -> str | None:
        """None when ``df`` holds the oracle's rows, else what differs."""
        from dbt_local_duckdb_deltalake_project_spark.operators import ORACLE

        try:
            got = df.toPandas()
            with self._lock:
                want = self._con.execute(ORACLE[op]).fetchdf()
            return oracle.mismatch(got, want)
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            return traceback.format_exc(limit=3)

    def close(self) -> None:
        self._con.close()


def _warmup_checks(ctx: Ctx, ops: list[str], res: Result) -> None:
    """Untimed warm-up that is also the correctness check: every op runs
    once, on one thread per core, and its rows are compared."""
    from dbt_local_duckdb_deltalake_project_spark.operators import QUERIES

    checker = _Checker(ctx.sf_dir)
    lock = threading.Lock()

    def one(op: str) -> None:
        try:
            diff = checker.check(op, QUERIES[op](ctx.spark, ctx.sf_dir))
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            diff = traceback.format_exc(limit=3)
        with lock:
            res.attempted += 1
            if diff is not None:
                res.fail(f"{op}: wrong result: {diff}")

    c0 = time.perf_counter()
    try:
        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            for fut in [pool.submit(one, op) for op in ops]:
                fut.result()
    finally:
        checker.close()
    res.report["warmup_checks_s"] = time.perf_counter() - c0


def _op_runner(ctx: Ctx, res: Result):
    """A ``run_item`` for ``_closed_loop``: runs one registry op and,
    when ``timed``, records its latency."""
    lock = threading.Lock()

    def run(op: str, timed: bool) -> None:
        try:
            build, exe, counters = _run_op(ctx, op)
        except Exception:  # noqa: BLE001 — counted as failed, never retried
            with lock:
                res.attempted += 1
                res.fail(f"{op}: {traceback.format_exc(limit=3)}")
            return
        with lock:
            res.attempted += 1
            if not timed:
                return
            res.latencies.append(build + exe)
            res.labels.append(op)
            res.build_s.append(build)
            res.exec_s.append(exe)
            if counters is not None:
                res.counters.append(counters)

    return run


def _closed_loop(ctx: Ctx, items: list[str], res: Result, run_item) -> None:
    """``ctx.clients`` threads draw items from one seeded sequence of shuffled
    passes and call ``run_item(item, timed)`` on each. Timed drawing
    stops at the first pass boundary after ``seconds``, so every run
    measures whole passes and the mix is seed-free. Until the last timed
    item has returned, the other clients keep drawing untimed items, so
    every timed item runs under the full load."""
    order = fixtures.op_order(items, ctx.seed, passes=1000)
    lock = threading.Lock()
    state: dict = {"next": 0, "open": 0, "end": None, "stop": None}
    start = res.window_start = time.perf_counter()

    def client(i: int) -> None:
        ctx.spark.sparkContext.setLocalProperty("spark.scheduler.pool", f"client{i}")
        while True:
            with lock:
                n = state["next"]
                now = time.perf_counter()
                if state["end"] is None and n % len(items) == 0 and now - start >= ctx.seconds:
                    state["end"] = n
                    if state["open"] == 0:
                        state["stop"] = now
                timed = state["end"] is None
                if not timed and state["open"] == 0:
                    return
                state["next"] = n + 1
                state["open"] += timed
            run_item(order[n], timed)
            with lock:
                state["open"] -= timed
                if timed and state["end"] is not None and state["open"] == 0:
                    state["stop"] = time.perf_counter()

    with ThreadPoolExecutor(ctx.clients) as pool:
        for fut in [pool.submit(client, i) for i in range(ctx.clients)]:
            fut.result()
    res.wall_s = state["stop"] - start


def _oracle_ops(ops: list[str]) -> list[str]:
    from dbt_local_duckdb_deltalake_project_spark.operators import ORACLE, QUERIES

    missing = [op for op in ops if op not in QUERIES or op not in ORACLE]
    if missing:
        raise KeyError(f"ops without a registry entry or an oracle: {missing}")
    return ops


def analyst_sql(ctx: Ctx) -> Result:
    """``ctx.clients`` concurrent clients on one session, after a warm-up
    pass that checks every op."""
    res = Result()
    ops = _oracle_ops(ANALYST_OPS)
    _warmup_checks(ctx, ops, res)
    _closed_loop(ctx, ops, res, _op_runner(ctx, res))
    res.report["ops_per_pass"] = len(ops)
    return res


# -- medallion_pipeline -------------------------------------------------


def _medallion_graph(storage: str, customer, nation, stamp: dict):
    from dbt_local_duckdb_deltalake_project_spark.functions.deterministic import dsum
    from dbt_local_duckdb_deltalake_project_spark.plans.graph import ModelGraph

    g = ModelGraph(storage)

    def pre(spark, meta):
        stamp[meta["node"]] = time.perf_counter()

    def post(spark, meta):
        stamp[meta["node"]] = time.perf_counter() - stamp[meta["node"]]

    hooks = {"pre_hook": [pre], "post_hook": [post]}

    @g.model("bronze", deps=["landing"], materialized="incremental", **hooks)
    def bronze(spark, deps):
        return deps["landing"]

    @g.model("silver", deps=["bronze"], materialized="incremental",
             unique_key="o_orderkey", **hooks)
    def silver(spark, deps):
        # the batch just appended to bronze, latest row per key
        new = deps["bronze"].filter(F.col("_batch") == F.lit(stamp["batch"]))
        latest = Window.partitionBy("o_orderkey").orderBy(F.col("_seq").desc())
        return (
            new.withColumn("_rn", F.row_number().over(latest))
            .filter("_rn = 1").drop("_rn", "_batch")
        )

    @g.model("gold", deps=["silver"], materialized="table", **hooks)
    def gold(spark, deps):
        return (
            deps["silver"].join(customer, F.col("o_custkey") == F.col("c_custkey"))
            .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("orders"), dsum(F.col("o_totalprice"), "revenue"))
        )

    return g


def _schema_tests(silver, gold) -> None:
    """dbt-style tests: silver key not null and unique, gold key not null."""
    s = silver.agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("o_orderkey").alias("k"),
        F.sum(F.col("o_orderkey").isNull().cast("int")).alias("nulls"),
    ).collect()[0]
    if s["n"] != s["k"] or s["nulls"]:
        raise AssertionError(f"silver key test failed: {s}")
    if gold.filter(F.col("n_name").isNull()).limit(1).count():
        raise AssertionError("gold n_name has nulls")


_GOLD_SQL = """
WITH landed AS (SELECT * FROM read_parquet('{landing}/*.parquet')),
latest AS (
  SELECT * FROM landed
  QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY _seq DESC) = 1
)
SELECT n_name, count(*) AS orders,
       CAST(sum(CAST(round(o_totalprice * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0
         AS revenue
FROM latest JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""

_SILVER_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority, _seq
FROM read_parquet('{landing}/*.parquet')
QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY _seq DESC) = 1
"""


def history_dir(sf_dir: str) -> str:
    return sf_dir + ".medallion"


class _Medallion:
    """Change batches landed under ``root/landing`` and refreshed into
    ``root/tables``: bronze (append) → silver (MERGE on o_orderkey, latest
    row wins) → gold (rebuilt per nation) through a ModelGraph, then
    schema tests. Continues whatever history ``root`` already holds."""

    def __init__(self, ctx: Ctx, root: str, seed: int):
        from dbt_local_duckdb_deltalake_project_spark.catalog import t
        from dbt_local_duckdb_deltalake_project_spark.sources.deltalike import (
            DeltaLikeTable,
        )

        self.ctx = ctx
        self.landing = os.path.join(root, "landing")
        self.storage = os.path.join(root, "tables")
        os.makedirs(self.landing, exist_ok=True)
        os.makedirs(self.storage, exist_ok=True)
        self.batch_no = len(glob.glob(os.path.join(self.landing, "*.parquet")))
        landed = (
            pd.read_parquet(self.landing, columns=["o_orderkey", "_seq"])
            if self.batch_no else None
        )
        orders = pd.read_parquet(os.path.join(ctx.sf_dir, "orders.parquet"))
        self.source = fixtures.BatchSource(orders, seed, landed)
        self.stamp: dict = {}
        spark = ctx.spark
        self.graph = _medallion_graph(
            self.storage, t(spark, ctx.sf_dir, "customer"),
            t(spark, ctx.sf_dir, "nation"), self.stamp,
        )
        self.tables = {
            m: DeltaLikeTable(os.path.join(self.storage, m))
            for m in ("bronze", "silver", "gold")
        }
        # versions before this point may have lost their files to VACUUM
        self.vacuumed_at = max(self.tables["silver"].latest_version, 0)
        self.timings: dict[str, list[float]] = defaultdict(list)
        self.replay_series: list[tuple[str, int, int, float]] = []
        self.landed_bytes = self.landed_rows = 0

    def min_version(self) -> int:
        return min(tbl.latest_version for tbl in self.tables.values())

    def step(self, res: Result | None) -> None:
        """Land one batch (untimed) and refresh it. With ``res``, the
        batch is timed: from landing complete to tests passed and the
        batch's maintenance done."""
        spark, tracer, b = self.ctx.spark, self.ctx.tracer, self.batch_no
        self.batch_no += 1
        path = os.path.join(self.landing, f"batch_{b:05d}.parquet")
        rows = MEDALLION_BATCH_ROWS if b else MEDALLION_INITIAL_ROWS
        self.source.next_batch(b, rows).to_parquet(
            path, index=False, coerce_timestamps="us"
        )
        self.landed_bytes += os.path.getsize(path)
        self.landed_rows += rows
        group = sparkstats.group_for(f"batch{b}")
        spark.sparkContext.setJobGroup(group, f"batch {b}")
        tracer.set_op(group)
        self.stamp["batch"] = b
        silver = self.tables["silver"]
        t0 = time.perf_counter()
        with tracer.span("graph.run"):
            out = self.graph.run(spark, {"landing": spark.read.parquet(path)})
        t1 = time.perf_counter()
        with tracer.span("graph.tests"):
            _schema_tests(out["silver"], out["gold"])
        maint: dict[str, float] = {}
        if b % MAINTENANCE_EVERY == MAINTENANCE_EVERY - 1:
            c0 = time.perf_counter()
            silver.compact(spark)
            c1 = time.perf_counter()
            silver.vacuum(retention_ms=0)
            maint["compact"] = c1 - c0
            maint["vacuum"] = time.perf_counter() - c1
            self.vacuumed_at = silver.latest_version
        if b % TIME_TRAVEL_EVERY == 1:
            v = max(silver.latest_version - TIME_TRAVEL_BACK, self.vacuumed_at)
            r0 = time.perf_counter()
            silver.read(spark, as_of=v).count()
            maint["read_asof"] = time.perf_counter() - r0
        t2 = time.perf_counter()
        if tracer.enabled:
            # untimed: log replay per table, to show it reset at checkpoints
            for name, tbl in self.tables.items():
                with tracer.span("deltalike.log_replay"):
                    r0 = time.perf_counter()
                    version = tbl.latest_version
                    tbl.live_files()
                    dt = time.perf_counter() - r0
                self.timings["replay"].append(dt)
                self.replay_series.append(
                    (name, version, _commits_since_checkpoint(tbl.path, version), dt)
                )
        if res is None:
            return
        for k, dt in maint.items():
            self.timings[k].append(dt)
        if tracer.enabled:
            with tracer.span("trace.counters"):
                res.counters.append(sparkstats.read_group(spark.sparkContext, group))
        res.attempted += 1
        res.latencies.append(t2 - t0)
        res.labels.append(f"batch {b}")
        res.build_s.append(t1 - t0)
        res.exec_s.append(t2 - t1)
        self.timings["graph"].append(t1 - t0)
        self.timings["batch"].append(t2 - t0)
        for m in self.tables:
            self.timings[f"model.{m}"].append(self.stamp[m])


def _commits_since_checkpoint(table: str, version: int) -> int:
    """JSON commits a reader replays on top of the last checkpoint."""
    try:
        with open(os.path.join(table, "_delta_log", "_last_checkpoint")) as fh:
            return version - json.load(fh)["version"]
    except FileNotFoundError:
        return version + 1


def build_history(spark: SparkSession, sf_dir: str) -> None:
    """Land and refresh ``HISTORY_BATCHES`` batches from ``BASE_SEED``
    into ``history_dir(sf_dir)``, published by rename."""
    out = history_dir(sf_dir)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    ctx = Ctx(spark=spark, sf_dir=sf_dir, seed=fixtures.BASE_SEED, seconds=0.0,
              clients=1, tracer=Tracer(enabled=False), run_dir=tmp)
    m = _Medallion(ctx, tmp, fixtures.BASE_SEED)
    for _ in range(HISTORY_BATCHES):
        m.step(None)
    os.replace(tmp, out)


def medallion_pipeline(ctx: Ctx) -> Result:
    """One orchestrator. It continues the checkout's table history with
    batches from ``ctx.seed``: after an untimed pass that checks each
    pipeline op, seeded cycles of MAINTENANCE_EVERY batches and one run
    of each op. The batches are not warmed up: they run in landing order,
    so the first-batch cost always falls on the same batch. At the end
    gold and silver are checked against DuckDB over every landed batch."""
    from dbt_local_duckdb_deltalake_project_spark.catalog import TABLES
    from dbt_local_duckdb_deltalake_project_spark.sources.deltalike import (
        CHECKPOINT_INTERVAL,
    )

    res = Result()
    root = os.path.join(ctx.run_dir, "medallion")
    shutil.copytree(history_dir(ctx.sf_dir), root)
    m = _Medallion(ctx, root, ctx.seed)
    ops = _oracle_ops(PIPELINE_OPS)
    _warmup_checks(ctx, ops, res)
    before = set(listing(m.storage))
    rows0, bytes0 = m.landed_rows, m.landed_bytes
    written: dict[str, int] = {}
    run_op = _op_runner(ctx, res)

    def run_item(item: str, timed: bool) -> None:
        if item != BATCH:
            return run_op(item, timed)
        try:
            m.step(res)
        except Exception:  # noqa: BLE001 — counted as failed, never retried
            res.attempted += 1
            res.fail(f"batch {m.batch_no - 1}: {traceback.format_exc(limit=3)}")
        # every file a batch created, even one a later compaction removes
        for p, size in listing(m.storage).items():
            if p not in before:
                written.setdefault(p, size)

    items = [BATCH] * MAINTENANCE_EVERY + ops
    _closed_loop(ctx, items, res, run_item)
    if m.min_version() < 2 * CHECKPOINT_INTERVAL:
        res.fail(f"table versions {m.min_version()} < {2 * CHECKPOINT_INTERVAL}")

    con = oracle.connect(ctx.sf_dir, TABLES)
    try:
        for name, sql in (("gold", _GOLD_SQL), ("silver", _SILVER_SQL)):
            res.attempted += 1
            got = m.tables[name].read(ctx.spark).toPandas()
            want = con.execute(sql.format(landing=m.landing)).fetchdf()
            diff = oracle.mismatch(got, want)
            if diff is not None:
                res.fail(f"{name} table: {diff}")
    finally:
        con.close()

    live = [a for tbl in m.tables.values() for a in tbl.live_files()]
    med = lambda xs: float(np.median(xs)) if xs else 0.0  # noqa: E731
    refresh_s = sum(m.timings["batch"])
    res.layer.update({
        "deltalike.files_live": float(len(live)),
        "medallion.write_amp": sum(written.values()) / (m.landed_bytes - bytes0),
        "medallion.space_amp": (
            sum(listing(m.storage).values()) / max(sum(a.get("size", 0) for a in live), 1)
        ),
        "medallion.rows_per_s": (m.landed_rows - rows0) / refresh_s if refresh_s else 0.0,
        "graph.run_s": med(m.timings["graph"]),
        **{f"graph.model_s.{t}": med(m.timings[f"model.{t}"]) for t in m.tables},
        "deltalike.log_replay_s": med(m.timings["replay"]),
        "deltalike.read_asof_s": med(m.timings["read_asof"]),
        "deltalike.compact_s": med(m.timings["compact"]),
        "deltalike.vacuum_s": med(m.timings["vacuum"]),
    })
    res.report["batches"] = len(m.timings["batch"])
    res.report["ops_per_cycle"] = len(items)
    res.report["versions"] = {n: tbl.latest_version for n, tbl in m.tables.items()}
    if ctx.tracer.enabled:
        # (table, version, JSON commits replayed, replay ms)
        res.report["log_replay"] = [
            (name, v, n, round(dt * 1e3, 3)) for name, v, n, dt in m.replay_series
        ]
    return res


WORKLOADS = {
    "analyst_sql": analyst_sql,
    "medallion_pipeline": medallion_pipeline,
}
