#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload analyst_sql --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run in a checkout generates
the fixture tables, stages them (``prestage``) and builds the medallion
table history, in a child process and untimed. Every run then sets the
engine up (``setup_s``: process start to the workload's warm-up), runs the
workload's timed closed loop, checks the results against DuckDB and
prints, as the last line of standard output, one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``: the
``end_to_end`` metrics of BENCHMARK.json with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``. The line before it reports the
pinned environment, sample counts, the error rate and report-only
figures.

Exits non-zero, without the JSON line, when the engine package is not in
the checkout; exits 1 after the JSON line when a result was wrong.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "dbt_local_duckdb_deltalake_project_spark"
WARMUP_OP = "agg_groupby_basic"

# The pinned environment. The host has 4 cores and 15 GB shared with
# other work; session.py's 48g driver default does not fit it.
SCALE_FACTOR = 0.01
DRIVER_MEM = "2g"
LOCAL_DIRS = ".perfbench/spark-local"
FLUSH_POLICY = "writes land in the OS page cache; nothing is fsynced"


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _pin_environment() -> None:
    local = os.path.join(ROOT, LOCAL_DIRS)
    tmp = os.path.join(ROOT, ".perfbench", "tmp")  # temp files stay in the checkout
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ.pop("SPARK_GRAFT_SHUFFLE", None)
    os.environ.pop("SPARK_GRAFT_SCHEDULER", None)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # a fixed-size driver heap: with a growable one, the JVM's resident
    # size follows when the collector chose to grow the heap, and peak
    # RSS varied by a fifth between runs of the same code
    java_opts = f"-Xms{DRIVER_MEM} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def bootstrap(sf: float, sf_dir: str, marker: str) -> None:
    """Generate the fixtures, stage them and build the medallion history,
    once per checkout."""
    from perfbench import fixtures, workloads

    if not os.path.isdir(sf_dir):
        os.makedirs(os.path.dirname(sf_dir), exist_ok=True)
        fixtures.write_base_tables(sf, sf_dir)
    from dbt_local_duckdb_deltalake_project_spark.prestage import prestage
    from dbt_local_duckdb_deltalake_project_spark.session import get_spark

    spark = get_spark(app_name="perfbench-bootstrap")
    try:
        prestage(spark, sf_dir)
        workloads.build_history(spark, sf_dir)
    finally:
        _stop_spark(spark)
    with open(marker, "w") as fh:
        fh.write(sf_dir)


def setup(sf_dir: str, tracer):
    """Engine set-up: session, registry import, views, and one warm-up
    op. Returns the session."""
    from dbt_local_duckdb_deltalake_project_spark.catalog import register_views
    from dbt_local_duckdb_deltalake_project_spark.session import get_spark

    with tracer.span("session.start"):
        spark = get_spark(app_name="perfbench")
    with tracer.span("operators.import"):
        from dbt_local_duckdb_deltalake_project_spark.operators import QUERIES
    with tracer.span("catalog.register"):
        register_views(spark, sf_dir)
    with tracer.span("operators.warmup"):
        QUERIES[WARMUP_OP](spark, sf_dir).write.format("noop").mode("overwrite").save()
    return spark


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _pct(xs: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(xs, q)) if xs else 0.0


def main(argv: list[str] | None = None) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        _fail(f"engine package {PACKAGE}/ not found next to perfbench/")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SCALE_FACTOR,
                    help="fixture scale factor (the self-test runs a tiny one)")
    ap.add_argument("--bootstrap", action="store_true",
                    help="generate and stage the fixtures, then exit")
    args = ap.parse_args(argv)

    _pin_environment()
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    sf_dir = os.path.join(ROOT, ".perfbench", "data", f"pb_sf{args.sf:g}")
    marker = sf_dir + ".staged"
    if args.bootstrap:
        bootstrap(args.sf, sf_dir, marker)
        return 0

    from perfbench import workloads
    from perfbench.rss import PeakRss
    from perfbench.tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        _fail(f"--workload must be one of {sorted(workloads.WORKLOADS)}")
    t_start = _T0
    staging = "warm"
    if not os.path.exists(marker):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--bootstrap",
             "--sf", str(args.sf)],
            check=True, timeout=800,
        )
        t_start = time.perf_counter()
        staging = "cold: bootstrapped by this run, before set-up"

    rss = PeakRss()
    rss.start()
    tracer = Tracer(enabled=bool(args.trace))
    delta_events = []
    if tracer.enabled:
        from perfbench import instrument

        delta_events = instrument.install(tracer)

    spark = setup(sf_dir, tracer)
    setup_s = time.perf_counter() - t_start
    if tracer.enabled:
        # the checkout's staging is done; this times prestage's pass over
        # a staged workspace, which every engine process may make
        from dbt_local_duckdb_deltalake_project_spark.prestage import prestage

        with tracer.span("prestage.run"):
            prestage(spark, sf_dir)

    run_dir = os.path.join(ROOT, ".perfbench", "runs", str(os.getpid()))
    clients = _cores() if args.workload == "analyst_sql" else 1
    ctx = workloads.Ctx(
        spark=spark, sf_dir=sf_dir, seed=args.seed, seconds=args.seconds,
        clients=clients, tracer=tracer, run_dir=run_dir,
    )
    try:
        res = workloads.WORKLOADS[args.workload](ctx)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        _stop_spark(spark)
        peak_mb = rss.stop()

    lat = res.latencies
    end_to_end = {
        "setup_s": setup_s,
        "op_p50_s": _pct(lat, 50),
        # Little's law for a closed loop whose clients never idle: the
        # tail of the window (one op still running) does not count
        "ops_per_s": clients * len(lat) / sum(lat) if lat else 0.0,
        "peak_rss_mb": peak_mb,
    }
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": {
            "spark_master": f"local[{_cores()}]", "clients": clients,
            "SPARK_DRIVER_MEM": DRIVER_MEM, "driver_heap": f"-Xms{DRIVER_MEM}",
            "SPARK_LOCAL_DIRS": LOCAL_DIRS,
            "sf_dir": os.path.relpath(sf_dir, ROOT), "staging": staging,
            "flush": FLUSH_POLICY,
        },
        # too few samples for a bounded tail: reported, not end-to-end
        "samples": len(lat), "op_p90_s": _pct(lat, 90), "window_s": res.wall_s,
        "latency_s": {
            k: round(_median([x for x, lb in zip(lat, res.labels) if lb == k]), 4)
            for k in sorted(set(res.labels))
        },
        "error_rate": res.failed / max(res.attempted, 1),
        **res.report,
    }
    if tracer.enabled:
        values = layer_metrics(tracer, res, delta_events)
        report["self_s_by_layer"] = tracer.self_time_by_layer()
        report["traced_end_to_end"] = end_to_end
        tracer.dump(os.path.join(
            ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.jsonl"
        ))
    else:
        values = end_to_end
    for err in res.errors:
        print(f"perfbench error: {err}")
    print("perfbench report: " + json.dumps(report, default=str))
    units = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    out = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


def layer_metrics(tracer, res, delta_events) -> dict[str, float]:
    """Per-layer figures of a traced run. Times are per-op (or per-set-up)
    medians; exec and Delta counts are per timed op, over the timed
    window; the tracing overhead is the traced-only work (status-store
    reads, file listings, span bookkeeping) per timed op."""
    from perfbench.sparkstats import COUNTERS
    from perfbench.instrument import DELTA_COUNTERS

    n = max(len(res.latencies), 1)
    delta = dict.fromkeys(DELTA_COUNTERS, 0.0)
    for t, k, v in delta_events:
        if t >= res.window_start:
            delta[k] += v
    traced_only = sum(
        s.end - s.start for s in tracer.spans if s.name.startswith("trace.")
    ) + len(tracer.spans) * tracer.cost_per_span()
    out: dict[str, float] = {
        "session.start_s": _median(tracer.durations("session.start")),
        "prestage.s": _median(tracer.durations("prestage.run")),
        "catalog.register_s": _median(tracer.durations("catalog.register")),
        "operators.build_s": _median(res.build_s),
        "operators.exec_s": _median(res.exec_s),
        **{k: sum(c[k] for c in res.counters) / max(len(res.counters), 1)
           for k in COUNTERS},
        **{k: v / n for k, v in delta.items()},
        "graph.run_s": 0.0,
        "graph.model_s.bronze": 0.0,
        "graph.model_s.silver": 0.0,
        "graph.model_s.gold": 0.0,
        "deltalike.files_live": 0.0,
        "deltalike.log_replay_s": 0.0,
        "deltalike.read_asof_s": 0.0,
        "deltalike.compact_s": 0.0,
        "deltalike.vacuum_s": 0.0,
        "medallion.write_amp": 0.0,
        "medallion.space_amp": 0.0,
        "medallion.rows_per_s": 0.0,
        "streaming.replay_s": _median(tracer.durations("streaming.replay")),
        "trace.spans": float(len(tracer.spans)),
        "trace.overhead_s": traced_only / n,
    }
    out.update(res.layer)
    return out


if __name__ == "__main__":
    sys.exit(main())
