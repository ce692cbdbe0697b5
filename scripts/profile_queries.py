#!/usr/bin/env python
"""Serial isolated profiler for declared queries (optimization guide §1).

Runs each named query (or the N most expensive per BENCH_DETAIL.json)
SERIALLY in one warm session against $SPARK_GRAFT_SF_DIR through the
noop sink, prints per-query wall seconds, executor CPU seconds (summed
over the query's stages from Spark's status store, as perfbench's
``exec.cpu_s``) and Janino compiles, and (with
--plans DIR) writes `<query>_<tag>.txt` files containing
explain("formatted") output.

``--repeat N`` runs the whole list N times, as passes, and prints every
pass; the closing total takes each query's best pass. Passes, not N
back-to-back runs of one query, because a recurring workload interleaves
queries: a query repeated alone always hits Spark's codegen cache, while
a pass shows whether the list's generated classes fit in it (a non-zero
compile count after the first pass means they do not).

Usage:
    python scripts/profile_queries.py q1 q2 ...           # time these
    python scripts/profile_queries.py --top 30            # top-30 by sidecar
    python scripts/profile_queries.py --repeat 3 q1 q2    # three passes
    python scripts/profile_queries.py --plans plans/r13 --tag before q1 q2
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _write_plan(df, plans_dir: str, name: str, tag: str) -> None:
    os.makedirs(plans_dir, exist_ok=True)
    try:
        txt = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
    except Exception:  # noqa: BLE001
        txt = df._jdf.queryExecution().explainString(  # noqa: SLF001
            getattr(
                df._sc._jvm.org.apache.spark.sql.execution,  # noqa: SLF001
                "ExplainMode",
            ).fromString("formatted")
        )
    with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
        f.write(txt)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--plans", default="")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--repeat", type=int, default=1)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from __spark_entry__ import queries

    from dbt_local_duckdb_deltalake_project_spark.prestage import prestage
    from dbt_local_duckdb_deltalake_project_spark.session import get_spark
    from perfbench.sparkstats import group_for, read_group

    qs = queries()
    names = list(args.names)
    if args.top:
        with open(os.path.join(_REPO, "BENCH_DETAIL.json")) as f:
            cost = json.load(f)["queries"]
        names += [
            n
            for n, _ in sorted(cost.items(), key=lambda kv: -kv[1])
            if n in qs
        ][: args.top]

    spark = get_spark(app_name="profile")
    prestage(spark, sf_dir)
    # JVM warm-up, untimed
    qs["agg_groupby_basic"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    own_session_markers = ("_streamed", "stream_")
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
        .METRIC_COMPILATION_TIME()
    )
    results: dict[str, float] = {}
    for p in range(max(1, args.repeat)):
        print(f"# pass {p + 1}: wall_s  cpu_s  janino_compiles  query", flush=True)
        for name in names:
            s = (
                spark.newSession()
                if name.startswith(own_session_markers[1])
                or name.endswith(own_session_markers[0])
                else spark
            )
            group = group_for(name)
            spark.sparkContext.setJobGroup(group, f"profile:{name}")
            c0 = compiles.getCount()
            t0 = time.perf_counter()
            df = qs[name](s, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            cpu = read_group(spark.sparkContext, group)["exec.cpu_s"]
            results[name] = round(min(dt, results.get(name, dt)), 3)
            print(
                f"{dt:8.3f}  {cpu:7.3f}  {compiles.getCount() - c0:5d}  {name}",
                flush=True,
            )
            if args.plans and p == 0:
                _write_plan(df, os.path.join(_REPO, args.plans), name, args.tag)
    print(json.dumps({"total": round(sum(results.values()), 3), "n": len(results)}))
    spark.stop()


if __name__ == "__main__":
    main()
