"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``dbt_local_duckdb_deltalake_project_spark``; this module just
re-exports the operator registry (SURVEY.md §2 inventory), with
``queries()`` ordered stalest-first for the driver's prefix window.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from dbt_local_duckdb_deltalake_project_spark.operators import ORACLE, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    TPC-H-Q1-shaped pricing summary: scan → filter → hash agg → sort
    (SURVEY.md §7.3 minimum slice).
    """
    return QUERIES["agg_groupby_basic"](spark, "/root/testdata/sf0.001")


def _last_checked() -> dict[str, int]:
    """id -> newest round N whose ``CORRECTNESS_rN.json`` has a row for it."""
    last: dict[str, int] = {}
    for name in os.listdir(_REPO):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", name)
        if not m:
            continue
        try:  # an unreadable record costs window order, never the contract
            with open(os.path.join(_REPO, name)) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for qid in rows:
            last[qid] = max(last.get(qid, 0), int(m.group(1)))
    return last


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, stalest
    first: the driver verifies a prefix window, so ids sort by their
    newest driver round (no row = round 0, so new ops lead; ties keep
    registration order)."""
    last = _last_checked()
    order = sorted(QUERIES, key=lambda q: last.get(q, 0))
    return {q: QUERIES[q] for q in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for every sql-mode query; rows-mode
    queries are intentionally absent (driver records rows-only check)."""
    return dict(ORACLE)
