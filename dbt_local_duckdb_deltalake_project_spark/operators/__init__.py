"""Operator inventory (SURVEY.md §2). Importing this package populates the
registry in registration order; add new operator modules to _MODULES as
they land. The driver's verification order lives in
``__spark_entry__.queries()``."""

from __future__ import annotations

from importlib import import_module

from .registry import ORACLE, QUERIES, register  # noqa: F401

_MODULES = [
    "aggregates",
    "rowops",
    "joins",
    "setops",
    "windows",
    "subqueries",
    "tpch",
    "functions_lib",
    "eventtime",
    "llm_ops",
    "udfs",
    "scans",
    "delta_ops",
    "dbt_ops",
    "streaming_ops",
    "multimodal",
    "medallion",
    "graph_ops",
]

for _m in _MODULES:
    import_module(f"{__name__}.{_m}")
