"""dbt-style model graph: named models, ``ref()`` dependencies, four
materializations, topological execution (SURVEY.md §3.1 lifecycle).

A dbt project is a DAG of SQL models executed in topo order with a
materialization strategy per node (ref README.md:1 — the reference IS a
dbt project). Here each model is a Python function
``fn(spark, deps: dict[str, DataFrame]) -> DataFrame`` and the runner
materializes it:

- ``view``        → ``createOrReplaceTempView`` (logical only)
- ``table``       → overwrite-write to versioned storage, read the new
                    version back (a log-only read: file list and schema
                    come from the Delta log), register
- ``incremental`` → high-watermark append (or MERGE when ``unique_key``,
                    whose returned state is registered as is) into
                    versioned storage
- ``ephemeral``   → not materialized; DataFrame inlined into consumers
                    (Catalyst sees one fused plan — the CTE analogue)

Scale notes: ``table`` materializations cut lineage (a 100-model DAG
re-computed lazily would explode the plan); ``incremental`` is the only
strategy that stays O(new data) as history grows — identical to dbt's
``is_incremental()`` + ``unique_key`` contract.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.deltalike import DeltaLikeTable

ModelFn = Callable[[SparkSession, dict[str, DataFrame]], DataFrame]


@dataclass
class Model:
    name: str
    fn: ModelFn
    deps: list[str] = field(default_factory=list)
    materialized: str = "view"  # view | table | incremental | ephemeral
    unique_key: str | None = None  # incremental: MERGE instead of append
    watermark_col: str | None = None  # incremental: high-watermark filter
    tags: list[str] = field(default_factory=list)  # dbt `tags:` config
    # dbt `on_schema_change` (incremental only): 'ignore' drops source
    # columns the target lacks (dbt's default); 'append_new_columns'
    # evolves the target schema through MERGE, untouched rows NULL.
    on_schema_change: str = "ignore"
    # dbt `pre-hook` / `post-hook`: callables run around this model's
    # materialization. pre_hook receives (spark, {"node": name});
    # post_hook additionally gets the materialized DataFrame under
    # "df" (dbt's `{{ this }}`) so audit hooks can count/inspect it.
    pre_hook: list = field(default_factory=list)
    post_hook: list = field(default_factory=list)


class ModelGraph:
    """Topo-ordered executor for a set of Models (a tiny dbt runtime)."""

    def __init__(self, storage_root: str):
        self.storage_root = storage_root
        self.models: dict[str, Model] = {}

    def add(self, model: Model) -> None:
        if model.name in self.models:
            raise ValueError(f"duplicate model {model.name}")
        self.models[model.name] = model

    def model(
        self,
        name: str,
        deps: list[str] | None = None,
        materialized: str = "view",
        unique_key: str | None = None,
        watermark_col: str | None = None,
        tags: list[str] | None = None,
        on_schema_change: str = "ignore",
        pre_hook: list | None = None,
        post_hook: list | None = None,
    ) -> Callable[[ModelFn], ModelFn]:
        def deco(fn: ModelFn) -> ModelFn:
            self.add(
                Model(
                    name,
                    fn,
                    deps or [],
                    materialized,
                    unique_key,
                    watermark_col,
                    tags or [],
                    on_schema_change,
                    pre_hook or [],
                    post_hook or [],
                )
            )
            return fn

        return deco

    def select(self, selector: str) -> list[str]:
        """dbt node selection (`dbt ls/run --select`), the graph subset
        language users script deploys and backfills with. Supported
        subset: space-separated terms union; each term is
        ``[+]body[+]`` where a leading ``+`` adds all ancestors, a
        trailing ``+`` adds all descendants, and body is ``tag:<name>``
        or a model name with ``*`` wildcards (fnmatch). Returns the
        selected model names sorted. Selection is pure driver-side graph
        walking — O(models + edges), nothing about the data is touched.
        """
        import fnmatch

        children: dict[str, list[str]] = {n: [] for n in self.models}
        for m in self.models.values():
            for d in m.deps:
                if d in self.models:
                    children[d].append(m.name)

        def closure(seeds: set[str], edges) -> set[str]:
            out, todo = set(seeds), list(seeds)
            while todo:
                for nxt in edges(todo.pop()):
                    if nxt not in out:
                        out.add(nxt)
                        todo.append(nxt)
            return out

        selected: set[str] = set()
        for term in selector.split():
            up = term.startswith("+")
            down = term.endswith("+")
            body = term.strip("+")
            if body.startswith("tag:"):
                tag = body[len("tag:"):]
                seeds = {m.name for m in self.models.values() if tag in m.tags}
            else:
                seeds = {
                    n for n in self.models if fnmatch.fnmatchcase(n, body)
                }
            # +x+ = ancestors(x) ∪ {x} ∪ descendants(x), both closures
            # from the ORIGINAL seeds (dbt's semantics — not
            # descendants-of-ancestors)
            term_sel = set(seeds)
            if up:
                term_sel |= closure(
                    seeds,
                    lambda n: [
                        d for d in self.models[n].deps if d in self.models
                    ],
                )
            if down:
                term_sel |= closure(seeds, lambda n: children[n])
            selected |= term_sel
        return sorted(selected)

    def _topo(self) -> list[Model]:
        order: list[Model] = []
        seen: dict[str, int] = {}  # 0=visiting, 1=done

        def visit(name: str) -> None:
            state = seen.get(name)
            if state == 1:
                return
            if state == 0:
                raise ValueError(f"cycle at model {name}")
            seen[name] = 0
            for d in self.models[name].deps:
                if d in self.models:
                    visit(d)
            seen[name] = 1
            order.append(self.models[name])

        for name in self.models:
            visit(name)
        return order

    def run(
        self,
        spark: SparkSession,
        sources: dict[str, DataFrame],
        on_run_start=None,
        on_run_end=None,
    ) -> dict[str, DataFrame]:
        """Execute the DAG; returns every model's final DataFrame.

        ``sources`` seed the dep namespace (dbt ``source()``); model
        outputs become available to downstream models (dbt ``ref()``).
        ``on_run_start(spark)`` / ``on_run_end(spark, resolved)`` are
        dbt's project-level `on-run-start` / `on-run-end` hooks; the
        per-model ``pre_hook`` / ``post_hook`` lists fire around each
        materialization. Hooks do metadata-sized work (audit inserts,
        grants) — O(models) tiny actions, never O(data).
        """
        if on_run_start is not None:
            on_run_start(spark)
        resolved: dict[str, DataFrame] = dict(sources)
        for m in self._topo():
            deps = {d: resolved[d] for d in m.deps}
            for h in m.pre_hook:
                h(spark, {"node": m.name})
            df = m.fn(spark, deps)
            out = self._materialize(spark, m, df)
            for h in m.post_hook:
                h(spark, {"node": m.name, "df": out})
            resolved[m.name] = out
        if on_run_end is not None:
            on_run_end(spark, resolved)
        return resolved

    def _materialize(
        self, spark: SparkSession, m: Model, df: DataFrame
    ) -> DataFrame:
        if m.materialized == "ephemeral":
            return df  # stays lazy; consumers inline the plan
        if m.materialized == "view":
            df.createOrReplaceTempView(m.name)
            return df
        tbl = DeltaLikeTable(os.path.join(self.storage_root, m.name))
        if m.materialized not in ("table", "incremental"):
            raise ValueError(f"unknown materialization {m.materialized}")
        if m.materialized == "table" or tbl.latest_version < 0:
            tbl.write(df, mode="overwrite")
            out = tbl.read(spark)
        elif m.unique_key:
            out = tbl.merge(
                spark,
                df,
                on=m.unique_key,
                evolve_schema=(m.on_schema_change == "append_new_columns"),
            )
        else:
            new = df
            if m.watermark_col:
                hw = tbl.read(spark).agg(F.max(m.watermark_col)).collect()[0][0]
                if hw is not None:
                    new = df.filter(F.col(m.watermark_col) > F.lit(hw))
            tbl.write(new, mode="append")
            out = tbl.read(spark)
        out.createOrReplaceTempView(m.name)
        return out
