"""Traced-run instrumentation of the engine's layers, applied from outside.

Only the traced run calls ``install``: it wraps the public methods of
``sources.deltalike.DeltaLikeTable`` and the wait on a streaming query
(where every streaming twin replays) in spans, and counts the files each
Delta write, compaction and vacuum creates or removes by listing the
table directory around the call. The listings are spans of the ``trace`` layer, so they count in
the tracing overhead. The engine's code is not changed; the untraced
run pays nothing.
"""

from __future__ import annotations

import functools
import os
import threading
import time

from .tracing import Tracer

DELTA_COUNTERS = (
    "deltalike.commits", "deltalike.files_written", "deltalike.bytes_written",
    "deltalike.log_bytes", "deltalike.bytes_rewritten", "deltalike.files_removed",
)
_SPANNED = ("read", "merge", "live_files")
_LOG = f"{os.sep}_delta_log{os.sep}"


def listing(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.startswith(".tmp-"):
                continue
            p = os.path.join(dirpath, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                continue
    return out


def install(tracer: Tracer) -> list[tuple[float, str, int]]:
    """Wrap the layers; returns the list the Delta wrappers append
    ``(time, counter, amount)`` events to."""
    from dbt_local_duckdb_deltalake_project_spark.sources.deltalike import (
        DeltaLikeTable,
    )
    from pyspark.sql.streaming.query import StreamingQuery

    events: list[tuple[float, str, int]] = []
    lock = threading.Lock()

    def diffed(name: str, fn, tally):
        @functools.wraps(fn)
        def call(self, *args, **kwargs):
            with tracer.span(f"deltalike.{name}"):
                with tracer.span("trace.listing"):
                    before = listing(self.path)
                out = fn(self, *args, **kwargs)
                with tracer.span("trace.listing"):
                    after = listing(self.path)
            now = time.perf_counter()
            with lock:
                events.extend((now, k, v) for k, v in tally(before, after).items())
            return out

        return call

    def on_write(before, after):
        new = {p: s for p, s in after.items() if p not in before}
        log = {p: s for p, s in new.items() if _LOG in p}
        return {
            "deltalike.commits": sum(1 for p in log if p.endswith(".json")),
            "deltalike.log_bytes": sum(log.values()),
            "deltalike.files_written": len(new) - len(log),
            "deltalike.bytes_written": sum(new.values()) - sum(log.values()),
        }

    def on_compact(before, after):
        return {"deltalike.bytes_rewritten": sum(
            s for p, s in after.items() if p not in before and _LOG not in p
        )}

    def on_vacuum(before, after):
        return {"deltalike.files_removed": sum(1 for p in before if p not in after)}

    DeltaLikeTable.write = diffed("write", DeltaLikeTable.write, on_write)
    DeltaLikeTable.compact = diffed("compact", DeltaLikeTable.compact, on_compact)
    DeltaLikeTable.vacuum = diffed("vacuum", DeltaLikeTable.vacuum, on_vacuum)
    for name in _SPANNED:
        setattr(DeltaLikeTable, name,
                tracer.wrap(f"deltalike.{name}", getattr(DeltaLikeTable, name)))
    # every streaming twin replays by starting a query and awaiting it
    StreamingQuery.awaitTermination = tracer.wrap(
        "streaming.replay", StreamingQuery.awaitTermination
    )
    return events
