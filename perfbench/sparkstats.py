"""Spark execution counters for one op, read from Spark's own status store.

Each op runs under a job group of its own (``group_for``), so the jobs
of one execution are never mixed with an earlier repeat of the same op.
Streaming micro-batches run under their stream's job group, not the
op's, so for the streaming twins these counters cover only the jobs the
op itself starts.
"""

from __future__ import annotations

import itertools

from pyspark import SparkContext

COUNTERS = (
    "exec.jobs", "exec.stages", "exec.tasks", "exec.tasks_failed",
    "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "exec.input_bytes",
)

_seq = itertools.count()


def group_for(op: str) -> str:
    """A job group name unique within the process."""
    return f"perfbench-{next(_seq)}-{op}"


def read_group(sc: SparkContext, group: str) -> dict[str, float]:
    """Sum the counters of every job started under ``group``.

    Stage attempts that were skipped (their shuffle output was reused)
    ran no tasks and add nothing."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(COUNTERS, 0.0)
    stage_ids: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["exec.jobs"] += 1
        stage_ids.update(info.stageIds)
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — py4j error: stage evicted from the store
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        out["exec.stages"] += 1
        out["exec.tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
        out["exec.tasks_failed"] += sd.numFailedTasks()
        out["exec.run_s"] += sd.executorRunTime() / 1e3
        out["exec.cpu_s"] += sd.executorCpuTime() / 1e9
        out["exec.gc_s"] += sd.jvmGcTime() / 1e3
        out["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["exec.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["exec.input_bytes"] += sd.inputBytes()
    return out
