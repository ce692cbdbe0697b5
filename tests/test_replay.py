"""The stream-replay primitive: replays are session-local, so overlapping
ones leave the caller's session alone; staged streams read their schema
from the parquet footer; the Delta sink commits one version per source
file."""

from __future__ import annotations

import os
import threading
import uuid

import pytest
from pyspark.sql import functions as F

from dbt_local_duckdb_deltalake_project_spark.catalog import table_path
from dbt_local_duckdb_deltalake_project_spark.operators import ORACLE, QUERIES
from dbt_local_duckdb_deltalake_project_spark.sources.deltalike import DeltaLikeTable
from dbt_local_duckdb_deltalake_project_spark.sources.workspace import workdir
from dbt_local_duckdb_deltalake_project_spark.streaming.twins import (
    _staged_schema,
    read_staged_stream,
    replay,
    run_stream_to_batch,
    stage_event_files,
    stage_event_files_3way,
)

from ._compare import assert_same

REPLAY_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled",
)


def _confs(spark) -> tuple[str, ...]:
    return tuple(spark.conf.get(k) for k in REPLAY_CONFS)


def _wait(event: threading.Event) -> None:
    assert event.wait(120), "the other replay never reached its step"


def test_overlapping_replays_leave_caller_conf(spark, sf_dir):
    """A starts, B starts, A finishes, B finishes, on one session. A
    replay that saved and restored the caller's conf left it at B's saved
    values, which were A's replay values."""
    before = _confs(spark)
    a_started, b_started, a_done = (threading.Event() for _ in range(3))
    seen: list[tuple[str, ...]] = []
    results: dict[str, int] = {}
    errors: list[BaseException] = []

    def transform_a(stream):
        a_started.set()
        _wait(b_started)
        seen.append(_confs(spark))
        return stream.select("event_id")

    def transform_b(stream):
        b_started.set()
        _wait(a_done)
        seen.append(_confs(spark))
        return stream.select("event_id")

    def run(name, transform, partitions, after=None, done=None):
        try:
            if after is not None:
                _wait(after)
            out = run_stream_to_batch(
                spark, sf_dir, f"overlap_{name}", transform,
                partitions=partitions, no_data_batch=False,
            )
            results[name] = out.count()
        except BaseException as exc:  # surfaced in the main thread
            errors.append(exc)
        finally:
            if done is not None:
                done.set()

    threads = [
        threading.Thread(target=run, args=("a", transform_a, 1, None, a_done)),
        threading.Thread(target=run, args=("b", transform_b, 2, a_started, None)),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(300)
    assert not errors, errors
    assert seen == [before, before]
    assert _confs(spark) == before
    n_events = spark.read.parquet(table_path(sf_dir, "events")).count()
    assert results == {"a": n_events, "b": n_events}


def test_replay_runs_in_caller_time_zone(spark, sf_dir):
    """A fresh session starts from the SparkConf, not from the caller's
    runtime conf, so the replay copies the caller's session time zone."""
    caller = spark.newSession()
    caller.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    src, ckpt = stage_event_files(spark, sf_dir, "replay_tz")
    hours = replay(
        caller, lambda s: read_staged_stream(s, src).select(F.hour("ts")), ckpt
    )
    want = caller.read.parquet(f"{src}/f0", f"{src}/f1").select(F.hour("ts"))
    assert sorted(hours.collect()) == sorted(want.collect())


def test_threaded_join_twins_match_oracles(spark, duck, sf_dir):
    """The inner-join twin skips the no-data batch and the outer-join
    twin needs it; run together on one session, both stay correct."""
    ids = ("stream_stream_join", "stream_left_outer_join")
    out: dict[str, object] = {}

    def run(qid):
        try:
            out[qid] = QUERIES[qid](spark, sf_dir).toPandas()
        except BaseException as exc:
            out[qid] = exc

    threads = [threading.Thread(target=run, args=(qid,)) for qid in ids]
    for th in threads:
        th.start()
    for th in threads:
        th.join(600)
    for qid in ids:
        assert not isinstance(out[qid], BaseException), out[qid]
        assert_same(out[qid], duck.sql(ORACLE[qid]).df(), qid)


def test_sink_commits_once_per_source_file(spark, sf_dir):
    """The update-mode sink skips the trailing no-data batch, which only
    evicted state and committed an empty append."""
    src, _ = stage_event_files(spark, sf_dir, "sink_files")
    n_files = len([d for d in os.listdir(src) if d.startswith("f")])
    QUERIES["stream_sink_deltalike"](spark, sf_dir).count()
    tbl = DeltaLikeTable(workdir(sf_dir, "stream_sink", fresh=False))
    assert len(tbl.history()) == n_files == 2


@pytest.fixture(scope="module")
def staged_sources(spark, sf_dir) -> list[str]:
    QUERIES["stream_corpus_ingest_dedup"](spark, sf_dir).count()
    return [
        stage_event_files(spark, sf_dir, "schema_fwd")[0],
        stage_event_files_3way(spark, sf_dir, "schema_rev3")[0],
        workdir(sf_dir, "stream_doc_src", fresh=False),
    ]


def test_staged_schema_is_sparks_inferred_schema(spark, staged_sources):
    for src in staged_sources:
        assert _staged_schema(src) == spark.read.parquet(f"{src}/f0").schema, src


@pytest.mark.parametrize("ts_type", ["INT96", "TIMESTAMP_MICROS", "NTZ"])
def test_staged_schema_covers_timestamp_encodings(spark, tmp_path, ts_type):
    """A staging session writes ``ts`` as INT96 or TIMESTAMP_MICROS
    depending on its pin, and a vanilla session's NTZ column as
    TIMESTAMP_NTZ."""
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", "UTC")
    if ts_type != "NTZ":
        s.conf.set("spark.sql.parquet.outputTimestampType", ts_type)
    ts = "timestamp_ntz" if ts_type == "NTZ" else "timestamp"
    src = str(tmp_path)
    s.sql(
        f"SELECT id AS event_id, CAST(TIMESTAMP '2024-01-15 00:00:00' AS {ts}) AS ts "
        "FROM range(3)"
    ).coalesce(1).write.parquet(f"{src}/f0")
    assert _staged_schema(src) == s.read.parquet(f"{src}/f0").schema
    assert read_staged_stream(s, src).schema["ts"].dataType.typeName() == "timestamp"


def test_staged_stream_starts_no_job(spark, staged_sources):
    sc = spark.sparkContext
    for src in staged_sources:
        group = f"staged-schema-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "build a staged stream")
        try:
            read_staged_stream(spark, src)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], src
