"""Batch↔stream twin harness.

``replay`` is the one place a stream is started: it builds the query on
a ``spark.newSession()`` that carries the replay's shuffle-partition and
no-data-batch conf, drains it with ``trigger(availableNow=True)`` into a
memory sink or a ``foreachBatch`` callback, and returns the sink as a
table of that session. Replays are session-local by construction: the
caller's session conf is never written, so they may overlap on one
session. ``run_stream_to_batch`` stages the events fixture as a sequence
of parquet files (ordered by event time), replays them one file per
micro-batch through a caller-supplied transformation, and returns a
plain DataFrame — comparable against the batch twin or an oracle.

Multi-file replay is what makes watermarks real: the watermark advances
between micro-batches, so late rows in later files are gated — and,
from the THIRD file on, actually dropped: Spark applies the late-input
filter with the watermark committed one trigger behind the one used for
emission (measured on 4.1), so the out-of-order replay
(``stage_event_files_3way``) needs three files to make the drop real.
At 100 TB the same code reads a Kafka/files source; only the staging
step is test-local.
"""

from __future__ import annotations

import glob
import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import t
from ..sources.workspace import staged, workdir


def stage_event_files(
    spark: SparkSession, sf_dir: str, tag: str
) -> tuple[str, str]:
    """Write events as two ordered parquet files under a scratch source
    dir, split at the median day (early half then late half) — an
    in-order replay."""
    def build(src: str) -> None:
        ev = t(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        cut = "2024-01-15 00:00:00"
        # one file each: coalesce(1) so file order == micro-batch order
        ev.filter(F.col("ts") < cut).coalesce(1).write.parquet(f"{src}/f0")
        ev.filter(F.col("ts") >= cut).coalesce(1).write.parquet(f"{src}/f1")

    src = staged(sf_dir, "stream_src_fwd", build)
    ckpt = workdir(sf_dir, f"stream_ckpt_{tag}")  # checkpoints never shared
    return src, ckpt


def stage_event_files_3way(
    spark: SparkSession, sf_dir: str, tag: str
) -> tuple[str, str]:
    """Three-file out-of-order replay: f0 = LATE half, f1 = early half
    with even event_id, f2 = early half with odd event_id.

    Why three files: Spark's late-INPUT filter uses the watermark
    committed one batch behind the one used for emission (measured on
    4.1 — the documented one-trigger watermark lag), so in a two-file
    replay the second file's rows are never actually dropped (the
    filter still sees watermark 0). With three files the drop is real:
    f1 slips in under the lag, f2 arrives after the watermark from f0
    has propagated into the filter and is dropped in full.
    """
    def build(src: str) -> None:
        ev = t(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        cut = "2024-01-15 00:00:00"
        late = ev.filter(F.col("ts") >= cut)
        early = ev.filter(F.col("ts") < cut)
        parts = [
            late,
            early.filter(F.col("event_id") % 2 == 0),
            early.filter(F.col("event_id") % 2 == 1),
        ]
        for i, part in enumerate(parts):
            part.coalesce(1).write.parquet(f"{src}/f{i}")

    src = staged(sf_dir, "stream_src_rev3", build)
    ckpt = workdir(sf_dir, f"stream_ckpt_{tag}")  # checkpoints never shared
    return src, ckpt


def _staged_schema(src: str) -> T.StructType:
    """The schema Spark infers for ``src``'s staged files, without a
    Spark job: Spark writes its row schema into the footer of every
    parquet file it writes, and inference returns that schema with every
    field nullable. So the staged ``ts`` keeps whatever type the staging
    session wrote (INT96 and TIMESTAMP_MICROS both read as TIMESTAMP,
    TIMESTAMP_NTZ as itself)."""
    import pyarrow.parquet as pq

    part = sorted(glob.glob(f"{src}/f0/*.parquet"))[0]
    meta = pq.ParquetFile(part).metadata.metadata
    schema = T.StructType.fromJson(
        json.loads(meta[b"org.apache.spark.sql.parquet.row.metadata"])
    )
    return T.StructType(
        [T.StructField(f.name, f.dataType, True, f.metadata) for f in schema]
    )


def read_staged_stream(spark: SparkSession, src: str) -> DataFrame:
    """``readStream`` over a staged source dir, one file per micro-batch.

    Normalizes a TIMESTAMP_NTZ ``ts`` (staged by a pre-v2 vanilla
    session) back to TIMESTAMP — ``withWatermark`` rejects NTZ.
    """
    schema = _staged_schema(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    ts = schema["ts"].dataType if "ts" in schema.names else None
    if isinstance(ts, T.TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def replay(
    spark: SparkSession,
    build: Callable[[SparkSession], DataFrame],
    ckpt: str,
    *,
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    output_mode: str = "append",
    partitions: int = 1,
    no_data_batch: bool = True,
) -> DataFrame | None:
    """Drain the streaming frame ``build(s)`` to completion and return
    the memory sink as a table of ``s``, or hand each micro-batch to
    ``foreach_batch`` and return None.

    ``s`` is a ``spark.newSession()`` that carries the replay's conf, so
    nothing is written to the caller's session and replays on one
    session may overlap in any order. Build the stream on ``s``: its
    Python data sources and its sink view are registered there. A fresh
    session starts from the SparkConf, so the caller's session time zone
    (which ``catalog.read_table`` may have pinned at runtime) is copied.

    ``partitions``: ``spark.sql.shuffle.partitions`` for the replay.
    Streaming aggregations checkpoint one state-store file PER shuffle
    partition PER micro-batch and AQE cannot coalesce streaming plans,
    so a 200-partition default turns a tiny replay into hundreds of
    checkpoint files (measured 12 s for one query on a vanilla session).
    Windowed aggregations carry tiny state, so 1 partition halves
    checkpoint I/O (measured 3.3 s → 1.3 s at sf0.1); Python stateful
    operators (applyInPandasWithState) want parallelism across their
    Python workers instead. A cluster deployment sizes this to key
    cardinality.

    ``no_data_batch``: pass False ONLY for queries whose emitted rows
    cannot depend on the final no-data micro-batch — an INNER
    stream-stream join emits on match, and an update-mode aggregation
    emits every changed row in the batch that changed it, so the
    trailing batch does pure state cleanup. Watermarked aggregations in
    append mode and OUTER joins NEED it: their final windows / null-side
    rows only emit when the advanced watermark is processed, which
    availableNow only guarantees via that batch.
    """
    s = spark.newSession()
    tz = "spark.sql.session.timeZone"
    s.conf.set(tz, spark.conf.get(tz))
    s.conf.set("spark.sql.shuffle.partitions", str(partitions))
    s.conf.set(
        "spark.sql.streaming.noDataMicroBatches.enabled", str(no_data_batch).lower()
    )
    writer = (
        build(s)
        .writeStream.outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
    )
    if foreach_batch is not None:
        writer.foreachBatch(foreach_batch).start().awaitTermination()
        return None
    writer.format("memory").queryName("replay").start().awaitTermination()
    return s.table("replay")


def run_stream_to_batch(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    transform: Callable[[DataFrame], DataFrame],
    output_mode: str = "append",
    partitions: int = 1,
    three_way: bool = False,
    no_data_batch: bool = True,
) -> DataFrame:
    """Replay staged event files through readStream → transform → memory
    sink (``replay``); returns the drained sink as a DataFrame."""
    if three_way:
        src, ckpt = stage_event_files_3way(spark, sf_dir, tag)
    else:
        src, ckpt = stage_event_files(spark, sf_dir, tag)
    return replay(
        spark,
        lambda s: transform(read_staged_stream(s, src)),
        ckpt,
        output_mode=output_mode,
        partitions=partitions,
        no_data_batch=no_data_batch,
    )
