"""Batch↔stream twin harness.

``run_stream_to_batch`` stages the events fixture as a sequence of
parquet files (ordered by event time), replays them through
``spark.readStream`` one file per micro-batch, applies a caller-supplied
transformation, and drains to a memory sink with
``trigger(availableNow=True)`` until termination. The result is a plain
DataFrame — comparable against the batch twin or an oracle.

Multi-file replay is what makes watermarks real: the watermark advances
between micro-batches, so late rows in later files are gated — and,
from the THIRD file on, actually dropped: Spark applies the late-input
filter with the watermark committed one trigger behind the one used for
emission (measured on 4.1), so a two-file replay only demonstrates
emission gating while ``stage_event_files_3way`` demonstrates the drop.
At 100 TB the same code reads a Kafka/files source; only the staging
step is test-local.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import t
from ..sources.workspace import staged, workdir


def stage_event_files(
    spark: SparkSession, sf_dir: str, tag: str, late_fraction: bool = False
) -> tuple[str, str]:
    """Write events as ordered parquet files under a scratch source dir.

    Default: two files split at the median day (early half then late
    half) — an in-order replay. With ``late_fraction``: file 1 carries
    the LATER half first, file 2 the earlier half — file 2's rows land
    behind the EMISSION watermark (their windows only surface once the
    watermark passes them) but are NOT input-dropped: the late-input
    filter lags one trigger (see stage_event_files_3way for the replay
    that makes the drop real).
    """
    def build(src: str) -> None:
        ev = t(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        cut = "2024-01-15 00:00:00"
        early = ev.filter(F.col("ts") < cut)
        late = ev.filter(F.col("ts") >= cut)
        first, second = (late, early) if late_fraction else (early, late)
        # one file each: coalesce(1) so file order == micro-batch order
        first.coalesce(1).write.parquet(f"{src}/f0")
        second.coalesce(1).write.parquet(f"{src}/f1")

    order = "rev" if late_fraction else "fwd"
    src = staged(sf_dir, f"stream_src_{order}", build)
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


def read_staged_stream(spark: SparkSession, src: str) -> DataFrame:
    """``readStream`` over a staged source dir, one file per micro-batch.

    Normalizes a TIMESTAMP_NTZ ``ts`` (staged by a pre-v2 vanilla
    session) back to TIMESTAMP — ``withWatermark`` rejects NTZ.
    """
    from pyspark.sql import types as T

    schema = spark.read.parquet(f"{src}/f0").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    if isinstance(schema["ts"].dataType, T.TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


class replay_shuffle:
    """Temporarily shrink ``spark.sql.shuffle.partitions`` for a local
    micro-batch replay. Streaming aggregations checkpoint one state-store
    file PER shuffle partition PER micro-batch and AQE cannot coalesce
    streaming plans, so a 200-partition default turns a tiny replay into
    hundreds of checkpoint files (measured 12s for one query on a vanilla
    session). A cluster deployment sizes this to key cardinality instead.
    """

    def __init__(self, spark: SparkSession, n: int = 1):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)


def run_stream_to_batch(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    transform: Callable[[DataFrame], DataFrame],
    late_fraction: bool = False,
    output_mode: str = "append",
    partitions: int = 1,
    three_way: bool = False,
    no_data_batch: bool = True,
) -> DataFrame:
    """Replay staged event files through readStream → transform → memory
    sink; returns the drained sink as a DataFrame.

    ``partitions``: state-store fan-out for the replay. Windowed
    aggregations carry tiny state → 1 partition halves checkpoint I/O
    (measured 3.3s → 1.3s at sf0.1); Python stateful operators
    (applyInPandasWithState) want parallelism across their Python
    workers instead — pass more.

    ``no_data_batch``: pass False ONLY for transforms whose emitted
    rows cannot depend on the final no-data micro-batch — an INNER
    stream-stream join emits on match, so the trailing batch does pure
    state cleanup (~0.7 s of a 2.6 s replay, measured r14). Watermarked
    aggregations in append mode and OUTER joins NEED it: their final
    windows / null-side rows only emit when the advanced watermark is
    processed, which availableNow only guarantees via that batch.
    """
    if three_way:
        src, ckpt = stage_event_files_3way(spark, sf_dir, tag)
    else:
        src, ckpt = stage_event_files(spark, sf_dir, tag, late_fraction)
    stream = read_staged_stream(spark, src)
    sink = f"sink_{tag}_{uuid.uuid4().hex[:8]}"
    conf_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_ndb = spark.conf.get(conf_key)
    with replay_shuffle(spark, partitions):
        if not no_data_batch:
            spark.conf.set(conf_key, "false")
        try:
            q = (
                transform(stream)
                .writeStream.format("memory")
                .queryName(sink)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            spark.conf.set(conf_key, prev_ndb)
    return spark.table(sink)
