"""SURVEY.md §2.9 — Structured Streaming twins, run for real.

The batch forms in eventtime.py are the oracle-checked semantics; these
queries execute the SAME logical transformations through
``readStream`` → watermark → memory sink via streaming/twins.py.

- ``stream_tumbling_streamed`` replays in order in complete mode, so its
  result equals the batch/oracle answer exactly → sql mode (a genuine
  batch/stream-parity check run by the driver).
- ``stream_watermark_late`` replays OUT of order (late half first,
  three files) in append mode: the third file's rows are dropped by the
  (one-trigger-lagged) late-input filter and every emitted window is
  hash-checked against a closed-form oracle — sql mode since r5.
- ``stream_dedup_within_watermark`` exercises
  ``dropDuplicatesWithinWatermark`` state cleanup; with in-order replay
  and unique event ids the result is the identity → sql mode.
- ``stream_funnel_stateful`` is the custom stateful operator
  (``applyInPandasWithState``), state surviving across micro-batches;
  its drained sink equals the greedy batch funnel → sql mode (r5).
- ``stream_sink_deltalike`` closes the loop into versioned storage via
  ``foreachBatch`` (streaming bronze ingest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.deterministic import micros, sql_micros
from ..streaming.twins import (
    read_staged_stream,
    replay,
    run_stream_to_batch,
    stage_event_files,
)
from .registry import register


def _tumbling(stream: DataFrame) -> DataFrame:
    return (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(micros(F.col("value"))).cast("double") / 1_000_000, 4
            ).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "stream_tumbling_streamed",
    f"""
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM({sql_micros("value")}) AS DOUBLE) / 1000000, 4) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # In-order replay, complete mode → every window emitted at
    # termination; result must hash-match the batch oracle (parity).
    return run_stream_to_batch(
        spark, sf_dir, "tumble", _tumbling, output_mode="complete"
    )


_WATERMARK_LATE_ORACLE = f"""
WITH kept AS (
  SELECT * FROM events
  WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' OR event_id % 2 = 0
),
wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events)
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM({sql_micros("value")}) AS DOUBLE) / 1000000, 4) AS total_value
FROM kept
GROUP BY 1, 2
HAVING CAST(date_trunc('hour', MIN(ts)) AS TIMESTAMP) + INTERVAL 1 HOUR
       <= (SELECT w FROM wm)
"""


@register("stream_watermark_late", _WATERMARK_LATE_ORACLE)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data handling, demonstrated with the drop REAL and
    the whole result hash-checked (upgraded rows→sql in r5 after
    measuring Spark 4.1's actual semantics): the late-INPUT filter uses
    the watermark committed one trigger behind the one used for
    emission, so a two-file out-of-order replay never drops anything —
    its "late" file slips in under the lag (the r1–r4 form of this op
    asserted drops that were not happening; rows-mode hid it). The
    three-file replay makes both behaviors observable: f0 (late half)
    advances the watermark, f1 (early evens) arrives behind it but
    inside the filter lag → KEPT, f2 (early odds) arrives after the
    watermark reached the filter → DROPPED in full. Final output =
    windows over f0 ∪ f1 whose end the emission watermark passed
    (max event time − 10 min) — exactly the oracle's closed form, so
    every count and sum is value-checked, including the absence of
    every f2 row.
    """
    return run_stream_to_batch(
        spark,
        sf_dir,
        "late3",
        _tumbling,
        output_mode="append",
        three_way=True,
    )


@register(
    "stream_dedup_within_watermark",
    """
    SELECT event_id, ts, user_id, event_type FROM events
    """,
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exactly-once dedup with bounded state: duplicates arriving within
    # the watermark interval are suppressed, state beyond it is evicted —
    # the scale-safe streaming dedup (vs unbounded dropDuplicates).
    def dedup(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "30 minutes")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id", "ts", "user_id", "event_type")
        )

    return run_stream_to_batch(
        spark, sf_dir, "dedupww", dedup, output_mode="append"
    )


_FUNNEL_STATEFUL_ORACLE = """
WITH s AS (
  SELECT user_id, MIN(ts) AS st FROM events
  WHERE event_type = 'signup' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS ct
  FROM events e JOIN s ON s.user_id = e.user_id AND e.ts > s.st
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS pt
  FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.ct
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT s.user_id, s.st AS signup_ts, c.ct AS click_ts, p.pt AS purchase_ts
FROM s JOIN c USING (user_id) JOIN p USING (user_id)
ORDER BY user_id
"""


@register("stream_funnel_stateful", _FUNNEL_STATEFUL_ORACLE)
def stream_funnel_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: per-user ordered funnel
    (signup → click → purchase) via ``applyInPandasWithState`` — state
    (the funnel's partial timestamps) lives in the state store keyed by
    user_id and SURVIVES across micro-batches, so funnels whose stages
    span the replayed files complete correctly. Upgraded rows→sql in
    r5: a completed funnel is emitted exactly once (in the batch where
    its purchase arrives), so the DRAINED sink is the full greedy
    funnel set — first signup, first later click, first later purchase
    per user — which the oracle computes as three chained min-
    aggregations; the per-batch emission timing never changes the
    final multiset. The in-order replay keeps per-user ts order across
    batches, which is what makes the cross-batch state path equal the
    batch-global answer.

    Scale: state is O(active users) × 3 timestamps, evicted on
    completion; shuffle key user_id. (GroupStateTimeout would bound
    abandoned funnels in production.)
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def funnel(key, pdfs, state):
        if state.exists:
            signup, click, done = state.get
        else:
            signup, click, done = None, None, False
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values("ts")
            for ts, et in zip(pdf["ts"], pdf["event_type"]):
                if done:
                    break
                if et == "signup" and signup is None:
                    signup = ts
                elif et == "click" and signup is not None and click is None:
                    click = ts
                elif et == "purchase" and click is not None:
                    out.append((key[0], signup, click, ts))
                    done = True
        state.update((signup, click, done))
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "signup_ts", "click_ts", "purchase_ts"]
            )

    def transform(stream: DataFrame) -> DataFrame:
        return stream.groupBy("user_id").applyInPandasWithState(
            funnel,
            outputStructType=(
                "user_id long, signup_ts timestamp, click_ts timestamp, "
                "purchase_ts timestamp"
            ),
            stateStructType="signup timestamp, click timestamp, done boolean",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    return run_stream_to_batch(
        spark,
        sf_dir,
        "funnelstate",
        transform,
        output_mode="append",
        # state lives in Python workers: more partitions = parallel
        # funnel evaluation (1 partition serializes it: 10s vs 5s)
        partitions=8,
    )


@register(
    "stream_sink_deltalike",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           COUNT(*) AS n_events
    FROM events GROUP BY 1
    """,
)
def stream_sink_deltalike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming → versioned storage: the medallion bronze-ingest loop.

    ``foreachBatch`` commits each micro-batch of hourly counts as an
    APPEND version of a Delta-like table — exactly-once per batch commit,
    replayable history. Because the in-order replay finishes the stream,
    the final table equals the batch aggregate (oracle above); with
    ``update`` output mode each batch emits refreshed windows, so the
    read deduplicates to the latest version per window (the
    compaction-on-read MERGE pattern).

    The replay skips the trailing no-data micro-batch: an update-mode
    count emits every window a batch changes in that batch, so the
    no-data batch only evicts state and would land an empty append (a
    Spark job and a commit). The table gets one commit per source file.
    """
    from ..sources.deltalike import DeltaLikeTable
    from ..sources.workspace import workdir

    tbl = DeltaLikeTable(workdir(sf_dir, "stream_sink"))

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        tbl.write(
            batch_df.withColumn("batch_id", F.lit(batch_id)),
            mode="append",
        )

    def transform(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "n_events")
        )

    src, ckpt = stage_event_files(spark, sf_dir, "sinkdl")
    replay(
        spark, lambda s: transform(read_staged_stream(s, src)), ckpt,
        foreach_batch=commit_batch, output_mode="update", no_data_batch=False,
    )

    # latest state per window across appended versions (update mode may
    # re-emit a window in a later batch; keep the newest batch's row).
    hist = tbl.read(spark)
    w = W.partitionBy("window_start").orderBy(F.col("batch_id").desc())
    return (
        hist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("window_start", "n_events")
    )


@register(
    "stream_upsert_foreachbatch",
    """
    SELECT user_id, event_id AS last_event, event_type AS last_type,
           ts AS last_ts
    FROM (
      SELECT user_id, event_id, event_type, ts,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def stream_upsert_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert: ``foreachBatch`` + MERGE — the canonical
    "keep a serving table current from a stream" loop (Delta's
    foreachBatch-merge idiom). Each micro-batch reduces to one row per
    user (batch-local latest by (ts, event_id)) and MERGEs it into the
    versioned table on user_id — matched rows overwrite, new users
    insert, one commit per batch.

    Correctness across batches leans on replay order, exactly as in
    production: staged files split at a time cut, so a later batch's
    rows all carry strictly later timestamps than any earlier batch's
    (equal-ts ties can never straddle the cut) and unconditional
    overwrite-on-match equals global latest — the oracle's
    row_number-desc over the whole table. No streaming state store is
    involved; the state IS the storage table, which is why this pattern
    scales to 100 TB serving tables (MERGE cost ~ churn per batch, not
    table size).
    """
    from ..sources.deltalike import DeltaLikeTable
    from ..sources.workspace import workdir

    tbl = DeltaLikeTable(workdir(sf_dir, "stream_upsert"))

    def upsert_batch(batch_df: DataFrame, batch_id: int) -> None:
        w = W.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            batch_df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "user_id",
                F.col("event_id").alias("last_event"),
                F.col("event_type").alias("last_type"),
                F.col("ts").alias("last_ts"),
            )
        )
        if batch_id == 0:
            tbl.write(latest, mode="overwrite")
        else:
            tbl.merge(batch_df.sparkSession, latest, on="user_id")

    src, ckpt = stage_event_files(spark, sf_dir, "upsertfb")
    replay(
        spark, lambda s: read_staged_stream(s, src), ckpt,
        foreach_batch=upsert_batch, partitions=8,
    )
    return tbl.read(spark)


_SESSION_STREAMED_ORACLE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER w <= INTERVAL 30 MINUTE
              THEN 0 ELSE 1 END AS ns
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
numbered AS (
  SELECT user_id, ts,
         SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged
),
sess AS (
  SELECT user_id, MIN(ts) AS session_start,
         MAX(ts) + INTERVAL 30 MINUTE AS session_end,
         COUNT(*) AS n_events
  FROM numbered GROUP BY user_id, sid
),
wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events)
SELECT user_id, session_start, session_end, n_events
FROM sess WHERE session_end <= (SELECT w FROM wm)
"""


@register("stream_session_streamed", _SESSION_STREAMED_ORACLE)
def stream_session_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ``session_window`` twin of the batch gaps-and-islands
    sessionization (eventtime.stream_session), upgraded rows→sql in r5:
    the emission rule is deterministic under availableNow replay, so
    the oracle reproduces it — batch sessions (30-min gap; session end
    = last event + gap, Spark's session_window convention) FILTERED to
    those the final watermark (max event time − 10 min) has passed.
    Sessions still open at termination never emit in append mode —
    that is not noise, it IS the check: the oracle's watermark
    predicate must drop exactly the same trailing sessions or the
    hash mismatches.
    """

    def sessionize(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(
                F.session_window("ts", "30 minutes").alias("w"), "user_id"
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events",
            )
        )

    return run_stream_to_batch(
        spark, sf_dir, "sessionw", sessionize, output_mode="append"
    )


def _sliding(stream: DataFrame) -> DataFrame:
    return (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


@register(
    "stream_sliding_streamed",
    """
    WITH offsets AS (SELECT unnest([0, 1, 2, 3]) AS k)
    SELECT time_bucket(INTERVAL '15 minutes', ts)
             - k * INTERVAL '15 minutes' AS window_start,
           COUNT(*) AS n_events
    FROM events CROSS JOIN offsets
    GROUP BY 1
    """,
)
def stream_sliding_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Overlapping 1h/15m windows through a real micro-batch replay:
    # in-order, complete mode → every open window is emitted at
    # termination and the result hash-matches the batch oracle (the
    # stream/batch parity contract for overlapping windows). Each event
    # updates 4 window states; the state store carries one entry per
    # open window, bounded by the watermark at scale.
    return run_stream_to_batch(
        spark, sf_dir, "slide", _sliding, output_mode="complete"
    )


@register(
    "stream_join_static",
    f"""
    SELECT date_trunc('hour', ts) AS window_start,
           c_mktsegment,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM({sql_micros("value")}) AS DOUBLE) / 1000000, 4) AS total_value
    FROM events JOIN customer ON c_custkey = user_id
    GROUP BY 1, 2
    """,
)
def stream_join_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the streaming side joins a static
    dimension BEFORE the windowed aggregation — the canonical "enrich
    events with user attributes" shape. The static side re-reads per
    micro-batch (so a dim update is picked up mid-stream) and broadcasts:
    no state, no shuffle of the stream on the join key, and the
    aggregation state is keyed by (window, segment) — tiny. In-order
    replay + complete mode → result equals the batch join (oracle
    parity). At 100 TB the dim broadcast is the same plan; a BIG dim
    would switch to a stream-stream join with watermarks instead.
    """
    from ..catalog import t as _t

    def join_agg(stream: DataFrame) -> DataFrame:
        cust = _t(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
        return (
            stream.withWatermark("ts", "10 minutes")
            .join(F.broadcast(cust), F.col("user_id") == F.col("c_custkey"))
            .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(
                    F.sum(micros(F.col("value"))).cast("double") / 1_000_000,
                    4,
                ).alias("total_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "c_mktsegment",
                "n_events",
                "total_value",
            )
        )

    return run_stream_to_batch(
        spark, sf_dir, "joinstatic", join_agg, output_mode="complete"
    )


def _click_purchase_join(how: str):
    """The attribution join of the three stream-stream twins, as a
    replay transform: the clicks and the purchases of one replayed
    stream, each watermarked 10 minutes, joined per user where the
    purchase falls within 1 hour after the click. ``user_id`` is
    ``coalesce(c_user, p_user)``, which is ``c_user`` for the inner and
    left joins (the click side is never null-extended)."""

    def join_pairs(stream: DataFrame) -> DataFrame:
        clicks = (
            stream.filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user"),
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", "10 minutes")
        )
        purchases = (
            stream.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("purchase_ts"),
            )
            .withWatermark("purchase_ts", "10 minutes")
        )
        return (
            clicks.join(
                purchases,
                (F.col("p_user") == F.col("c_user"))
                & (F.col("purchase_ts") >= F.col("click_ts"))
                & (
                    F.col("purchase_ts")
                    <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")
                ),
                how,
            )
            .select(
                "click_id",
                "purchase_id",
                F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
                "click_ts",
                "purchase_ts",
            )
        )

    return join_pairs


def _outer_join_twin(
    spark: SparkSession, sf_dir: str, tag: str, how: str
) -> DataFrame:
    """An outer stream-stream join twin, drained with its final no-data
    batch (the null-side rows emit in it). Nullable timestamps surface as
    unix_micros longs: a NULL BIGINT is the driver-hasher-proven null
    path (NULL TIMESTAMP would be the first of its kind through the
    pandas NaT conversion)."""
    return (
        run_stream_to_batch(
            spark, sf_dir, tag, _click_purchase_join(how), output_mode="append",
            partitions=4,
        )
        .select(
            "click_id",
            "purchase_id",
            "user_id",
            F.unix_micros("click_ts").alias("click_us"),
            F.unix_micros("purchase_ts").alias("purchase_us"),
        )
        .orderBy("click_id", "purchase_id")
    )


@register(
    "stream_stream_join",
    """
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.user_id,
           c.ts AS click_ts,
           p.ts AS purchase_ts
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time range condition — the
    attribution classic (purchase within 1h of a click, per user), run
    through two watermarked branches of one replayed stream.

    Both sides buffer state keyed by user_id; the range condition plus
    both watermarks let Spark evict: click state older than
    watermark − 1h can never match a future purchase and is dropped —
    bounded state, the property a raw unbounded self-join lacks. Inner
    join + in-order availableNow replay → every pair eventually emits,
    so the result hash-matches the batch join (oracle parity): a click
    whose purchase falls in the next micro-batch survives because the
    eviction bound (watermark − join window) trails the file cut by the
    watermark delay. At 100 TB the same plan shuffles both streams on
    user_id once; state size = clicks within the 1h horizon.
    """
    return run_stream_to_batch(
        spark, sf_dir, "ssjoin", _click_purchase_join("inner"), output_mode="append",
        partitions=4,
        # r14: INNER join — every pair emits on match, so the trailing
        # no-data micro-batch does pure state cleanup; skipping it cuts
        # one of three batches (~0.7 s of 2.6 s, measured). The OUTER
        # twins keep it: their null-side emission REQUIRES the final
        # watermark-advancing batch (see twins.replay).
        no_data_batch=False,
    )


@register(
    "stream_deltalike_source",
    """
    SELECT o_orderstatus, COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def stream_deltalike_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The versioned table as a STREAMING SOURCE (Spark 4 Python Data
    Source streaming API): offsets are log versions, each batch drains
    the commits since the last — the "Delta table as a stream" pattern
    that lets downstream consumers tail a warehouse table incrementally
    instead of re-scanning it. ``DeltaLikeTable.appends`` reads each
    commit's appended rows (``deltalog.appended_rows``, which refuses a
    commit that removes files). Draining all three appends in complete
    mode must reproduce the batch aggregate (oracle parity).
    """
    from ..catalog import t
    from ..sources.deltalike import DeltaLikeTable
    from ..sources.workspace import workdir
    from .delta_ops import _staged_table

    def build(tbl: DeltaLikeTable) -> None:
        o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
        tbl.write(o.filter(F.col("o_orderkey") % 3 == 0), mode="overwrite")
        tbl.write(o.filter(F.col("o_orderkey") % 3 == 1), mode="append")
        tbl.write(o.filter(F.col("o_orderkey") % 3 == 2), mode="append")

    tbl = _staged_table(sf_dir, "delta_stream_src", build)

    def agg(s: SparkSession) -> DataFrame:
        return tbl.appends(s, 0).groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders")
        )

    ckpt = workdir(sf_dir, "stream_ckpt_dlsrc")
    return replay(spark, agg, ckpt, output_mode="complete").orderBy("o_orderstatus")


@register(
    "stream_txn_exactly_once",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS id_checksum,
           TRUE AS replay_added_nothing
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def stream_txn_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming ingestion: ``foreachBatch`` stamps every
    micro-batch with the protocol ``txn`` action (appId = the sink's
    identity, version = batch_id), so a FULL REPLAY of the stream — new
    checkpoint, batch ids restarting at 0 — re-offers every batch and
    the table skips each one at the high-water mark. This is how Delta
    sinks get exactly-once without an external ledger: the dedup stamp
    commits atomically WITH the data, and a crash between "write" and
    "record progress" cannot double-land a batch. The op runs the
    ingestion twice (second pass = disaster-recovery replay) and
    asserts zero new commits; content equals one clean pass over
    events. At 100 TB the check is O(log-tail) per batch — the txn
    high-water mark rides the checkpoint, not a table scan.
    """
    from ..sources.deltalike import DeltaLikeTable
    from ..sources.workspace import workdir

    tbl = DeltaLikeTable(workdir(sf_dir, "stream_txn"))

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        tbl.write_idempotent(
            batch_df.select("event_id", "user_id", "event_type", "ts"),
            "stream-ingest",
            batch_id,
            mode="append",
        )

    def run_pass(tag: str) -> None:
        src, ckpt = stage_event_files(spark, sf_dir, tag)
        replay(
            spark, lambda s: read_staged_stream(s, src), ckpt,
            foreach_batch=ingest, partitions=8,
        )

    run_pass("txn_once_a")
    v_after_first = tbl.latest_version
    run_pass("txn_once_b")  # full replay: fresh checkpoint, batches 0..n again
    replay_added_nothing = tbl.latest_version == v_after_first
    return (
        tbl.read(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("event_id").alias("id_checksum"),
        )
        .select(
            "event_type",
            "n_events",
            "id_checksum",
            F.lit(replay_added_nothing).alias("replay_added_nothing"),
        )
        .orderBy("event_type")
    )


@register(
    "stream_change_data_feed",
    """
    WITH base AS (
      SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal FROM customer
    ), merged AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 10 = 0 THEN ROUND(acctbal + 1000, 2)
                  ELSE acctbal END AS acctbal
      FROM base
      UNION ALL
      SELECT c_custkey + 1000000, acctbal FROM base WHERE c_custkey % 97 = 0
    ), cdf AS (
      SELECT 1 AS version, 'update_preimage' AS change_type, c_custkey
      FROM base WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT 1, 'update_postimage', c_custkey
      FROM base WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT 1, 'insert', c_custkey + 1000000
      FROM base WHERE c_custkey % 97 = 0
      UNION ALL
      SELECT 2, 'delete', c_custkey FROM merged WHERE c_custkey % 53 = 0
    )
    SELECT version, change_type, COUNT(*) AS n_rows,
           CAST(SUM(c_custkey) AS BIGINT) AS key_checksum
    FROM cdf
    GROUP BY version, change_type
    ORDER BY version, change_type
    """,
)
def stream_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Change Data Feed — tail a versioned table's row-level
    changes instead of its rows: offsets are log versions, and each
    micro-batch emits classified (insert / update_pre / update_post /
    delete) rows for the commits it drains — the CDC hand-off that
    feeds incremental models without re-diffing table snapshots
    (`delta_change_data_feed` is the batch read of the same feed; this
    is the continuous form). ``DeltaLikeTable.changes`` derives changes
    the way Delta's legacy CDF read does when no cdc files exist: per
    commit, the multiset diff of rows in added vs removed files
    (copy-on-write commits carry both), classified by key presence on
    the opposite side (``deltalog.change_diff``); v0 (the initial
    snapshot) is below the starting offset, like readChangeFeed
    startingVersion=1.

    The stream reader is partitioned (the driver only lists log file
    names for offsets, and each commit's changes are derived ON THE
    EXECUTORS), so at 100 TB the CDF tail scales with change volume
    across the cluster. Output aggregates per (version, change_type)
    with an exact key checksum — complete mode must reproduce the
    relational expectation.
    """
    from ..sources.workspace import workdir
    from .delta_ops import _cdf_table

    tbl = _cdf_table(spark, sf_dir, "delta_cdf_stream", "c_custkey % 53 = 0")

    def agg(s: SparkSession) -> DataFrame:
        feed = tbl.changes(s, 1, stream=True)
        return feed.groupBy("version", "change_type").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("c_custkey").alias("key_checksum"),
        )

    ckpt = workdir(sf_dir, "stream_ckpt_cdf")
    return replay(spark, agg, ckpt, output_mode="complete").orderBy(
        "version", "change_type"
    )


@register(
    "stream_checkpoint_recovery",
    """
    SELECT o_orderstatus, COUNT(*) AS n_orders,
           TRUE AS second_run_resumed
    FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def stream_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint restart/recovery — the property streaming correctness
    actually rests on: a stream is STOPPED after draining half the
    source, MORE data lands, and a new query starting from the SAME
    checkpoint must resume from the recorded offset — re-reading
    nothing (the aggregation state carries the first run's counts) and
    missing nothing. Run 2's starting offset is read back out of the
    checkpoint's offsets log and asserted past run 1's drain point; the
    final complete-mode counts must equal the batch aggregate over ALL
    commits — together those two facts prove exactly-once across a
    restart. The source is the versioned table tailed by log-version
    offsets (``DeltaLikeTable.appends``; fresh per call, since the op
    mutates it mid-stream).
    """
    import json as _json
    import os

    from ..catalog import t
    from ..sources.deltalike import DeltaLikeTable
    from ..sources.workspace import workdir

    tbl = DeltaLikeTable(workdir(sf_dir, "ckpt_recovery"))
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    tbl.write(o.filter(F.col("o_orderkey") % 4 == 0), mode="overwrite")
    tbl.write(o.filter(F.col("o_orderkey") % 4 == 1), mode="append")

    ckpt = workdir(sf_dir, "stream_ckpt_recovery")

    def agg(s: SparkSession) -> DataFrame:
        return tbl.appends(s, 0).groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders")
        )

    replay(spark, agg, ckpt, output_mode="complete")
    # stream is stopped; two more commits land
    tbl.write(o.filter(F.col("o_orderkey") % 4 == 2), mode="append")
    tbl.write(o.filter(F.col("o_orderkey") % 4 == 3), mode="append")
    resumed_counts = replay(spark, agg, ckpt, output_mode="complete")

    # Proof of resume: the LAST committed offset of run 1 (the highest
    # batch in the checkpoint before run 2 appended its batches) must
    # already cover versions 0..1, i.e. run 2 started past them.
    offsets_dir = os.path.join(ckpt, "offsets")
    batches = sorted(int(f) for f in os.listdir(offsets_dir) if f.isdigit())
    with open(os.path.join(offsets_dir, str(batches[0]))) as fh:
        first_batch_end = _json.loads(fh.readlines()[-1])["version"]
    resumed = len(batches) >= 2 and first_batch_end >= 2
    return (
        resumed_counts.select(
            "o_orderstatus", "n_orders",
            F.lit(bool(resumed)).alias("second_run_resumed"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "stream_foreachbatch_multi_sink",
    """
    SELECT event_type,
           COUNT(*) AS n_raw,
           COUNT(*) AS n_agg,
           TRUE AS sinks_consistent
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def stream_foreachbatch_multi_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One stream fanned to TWO sinks in the same foreachBatch — the
    lambda-architecture staple (raw archive + serving aggregate from a
    single ingestion) and the place exactly-once quietly breaks: the
    two writes are NOT one transaction, so each sink must dedup
    independently. Sink A appends raw rows txn-stamped per batch, so
    its high-water mark skips a replayed batch. Sink B adds each
    batch's per-key counts to the stored ones in one MERGE rewrite and
    records no ``txn``: a batch replayed after a crash between B's
    commit and the stream's offset commit is counted twice (ROADMAP
    item 2(a)). The op drains the staged event replay, then proves
    sink A's aggregate, sink B's serving table, and the batch truth all
    agree (the consistency the pattern promises when no batch replays).
    """
    from ..sources.deltalike import DeltaLikeTable
    from ..sources.workspace import workdir

    raw_sink = DeltaLikeTable(workdir(sf_dir, "msink_raw"))
    agg_sink = DeltaLikeTable(workdir(sf_dir, "msink_agg"))

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.select("event_id", "event_type")
        raw_sink.write_idempotent(
            rows, app_id="msink_raw", app_version=batch_id
        )
        counts = rows.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n")
        )
        if agg_sink.latest_version < 0:
            agg_sink.write(counts, mode="overwrite")
        else:
            agg_sink.rewrite(rows.sparkSession, lambda cur: (
                counts.join(
                    cur.withColumnRenamed("n", "n_old"), "event_type", "full_outer"
                ).select(
                    "event_type",
                    (F.coalesce("n", F.lit(0)) + F.coalesce("n_old", F.lit(0)))
                    .alias("n"),
                )
            ), "MERGE")

    src, ckpt = stage_event_files(spark, sf_dir, "msink")
    replay(
        spark, lambda s: read_staged_stream(s, src), ckpt, foreach_batch=commit_batch
    )

    raw_agg = (
        raw_sink.read(spark)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_raw"))
    )
    serving = agg_sink.read(spark).withColumnRenamed("n", "n_agg")
    return (
        raw_agg.join(serving, "event_type")
        .select(
            "event_type", "n_raw", "n_agg",
            (F.col("n_raw") == F.col("n_agg")).alias("sinks_consistent"),
        )
        .orderBy("event_type")
    )


_CORPUS_INGEST_ORACLE = """
WITH cut AS (SELECT COUNT(*) * 3 // 5 AS c FROM documents),
keep AS (
  SELECT doc_id, source, text,
         MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper
  FROM documents
)
SELECT doc_id, source,
       CASE WHEN doc_id < (SELECT c FROM cut) THEN 0 ELSE 1 END
         AS arrival_batch
FROM keep
WHERE doc_id = keeper
ORDER BY doc_id
"""


@register("stream_corpus_ingest_dedup", _CORPUS_INGEST_ORACLE)
def stream_corpus_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus ingest with exact dedup against the accumulating
    corpus — the incremental version of llm_dedup_exact and the pattern
    a 100 TB training corpus actually grows by: each arriving batch is
    (a) deduped within itself (keep the lowest doc_id per content
    hash), (b) anti-joined by content md5 against everything already
    committed, and (c) appended as one atomic version. The staged
    replay engineers a 20%% overlap between the two micro-batches
    (batch 0 = first 60%% of doc ids, batch 1 = last 60%%), so the
    cross-batch anti-join provably drops rows. At scale the anti-join
    probes only the 16-byte digest column of the corpus (llm_dedup_bloom
    is the sketch-accelerated variant of the same gate); the dedup
    state IS the table, so no streaming state store grows unboundedly.
    Deterministic end state: exactly one doc per distinct text, kept at
    its earliest arrival — the oracle's min-per-content-hash rule.
    """
    from ..catalog import t
    from ..sources.deltalike import DeltaLikeTable
    from ..sources.workspace import staged, workdir

    def build(src: str) -> None:
        d = t(spark, sf_dir, "documents").select("doc_id", "source", "text")
        n = d.count()  # bounded scalar, staging-time only
        cut60, cut40 = (n * 3) // 5, (n * 2) // 5
        d.filter(F.col("doc_id") < cut60).coalesce(1).write.parquet(f"{src}/f0")
        d.filter(F.col("doc_id") >= cut40).coalesce(1).write.parquet(f"{src}/f1")

    src = staged(sf_dir, "stream_doc_src", build)
    ckpt = workdir(sf_dir, "stream_ckpt_corpus")

    tbl = DeltaLikeTable(workdir(sf_dir, "stream_corpus"))

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        s = batch_df.sparkSession
        batch = batch_df.withColumn("content_md5", F.md5("text"))
        w = W.partitionBy("content_md5").orderBy("doc_id")
        batch = (
            batch.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "doc_id", "source", "content_md5",
                F.lit(batch_id).cast("int").alias("arrival_batch"),
            )
        )
        if batch_id == 0:
            tbl.write(batch, mode="overwrite")
            return
        seen = tbl.read(s).select("content_md5")
        tbl.write(batch.join(seen, "content_md5", "left_anti"), mode="append")

    replay(
        spark, lambda s: read_staged_stream(s, src), ckpt,
        foreach_batch=ingest, partitions=8,
    )
    return (
        tbl.read(spark)
        .select("doc_id", "source", "arrival_batch")
        .orderBy("doc_id")
    )


_LEFT_OUTER_JOIN_ORACLE = """
WITH c AS (
  SELECT event_id AS click_id, user_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
),
wm AS (
  SELECT least((SELECT MAX(ts) FROM events WHERE event_type = 'click'),
               (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'))
         - INTERVAL 10 MINUTE AS w
),
matched AS (
  SELECT c.click_id, p.purchase_id, c.user_id, c.click_ts, p.purchase_ts
  FROM c JOIN p
    ON p.user_id = c.user_id
   AND p.purchase_ts >= c.click_ts
   AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
),
unmatched AS (
  SELECT c.click_id, CAST(NULL AS BIGINT) AS purchase_id, c.user_id,
         c.click_ts, CAST(NULL AS TIMESTAMP) AS purchase_ts
  FROM c
  WHERE NOT EXISTS (
          SELECT 1 FROM p
          WHERE p.user_id = c.user_id
            AND p.purchase_ts >= c.click_ts
            AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR)
    AND c.click_ts + INTERVAL 1 HOUR < (SELECT w FROM wm)
)
SELECT click_id, purchase_id, user_id,
       epoch_us(click_ts) AS click_us, epoch_us(purchase_ts) AS purchase_us
FROM (SELECT * FROM matched UNION ALL SELECT * FROM unmatched)
ORDER BY click_id, purchase_id
"""


@register("stream_left_outer_join", _LEFT_OUTER_JOIN_ORACLE)
def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermark-gated null emission —
    the attribution query that also reports the clicks that did NOT
    convert. The outer side is the genuinely streaming-specific part:
    an unmatched click can only emit its null row once the engine can
    PROVE no matching purchase is coming, i.e. once the global
    watermark (the MIN over both inputs' per-column watermarks — the
    multiple-watermark policy, measured on 4.1) passes the click's
    join-window deadline click_ts + 1h; clicks whose deadline the final
    watermark never clears are withheld forever (their state would
    still accept a match). The oracle states that rule in closed form:
    inner matches unconditionally (in-order availableNow replay — every
    pair eventually meets, hash-equal to the batch join) plus null rows
    for exactly the unmatched clicks with click_ts + 1h <
    least(max click ts, max purchase ts) − 10min. Both sides keyed and
    shuffled once on user_id; state = clicks/purchases inside the 1h
    horizon, evicted as the watermark moves — bounded on an unbounded
    stream, which is the property the batch twin can't express.
    """
    return _outer_join_twin(spark, sf_dir, "lojoin", "left_outer")


_FULL_OUTER_JOIN_ORACLE = """
WITH c AS (
  SELECT event_id AS click_id, user_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
),
p AS (
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
),
wm AS (
  SELECT least((SELECT MAX(ts) FROM events WHERE event_type = 'click'),
               (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'))
         - INTERVAL 10 MINUTE AS w
),
matched AS (
  SELECT c.click_id, p.purchase_id, c.user_id, c.click_ts, p.purchase_ts
  FROM c JOIN p
    ON p.user_id = c.user_id
   AND p.purchase_ts >= c.click_ts
   AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
),
unmatched_c AS (
  SELECT c.click_id, CAST(NULL AS BIGINT) AS purchase_id, c.user_id,
         c.click_ts, CAST(NULL AS TIMESTAMP) AS purchase_ts
  FROM c
  WHERE NOT EXISTS (
          SELECT 1 FROM p
          WHERE p.user_id = c.user_id
            AND p.purchase_ts >= c.click_ts
            AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR)
    AND c.click_ts + INTERVAL 1 HOUR < (SELECT w FROM wm)
),
unmatched_p AS (
  SELECT CAST(NULL AS BIGINT) AS click_id, p.purchase_id, p.user_id,
         CAST(NULL AS TIMESTAMP) AS click_ts, p.purchase_ts
  FROM p
  WHERE NOT EXISTS (
          SELECT 1 FROM c
          WHERE c.user_id = p.user_id
            AND p.purchase_ts >= c.click_ts
            AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR)
    AND p.purchase_ts < (SELECT w FROM wm)
)
SELECT click_id, purchase_id, user_id,
       epoch_us(click_ts) AS click_us, epoch_us(purchase_ts) AS purchase_us
FROM (SELECT * FROM matched
      UNION ALL SELECT * FROM unmatched_c
      UNION ALL SELECT * FROM unmatched_p)
ORDER BY click_id, purchase_id
"""


@register("stream_full_outer_join", _FULL_OUTER_JOIN_ORACLE)
def stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER join — completes the join-type matrix
    (inner `stream_stream_join`, left `stream_left_outer_join`):
    attribution that reports unconverted clicks AND orphan purchases
    (the fraud/tracking-loss signal) in one query. Null-emission
    deadlines are side-specific, both gated on the same global
    watermark W = least(max ts per input) − delay (the measured-on-4.1
    multiple-watermark rule): an unmatched CLICK emits once W passes
    click_ts + 1h (no purchase inside its forward window can still
    arrive); an unmatched PURCHASE emits once W passes purchase_ts
    itself (its matching clicks lie at click_ts ≤ purchase_ts, so its
    state is provably complete as soon as W clears its own event
    time — an asymmetric deadline the oracle states in closed form).
    Same one-shuffle user_id keying and watermark-bounded state as the
    left variant; in-order availableNow replay + final no-data batch
    flush make the result deterministic.
    """
    return _outer_join_twin(spark, sf_dir, "fojoin", "full_outer")


_STREAM_CDF_SYNC_ORACLE = """
WITH base AS (
  SELECT c_custkey, ROUND(c_acctbal, 2) AS acctbal FROM customer
),
merged AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 10 = 0 THEN ROUND(acctbal + 1000, 2)
              ELSE acctbal END AS acctbal
  FROM base
  UNION ALL
  SELECT c_custkey + 1000000, acctbal FROM base WHERE c_custkey % 97 = 0
)
SELECT c_custkey, acctbal
FROM merged WHERE c_custkey % 13 <> 7
ORDER BY c_custkey
"""


@register("stream_cdf_downstream_sync", _STREAM_CDF_SYNC_ORACLE)
def stream_cdf_downstream_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CDF → downstream sync — the continuous form of
    delta_cdf_downstream_sync (same upstream mutations, same closed-form
    oracle): the upstream table's change feed is TAILED as a stream
    (offsets are log versions, the stream_change_data_feed reader), and
    ``foreachBatch`` applies the drained changes to a downstream replica
    seeded at v0 — one tombstone MERGE per upstream version, in version
    order, so the replica passes through exactly the upstream's commit
    history (a key updated in v1 and deleted in v2 must take both). This
    is the production shape of incremental replication: the work per
    trigger is proportional to the CHANGES drained, never the table, and
    restartability rides the checkpoint like any other sink. The replica
    is correct iff it hash-matches the upstream's closed-form final
    state.
    """
    from ..sources.workspace import workdir
    from .delta_ops import _apply_changes, _cdf_sync_tables

    src, down = _cdf_sync_tables(spark, sf_dir, "stream_cdf_downstream")

    def apply_batch(batch_df: DataFrame, _bid: int) -> None:
        vdf = batch_df.select(
            "version"
        ).distinct().toPandas()  # bounded: one row per upstream commit
        for v in sorted(vdf["version"]):
            _apply_changes(spark, down, batch_df.filter(F.col("version") == v))

    ckpt = workdir(sf_dir, "stream_ckpt_cdf_sync")
    # v0 seeded the replica, so the tail starts at v1
    replay(
        spark, lambda s: src.changes(s, 1, stream=True), ckpt,
        foreach_batch=apply_batch,
    )
    return (
        down.read(spark)
        .select("c_custkey", "acctbal")
        .orderBy("c_custkey")
    )
