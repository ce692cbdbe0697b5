"""SURVEY.md §2.1 — Delta-surface operators over the versioned storage
layer (sources/deltalike.py): append, time travel, MERGE upsert, SCD2
snapshot.

The reference demos "full deltalake implementation of medallion
architecture" (ref README.md:2); these four are the Delta/dbt write
patterns that implies. All four are oracle-checked (sql mode): each op
derives both its inputs deterministically from fixture views, so the
post-storage state is expressible as plain SQL over the same views.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import t
from ..functions.deterministic import cents, micros, sql_cents, sql_micros
from ..sources.deltalike import DeltaLikeTable
from ..sources.workspace import staged, workdir
from .registry import register

# deterministic split of orders used by append/time-travel:
_CUT = "1999-01-01"


def _staged_table(sf_dir: str, name: str, build) -> DeltaLikeTable:
    """One-time table-layout ETL (``workspace.staged``): ops whose
    SEMANTIC is the read path (pruning, skipping, CDF, data-source scan)
    build their layout once per fixture fingerprint and every later
    call — across queries, bench runs, processes — only reads.
    ``build(tbl)`` writes the versions."""
    return DeltaLikeTable(staged(sf_dir, name, lambda p: build(DeltaLikeTable(p))))


def _cdf_table(
    spark: SparkSession, sf_dir: str, name: str, delete: str | None = None
) -> DeltaLikeTable:
    """The staged change-feed table of the CDF ops: v0 = customers
    (``c_custkey``, ``acctbal`` rounded to 2 dp); v1 = MERGE of updates
    (+1000 balance for key % 10 = 0) and inserts (key % 97 = 0, re-keyed
    +1000000); v2 = ``DELETE WHERE delete``, when given."""
    def build(tbl: DeltaLikeTable) -> None:
        c = t(spark, sf_dir, "customer").select(
            "c_custkey", F.round("c_acctbal", 2).alias("acctbal")
        )
        tbl.write(c, mode="overwrite")
        updates = c.filter(F.col("c_custkey") % 10 == 0).withColumn(
            "acctbal", F.round(F.col("acctbal") + 1000, 2)
        )
        inserts = c.filter(F.col("c_custkey") % 97 == 0).withColumn(
            "c_custkey", F.col("c_custkey") + 1000000
        )
        tbl.merge(spark, updates.unionByName(inserts), on="c_custkey")
        if delete is not None:
            tbl.delete(spark, F.expr(delete))

    return _staged_table(sf_dir, name, build)


def _cdf_sync_tables(
    spark: SparkSession, sf_dir: str, replica: str
) -> tuple[DeltaLikeTable, DeltaLikeTable]:
    """The upstream of the CDF sync ops (``_cdf_table`` with a DELETE of
    key % 13 = 7) and a fresh downstream ``replica`` seeded at its v0."""
    src = _cdf_table(spark, sf_dir, "delta_cdf_sync", "c_custkey % 13 = 7")
    down = DeltaLikeTable(workdir(sf_dir, replica))
    down.write(src.read(spark, as_of=0), mode="overwrite")
    return src, down


def _apply_changes(
    spark: SparkSession, down: DeltaLikeTable, changes: DataFrame
) -> None:
    """Apply ONE upstream version's change rows to ``down`` as a tombstone
    MERGE: update and insert post-images upsert, and delete rows ride the
    same source flagged ``_tomb`` and fire WHEN MATCHED AND s._tomb THEN
    DELETE. Versions must be applied one at a time, in order: a net MERGE
    of several would INSERT the tombstone of a key inserted in one version
    and deleted in a later one, since MERGE inserts unmatched source
    rows."""
    down.merge(
        spark,
        changes.filter(F.col("change_type") != "update_preimage").select(
            "c_custkey", "acctbal", (F.col("change_type") == "delete").alias("_tomb")
        ),
        on="c_custkey",
        matched_delete_where="s._tomb",
    )


@register(
    "sink_delta_append",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    """,
)
def sink_delta_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    # v0 = pre-1999 orders (overwrite), v1 = the rest (append); reading
    # latest must reassemble exactly the full table. Appends are new
    # files + a log entry — no rewrite of existing data, which is what
    # makes incremental loads O(delta) at 100 TB.
    tbl = DeltaLikeTable(workdir(sf_dir, "delta_append"))
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    tbl.write(o.filter(F.col("o_orderdate") < _CUT), mode="overwrite")
    tbl.write(o.filter(F.col("o_orderdate") >= _CUT), mode="append")
    return tbl.read(spark).select("o_orderkey", "o_orderstatus", "o_totalprice")


@register(
    "delta_time_travel",
    f"""
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    WHERE o_orderdate < TIMESTAMP '{_CUT}'
    """,
)
def delta_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same two commits; read as of version 0 → only the pre-1999 slice.
    # Log replay picks the live file set; old files are never mutated.
    tbl = DeltaLikeTable(workdir(sf_dir, "delta_time_travel"))
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    tbl.write(o.filter(F.col("o_orderdate") < _CUT), mode="overwrite")
    tbl.write(o.filter(F.col("o_orderdate") >= _CUT), mode="append")
    return tbl.read(spark, as_of=0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@register(
    "delta_merge_upsert",
    """
    WITH source AS (
        SELECT o_orderkey,
               o_totalprice * 1.1 AS o_totalprice,
               'U' AS o_orderstatus
        FROM orders WHERE o_orderkey % 2 = 0
    ),
    target AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 5 <> 0
    )
    SELECT o_orderkey, o_totalprice, o_orderstatus FROM source
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderstatus FROM target
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM source)
    """,
)
def delta_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dbt incremental (merge strategy): target = 80% of orders, source =
    # even keys re-priced. MERGE updates matched rows, inserts the rest;
    # result is committed as a new version and read back from storage.
    tbl = DeltaLikeTable(workdir(sf_dir, "delta_merge"))
    o = t(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") % 5 != 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    source = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        F.lit("U").alias("o_orderstatus"),
    )
    tbl.write(target, mode="overwrite")
    return tbl.merge(spark, source, on="o_orderkey")


@register(
    "scd2_snapshot",
    """
    WITH s1 AS (
        SELECT c_custkey, c_mktsegment FROM customer
    ),
    s2 AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 11 = 0 THEN 'RELOCATED'
                    ELSE c_mktsegment END AS c_mktsegment
        FROM customer
    )
    SELECT s1.c_custkey, s1.c_mktsegment,
           1 AS valid_from,
           CASE WHEN s1.c_mktsegment <> s2.c_mktsegment THEN 2 END AS valid_to
    FROM s1 JOIN s2 USING (c_custkey)
    UNION ALL
    SELECT s2.c_custkey, s2.c_mktsegment, 2 AS valid_from, NULL AS valid_to
    FROM s1 JOIN s2 USING (c_custkey)
    WHERE s1.c_mktsegment <> s2.c_mktsegment
    """,
)
def scd2_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dbt snapshot (SCD type 2, check strategy): snapshot 1 = customer as
    # shipped; snapshot 2 relocates every 11th customer. Changed keys get
    # their v1 row closed (valid_to=2) and a v2 row opened. Batch ids as
    # validity bounds keep it timestamp-free and oracle-exact.
    tbl = DeltaLikeTable(workdir(sf_dir, "scd2"))
    c = t(spark, sf_dir, "customer")
    snap1 = c.select("c_custkey", "c_mktsegment")
    snap2 = c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 11 == 0, "RELOCATED")
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
    )
    dim = snap1.select(
        "c_custkey",
        "c_mktsegment",
        F.lit(1).alias("valid_from"),
        F.lit(None).cast("int").alias("valid_to"),
    )
    tbl.write(dim, mode="overwrite")

    # snapshot run: close changed current rows, insert new versions.
    from .dbt_ops import snapshot_rows  # here: dbt_ops registers after us

    tbl.rewrite(spark, snapshot_rows(
        snap2, "c_custkey", F.col("d.c_mktsegment") != F.col("n.c_mktsegment"),
        F.lit(2), invalidate_hard_deletes=False,
    ), "MERGE")
    return tbl.read(spark)


@register(
    "delta_schema_evolution",
    """
    SELECT o_orderkey, o_totalprice,
           CAST(NULL AS VARCHAR) AS channel
    FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'online' AS channel
    FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'
    """,
)
def delta_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Schema evolution: a later append carries a NEW column; the log
    # schema (the evolved union) surfaces it as NULL for pre-evolution
    # files on read — no
    # rewrite of history (the Delta additive-evolution contract). At
    # 100 TB this is why adding a column is O(1), not O(table).
    tbl = DeltaLikeTable(workdir(sf_dir, "delta_evolution"))
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    tbl.write(
        o.filter(F.col("o_orderdate") < _CUT).drop("o_orderdate"),
        mode="overwrite",
    )
    tbl.write(
        o.filter(F.col("o_orderdate") >= _CUT)
        .drop("o_orderdate")
        .withColumn("channel", F.lit("online")),
        mode="append",
        merge_schema=True,  # adding a column requires the explicit opt-in
    )
    return tbl.read(spark).select(
        "o_orderkey", "o_totalprice", "channel"
    )


@register(
    "delta_compact",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    """,
)
def delta_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    # OPTIMIZE + VACUUM: many small append commits (the streaming-ingest
    # pathology) compacted into one bin-packed file set; content must be
    # byte-identical to the logical table (the oracle). Vacuum then
    # reclaims the superseded files while version numbering stays stable.
    tbl = DeltaLikeTable(workdir(sf_dir, "delta_compact"))
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    tbl.write(o.filter(F.col("o_orderkey") % 4 == 0), mode="overwrite")
    for r in (1, 2, 3):
        tbl.write(o.filter(F.col("o_orderkey") % 4 == r), mode="append")
    tbl.compact(spark, target_files=2)
    tbl.vacuum()
    return tbl.read(spark)


@register(
    "delta_delete",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 50000)
    """,
)
def delta_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Delta DELETE (GDPR/right-to-be-forgotten shape): copy-on-write
    # rewrite of surviving rows as a new version; the deleted slice
    # remains in history until VACUUM — exactly Delta's contract.
    tbl = DeltaLikeTable(workdir(sf_dir, "delta_delete"))
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    tbl.write(o, mode="overwrite")
    return tbl.delete(
        spark,
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") < 50000),
    )


@register(
    "delta_restore",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    """,
)
def delta_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    # RESTORE TO VERSION AS OF (the bad-deploy undo): v0+v1 build the
    # full table, v2 deletes a slice, restore(1) rolls back to the
    # pre-delete state as a NEW metadata-only commit — no data rewrite
    # (O(log) at 100 TB), history intact. Reading latest must equal the
    # full orders slice again.
    tbl = DeltaLikeTable(workdir(sf_dir, "delta_restore"))
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    tbl.write(o.filter(F.col("o_orderdate") < _CUT).drop("o_orderdate"),
              mode="overwrite")
    tbl.write(o.filter(F.col("o_orderdate") >= _CUT).drop("o_orderdate"),
              mode="append")
    tbl.delete(
        spark,
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") < 50000),
    )
    tbl.restore(1)
    return tbl.read(spark)


@register(
    "delta_partition_pruning",
    """
    SELECT event_type,
           date_trunc('hour', ts) AS window_start,
           COUNT(*) AS n_events
    FROM events WHERE event_type = 'click'
    GROUP BY 1, 2 ORDER BY 2
    """,
)
def delta_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned Delta write + log-metadata partition pruning.

    Events land partitioned by event_type (hive layout, the spec's
    ``partitionValues`` on every add action); the read then selects ONE
    partition by filtering those log entries — no directory listing, no
    file opened outside the partition, O(live add actions) driver work.
    At 100 TB this is the difference between scanning a full table and
    one partition; the same log metadata also answers per-partition
    file/size stats without touching storage. The pruned-file-set
    property is asserted in tests/test_storage.py.
    """
    def build(tbl: DeltaLikeTable) -> None:
        ev = t(spark, sf_dir, "events").select("event_id", "ts", "event_type")
        tbl.write(ev, mode="overwrite", partition_by=["event_type"])

    tbl = _staged_table(sf_dir, "delta_partitioned", build)
    pruned = tbl.read(spark, partition_filter={"event_type": "click"})
    return (
        pruned.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("window_start")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("window_start")
    )


@register(
    "delta_data_skipping",
    f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           ROUND(CAST(SUM({sql_micros("o_totalprice")}) AS DOUBLE) / 1000000, 2) AS revenue
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '2000-01-01'
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def delta_data_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats-based data skipping (the add action's ``stats`` field):
    orders land as one file per year (range-partitioned appends, the
    natural layout of a date-loaded table), so each add action carries a
    tight o_orderdate min/max; the read's stats_filter drops every file
    whose range cannot contain the predicate BEFORE it is opened —
    O(log metadata) driver work, not a scan. The residual row-level
    filter keeps the semantics exact (skipping is conservative). On a
    100 TB date-sorted table this prunes most of the table for any
    time-bounded query — the same mechanics Delta/Iceberg readers run.
    The pruned-file-set property is asserted in tests/test_storage.py.
    """
    def build(tbl: DeltaLikeTable) -> None:
        o = t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
        )
        for year in range(1995, 2002):
            tbl.write(
                o.filter(F.year("o_orderdate") == year).coalesce(1),
                mode="append" if year > 1995 else "overwrite",
            )

    tbl = _staged_table(sf_dir, "delta_skipping", build)
    pruned = tbl.read(
        spark, stats_filter={"o_orderdate": ("2000-01-01", None)}
    )
    return (
        pruned.filter(F.col("o_orderdate") >= "2000-01-01")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(micros(F.col("o_totalprice"))).cast("double")
                / 1_000_000,
                2,
            ).alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "delta_change_data_feed",
    """
    SELECT 'insert' AS change_type,
           c_custkey + 1000000 AS c_custkey,
           ROUND(c_acctbal, 2) AS acctbal
    FROM customer WHERE c_custkey % 97 = 0
    UNION ALL
    -- +1000 applies to the STORED ROUND(.,2) value, as the engine does
    -- (raw-vs-stored derivations diverge on >2dp sources; ADVICE r7 class)
    SELECT 'update_postimage', c_custkey, ROUND(ROUND(c_acctbal, 2) + 1000, 2)
    FROM customer WHERE c_custkey % 10 = 0
    UNION ALL
    SELECT 'update_preimage', c_custkey, ROUND(c_acctbal, 2)
    FROM customer WHERE c_custkey % 10 = 0
    ORDER BY change_type, c_custkey
    """,
)
def delta_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed: row-level changes of table version 1, read from
    the log (``DeltaLikeTable.changes``, Delta's
    ``readChangeFeed`` with startingVersion = endingVersion = 1) — what
    an incremental downstream (dbt incremental model, CDC consumer)
    reads instead of the full table.

    v0 = customers; v1 = MERGE of updates (+1000 balance for key%10=0)
    and inserts (key%97=0 re-keyed) (``_cdf_table``). Each commit's feed
    is the multiset diff of the rows of the files it added and removed
    (``deltalog.change_diff``): appeared rows are inserts or update
    post-images and vanished rows update pre-images or deletes, by key
    presence on the other side. At 100 TB a native CDF writes change
    files at commit time instead (the protocol's cdc actions); the read
    semantics shown here are identical.
    """
    feed = _cdf_table(spark, sf_dir, "delta_cdf").changes(spark, 1, 1)
    return feed.select("change_type", "c_custkey", "acctbal").orderBy(
        "change_type", "c_custkey"
    )


@register(
    "delta_shallow_clone",
    f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           ROUND(CAST(SUM({sql_micros("c_acctbal")}) AS DOUBLE) / 1000000, 2) AS total_balance
    FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def delta_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE: fork a table as metadata only — the clone's first
    commit re-adds the source's live files by absolute path, zero bytes
    copied (how a dev environment forks a 100 TB production table
    instantly). The clone then evolves independently: here it appends
    rows the source never sees, and the oracle checks the source-shaped
    aggregate over the CLONE MINUS its private append — proving both
    the zero-copy read and the copy-on-write isolation.
    """
    def build(tbl: DeltaLikeTable) -> None:
        tbl.write(
            t(spark, sf_dir, "customer").select(
                "c_custkey", "c_mktsegment", "c_acctbal"
            ),
            mode="overwrite",
        )

    src = _staged_table(sf_dir, "delta_clone_src", build)
    clone = src.clone_to(workdir(sf_dir, "delta_clone_dst"))
    marker = spark.range(1).select(
        (F.col("id") - 1000000).alias("c_custkey"),
        F.lit("CLONE_ONLY").alias("c_mktsegment"),
        F.lit(0.0).alias("c_acctbal"),
    )
    clone.write(marker, mode="append")
    return (
        clone.read(spark)
        .filter(F.col("c_mktsegment") != "CLONE_ONLY")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum(micros(F.col("c_acctbal"))).cast("double") / 1_000_000,
                2,
            ).alias("total_balance"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "delta_time_travel_ts",
    f"""
    SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS resolved_version
    FROM orders
    WHERE o_orderdate < TIMESTAMP '{_CUT}'
    """,
)
def delta_time_travel_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``TIMESTAMP AS OF`` time travel: resolve a wall-clock instant to
    the latest commit at-or-before it via the log's commitInfo
    timestamps (sources/deltalike.py:version_at_timestamp), then read
    that version — the public Delta surface next to ``VERSION AS OF``.
    Resolution is O(#commits) driver-side log work; no data file is
    touched until the resolved version is scanned, so it costs the same
    at 100 TB as at fixture scale. The emitted ``resolved_version``
    column makes the resolution itself hash-checked (the oracle pins 0).
    """
    import time as _time

    tbl = DeltaLikeTable(workdir(sf_dir, "delta_time_travel_ts"))
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    tbl.write(o.filter(F.col("o_orderdate") < _CUT), mode="overwrite")
    ts0 = tbl.commit_timestamp(0)
    # Commit timestamps have ms granularity; make sure commit 1 lands on
    # a strictly later ms so "instant between the commits" exists.
    while int(_time.time() * 1000) <= ts0:
        _time.sleep(0.001)
    tbl.write(o.filter(F.col("o_orderdate") >= _CUT), mode="append")
    between = tbl.commit_timestamp(1) - 1  # >= ts0, < ts1
    v = tbl.version_at_timestamp(between)
    return tbl.read(spark, as_of=v).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit(v).cast("int").alias("resolved_version"),
    )


@register(
    "delta_vacuum",
    """
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           0 AS reclaimed_within_retention,
           1 AS reclaimed_after_retention,
           TRUE AS v0_readable_within_retention
    FROM orders
    """,
)
def delta_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``VACUUM ... RETAIN`` separated from OPTIMIZE (delta_compact
    bundles them): v1 overwrites v0, leaving v0's file unreachable; a
    vacuum with a generous retention window must reclaim NOTHING (v0
    stays time-travelable — the gate that protects in-flight readers),
    then a retention-0 vacuum reclaims exactly v0's one file. Both
    outcomes plus the latest content are hash-checked; single-file
    commits (coalesce) make the reclaim count deterministic. Vacuum
    keeps what the version current at the cutoff (or any later commit)
    references and deletes older files under the root outside that set:
    O(files under the root) driver listing + unlinks, no data read. At
    retention 0 a concurrent writer's uncommitted files are not
    protected — the same hazard as Delta's.
    """
    tbl = DeltaLikeTable(workdir(sf_dir, "delta_vacuum"))
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    tbl.write(
        o.filter(F.col("o_orderdate") < _CUT).drop("o_orderdate").coalesce(1),
        mode="overwrite",
    )
    v0_rows = tbl.read(spark, as_of=0).count()
    tbl.write(o.drop("o_orderdate").coalesce(1), mode="overwrite")
    kept = tbl.vacuum(retention_ms=10**9)  # window open → reclaim nothing
    v0_still = tbl.read(spark, as_of=0).count() == v0_rows
    reclaimed = tbl.vacuum(retention_ms=0)  # window expired → v0's file
    return tbl.read(spark).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit(len(kept)).cast("int").alias("reclaimed_within_retention"),
        F.lit(len(reclaimed)).cast("int").alias("reclaimed_after_retention"),
        F.lit(bool(v0_still)).alias("v0_readable_within_retention"),
    )


@register(
    "delta_zorder",
    f"""
    SELECT COUNT(*) AS n_li,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM({sql_micros("l_extendedprice")}) AS DOUBLE) / 1000000.0
             AS sum_price,
           TRUE AS zorder_skips,
           TRUE AS zorder_beats_linear
    FROM lineitem
    WHERE (l_suppkey * 4) // (SELECT COUNT(*) FROM supplier) = 2
    """,
)
def delta_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ZORDER BY (l_partkey, l_suppkey): multi-dimensional
    clustering so data skipping works on EITHER dimension. Files are the
    cells of a 4x4 Z-curve over the two normalized key spaces (top two
    bits of each dim, interleaved p1 s1 p0 s0 — the Morton order Delta's
    OPTIMIZE ZORDER sorts by); a second table is linearly clustered on
    l_partkey alone as the control. A suppkey-band predicate then skips
    12 of 16 files on the Z-layout (only the sx=2 cells overlap) but
    reads the ENTIRE linear layout (every partkey slice spans all
    suppkeys) — the asymmetry that makes Z-ordering the 100 TB answer
    for tables queried on more than one column. Both facts are asserted
    from log metadata alone (live_files — no file opened), and the band
    aggregate itself is hash-checked against the raw table.
    """
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice",
    )
    smax = t(spark, sf_dir, "supplier").count()
    pmax = t(spark, sf_dir, "part").count()

    def build_z(tbl: DeltaLikeTable) -> None:
        zfile = F.expr(
            f"(((l_partkey * 4) DIV {pmax}) DIV 2) * 8"
            f" + (((l_suppkey * 4) DIV {smax}) DIV 2) * 4"
            f" + (((l_partkey * 4) DIV {pmax}) % 2) * 2"
            f" + (((l_suppkey * 4) DIV {smax}) % 2)"
        )
        tbl.write(
            li.withColumn("zfile", zfile.cast("int")).repartition(16, "zfile"),
            mode="overwrite",
            partition_by=["zfile"],
        )

    def build_linear(tbl: DeltaLikeTable) -> None:
        lfile = F.expr(f"(l_partkey * 16) DIV {pmax}")
        tbl.write(
            li.withColumn("lfile", lfile.cast("int")).repartition(16, "lfile"),
            mode="overwrite",
            partition_by=["lfile"],
        )

    zt = _staged_table(sf_dir, "delta_zorder", build_z)
    lt = _staged_table(sf_dir, "delta_zlinear", build_linear)

    # suppkey band = bucket sx == 2, i.e. s*4 in [2*smax, 3*smax)
    s_lo = -(-2 * smax // 4)
    s_hi = -(-3 * smax // 4) - 1
    band = {"l_suppkey": (s_lo, s_hi)}
    z_scanned = len(zt.live_files(stats_filter=band))
    z_total = len(zt.live_files())
    l_scanned = len(lt.live_files(stats_filter=band))
    return (
        zt.read(spark, stats_filter=band)
        .filter(F.col("l_suppkey").between(s_lo, s_hi))
        .agg(
            F.count(F.lit(1)).alias("n_li"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            (
                F.sum(micros(F.col("l_extendedprice"))).cast("double")
                / 1000000.0
            ).alias("sum_price"),
        )
        .select(
            "n_li",
            "sum_qty",
            "sum_price",
            F.lit(bool(z_scanned < z_total)).alias("zorder_skips"),
            F.lit(bool(2 * z_scanned <= l_scanned)).alias(
                "zorder_beats_linear"
            ),
        )
    )


@register(
    "delta_history",
    """
    SELECT version, operation, ts_monotonic
    FROM (VALUES (4, 'RESTORE',  TRUE),
                 (3, 'OPTIMIZE', TRUE),
                 (2, 'DELETE',   TRUE),
                 (1, 'WRITE',    TRUE),
                 (0, 'WRITE',    TRUE))
         AS h(version, operation, ts_monotonic)
    ORDER BY version DESC
    """,
)
def delta_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DESCRIBE HISTORY``: one row per commit, newest first, from the
    log's commitInfo actions (sources/deltalike.py:history) — every
    write path stamps its operation name (WRITE/OVERWRITE/DELETE/MERGE/
    OPTIMIZE/RESTORE/CLONE/VACUUM), exactly the audit surface Delta
    users script retention and debugging against. O(#commits) driver
    log reads, no data file opened — the same cost at 100 TB. The op
    drives a fresh five-commit lifecycle (append, append, DELETE,
    OPTIMIZE, RESTORE) and hash-checks the reported operations plus
    commit-timestamp monotonicity (the invariant timestampAsOf
    resolution depends on).
    """
    tbl = DeltaLikeTable(workdir(sf_dir, "delta_history"))
    c = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    half = F.col("c_custkey") % 2 == 0
    tbl.write(c.filter(half).coalesce(1))                       # v0 WRITE
    tbl.write(c.filter(~half).coalesce(1))                      # v1 WRITE
    tbl.delete(spark, F.col("c_mktsegment") == "BUILDING")      # v2 DELETE
    tbl.compact(spark)                                          # v3 OPTIMIZE
    tbl.restore(1)                                              # v4 RESTORE
    hist = tbl.history()
    ts = {h["version"]: h["timestamp"] for h in hist}
    rows = [
        (
            h["version"],
            h["operation"],
            bool(
                h["version"] == 0
                or ts[h["version"]] >= ts[h["version"] - 1]
            ),
        )
        for h in hist
    ]
    return spark.createDataFrame(
        rows, "version int, operation string, ts_monotonic boolean"
    )


@register(
    "delta_constraints",
    f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           TRUE AS bad_price_rejected,
           TRUE AS bad_status_rejected,
           TRUE AS constraint_in_history
    FROM orders
    WHERE o_orderdate < TIMESTAMP '{_CUT}'
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def delta_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ALTER TABLE ... ADD CONSTRAINT ... CHECK``: constraints live in
    the metaData configuration (``delta.constraints.<name>``, the
    protocol's representation), survive unrelated writes, and gate every
    subsequent commit — a violating append must fail atomically (no
    partial data lands) while NULLs pass per SQL CHECK semantics.
    The write job asserts the checks over the INCOMING frame, so a clean
    100 TB append pays no extra pass and never a table scan. The op
    hash-checks: the post-rejection table state (the bad appends left
    nothing behind), both rejections, and that the ALTER itself appears
    in DESCRIBE HISTORY.
    """
    tbl = DeltaLikeTable(workdir(sf_dir, "delta_constraints"))
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    ).filter(F.col("o_orderdate") < _CUT).drop("o_orderdate")
    half = F.col("o_orderkey") % 2 == 0
    tbl.write(o.filter(half))                                 # v0 WRITE
    tbl.add_check_constraint("price_positive", "o_totalprice > 0")
    tbl.add_check_constraint(
        "status_known", "o_orderstatus IN ('F', 'O', 'P')"
    )
    tbl.write(o.filter(~half))                                # clean append
    bad_price = o.limit(5).withColumn(
        "o_totalprice", -F.col("o_totalprice")
    )
    try:
        tbl.write(bad_price)
        price_rejected = False
    except ValueError:
        price_rejected = True
    bad_status = o.limit(5).withColumn("o_orderstatus", F.lit("X"))
    try:
        tbl.write(bad_status)
        status_rejected = False
    except ValueError:
        status_rejected = True
    in_history = any(
        h["operation"] == "ADD CONSTRAINT" for h in tbl.history()
    )
    return (
        tbl.read(spark)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            "o_orderstatus",
            "n_orders",
            F.lit(bool(price_rejected)).alias("bad_price_rejected"),
            F.lit(bool(status_rejected)).alias("bad_status_rejected"),
            F.lit(bool(in_history)).alias("constraint_in_history"),
        )
        .orderBy("o_orderstatus")
    )


_DV_ORACLE = f"""
SELECT c_nationkey,
       COUNT(*) AS n_kept,
       CAST(SUM({sql_micros("c_acctbal")}) AS BIGINT)
         AS bal_micros,
       TRUE AS files_unchanged,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
        WHERE c_acctbal < 0 AND c_custkey % 3 = 0) AS dv_rows
FROM customer
WHERE NOT (c_acctbal < 0 AND c_custkey % 3 = 0)
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


@register("delta_deletion_vectors", _DV_ORACLE)
def delta_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE via deletion vectors (merge-on-read): the commit re-adds
    the SAME data files with a ``deletionVector`` descriptor naming dead
    row positions — no file is rewritten, so a point delete on a 100 TB
    table costs O(matched rows), and readers mask them with a broadcast
    anti-join on (file, ``_metadata.row_index``). Copy-on-write
    ``delta_delete`` is the sibling for large-fraction deletes.

    Driver-checkable structure (sketch-op pattern): ``files_unchanged``
    asserts the live file SET is byte-for-byte the pre-delete one (the
    DV property itself; the oracle emits TRUE), ``dv_rows`` is the total
    descriptor cardinality (oracle: the predicate's match count), and
    the per-nation content proves the mask is applied on read.
    Fresh-per-call by design — the op's semantic IS the write path.
    """
    tbl = DeltaLikeTable(workdir(sf_dir, "delta_dv"))
    c = t(spark, sf_dir, "customer")
    tbl.write(c, mode="overwrite")
    before = sorted(a["path"] for a in tbl.live_files())
    tbl.delete_with_dv(
        spark, (F.col("c_acctbal") < 0) & (F.col("c_custkey") % 3 == 0)
    )
    after_adds = tbl.live_files()
    files_unchanged = before == sorted(a["path"] for a in after_adds)
    dv_rows = sum(
        a["deletionVector"]["cardinality"]
        for a in after_adds
        if a.get("deletionVector")
    )
    return (
        tbl.read(spark)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum(micros(F.col("c_acctbal")))
            .alias("bal_micros"),
        )
        .select(
            "c_nationkey",
            "n_kept",
            "bal_micros",
            F.lit(files_unchanged).alias("files_unchanged"),
            F.lit(int(dv_rows)).cast("long").alias("dv_rows"),
        )
        .orderBy("c_nationkey")
    )


_COLMAP_ORACLE = """
SELECT s_nationkey,
       COUNT(*) AS n_suppliers,
       MIN(s_name) AS first_supplier_name,
       TRUE AS rename_was_metadata_only,
       TRUE AS dropped_column_gone
FROM supplier
GROUP BY s_nationkey
ORDER BY s_nationkey
"""


@register("delta_column_mapping", _COLMAP_ORACLE)
def delta_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALTER TABLE RENAME/DROP COLUMN — metadata-only via the protocol's
    column mapping (name mode): parquet files keep their physical column
    names; the schemaString carries logical names plus a per-field
    ``delta.columnMapping.physicalName``, so renaming or dropping a
    column of a 100 TB table is one O(1) metaData commit with zero data
    I/O, and readers re-alias at scan time (a projection Catalyst folds
    into the scan — pruning still pushes down).

    The op writes half of supplier, renames ``s_name`` →
    ``supplier_name``, drops ``s_acctbal``, then APPENDS the other half
    through the logical schema (the writer physicalizes names so old and
    new files agree). ``rename_was_metadata_only`` asserts the data-file
    set was untouched by both ALTERs; ``dropped_column_gone`` asserts
    the logical schema lost the column while files still carry it.
    """
    tbl = DeltaLikeTable(workdir(sf_dir, "delta_colmap"))
    s = t(spark, sf_dir, "supplier")
    even = F.col("s_suppkey") % 2 == 0
    tbl.write(s.filter(even), mode="overwrite")
    files_before = sorted(a["path"] for a in tbl.live_files())
    tbl.rename_column("s_name", "supplier_name")
    tbl.drop_column("s_acctbal")
    files_after = sorted(a["path"] for a in tbl.live_files())
    metadata_only = files_before == files_after
    # append the rest through the LOGICAL schema
    tbl.write(
        s.filter(~even)
        .withColumnRenamed("s_name", "supplier_name")
        .drop("s_acctbal"),
        mode="append",
    )
    out = tbl.read(spark)
    dropped_gone = "s_acctbal" not in out.columns and (
        "supplier_name" in out.columns
    )
    return (
        out.groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.min("supplier_name").alias("first_supplier_name"),
        )
        .select(
            "s_nationkey",
            "n_suppliers",
            "first_supplier_name",
            F.lit(metadata_only).alias("rename_was_metadata_only"),
            F.lit(dropped_gone).alias("dropped_column_gone"),
        )
        .orderBy("s_nationkey")
    )


_TXN_ORACLE = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       TRUE AS replay_was_skipped,
       TRUE AS retry_was_skipped
FROM orders
WHERE o_orderdate < TIMESTAMP '1999-01-01'
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@register("delta_txn_idempotent", _TXN_ORACLE)
def delta_txn_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ingestion via the protocol's ``txn`` action: every
    commit is stamped with (appId, version) and a writer skips any batch
    at or below its stored high-water mark — the retry/replay guard a
    streaming sink or orchestrated backfill needs, with the stamp and
    the data in the SAME atomic commit (no external ledger to drift).
    Checkpoints carry the newest txn per appId, so dedup survives log
    compaction. At 100 TB this is what makes a 1000-task loader safe to
    re-run wholesale after a partial failure: completed batches no-op.

    The op loads two order batches, then replays batch 1 (same txn
    version — skipped) and retries batch 2 (skipped); the content equals
    each batch landing exactly once, and the booleans assert both skips.
    """
    tbl = DeltaLikeTable(workdir(sf_dir, "delta_txn"))
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate"
    )
    b1 = o.filter(F.col("o_orderdate") < "1998-01-01")
    b2 = o.filter(
        (F.col("o_orderdate") >= "1998-01-01")
        & (F.col("o_orderdate") < "1999-01-01")
    )
    tbl.write_idempotent(b1, "loader", 1, mode="overwrite")
    tbl.write_idempotent(b2, "loader", 2, mode="append")
    _, wrote_replay = tbl.write_idempotent(b1, "loader", 1, mode="append")
    _, wrote_retry = tbl.write_idempotent(b2, "loader", 2, mode="append")
    return (
        tbl.read(spark)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            "o_orderstatus",
            "n_orders",
            F.lit(not wrote_replay).alias("replay_was_skipped"),
            F.lit(not wrote_retry).alias("retry_was_skipped"),
        )
        .orderBy("o_orderstatus")
    )


_GENCOL_ORACLE = f"""
SELECT CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS o_month,
       COUNT(*) AS n_orders,
       CAST(SUM({sql_micros("o_totalprice")}) AS BIGINT)
         AS price_micros,
       TRUE AS wrong_value_rejected
FROM orders
GROUP BY DATE_TRUNC('month', o_orderdate)
ORDER BY o_month
"""


@register("delta_generated_columns", _GENCOL_ORACLE)
def delta_generated_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED ALWAYS AS columns: the generation expression is table
    metadata (schemaString field metadata, the protocol's
    ``delta.generationExpression``), and the ENGINE owns the value —
    writers that omit the column get it computed, writers that supply a
    mismatching value are rejected atomically. That is what makes
    derived layout keys (month buckets, date partitions) trustworthy
    across every producer of a 100 TB table: no pipeline can drift the
    derivation. The op declares ``o_month = date_trunc('month',
    o_orderdate)``, overwrites with orders (column computed), proves a
    poisoned append rejects (``wrong_value_rejected``), then aggregates
    BY the generated column — per-month stats with no recomputation at
    read time.
    """
    tbl = DeltaLikeTable(workdir(sf_dir, "delta_gencol"))
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    tbl.write(o.limit(0), mode="overwrite")  # establish schema for ALTER
    tbl.add_generated_column(
        "o_month", "date_trunc('month', o_orderdate)", dtype="timestamp"
    )
    tbl.write(o, mode="overwrite")  # engine computes o_month
    poisoned = o.limit(5).withColumn(
        "o_month",
        F.add_months(F.date_trunc("month", "o_orderdate"), 1).cast(
            "timestamp"
        ),  # type-correct, value-wrong: only the generation check can fire
    )
    try:
        tbl.write(poisoned, mode="append")
        wrong_value_rejected = False
    except ValueError as e:
        wrong_value_rejected = "generated column" in str(e)
    return (
        tbl.read(spark)
        .groupBy("o_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                micros(F.col("o_totalprice"))
            ).alias("price_micros"),
        )
        .select(
            "o_month",
            "n_orders",
            "price_micros",
            F.lit(wrong_value_rejected).alias("wrong_value_rejected"),
        )
        .orderBy("o_month")
    )


_MERGE_SYNC_ORACLE = """
WITH source AS (
  SELECT o_orderkey,
         o_totalprice * 1.05 AS o_totalprice,
         'S' AS o_orderstatus
  FROM orders WHERE o_orderkey % 3 = 0
),
target AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 2 = 0
)
SELECT s.o_orderkey, s.o_totalprice, s.o_orderstatus,
       (t.o_orderkey IS NOT NULL) AS was_update
FROM source s LEFT JOIN target t ON s.o_orderkey = t.o_orderkey
ORDER BY s.o_orderkey
"""


@register("delta_merge_full_sync", _MERGE_SYNC_ORACLE)
def delta_merge_full_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with ``WHEN NOT MATCHED BY SOURCE THEN DELETE`` — the
    full-sync / snapshot-mirror pattern: one MERGE makes the target an
    exact mirror of the source (matched → update, new → insert, absent
    from source → DELETE). This is how a 100 TB serving table tracks an
    upstream system that ships full snapshots: churn-proportional work
    on the matched/new side plus one anti-set of stale keys, not a
    truncate-and-reload. End state must equal the source exactly —
    ``was_update`` distinguishes rows that overwrote an existing key
    from fresh inserts, which the oracle reconstructs from the same
    deterministic key split.
    """
    tbl = DeltaLikeTable(workdir(sf_dir, "delta_merge_sync"))
    o = t(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    source = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") * 1.05).alias("o_totalprice"),
        F.lit("S").alias("o_orderstatus"),
    )
    tbl.write(target, mode="overwrite")
    tbl.merge(
        spark, source, on="o_orderkey", delete_not_matched_by_source=True
    )
    was_update = (F.col("o_orderkey") % 2 == 0).alias("was_update")
    return (
        tbl.read(spark)
        .select("o_orderkey", "o_totalprice", "o_orderstatus", was_update)
        .orderBy("o_orderkey")
    )


@register(
    "delta_update",
    f"""
    WITH c AS (
      SELECT c_custkey, c_mktsegment, ROUND(c_acctbal, 2) AS acctbal,
             -- cents derive from the SAME stored ROUND(.,2) value the
             -- Spark side reads back (ADVICE r7): deriving from raw
             -- c_acctbal is identical only while fixtures are exactly
             -- 2dp — a >2dp source value would skew the two by 1 cent
             {sql_cents("ROUND(c_acctbal, 2)")} AS cents
      FROM customer
    )
    SELECT c_custkey,
           CASE WHEN c_mktsegment = 'BUILDING' AND c_custkey % 2 = 0
                THEN 'BUILDING-PRIORITY' ELSE c_mktsegment
           END AS c_mktsegment,
           CASE WHEN c_mktsegment = 'BUILDING' AND c_custkey % 2 = 0
                THEN CAST(CASE WHEN cents < 0
                               THEN -((-cents * 110 + 50) // 100)
                               ELSE (cents * 110 + 50) // 100
                          END AS DOUBLE) / 100
                ELSE acctbal
           END AS acctbal
    FROM c
    ORDER BY c_custkey
    """,
)
def delta_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``UPDATE table SET ... WHERE ...`` — the remaining DML verb
    (DELETE, MERGE, and the DV/full-sync variants are registered
    separately): predicate-selected rows get column rewrites in one
    copy-on-write commit stamped ``UPDATE`` in commitInfo, history
    stays time-travelable, rows where the predicate is NULL are left
    untouched (SQL WHERE semantics, same discipline as DELETE). The
    rewrite itself is a single projection with CASE — no join, no
    shuffle — committed through ``DeltaLikeTable.rewrite``, which
    rewrites every live file. Rewriting only the files whose stats
    overlap the predicate is ROADMAP item 4(a): one file selection in
    ``_rewrite`` for every read-modify-write.
    """
    tbl = DeltaLikeTable(workdir(sf_dir, "delta_update"))
    c = t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", F.round("c_acctbal", 2).alias("acctbal")
    )
    tbl.write(c, mode="overwrite")
    cond = (F.col("c_mktsegment") == "BUILDING") & (F.col("c_custkey") % 2 == 0)
    # the 10% uplift runs in exact cents-integer arithmetic (half-away
    # rounding spelled out in CASE) — ROUND(acctbal * 1.1, 2) on the
    # double product tie-diverged between Spark's HALF_UP and DuckDB's
    # rounding on one sf0.1 row (found r7); the final /100 division of
    # identical longs is bit-identical in both engines
    uplift = F.expr(
        f"CAST(CASE WHEN {sql_cents('acctbal')} < 0 "
        f"THEN -((-{sql_cents('acctbal')} * 110 + 50) div 100) "
        f"ELSE ({sql_cents('acctbal')} * 110 + 50) div 100 "
        "END AS DOUBLE) / 100"
    )
    tbl.rewrite(spark, lambda cur: cur.select(
        "c_custkey",
        F.when(cond, F.lit("BUILDING-PRIORITY"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        F.when(cond, uplift).otherwise(F.col("acctbal")).alias("acctbal"),
    ), "UPDATE")
    return tbl.read(spark).select(
        "c_custkey", "c_mktsegment", "acctbal"
    ).orderBy("c_custkey")


@register(
    "delta_merge_schema_evolution",
    """
    WITH src AS (
      -- +500 applies to the STORED ROUND(.,2) value, mirroring the engine
      SELECT c_custkey, ROUND(ROUND(c_acctbal, 2) + 500, 2) AS acctbal,
             'tier-' || CAST(c_custkey % 3 AS VARCHAR) AS loyalty_tier
      FROM customer WHERE c_custkey % 5 = 0
    )
    SELECT c.c_custkey,
           CASE WHEN s.c_custkey IS NOT NULL THEN s.acctbal
                ELSE ROUND(c.c_acctbal, 2) END AS acctbal,
           s.loyalty_tier
    FROM customer c LEFT JOIN src s ON c.c_custkey = s.c_custkey
    ORDER BY c.c_custkey
    """,
)
def delta_merge_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE WITH SCHEMA EVOLUTION — the source carries a column the
    target has never seen (`loyalty_tier`) and the merge widens the
    table schema in the SAME atomic commit that lands the data:
    matched rows take source values for old and new columns, untouched
    rows read NULL in the new column, and the commit's metaData action
    carries the widened schemaString so readers at this version see
    one consistent schema (readers at earlier versions see the old
    one — schema is versioned with the data). This is the CDC-ingest
    reality where upstream adds fields mid-stream and the pipeline
    must not stop; the alternative (fail, ALTER, re-run) loses
    exactly-once. Join cost identical to plain MERGE.
    """
    tbl = DeltaLikeTable(workdir(sf_dir, "merge_evolve"))
    c = t(spark, sf_dir, "customer").select(
        "c_custkey", F.round("c_acctbal", 2).alias("acctbal")
    )
    tbl.write(c, mode="overwrite")
    src = c.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        F.round(F.col("acctbal") + 500, 2).alias("acctbal"),
        F.concat(
            F.lit("tier-"), (F.col("c_custkey") % 3).cast("string")
        ).alias("loyalty_tier"),
    )
    tbl.merge(spark, src, on="c_custkey", evolve_schema=True)
    return tbl.read(spark).select(
        "c_custkey", "acctbal", "loyalty_tier"
    ).orderBy("c_custkey")


@register(
    "delta_concurrent_writers",
    """
    SELECT o_orderstatus, COUNT(*) AS n_rows,
           3 AS n_commits, TRUE AS both_writers_committed
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def delta_concurrent_writers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-writer ACID: two writers append CONCURRENTLY (barrier
    start, real threads) and both commits must land — the protocol's
    optimistic-concurrency contract. The commit path stages actions to
    a temp file and publishes with put-if-absent (os.link fails if the
    version exists; object stores use if-none-match), so the losing
    writer detects the collision, re-reads the log, and retries at the
    next version — no lock service, no lost update, exactly Delta's
    documented loop. The op asserts the log ends at version 2 (base +
    two appends, whatever the race order) and the table content is the
    exact union of both writers' rows — serialized-equivalence, which
    is what ACID isolation promises. Appends are disjoint row sets, so
    either commit order yields the same state (the conflict-semantics
    fine print: disjoint appends always reconcile).
    """
    import threading

    tbl = DeltaLikeTable(workdir(sf_dir, "concurrent"))
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    tbl.write(o.filter(F.col("o_orderkey") % 3 == 0), mode="overwrite")
    parts = [
        o.filter(F.col("o_orderkey") % 3 == 1),
        o.filter(F.col("o_orderkey") % 3 == 2),
    ]
    barrier = threading.Barrier(2)
    errors: list = []

    def writer(df):
        try:
            barrier.wait(timeout=60)
            tbl.write(df, mode="append")
        except Exception as exc:  # pragma: no cover - surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(p,)) for p in parts]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if errors:
        raise errors[0]
    n_commits = tbl.latest_version + 1
    return (
        tbl.read(spark)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "o_orderstatus", "n_rows",
            F.lit(n_commits).alias("n_commits"),
            F.lit(n_commits == 3).alias("both_writers_committed"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "delta_merge_insert_only",
    """
    WITH target AS (
      SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS price
      FROM orders WHERE o_orderkey % 4 <> 0
    ), feed AS (
      -- the CDC feed re-delivers half the existing keys (noise) plus
      -- the genuinely new %4 slice
      SELECT o_orderkey, o_orderstatus,
             ROUND(ROUND(o_totalprice, 2) + 999, 2) AS price
      FROM orders WHERE o_orderkey % 2 = 1
      UNION ALL
      SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2)
      FROM orders WHERE o_orderkey % 4 = 0
    )
    SELECT t.o_orderkey, t.o_orderstatus, t.price FROM target t
    UNION ALL
    SELECT f.o_orderkey, f.o_orderstatus, f.price
    FROM feed f LEFT JOIN target t ON f.o_orderkey = t.o_orderkey
    WHERE t.o_orderkey IS NULL
    ORDER BY o_orderkey
    """,
)
def delta_merge_insert_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Insert-only MERGE (`WHEN NOT MATCHED THEN INSERT`, no update
    clause) — the idempotent-append CDC pattern: a feed that
    re-delivers already-loaded keys must NOT touch them (at-least-once
    upstreams re-send; an update clause would let late noise clobber
    good rows), only genuinely new keys land. Because matched rows are
    untouched, the engine plans this as an ANTI-JOIN + APPEND — no
    full-outer rewrite, no rewrite of existing files, which is why
    insert-only merge is the one MERGE shape that stays append-cheap
    at 100 TB (Delta's insert-only merge optimization does exactly
    this). The feed's re-delivered rows carry ALTERED prices to prove
    they were discarded, not applied.
    """
    tbl = DeltaLikeTable(workdir(sf_dir, "merge_insert_only"))
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("price")
    )
    tbl.write(o.filter(F.col("o_orderkey") % 4 != 0), mode="overwrite")
    feed = (
        o.filter(F.col("o_orderkey") % 2 == 1)
        .withColumn("price", F.round(F.col("price") + 999, 2))
        .unionByName(o.filter(F.col("o_orderkey") % 4 == 0))
    )
    target_keys = tbl.read(spark).select("o_orderkey")
    new_rows = feed.join(target_keys, "o_orderkey", "left_anti")
    tbl.write(new_rows, mode="append", operation="MERGE")
    return tbl.read(spark).select(
        "o_orderkey", "o_orderstatus", "price"
    ).orderBy("o_orderkey")


@register(
    "delta_replace_where",
    f"""
    WITH fresh AS (
      -- cents derive from the STORED ROUND(.,2) price the engine reads
      -- back, not raw o_totalprice (identical only on 2dp fixtures)
      SELECT o_orderkey, o_orderstatus,
             CAST(({sql_cents("ROUND(o_totalprice, 2)")} * 9)
                  // 10 AS DOUBLE) / 100 AS price
      FROM orders WHERE o_orderstatus = 'F'
    )
    SELECT o_orderkey, o_orderstatus, price FROM fresh
    UNION ALL
    SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS price
    FROM orders WHERE o_orderstatus <> 'F'
    ORDER BY o_orderkey
    """,
)
def delta_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`replaceWhere` — overwrite ONLY the slice a predicate selects, in
    one atomic commit (the selective-backfill verb: recompute one
    status/date/region and swap it in while every other row stays
    byte-identical and readers never see a gap). Semantically: new
    data must satisfy the predicate (validated inside the write job — a backfill
    that writes outside its declared slice is corrupt), surviving
    rows = NOT(predicate), and kept ∪ fresh commits as one version.
    Unlike full overwrite, the blast radius is the predicate; unlike
    DELETE+append, there is no intermediate state. At 100 TB with the
    table partitioned on the predicate column this touches only the
    matching partitions' files.
    """
    tbl = DeltaLikeTable(workdir(sf_dir, "replace_where"))
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("price")
    )
    tbl.write(o, mode="overwrite")
    pred = F.col("o_orderstatus") == "F"
    # 10%-off in exact integer cents ((c*9) DIV 10) — a double
    # ROUND(x*0.9, 2) was measured to round differently across engines
    # at representation boundaries.
    fresh = o.filter(pred).withColumn(
        "price", cents(F.col("price")) * 9
    ).withColumn(
        "price", F.expr("CAST(price DIV 10 AS DOUBLE) / 100")
    )
    _replace_where(spark, tbl, pred, fresh)
    return tbl.read(spark).select(
        "o_orderkey", "o_orderstatus", "price"
    ).orderBy("o_orderkey")


def _replace_where(spark: SparkSession, tbl: DeltaLikeTable, pred, fresh) -> int:
    """Rewrite ``tbl`` as its rows outside ``pred`` plus ``fresh``;
    returns the version. The replaceWhere contract rejects
    data that violates the predicate: a raising Filter on ``fresh`` that
    the write job evaluates, as ``DeltaLikeTable._with_checks`` does, so
    the rows checked are the rows written and a violation commits
    nothing."""
    msg = "replaceWhere: data outside the declared slice"
    checked = fresh.filter(
        F.when(~pred.eqNullSafe(True), F.raise_error(msg)).otherwise(F.lit(True))
    )
    try:
        return tbl.rewrite(
            spark,
            lambda cur: cur.filter(~pred.eqNullSafe(True)).unionByName(checked),
            "REPLACE WHERE",
        )
    except Exception as e:
        if msg not in str(e):
            raise
        raise ValueError(msg) from None


@register(
    "delta_dynamic_partition_overwrite",
    f"""
    WITH fresh AS (
      -- cents derive from the STORED ROUND(.,2) price the engine reads
      -- back (the delta_replace_where exact-integer uplift pattern)
      SELECT o_orderkey, o_orderstatus,
             CAST(({sql_cents("ROUND(o_totalprice, 2)")} * 11)
                  // 10 AS DOUBLE) / 100 AS price
      FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT o_orderkey, o_orderstatus, price FROM fresh
    UNION ALL
    SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS price
    FROM orders WHERE o_orderstatus <> 'O'
    ORDER BY o_orderkey
    """,
)
def delta_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``partitionOverwriteMode=dynamic`` — the partition-native sibling
    of delta_replace_where: the table is hive-partitioned on the
    overwrite key, the backfill df is written WITHOUT naming its slice,
    and the commit replaces exactly the partitions the data landed in
    (``write_dynamic_partition_overwrite``: staged adds' partitionValues
    pick the remove set; untouched partitions' files survive by
    identity — verified at the log level by the storage tests). This is
    the verb a 100 TB day-partitioned backfill actually uses: O(that
    slice's files) staged + removed, O(live add actions) driver
    metadata, never a table rewrite — and unlike replaceWhere there is
    no predicate to mis-declare; the slice is derived from the data.
    Price uplift in exact integer cents ((c*11) DIV 10, positive
    operands) — engine-identical, no double ROUND ties.
    """
    tbl = DeltaLikeTable(workdir(sf_dir, "dyn_part_overwrite"))
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("price"),
    )
    tbl.write(o, mode="overwrite", partition_by=["o_orderstatus"])
    fresh = (
        o.filter(F.col("o_orderstatus") == "O")
        .withColumn("price", cents(F.col("price")) * 11)
        .withColumn("price", F.expr("CAST(price DIV 10 AS DOUBLE) / 100"))
    )
    tbl.write_dynamic_partition_overwrite(fresh, ["o_orderstatus"])
    return (
        tbl.read(spark)
        .select("o_orderkey", "o_orderstatus", "price")
        .orderBy("o_orderkey")
    )


@register(
    "delta_table_properties",
    """
    SELECT * FROM (VALUES
      ('delta.appendOnly', 'false', TRUE),
      ('owner', 'data-platform', TRUE),
      ('pipeline.tier', 'gold', TRUE)
    ) AS p(prop_key, prop_value, survived_write)
    ORDER BY prop_key
    """,
)
def delta_table_properties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`ALTER TABLE … SET TBLPROPERTIES` — the protocol's metaData
    configuration as a user surface: ownership, tiering, and behavior
    flags ride the table itself (not a side catalog), each SET is one
    O(1) metadata commit, and — the part that actually bites — the
    configuration must SURVIVE unrelated data writes (a writer that
    regenerates metaData from scratch silently wipes every property;
    this table layer carries configuration forward, same machinery the
    CHECK-constraint op relies on). The op sets three properties, runs
    a data append AFTER them, and emits each property with a flag
    asserting it is still present post-write.
    """
    tbl = DeltaLikeTable(workdir(sf_dir, "tblprops"))
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    tbl.write(n.filter(F.col("n_nationkey") < 10), mode="overwrite")
    props = {
        "delta.appendOnly": "false",
        "owner": "data-platform",
        "pipeline.tier": "gold",
    }
    tbl.set_properties(props)
    tbl.write(n.filter(F.col("n_nationkey") >= 10), mode="append")
    live = tbl.properties()
    rows = [
        (k, v, live.get(k) == v) for k, v in sorted(props.items())
    ]
    return spark.createDataFrame(
        rows, "prop_key string, prop_value string, survived_write boolean"
    ).orderBy("prop_key")


@register(
    "delta_deep_clone",
    """
    SELECT n_regionkey, COUNT(*) AS n_nations,
           TRUE AS clone_independent
    FROM nation
    GROUP BY n_regionkey
    ORDER BY n_regionkey
    """,
)
def delta_deep_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEEP CLONE — the full-copy sibling of `delta_shallow_clone`: the
    clone gets its OWN data files and log, so it stays correct after
    the source is vacuumed, mutated, or deleted (a shallow clone's
    absolute-path add actions dangle the moment the source GCs them —
    that lifetime coupling is exactly why prod backups are deep and
    dev forks are shallow). The op clones, then MUTATES THE SOURCE
    (delete + append), and asserts the clone still reads the original
    content — isolation proved, not assumed. Cost model is honest:
    deep clone is O(data) once (a distributed file copy, parallel per
    file), shallow is O(metadata); both are one atomic commit on the
    clone side.
    """
    src = DeltaLikeTable(workdir(sf_dir, "deepclone_src"))
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    src.write(n, mode="overwrite")
    clone = DeltaLikeTable(workdir(sf_dir, "deepclone_dst"))
    clone.write(src.read(spark), mode="overwrite", operation="CLONE")
    # mutate the SOURCE after cloning: the deep clone must not notice
    src.delete(spark, F.col("n_regionkey") == 0)
    src.write(
        n.withColumn("n_nationkey", F.col("n_nationkey") + 1000),
        mode="append",
    )
    got = clone.read(spark)
    expected_rows = n.count()
    independent = got.count() == expected_rows
    return (
        got.groupBy("n_regionkey")
        .agg(F.count(F.lit(1)).alias("n_nations"))
        .select(
            "n_regionkey", "n_nations",
            F.lit(bool(independent)).alias("clone_independent"),
        )
        .orderBy("n_regionkey")
    )


_MERGE_MATCHED_DELETE_ORACLE = """
WITH target AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderkey % 2 = 0
),
source AS (
  SELECT o_orderkey, o_totalprice * 1.1 AS o_totalprice,
         CASE WHEN o_orderkey % 6 = 0 THEN 'D' ELSE 'U' END
           AS o_orderstatus
  FROM orders WHERE o_orderkey % 3 = 0
)
SELECT t.o_orderkey,
       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
            ELSE t.o_totalprice END AS o_totalprice,
       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderstatus
            ELSE t.o_orderstatus END AS o_orderstatus
FROM target t LEFT JOIN source s ON s.o_orderkey = t.o_orderkey
WHERE NOT (s.o_orderkey IS NOT NULL AND s.o_orderstatus = 'D')
UNION ALL
SELECT s.o_orderkey, s.o_totalprice, s.o_orderstatus
FROM source s LEFT JOIN target t ON t.o_orderkey = s.o_orderkey
WHERE t.o_orderkey IS NULL
ORDER BY o_orderkey
"""


@register("delta_merge_matched_delete", _MERGE_MATCHED_DELETE_ORACLE)
def delta_merge_matched_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE with ``WHEN MATCHED AND s.flag = 'D' THEN DELETE`` — the
    CDC-tombstone clause: a change feed carries updates AND deletion
    markers, and one MERGE applies both (flagged matched rows leave the
    table, other matched rows update, unmatched source rows insert).
    This completes the MERGE clause matrix alongside upsert,
    insert-only, full-sync, and schema-evolution. Note the asymmetry
    the oracle pins: a 'D'-flagged source row whose key is NOT in the
    target INSERTS (WHEN NOT MATCHED has no condition here) — exactly
    Delta's clause semantics, where each WHEN branch is independent.
    At 100 TB this is one key-shuffle join, churn-proportional like
    every MERGE here.
    """
    tbl = DeltaLikeTable(workdir(sf_dir, "delta_merge_mdel"))
    o = t(spark, sf_dir, "orders")
    target = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    source = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 6 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("o_orderstatus"),
    )
    tbl.write(target, mode="overwrite")
    tbl.merge(
        spark,
        source,
        on="o_orderkey",
        matched_delete_where="s.o_orderstatus = 'D'",
    )
    return (
        tbl.read(spark)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .orderBy("o_orderkey")
    )


_CDF_SYNC_ORACLE = """
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


@register("delta_cdf_downstream_sync", _CDF_SYNC_ORACLE)
def delta_cdf_downstream_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDF → downstream pipeline end-to-end: an upstream table takes
    a MERGE (updates + inserts) then a DELETE; the downstream replica,
    seeded at v0, catches up by reading the CHANGE FEED of each later
    version from the log and applying it as one tombstone MERGE per
    version, in order (``_apply_changes``, shared with
    stream_cdf_downstream_sync). This is the canonical Delta
    incremental-sync pattern: downstream work is proportional to the
    CHANGES between versions, never the table, which is the entire point
    of CDF at 100 TB. The oracle is the closed form of the upstream's
    final state — the sync is correct iff the replica hash-matches it.
    """
    src, down = _cdf_sync_tables(spark, sf_dir, "delta_cdf_downstream")
    for v in range(1, src.latest_version + 1):
        _apply_changes(spark, down, src.changes(spark, v, v))
    return down.read(spark).select("c_custkey", "acctbal").orderBy(
        "c_custkey"
    )


_OPTIMIZE_PLAN_ORACLE = """
SELECT o_orderstatus,
       CAST(COUNT(DISTINCT o_orderkey % 3) AS BIGINT) AS n_files,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       (COUNT(DISTINCT o_orderkey % 3) >= 3) AS needs_compaction
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@register("delta_optimize_plan", _OPTIMIZE_PLAN_ORACLE)
def delta_optimize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE planning from log metadata only: per partition, how
    many live files and rows, and whether the small-file count crosses
    the compaction threshold — the table-maintenance dashboard every
    lakehouse scheduler consults BEFORE paying for an OPTIMIZE
    (delta_compact demonstrates the rewrite itself). Three append
    batches into a status-partitioned table produce a known layout
    (one file per partition per batch — each batch is coalesced to a
    single writer partition), so the oracle states the expected plan
    in closed form while the op must genuinely recover it from the
    `_delta_log` add actions: `live_files()` partitionValues + stats
    numRecords, no data file listed or opened. Metadata-sized work at
    any scale — the log, not the data, bounds it.
    """
    import json as _json

    tbl = DeltaLikeTable(workdir(sf_dir, "delta_optimize_plan"))
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    tbl.write(
        o.filter(F.col("o_orderkey") % 3 == 0).repartition(1),
        mode="overwrite",
        partition_by=["o_orderstatus"],
    )
    for r in (1, 2):
        tbl.write(
            o.filter(F.col("o_orderkey") % 3 == r).repartition(1),
            mode="append",
            partition_by=["o_orderstatus"],
        )
    per_part: dict[str, list[int]] = {}
    for a in tbl.live_files():
        status = a["partitionValues"]["o_orderstatus"]
        n = _json.loads(a["stats"])["numRecords"]
        files, rows = per_part.get(status, [0, 0])
        per_part[status] = [files + 1, rows + n]
    return spark.createDataFrame(
        [
            (status, files, rows, files >= 3)
            for status, (files, rows) in sorted(per_part.items())
        ],
        "o_orderstatus string, n_files long, n_rows long, "
        "needs_compaction boolean",
    ).orderBy("o_orderstatus")
