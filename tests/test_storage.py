"""Unit tests for the Delta-like versioned storage layer and the model
graph runner — the write-path machinery under §2.1/§2.12 operators.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_local_duckdb_deltalake_project_spark.plans.graph import ModelGraph
from dbt_local_duckdb_deltalake_project_spark.sources.deltalike import DeltaLikeTable


@pytest.fixture()
def tbl(tmp_path):
    return DeltaLikeTable(str(tmp_path / "tbl"))


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def test_append_accumulates(spark, tbl):
    tbl.write(_df(spark, [(1, "a")]), mode="overwrite")
    tbl.write(_df(spark, [(2, "b")]), mode="append")
    tbl.write(_df(spark, [(3, "c")]), mode="append")
    assert sorted(r.k for r in tbl.read(spark).collect()) == [1, 2, 3]
    assert tbl.latest_version == 2


def test_time_travel_each_version(spark, tbl):
    tbl.write(_df(spark, [(1, "a")]), mode="overwrite")
    tbl.write(_df(spark, [(2, "b")]), mode="append")
    tbl.write(_df(spark, [(9, "z")]), mode="overwrite")
    assert [r.k for r in tbl.read(spark, as_of=0).collect()] == [1]
    assert sorted(r.k for r in tbl.read(spark, as_of=1).collect()) == [1, 2]
    assert [r.k for r in tbl.read(spark, as_of=2).collect()] == [9]


def test_overwrite_resets_live_set(spark, tbl):
    tbl.write(_df(spark, [(1, "a")]), mode="overwrite")
    tbl.write(_df(spark, [(2, "b")]), mode="overwrite")
    tbl.write(_df(spark, [(3, "c")]), mode="append")
    assert sorted(r.k for r in tbl.read(spark).collect()) == [2, 3]


def test_merge_updates_and_inserts(spark, tbl):
    tbl.write(_df(spark, [(1, "old"), (2, "keep")]), mode="overwrite")
    merged = tbl.merge(spark, _df(spark, [(1, "new"), (3, "ins")]), on="k")
    got = {r.k: r.v for r in merged.collect()}
    assert got == {1: "new", 2: "keep", 3: "ins"}
    # merge committed a version; pre-merge state still readable
    assert {r.k: r.v for r in tbl.read(spark, as_of=0).collect()} == {
        1: "old",
        2: "keep",
    }


def test_empty_table_read_raises(spark, tbl):
    with pytest.raises(ValueError):
        tbl.read(spark)


def test_delete_keeps_null_predicate_rows(spark, tbl):
    # DELETE WHERE v = 'a' must keep the row whose predicate is NULL
    # (v IS NULL), matching SQL/Delta DELETE semantics.
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, None)], "k int, v string")
    tbl.write(df, mode="overwrite")
    out = tbl.delete(spark, F.col("v") == "a")
    assert sorted([(r.k, r.v) for r in out.collect()], key=lambda x: x[0]) == [
        (2, "b"),
        (3, None),
    ]


def test_delta_log_layout_matches_spec(spark, tbl, tmp_path):
    # _delta_log/%020d.json with one JSON action per line: protocol on
    # commit 0, metaData + add on every commit, remove on overwrite.
    import json
    import os

    tbl.write(_df(spark, [(1, "a")]), mode="overwrite")
    tbl.write(_df(spark, [(2, "b")]), mode="append")
    tbl.write(_df(spark, [(9, "z")]), mode="overwrite")
    log_dir = os.path.join(tbl.path, "_delta_log")
    files = sorted(os.listdir(log_dir))
    assert files == [f"{v:020d}.json" for v in range(3)]
    commits = []
    for fname in files:
        with open(os.path.join(log_dir, fname)) as f:
            commits.append([json.loads(ln) for ln in f if ln.strip()])
    assert any("protocol" in a for a in commits[0])
    for acts in commits:
        assert any("add" in a for a in acts)
        assert any("metaData" in a for a in acts)
    assert any("remove" in a for a in commits[2])
    # data files live at the table root, named as parquet part files
    adds = [a["add"]["path"] for acts in commits for a in acts if "add" in a]
    for p in adds:
        assert "/" not in p and p.endswith(".parquet")


def test_bucketed_tables_reattach_without_rewrite(spark, sf_dir):
    # second registration (fresh catalog, files on disk) must be
    # metadata-only DDL — and the reattached table still joins
    # exchange-free.
    import os
    import time

    from dbt_local_duckdb_deltalake_project_spark.sources.bucketed import (
        ensure_bucketed_tables,
    )

    to_, tl_ = ensure_bucketed_tables(spark, sf_dir)
    spark.sql(f"DROP TABLE {to_}")
    spark.sql(f"DROP TABLE {tl_}")
    t0 = time.time()
    to2, tl2 = ensure_bucketed_tables(spark, sf_dir)
    assert (to2, tl2) == (to_, tl_)
    assert time.time() - t0 < 5  # DDL, not a data rewrite
    o, li = spark.table(to2), spark.table(tl2)
    joined = o.hint("merge").join(li, li.l_orderkey == o.o_orderkey)
    p = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in p


def test_merge_null_source_value_overwrites(spark, tbl):
    # WHEN MATCHED THEN UPDATE sets the target to the source value even
    # when that value is NULL (coalesce-style merge would keep 'old').
    tbl.write(_df(spark, [(1, "old"), (2, "keep")]), mode="overwrite")
    merged = tbl.merge(spark, _df(spark, [(1, None), (3, "ins")]), on="k")
    got = {r.k: r.v for r in merged.collect()}
    assert got == {1: None, 2: "keep", 3: "ins"}


def test_merge_matched_delete_null_condition_updates(spark, tbl):
    # WHEN MATCHED AND cond THEN DELETE where cond is NULL on a matched
    # row: Delta treats a NULL clause condition as NOT satisfied — the
    # row must fall through to the unconditional UPDATE, not be deleted
    # (a bare ~(matched AND NULL) filter would silently drop it).
    tbl.write(_df(spark, [(1, "old"), (2, "old2")]), mode="overwrite")
    merged = tbl.merge(
        spark,
        # source v: NULL for k=1 (condition NULL), 'dead' for k=2
        _df(spark, [(1, None), (2, "dead")]),
        on="k",
        matched_delete_where="s.v = 'dead'",
    )
    got = {r.k: r.v for r in merged.collect()}
    assert got == {1: None}  # k=1 updated (to NULL), k=2 deleted


def test_model_graph_topo_and_ephemeral(spark, tmp_path):
    g = ModelGraph(str(tmp_path / "models"))
    calls = []

    def a(spark, deps):
        calls.append("a")
        return spark.range(3).select(F.col("id").alias("n"))

    def b(spark, deps):
        calls.append("b")
        return deps["a"].filter(F.col("n") > 0)

    def c(spark, deps):
        calls.append("c")
        return deps["b"].agg(F.sum("n").alias("s"))

    # registration order deliberately scrambled; topo order must win
    g.model("c", deps=["b"], materialized="table")(c)
    g.model("a", deps=[], materialized="ephemeral")(a)
    g.model("b", deps=["a"], materialized="view")(b)
    out = g.run(spark, {})
    assert calls.index("a") < calls.index("b") < calls.index("c")
    assert out["c"].collect()[0].s == 3
    # table materialization registered as a view too
    assert spark.table("c").collect()[0].s == 3


def test_model_graph_cycle_detection(spark, tmp_path):
    g = ModelGraph(str(tmp_path / "m"))
    g.model("x", deps=["y"])(lambda s, d: None)
    g.model("y", deps=["x"])(lambda s, d: None)
    with pytest.raises(ValueError, match="cycle"):
        g.run(spark, {})


def test_incremental_high_watermark_appends_only_new(spark, tmp_path):
    g = ModelGraph(str(tmp_path / "inc"))

    src = {"n": None}

    def feed(spark, deps):
        return src["n"]

    g.model("inc", deps=[], materialized="incremental", watermark_col="k")(feed)

    src["n"] = _df(spark, [(1, "a"), (2, "b")])
    g.run(spark, {})
    # second run re-presents old rows plus new ones; only k>2 may append
    src["n"] = _df(spark, [(1, "dup"), (2, "dup"), (3, "c")])
    out = g.run(spark, {})["inc"]
    assert sorted((r.k, r.v) for r in out.collect()) == [
        (1, "a"),
        (2, "b"),
        (3, "c"),
    ]


def test_compact_preserves_content_and_vacuum_reclaims(spark, tbl, tmp_path):
    tbl.write(_df(spark, [(1, "a")]), mode="overwrite")
    tbl.write(_df(spark, [(2, "b")]), mode="append")
    tbl.write(_df(spark, [(3, "c")]), mode="append")
    v = tbl.compact(spark, target_files=1)
    assert sorted(r.k for r in tbl.read(spark).collect()) == [1, 2, 3]
    removed = tbl.vacuum()
    assert removed == [0, 1, 2]
    # latest still reads fine after vacuum; version numbering stable
    assert tbl.latest_version == v
    assert sorted(r.k for r in tbl.read(spark).collect()) == [1, 2, 3]


def test_restore_is_metadata_only_and_keeps_history(spark, tbl):
    import os

    tbl.write(_df(spark, [(1, "a")]), mode="overwrite")       # v0
    tbl.write(_df(spark, [(2, "b")]), mode="append")          # v1
    tbl.write(_df(spark, [(9, "z")]), mode="overwrite")       # v2
    files_before = {
        f for f in os.listdir(tbl.path) if f.endswith(".parquet")
    }
    v = tbl.restore(1)                                        # v3
    files_after = {
        f for f in os.listdir(tbl.path) if f.endswith(".parquet")
    }
    # metadata-only: the restore wrote no new data files
    assert files_after == files_before
    assert v == tbl.latest_version == 3
    # latest equals v1's content; every prior version still time-travels
    assert sorted(r.k for r in tbl.read(spark).collect()) == [1, 2]
    assert sorted(r.k for r in tbl.read(spark, as_of=2).collect()) == [9]
    assert sorted(r.k for r in tbl.read(spark, as_of=0).collect()) == [1]


def test_concurrent_commits_never_lost(tbl):
    # The spec's put-if-absent contract: two writers racing for commit N
    # must BOTH land (one at N, one at N+1) — a clobbering rename would
    # silently drop one. Drive the commit path directly from 8 threads.
    import json
    import os
    from concurrent.futures import ThreadPoolExecutor

    def commit_one(i):
        return tbl._commit([{"add": {"path": f"f{i}.parquet",
                                     "partitionValues": {}, "size": 1,
                                     "modificationTime": 0,
                                     "dataChange": True}}])

    with ThreadPoolExecutor(max_workers=8) as pool:
        versions = list(pool.map(commit_one, range(8)))

    assert sorted(versions) == list(range(8))  # all distinct, no loss
    # every advertised file is present in the replayed live set
    live = {a["path"] for a in tbl._active_files()}
    assert live == {f"f{i}.parquet" for i in range(8)}
    # no stray temp files left behind
    assert not [f for f in os.listdir(tbl._log_dir) if f.startswith(".tmp")]
    # commit 0 carries the protocol action exactly once
    with open(os.path.join(tbl._log_dir, f"{0:020d}.json")) as f:
        acts = [json.loads(ln) for ln in f]
    assert sum(1 for a in acts if "protocol" in a) == 1


def test_checkpoint_written_every_interval(spark, tbl):
    import os

    from dbt_local_duckdb_deltalake_project_spark.sources.deltalike import (
        CHECKPOINT_INTERVAL,
    )

    tbl.write(_df(spark, [(0, "x")]), mode="overwrite")
    for i in range(1, CHECKPOINT_INTERVAL + 1):
        tbl.write(_df(spark, [(i, "x")]), mode="append")
    cp = os.path.join(
        tbl._log_dir, f"{CHECKPOINT_INTERVAL:020d}.checkpoint.parquet"
    )
    assert os.path.exists(cp)
    lc = tbl._last_checkpoint()
    assert lc["version"] == CHECKPOINT_INTERVAL
    # protocol + metaData + the live add set (≥1 part-file per append)
    assert lc["size"] == 2 + len(tbl._active_files(as_of=CHECKPOINT_INTERVAL))


def test_reader_ignores_precheckpoint_json(spark, tbl):
    # A post-checkpoint reader must start from the parquet snapshot and
    # never open the JSON commits it covers: corrupt them all and prove
    # both latest-read and post-checkpoint time travel still replay.
    import os

    from dbt_local_duckdb_deltalake_project_spark.sources.deltalike import (
        CHECKPOINT_INTERVAL,
    )

    tbl.write(_df(spark, [(0, "x")]), mode="overwrite")
    for i in range(1, CHECKPOINT_INTERVAL + 2):
        tbl.write(_df(spark, [(i, "x")]), mode="append")
    for v in range(CHECKPOINT_INTERVAL + 1):
        with open(os.path.join(tbl._log_dir, f"{v:020d}.json"), "w") as f:
            f.write("NOT JSON — a reader opening this must explode\n")
    expect = sorted(range(CHECKPOINT_INTERVAL + 2))
    assert sorted(r.k for r in tbl.read(spark).collect()) == expect
    assert sorted(
        r.k for r in tbl.read(spark, as_of=CHECKPOINT_INTERVAL).collect()
    ) == expect[:-1]
    # pre-checkpoint time travel legitimately needs those JSON files
    with pytest.raises(Exception):
        tbl.read(spark, as_of=1)


def test_restore_and_vacuum_work_across_checkpoint(spark, tbl):
    from dbt_local_duckdb_deltalake_project_spark.sources.deltalike import (
        CHECKPOINT_INTERVAL,
    )

    tbl.write(_df(spark, [(0, "x")]), mode="overwrite")
    for i in range(1, CHECKPOINT_INTERVAL + 1):
        tbl.write(_df(spark, [(i, "x")]), mode="append")
    tbl.write(_df(spark, [(99, "z")]), mode="overwrite")
    tbl.restore(CHECKPOINT_INTERVAL)
    assert sorted(r.k for r in tbl.read(spark).collect()) == sorted(
        range(CHECKPOINT_INTERVAL + 1)
    )


def test_partitioned_write_prunes_on_log_metadata(spark, tbl):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a"), (4, "c")], "k int, pt string"
    )
    tbl.write(df, mode="overwrite", partition_by=["pt"])
    # add actions carry partitionValues; the filtered read must select
    # ONLY partition pt=a files (pruning happens on log metadata).
    active = tbl._active_files()
    assert all(a["partitionValues"].get("pt") for a in active)
    pruned = [
        a for a in active if a["partitionValues"]["pt"] == "a"
    ]
    assert 0 < len(pruned) < len(active)
    got = tbl.read(spark, partition_filter={"pt": "a"})
    assert sorted(r.k for r in got.collect()) == [1, 3]
    # partition column re-materializes from the hive path
    assert set(got.columns) == {"k", "pt"}
    # unfiltered read still returns everything
    assert sorted(r.k for r in tbl.read(spark).collect()) == [1, 2, 3, 4]


def test_stats_data_skipping_prunes_files(spark, tbl):
    # 3 appends with disjoint k ranges → a range stats_filter must keep
    # only overlapping files, and stats must survive the log round-trip.
    import json

    for i, rows in enumerate([[(1, "a"), (2, "b")], [(10, "c")], [(20, "d")]]):
        tbl.write(
            _df(spark, rows).coalesce(1),
            mode="overwrite" if i == 0 else "append",
        )
    active = tbl._active_files()
    stats = [json.loads(a["stats"]) for a in active if a.get("stats")]
    assert len(stats) == len(active)
    assert sum(s["numRecords"] for s in stats) == 4
    pruned = tbl.read(spark, stats_filter={"k": (9, 15)})
    assert sorted(r.k for r in pruned.collect()) == [10]
    # conservative: the k∈[1,2] file overlaps lo=2, so its k=1 row still
    # surfaces — skipping prunes files, the caller filters rows
    assert sorted(
        r.k for r in tbl.read(spark, stats_filter={"k": (2, None)}).collect()
    ) == [1, 2, 10, 20]
    assert sorted(r.k for r in tbl.read(spark).collect()) == [1, 2, 10, 20]


def test_append_schema_enforcement(spark, tbl):
    tbl.write(_df(spark, [(1, "a")]), mode="overwrite")
    # type change on a shared column → rejected
    with pytest.raises(ValueError, match="types"):
        tbl.write(
            spark.createDataFrame([(2, 2.0)], "k int, v double"),
            mode="append",
        )
    # new column without the opt-in → rejected
    widened = spark.createDataFrame([(2, "b", "x")], "k int, v string, w string")
    with pytest.raises(ValueError, match="merge_schema"):
        tbl.write(widened, mode="append")
    # with the opt-in → lands; the read surfaces NULL for old files
    tbl.write(widened, mode="append", merge_schema=True)
    got = {r.k: r.w for r in tbl.read(spark).collect()}
    assert got == {1: None, 2: "x"}
    # missing (nullable) column is fine, like Delta
    tbl.write(spark.createDataFrame([(3,)], "k int"), mode="append")
    assert sorted(
        r.k for r in tbl.read(spark).collect()
    ) == [1, 2, 3]


def test_concurrent_appends_all_land(spark, tbl):
    # the put-if-absent commit loop: racing writers must each land a
    # distinct version with no lost updates.
    import threading

    tbl.write(_df(spark, [(0, "seed")]), mode="overwrite")
    errs = []

    def appender(i):
        try:
            tbl.write(_df(spark, [(i, "t")]), mode="append")
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=appender, args=(i,)) for i in range(1, 5)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert tbl.latest_version == 4
    assert sorted(r.k for r in tbl.read(spark).collect()) == [0, 1, 2, 3, 4]


def test_events_ts_normalizes_under_foreign_timezone(sf_dir):
    # The r2 bug class: a vanilla session (possibly non-UTC) must read
    # events.ts as TIMESTAMP with UTC wall-clock values — the catalog
    # pins the session tz and casts any NTZ schema. Run in a throwaway
    # session configured like a hostile driver.
    from pyspark.sql import SparkSession

    from dbt_local_duckdb_deltalake_project_spark import catalog
    from dbt_local_duckdb_deltalake_project_spark.catalog import read_table

    base = SparkSession.builder.getOrCreate()
    s2 = base.newSession()
    s2.conf.set("spark.sql.session.timeZone", "America/New_York")
    # newSession shares the applicationId cache key — clear so this read
    # exercises the fresh footer-read path (where the tz pin happens),
    # not a DF cached by the UTC-pinned main session.
    catalog._df_cache.clear()
    catalog._registered.clear()
    df = read_table(s2, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert s2.conf.get("spark.sql.session.timeZone") == "UTC"
    lo = df.agg({"ts": "min"}).head()[0]
    assert lo.year >= 2024  # sane wall-clock, not an epoch shift


def test_shallow_clone_zero_copy_and_isolated(spark, tbl, tmp_path):
    import os

    tbl.write(_df(spark, [(1, "a"), (2, "b")]), mode="overwrite")
    clone = tbl.clone_to(str(tmp_path / "clone"))
    # zero-copy: the clone root holds NO parquet, only its log
    clone_files = [
        f
        for _d, _s, fs in os.walk(clone.path)
        for f in fs
        if f.endswith(".parquet") and "checkpoint" not in f
    ]
    assert clone_files == []
    assert sorted(r.k for r in clone.read(spark).collect()) == [1, 2]
    # isolation: clone appends don't touch the source; clone overwrite +
    # vacuum must NOT delete the source's files
    clone.write(_df(spark, [(3, "c")]), mode="append")
    assert sorted(r.k for r in tbl.read(spark).collect()) == [1, 2]
    clone.write(_df(spark, [(9, "z")]), mode="overwrite")
    clone.vacuum()
    assert sorted(r.k for r in tbl.read(spark).collect()) == [1, 2]


def test_clone_partitioned_table_reads(spark, tbl, tmp_path):
    # a shallow clone's add actions are ABSOLUTE paths under the SOURCE
    # root; read() must derive basePath from the files (the clone's own
    # root is not their ancestor and Spark would reject it)
    df = spark.createDataFrame(
        [(1, "x", "p1"), (2, "y", "p1"), (3, "z", "p2")], "k int, v string, p string"
    )
    tbl.write(df, mode="overwrite", partition_by=["p"])
    clone = tbl.clone_to(str(tmp_path / "pclone"))
    got = clone.read(spark)
    assert "p" in got.columns  # partition column re-materialized
    assert sorted((r.k, r.p) for r in got.collect()) == [
        (1, "p1"), (2, "p1"), (3, "p2"),
    ]
    # partition pruning on the clone still works
    pruned = clone.read(spark, partition_filter={"p": "p2"})
    assert [r.k for r in pruned.collect()] == [3]


def test_stats_skipping_timestamp_date_prefix_bound(spark, tbl):
    # file min '2000-01-01 00:00:00' vs hi bound '2000-01-01': equal
    # instants — a lexicographic compare would prune the file and drop
    # its rows; the parsed compare must keep it
    df = spark.sql(
        "SELECT 1 AS k, TIMESTAMP '2000-01-01 00:00:00' AS ts "
        "UNION ALL SELECT 2, TIMESTAMP '2000-03-01 00:00:00'"
    )
    tbl.write(df.coalesce(1), mode="overwrite")
    kept = tbl.read(spark, stats_filter={"ts": (None, "2000-01-01")})
    assert [r.k for r in sorted(kept.collect())]  # file not skipped
    # and a bound genuinely below the file min still skips it
    empty = tbl.read(spark, stats_filter={"ts": (None, "1999-12-31")})
    assert empty.count() == 0


def test_timestamp_time_travel_resolution(spark, tbl):
    import time as _time

    tbl.write(_df(spark, [(1, "a")]), mode="overwrite")
    ts0 = tbl.commit_timestamp(0)
    while int(_time.time() * 1000) <= ts0:
        _time.sleep(0.001)
    tbl.write(_df(spark, [(2, "b")]), mode="append")
    ts1 = tbl.commit_timestamp(1)
    assert ts0 < ts1
    assert tbl.version_at_timestamp(ts0) == 0
    assert tbl.version_at_timestamp(ts1 - 1) == 0
    assert tbl.version_at_timestamp(ts1) == 1
    assert tbl.version_at_timestamp(ts1 + 10_000) == 1  # after last → latest
    with pytest.raises(ValueError):
        tbl.version_at_timestamp(ts0 - 1)  # before first commit


def test_vacuum_retention_window_gates_deletion(spark, tbl):
    tbl.write(_df(spark, [(1, "a")]).coalesce(1), mode="overwrite")  # v0
    tbl.write(_df(spark, [(2, "b")]).coalesce(1), mode="overwrite")  # v1
    # window still open: nothing reclaimed, v0 stays time-travelable
    assert tbl.vacuum(retention_ms=10**9) == []
    assert [r.k for r in tbl.read(spark, as_of=0).collect()] == [1]
    # window expired: v0's file goes, latest unaffected
    assert tbl.vacuum(retention_ms=0) == [0]
    assert [r.k for r in tbl.read(spark).collect()] == [2]


def test_graph_select_subgraph():
    from dbt_local_duckdb_deltalake_project_spark.plans.graph import Model

    g = ModelGraph("/tmp/unused")
    g.add(Model("bronze", None, [], tags=["staging"]))
    g.add(Model("silver", None, ["bronze", "src"], tags=["staging"]))
    g.add(Model("gold", None, ["silver"], tags=["mart"]))
    assert g.select("tag:staging") == ["bronze", "silver"]
    assert g.select("+gold") == ["bronze", "gold", "silver"]
    assert g.select("bronze+") == ["bronze", "gold", "silver"]
    assert g.select("+silver+") == ["bronze", "gold", "silver"]
    assert g.select("sil*") == ["silver"]
    assert g.select("tag:mart bronze") == ["bronze", "gold"]
    assert g.select("nope") == []


def test_timestamp_stats_actually_prune_files(spark, tbl):
    # INT96 timestamps carry no parquet stats, so temporal skipping used
    # to silently keep every file; with TIMESTAMP_MICROS writes the
    # range read must open only the matching year's file
    for i, y in enumerate((1998, 1999, 2000)):
        df = spark.sql(f"SELECT TIMESTAMP '{y}-06-01 00:00:00' AS ts")
        tbl.write(df.coalesce(1), mode="overwrite" if i == 0 else "append")
    pruned = tbl.read(spark, stats_filter={"ts": ("2000-01-01", None)})
    assert len(pruned.inputFiles()) == 1
    assert pruned.count() == 1


def test_zorder_skips_where_linear_cannot(spark, sf_dir):
    # the delta_zorder operator's claim, asserted on raw counts: a
    # suppkey-band predicate skips most Z-cells but no linear slice
    from dbt_local_duckdb_deltalake_project_spark.operators.delta_ops import delta_zorder
    from dbt_local_duckdb_deltalake_project_spark.sources.deltalike import (
        DeltaLikeTable as _T,
    )
    from dbt_local_duckdb_deltalake_project_spark.sources.workspace import workdir
    from dbt_local_duckdb_deltalake_project_spark.catalog import t

    row = delta_zorder(spark, sf_dir).collect()[0]
    assert row.zorder_skips and row.zorder_beats_linear
    smax = t(spark, sf_dir, "supplier").count()
    band = {"l_suppkey": (-(-2 * smax // 4), -(-3 * smax // 4) - 1)}
    zt = _T(workdir(sf_dir, "delta_zorder", fresh=False))
    lt = _T(workdir(sf_dir, "delta_zlinear", fresh=False))
    assert len(zt.live_files()) == 16
    assert len(zt.live_files(stats_filter=band)) == 4
    assert len(lt.live_files(stats_filter=band)) == 16


def test_history_reports_operation_per_commit(spark, tbl, tmp_path):
    # DESCRIBE HISTORY surface: every write path stamps its operation
    # name; rows come back newest-first with monotonic timestamps.
    df = spark.range(4).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    tbl.write(df)                                           # v0 WRITE
    tbl.write(df, mode="overwrite")                         # v1 OVERWRITE
    src = spark.range(2, 6).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("v")
    )
    tbl.merge(spark, src, on="k")                           # v2 MERGE
    tbl.delete(spark, F.col("k") == 0)                      # v3 DELETE
    tbl.compact(spark)                                      # v4 OPTIMIZE
    tbl.restore(2)                                          # v5 RESTORE
    clone = tbl.clone_to(str(tmp_path / "clone"))           # clone v0 CLONE
    hist = tbl.history()
    assert [h["version"] for h in hist] == [5, 4, 3, 2, 1, 0]
    assert [h["operation"] for h in hist] == [
        "RESTORE", "OPTIMIZE", "DELETE", "MERGE", "OVERWRITE", "WRITE",
    ]
    ts = [h["timestamp"] for h in hist]
    assert ts == sorted(ts, reverse=True) or len(set(ts)) < len(ts)
    assert all(a >= b for a, b in zip(ts, ts[1:]))
    assert clone.history()[0]["operation"] == "CLONE"


def test_check_constraints_protocol(spark, tbl):
    df = spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") + 1.0).alias("v")
    )
    tbl.write(df)
    tbl.add_check_constraint("v_positive", "v > 0")
    # configuration survives unrelated writes (Delta preserves it; only
    # explicit ALTERs change table config)
    tbl.write(df)
    assert tbl.check_constraints() == {"v_positive": "v > 0"}
    # a violating append fails atomically — nothing lands
    before = tbl.read(spark).count()
    bad = spark.range(2).select(
        F.col("id").alias("k"), F.lit(-1.0).alias("v")
    )
    with pytest.raises(ValueError, match="v_positive"):
        tbl.write(bad)
    assert tbl.read(spark).count() == before
    # SQL CHECK semantics: NULL passes (violated only when FALSE)
    nullv = spark.range(1).select(
        F.col("id").alias("k"), F.lit(None).cast("double").alias("v")
    )
    tbl.write(nullv)
    assert tbl.read(spark).count() == before + 1
    assert tbl.history()[0]["operation"] == "WRITE"
    assert any(
        h["operation"] == "ADD CONSTRAINT" for h in tbl.history()
    )


def test_dv_delete_keeps_files_and_masks_rows(spark, tbl):
    df = spark.range(100).withColumn("grp", (F.col("id") % 10).cast("int"))
    tbl.write(df, mode="overwrite")
    before = sorted(a["path"] for a in tbl._active_files())
    tbl.delete_with_dv(spark, F.col("id") % 7 == 3)
    after = tbl._active_files()
    assert sorted(a["path"] for a in after) == before  # no rewrite
    assert any(a.get("deletionVector") for a in after)
    got = sorted(r.id for r in tbl.read(spark).collect())
    assert got == [i for i in range(100) if i % 7 != 3]


def test_dv_delete_unions_with_existing_dv(spark, tbl):
    tbl.write(spark.range(100), mode="overwrite")
    tbl.delete_with_dv(spark, F.col("id") % 7 == 3)
    tbl.delete_with_dv(spark, F.col("id") % 7 == 5)
    got = sorted(r.id for r in tbl.read(spark).collect())
    assert got == [i for i in range(100) if i % 7 not in (3, 5)]
    # re-deleting already-dead rows is a no-op (no new commit)
    v = tbl.latest_version
    assert tbl.delete_with_dv(spark, F.col("id") % 7 == 5) == v


def test_dv_time_travel_and_restore(spark, tbl):
    tbl.write(spark.range(50), mode="overwrite")
    tbl.delete_with_dv(spark, F.col("id") < 10)
    assert sorted(r.id for r in tbl.read(spark, as_of=0).collect()) == list(
        range(50)
    )
    tbl.restore(0)
    assert sorted(r.id for r in tbl.read(spark).collect()) == list(range(50))
    tbl.restore(1)
    assert sorted(r.id for r in tbl.read(spark).collect()) == list(
        range(10, 50)
    )


def test_dv_sidecar_and_clone(spark, tbl, tmp_path):
    tbl.write(spark.range(1000), mode="overwrite")
    tbl.delete_with_dv(spark, F.col("id") < 500)  # > inline max → sidecar
    descs = [
        a["deletionVector"]
        for a in tbl._active_files()
        if a.get("deletionVector")
    ]
    assert descs and all(d["storageType"] == "p" for d in descs)
    assert sorted(r.id for r in tbl.read(spark).collect()) == list(
        range(500, 1000)
    )
    clone = tbl.clone_to(str(tmp_path / "dv_clone"))
    assert sorted(r.id for r in clone.read(spark).collect()) == list(
        range(500, 1000)
    )


def test_dv_survives_checkpoint(spark, tbl):
    tbl.write(spark.range(50), mode="overwrite")
    tbl.delete_with_dv(spark, F.col("id") < 5)
    for i in range(9):  # cross the checkpoint interval (10)
        tbl.write(spark.range(50 + i, 51 + i), mode="append")
    import os

    assert os.path.exists(
        os.path.join(
            tbl.path, "_delta_log", "00000000000000000010.checkpoint.parquet"
        )
    )
    assert sorted(r.id for r in tbl.read(spark).collect()) == list(range(5, 59))


def test_dv_cardinality_cap_refuses(spark, tbl):
    tbl.write(spark.range(100), mode="overwrite")
    with pytest.raises(ValueError, match="rewrite with delete"):
        tbl.delete_with_dv(spark, F.col("id") >= 0, max_cardinality=10)


def test_dv_partitioned_refuses(spark, tbl):
    df = spark.range(20).withColumn("p", (F.col("id") % 2).cast("string"))
    tbl.write(df, mode="overwrite", partition_by=["p"])
    with pytest.raises(ValueError, match="partitioned"):
        tbl.delete_with_dv(spark, F.col("id") < 5)


def test_column_mapping_rename_is_metadata_only(spark, tbl):
    tbl.write(_df(spark, [(1, "a"), (2, "b")]), mode="overwrite")
    before = sorted(a["path"] for a in tbl._active_files())
    tbl.rename_column("v", "value")
    assert sorted(a["path"] for a in tbl._active_files()) == before
    got = {(r.k, r.value) for r in tbl.read(spark).collect()}
    assert got == {(1, "a"), (2, "b")}
    # old logical name is gone
    assert tbl.read(spark).columns == ["k", "value"]


def test_column_mapping_append_after_rename(spark, tbl):
    tbl.write(_df(spark, [(1, "a")]), mode="overwrite")
    tbl.rename_column("v", "value")
    tbl.write(
        spark.createDataFrame([(2, "b")], "k int, value string"),
        mode="append",
    )
    got = {(r.k, r.value) for r in tbl.read(spark).collect()}
    assert got == {(1, "a"), (2, "b")}
    # both physical files carry the ORIGINAL physical name "v"
    import pyarrow.parquet as pq
    import os

    for a in tbl._active_files():
        names = pq.ParquetFile(
            os.path.join(tbl.path, a["path"])
        ).schema_arrow.names
        assert "v" in names and "value" not in names


def test_column_mapping_drop_is_metadata_only(spark, tbl):
    tbl.write(_df(spark, [(1, "a")]), mode="overwrite")
    before = sorted(a["path"] for a in tbl._active_files())
    tbl.drop_column("v")
    assert sorted(a["path"] for a in tbl._active_files()) == before
    assert tbl.read(spark).columns == ["k"]
    # time travel before the drop still sees it
    assert tbl.read(spark, as_of=0).columns == ["k", "v"]


def test_column_mapping_rename_then_time_travel(spark, tbl):
    tbl.write(_df(spark, [(1, "a")]), mode="overwrite")
    tbl.rename_column("v", "value")
    assert tbl.read(spark, as_of=0).columns == ["k", "v"]
    assert tbl.read(spark, as_of=1).columns == ["k", "value"]


def test_column_mapping_rejects_unknown_or_duplicate(spark, tbl):
    tbl.write(_df(spark, [(1, "a")]), mode="overwrite")
    with pytest.raises(ValueError, match="no column"):
        tbl.rename_column("zz", "value")
    with pytest.raises(ValueError, match="already exists"):
        tbl.rename_column("v", "k")


def test_column_mapping_dv_delete_on_logical_names(spark, tbl):
    tbl.write(_df(spark, [(i, chr(97 + i)) for i in range(10)]),
              mode="overwrite")
    tbl.rename_column("v", "value")
    tbl.delete_with_dv(spark, F.col("value") == "c")
    got = sorted(r.k for r in tbl.read(spark).collect())
    assert got == [i for i in range(10) if i != 2]


def test_txn_idempotent_write_skips_replay(spark, tbl):
    v1, w1 = tbl.write_idempotent(_df(spark, [(1, "a")]), "app", 1,
                                  mode="overwrite")
    assert w1
    v2, w2 = tbl.write_idempotent(_df(spark, [(1, "a")]), "app", 1)
    assert not w2 and v2 == v1  # replay no-ops, no new commit
    _, w3 = tbl.write_idempotent(_df(spark, [(2, "b")]), "app", 2)
    assert w3
    # another app's version counter is independent
    _, w4 = tbl.write_idempotent(_df(spark, [(3, "c")]), "other", 1)
    assert w4
    assert sorted(r.k for r in tbl.read(spark).collect()) == [1, 2, 3]


def test_txn_highwater_survives_checkpoint(spark, tbl):
    tbl.write_idempotent(_df(spark, [(0, "z")]), "app", 5, mode="overwrite")
    for i in range(11):  # cross the checkpoint interval
        tbl.write(_df(spark, [(i + 1, "x")]), mode="append")
    assert tbl.last_txn_version("app") == 5
    _, wrote = tbl.write_idempotent(_df(spark, [(99, "q")]), "app", 5)
    assert not wrote


def test_column_mapping_blocked_by_constraint_reference(spark, tbl):
    tbl.write(_df(spark, [(1, "a")]), mode="overwrite")
    tbl.add_check_constraint("k_positive", "k > 0")
    with pytest.raises(ValueError, match="referenced by CHECK"):
        tbl.rename_column("k", "key")
    with pytest.raises(ValueError, match="referenced by CHECK"):
        tbl.drop_column("k")
    # untouched columns still alterable
    tbl.rename_column("v", "value")
    assert tbl.read(spark).columns == ["k", "value"]


def test_generated_column_computed_and_validated(spark, tbl):
    df = spark.createDataFrame([(1, 10), (2, 20)], "k int, v int")
    tbl.write(df, mode="overwrite")
    tbl.add_generated_column("v2", "v * 2", dtype="integer")
    # overwrite WITHOUT the column → engine computes it
    tbl.write(df, mode="overwrite")
    got = {(r.k, r.v2) for r in tbl.read(spark).collect()}
    assert got == {(1, 20), (2, 40)}
    # append WITH a correct value → accepted
    tbl.write(
        spark.createDataFrame([(3, 30, 60)], "k int, v int, v2 int"),
        mode="append",
    )
    # append WITH a wrong value → rejected, nothing committed
    v = tbl.latest_version
    with pytest.raises(ValueError, match="generated column"):
        tbl.write(
            spark.createDataFrame([(4, 40, 99)], "k int, v int, v2 int"),
            mode="append",
        )
    assert tbl.latest_version == v
    assert sorted(r.k for r in tbl.read(spark).collect()) == [1, 2, 3]
    # the generation expression survives unrelated writes
    assert tbl._snapshot().generated_columns == {"v2": "v * 2"}


def test_vacuum_reclaims_orphaned_dv_sidecar(spark, tbl):
    import glob
    import os

    tbl.write(spark.range(1000).coalesce(1), mode="overwrite")
    tbl.delete_with_dv(spark, F.col("id") < 500)  # > inline max → sidecar
    side1 = glob.glob(os.path.join(tbl.path, "deletion_vector_*.bin"))
    assert len(side1) == 1
    # a second DV delete supersedes the first sidecar with a bigger one
    tbl.delete_with_dv(spark, F.col("id") < 600)
    sides = set(glob.glob(os.path.join(tbl.path, "deletion_vector_*.bin")))
    assert len(sides) == 2
    live = sides - set(side1)
    # inside the retention window: nothing reclaimed, both sidecars kept
    assert tbl.vacuum(retention_ms=10**9) == []
    assert set(
        glob.glob(os.path.join(tbl.path, "deletion_vector_*.bin"))
    ) == sides
    # window expired: the superseded sidecar goes, the live one stays
    assert tbl.vacuum(retention_ms=0) != []
    assert set(
        glob.glob(os.path.join(tbl.path, "deletion_vector_*.bin"))
    ) == live
    assert sorted(r.id for r in tbl.read(spark).collect()) == list(
        range(600, 1000)
    )


def test_vacuum_reclaims_dv_sidecar_orphaned_by_overwrite(spark, tbl):
    import glob
    import os

    tbl.write(spark.range(1000).coalesce(1), mode="overwrite")
    tbl.delete_with_dv(spark, F.col("id") < 500)
    assert glob.glob(os.path.join(tbl.path, "deletion_vector_*.bin"))
    tbl.write(spark.range(5).coalesce(1), mode="overwrite")
    tbl.vacuum(retention_ms=0)
    assert glob.glob(os.path.join(tbl.path, "deletion_vector_*.bin")) == []
    assert sorted(r.id for r in tbl.read(spark).collect()) == list(range(5))


def test_generated_column_blocks_rename_drop_of_referenced(spark, tbl):
    df = spark.createDataFrame([(1, 10), (2, 20)], "k int, v int")
    tbl.write(df, mode="overwrite")
    tbl.add_generated_column("v2", "v * 2", dtype="integer")
    with pytest.raises(ValueError, match="generated column"):
        tbl.rename_column("v", "value")
    with pytest.raises(ValueError, match="generated column"):
        tbl.drop_column("v")
    # dropping the generated column ITSELF is legal, and unblocks v
    tbl.drop_column("v2")
    tbl.rename_column("v", "value")
    assert tbl.read(spark).columns == ["k", "value"]


def test_reader_refuses_higher_protocol_version(spark, tbl):
    import json
    import os

    tbl.write(_df(spark, [(1, "a")]), mode="overwrite")
    assert tbl.read(spark).count() == 1
    # a foreign writer upgrades the table protocol beyond what this
    # reader implements — every subsequent read must refuse, not guess
    log = os.path.join(tbl.path, "_delta_log")
    nxt = os.path.join(log, "%020d.json" % (tbl.latest_version + 1))
    with open(nxt, "w") as f:
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7}}) + "\n")
    with pytest.raises(ValueError, match="minReaderVersion"):
        tbl.read(spark).count()


def test_dynamic_partition_overwrite_touches_only_its_slice(spark, tbl):
    import json
    import os

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", 40)],
        "k int, p string, v int",
    )
    tbl.write(df, mode="overwrite", partition_by=["p"])
    before = {a["path"] for a in tbl._active_files()}
    fresh = spark.createDataFrame([(9, "b", 99)], "k int, p string, v int")
    v = tbl.write_dynamic_partition_overwrite(fresh, ["p"])
    # the commit's remove set is EXACTLY the replaced partition's files
    log = os.path.join(tbl.path, "_delta_log", "%020d.json" % v)
    with open(log) as f:
        acts = [json.loads(ln) for ln in f]
    removed = [a["remove"]["path"] for a in acts if "remove" in a]
    added = [a["add"] for a in acts if "add" in a]
    assert removed and all(r.startswith("p=b/") for r in removed)
    assert added and all(a["partitionValues"] == {"p": "b"} for a in added)
    # untouched partitions' files survive by identity (no rewrite)
    after = {a["path"] for a in tbl._active_files()}
    untouched = {p for p in before if not p.startswith("p=b/")}
    assert untouched <= after
    got = sorted(
        (r["k"], r["p"], r["v"]) for r in tbl.read(spark).collect()
    )
    assert got == [(1, "a", 10), (2, "a", 20), (4, "c", 40), (9, "b", 99)]


def test_dynamic_partition_overwrite_new_partition_is_pure_append(
    spark, tbl
):
    df = spark.createDataFrame([(1, "a", 10)], "k int, p string, v int")
    tbl.write(df, mode="overwrite", partition_by=["p"])
    before = {a["path"] for a in tbl._active_files()}
    fresh = spark.createDataFrame([(5, "z", 50)], "k int, p string, v int")
    tbl.write_dynamic_partition_overwrite(fresh, ["p"])
    after = {a["path"] for a in tbl._active_files()}
    assert before <= after  # nothing removed
    assert tbl.read(spark).count() == 2


# -- one log snapshot per operation ------------------------------------------


def test_history_reports_commit_metrics(spark, tbl, monkeypatch):
    # every commitInfo records the version it read, whether it is a blind
    # append, and Delta's operationMetrics; history() returns them and
    # opens each commit file once
    import os

    from dbt_local_duckdb_deltalake_project_spark.sources import deltalike

    tbl.write(_df(spark, [(1, "a"), (2, "b")]).coalesce(1), mode="overwrite")
    tbl.write(_df(spark, [(3, "c")]).coalesce(1), mode="append")
    tbl.merge(spark, _df(spark, [(1, "z")]), on="k")
    merged_bytes = sum(a["size"] for a in tbl.live_files())
    merged_files = len(tbl.live_files())
    tbl.add_check_constraint("pos", "k > 0")
    opened = []
    monkeypatch.setattr(
        deltalike, "open",
        lambda p, *a, **k: opened.append(p) or open(p, *a, **k),
        raising=False,
    )
    hist = {h["version"]: h for h in tbl.history()}
    assert sorted(opened) == [tbl._commit_path(v) for v in range(4)]
    assert "readVersion" not in hist[0]
    assert [hist[v]["readVersion"] for v in (1, 2, 3)] == [0, 1, 2]
    assert [hist[v]["isBlindAppend"] for v in range(4)] == [
        False, True, False, False,
    ]
    m = {v: hist[v]["operationMetrics"] for v in hist}
    assert m[0]["numFiles"] == 1 and m[0]["numOutputRows"] == 2
    assert m[0]["numRemovedFiles"] == 0
    assert m[0]["numOutputBytes"] == os.path.getsize(
        os.path.join(tbl.path, tbl.live_files(as_of=0)[0]["path"])
    )
    assert m[1]["numFiles"] == 1 and m[1]["numOutputRows"] == 1
    assert m[2]["numOutputRows"] == 3 and m[2]["numRemovedFiles"] == 2
    assert m[2]["numFiles"] == merged_files
    assert m[2]["numOutputBytes"] == merged_bytes
    assert m[3] == {
        "numFiles": 0, "numOutputRows": 0, "numOutputBytes": 0,
        "numRemovedFiles": 0,
    }


def test_checkpoint_written_from_snapshot_not_full_replay(spark, tbl):
    # a checkpoint is the post-commit snapshot: it never re-reads commits
    # an earlier checkpoint already covers, so a damaged pre-checkpoint
    # commit cannot stop the next one
    import os

    from dbt_local_duckdb_deltalake_project_spark.sources.deltalike import (
        CHECKPOINT_INTERVAL,
    )

    tbl.write(_df(spark, [(0, "x")]), mode="overwrite")
    for i in range(1, CHECKPOINT_INTERVAL + 2):
        tbl.write(_df(spark, [(i, "x")]), mode="append")
    with open(os.path.join(tbl._log_dir, f"{3:020d}.json"), "w") as f:
        f.write("NOT JSON\n")
    for i in range(CHECKPOINT_INTERVAL + 2, 2 * CHECKPOINT_INTERVAL + 1):
        tbl.write(_df(spark, [(i, "x")]), mode="append")
    assert tbl.latest_version == 2 * CHECKPOINT_INTERVAL
    assert os.path.exists(os.path.join(
        tbl._log_dir, f"{2 * CHECKPOINT_INTERVAL:020d}.checkpoint.parquet"
    ))
    assert tbl._last_checkpoint()["version"] == 2 * CHECKPOINT_INTERVAL
    expect = list(range(2 * CHECKPOINT_INTERVAL + 1))
    assert sorted(r.k for r in tbl.read(spark).collect()) == expect
    fresh = DeltaLikeTable(tbl.path)
    assert sorted(r.k for r in fresh.read(spark).collect()) == expect


def _jobs_during(spark, fn):
    """(fn(), ids of the Spark jobs started while fn ran)."""
    import time
    import uuid

    sc = spark.sparkContext
    group, barrier = f"t-{uuid.uuid4().hex}", f"t-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "under test")
    try:
        out = fn()
    finally:
        sc.setJobGroup(barrier, "barrier")
    # the status store sees jobs in start order: once the barrier job is
    # visible, every job fn started is too
    spark.range(1).count()
    deadline = time.time() + 30
    while not sc.statusTracker().getJobIdsForGroup(barrier):
        assert time.time() < deadline
        time.sleep(0.05)
    sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _read_case(spark, tbl, case):
    """Build ``case``'s table; return (read thunk, expected rows)."""
    if case == "partitioned":
        df = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "a")], "k int, pt string"
        )
        tbl.write(df, mode="overwrite", partition_by=["pt"])
        return lambda: tbl.read(spark), [(1, "a"), (2, "b"), (3, "a")]
    tbl.write(_df(spark, [(1, "a"), (2, "b")]), mode="overwrite")
    if case == "plain":
        tbl.write(_df(spark, [(3, "c")]), mode="append")
        return lambda: tbl.read(spark), [(1, "a"), (2, "b"), (3, "c")]
    if case == "column_mapped":
        tbl.rename_column("v", "value")
        tbl.write(
            spark.createDataFrame([(3, "c")], "k int, value string"),
            mode="append",
        )
        return lambda: tbl.read(spark), [(1, "a"), (2, "b"), (3, "c")]
    if case == "deletion_vectors":
        tbl.delete_with_dv(spark, F.col("k") == 2)
        return lambda: tbl.read(spark), [(1, "a")]
    if case == "as_of":
        tbl.write(_df(spark, [(9, "z")]), mode="overwrite")
        return lambda: tbl.read(spark, as_of=0), [(1, "a"), (2, "b")]
    assert case == "merge_schema"
    tbl.write(
        spark.createDataFrame([(3, "c", "x")], "k int, v string, w string"),
        mode="append", merge_schema=True,
    )
    return lambda: tbl.read(spark), [
        (1, "a", None), (2, "b", None), (3, "c", "x"),
    ]


@pytest.mark.parametrize("case", [
    "plain", "partitioned", "column_mapped", "deletion_vectors", "as_of",
    "merge_schema",
])
def test_read_starts_no_spark_job(spark, tbl, case):
    # the schema comes from the log's metaData: no footer-inference job
    read, expect = _read_case(spark, tbl, case)
    df, jobs = _jobs_during(spark, read)
    assert jobs == []
    assert sorted(tuple(r) for r in df.collect()) == expect


def test_model_graph_reads_each_table_at_most_twice(spark, tmp_path, monkeypatch):
    # existence is a log listing and MERGE's returned state is registered
    # as is: an incremental unique_key model reads its table at most
    # twice (inside MERGE), a table model once
    import os

    reads = []
    real_read = DeltaLikeTable.read

    def counting(self, *a, **k):
        reads.append(os.path.basename(self.path))
        return real_read(self, *a, **k)

    monkeypatch.setattr(DeltaLikeTable, "read", counting)
    g = ModelGraph(str(tmp_path / "g"))
    src = {}
    g.model("s", materialized="incremental", unique_key="k")(
        lambda spark, deps: src["df"]
    )
    g.model("t", deps=["s"], materialized="table")(
        lambda spark, deps: deps["s"].agg(F.count(F.lit(1)).alias("n"))
    )
    src["df"] = _df(spark, [(1, "a"), (2, "b")])
    g.run(spark, {})
    reads.clear()
    src["df"] = _df(spark, [(2, "B"), (3, "c")])
    out = g.run(spark, {})
    assert reads.count("s") <= 2
    assert reads.count("t") == 1
    assert sorted((r.k, r.v) for r in out["s"].collect()) == [
        (1, "a"), (2, "B"), (3, "c"),
    ]
    assert out["t"].collect()[0].n == 3


def test_write_replays_log_once(spark, tbl, monkeypatch):
    # one write derives table state from one snapshot: a new handle opens
    # each commit file once, a warm one opens none
    tbl.write(_df(spark, [(1, "a")]), mode="overwrite")
    tbl.add_check_constraint("pos", "k > 0")
    tbl.add_generated_column("k2", "k * 2", dtype="integer")
    loads, opened = [], []
    real_snapshot = DeltaLikeTable._snapshot
    real_read_commit = DeltaLikeTable._read_commit
    monkeypatch.setattr(
        DeltaLikeTable, "_snapshot",
        lambda self, *a, **k: loads.append(1) or real_snapshot(self, *a, **k),
    )
    monkeypatch.setattr(
        DeltaLikeTable, "_read_commit",
        lambda self, v: opened.append(v) or real_read_commit(self, v),
    )
    fresh = DeltaLikeTable(tbl.path)
    fresh.write(_df(spark, [(2, "b")]), mode="append")
    assert (len(loads), opened) == (1, [0, 1, 2])
    loads.clear()
    opened.clear()
    fresh.write(_df(spark, [(3, "c")]), mode="overwrite")
    assert (len(loads), opened) == (1, [])
    assert sorted((r.k, r.k2) for r in fresh.read(spark).collect()) == [(3, 6)]
