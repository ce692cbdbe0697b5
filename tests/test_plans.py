"""Plan assertions (SURVEY.md §5.4): the physical plan must show that the
optimizations we rely on at 100 TB actually fire. A silently-degraded plan
passes the value check at sf=0.001 and falls over at scale — these tests
are the guard.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_local_duckdb_deltalake_project_spark.catalog import t
from dbt_local_duckdb_deltalake_project_spark.operators import QUERIES


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_projection_pruning_reaches_scan(spark, sf_dir):
    df = QUERIES["scan_projection_pushdown"](spark, sf_dir)
    p = formatted(df)
    assert "l_orderkey" in p and "l_extendedprice" in p
    # the scan's ReadSchema must NOT include unprojected wide columns
    scan = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert scan and "l_comment" not in scan[0] and "l_shipdate" not in scan[0]


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = QUERIES["scan_filter_pushdown"](spark, sf_dir)
    p = formatted(df)
    assert "PushedFilters" in p
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln][0]
    assert "l_quantity" in pushed and "l_shipdate" in pushed


def test_small_dim_join_broadcasts(spark, sf_dir):
    df = QUERIES["join_broadcast"](spark, sf_dir)
    assert "BroadcastHashJoin" in plan(df)


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    # gold-mart star join: every dimension is below the broadcast
    # threshold → zero shuffle joins on the fact table's build side.
    df = QUERIES["join_multiway_star"](spark, sf_dir)
    p = plan(df)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_bucketed_join_skips_exchange(spark, sf_dir):
    # both sides written CLUSTERED BY the join key → the sort-merge join
    # reads hash-partitioning from storage; no shuffle on either side
    # (the fact⋈fact strategy at 100 TB). The only Exchange allowed in
    # this plan is the one AQE may add after the join for the groupBy —
    # but grouping on the bucket key satisfies that too, so: zero.
    df = QUERIES["join_bucketed_colocated"](spark, sf_dir)
    p = plan(df)
    assert "SortMergeJoin" in p
    assert "Exchange hashpartitioning" not in p


def test_groupby_has_partial_aggregation(spark, sf_dir):
    # map-side combine: HashAggregate appears both before and after the
    # exchange, so the shuffle moves partial states, not raw rows.
    df = QUERIES["agg_groupby_basic"](spark, sf_dir)
    p = plan(df)
    assert p.count("HashAggregate") >= 2
    assert "Exchange" in p


def test_percentile_approx_has_partial_aggregation(spark, sf_dir):
    # the sketch path must map-side combine: ObjectHashAggregate (the
    # sketch-buffer agg) appears before AND after the exchange, so the
    # shuffle carries per-partition GK sketches, not raw rows.
    df = QUERIES["agg_percentile_approx"](spark, sf_dir)
    p = plan(df)
    assert "ObjectHashAggregate" in p
    assert "partial_percentile_approx" in p or p.count("ObjectHashAggregate") >= 2


def test_topk_uses_take_ordered(spark, sf_dir):
    # ORDER BY + LIMIT must fuse into TakeOrderedAndProject (no global
    # sort of the full table).
    df = QUERIES["topk"](spark, sf_dir)
    assert "TakeOrderedAndProject" in plan(df)


def test_whole_stage_codegen_covers_agg(spark, sf_dir):
    # AQE finalizes the plan only at execution — run the query, then
    # check the executed plan's codegen spans.
    df = QUERIES["agg_groupby_basic"](spark, sf_dir)
    df.collect()
    # the executed plan prints codegen spans as `*(n) Operator`
    assert "*(" in plan(df)


def test_simhash_shuffles_partial_states_not_tokens(spark, sf_dir):
    # simhash explodes tokens but aggregates with algebraic sums —
    # map-side partial aggregation must fire so the shuffle carries one
    # 64-int state per doc per mapper, never the exploded token rows.
    df = QUERIES["llm_simhash"](spark, sf_dir)
    p = plan(df)
    assert p.count("HashAggregate") >= 2  # partial + final


def test_partition_pruning_on_partitioned_sink(spark, sf_dir, tmp_path):
    # write hive-partitioned, read one partition back: the scan must
    # prune to a single partition directory (PartitionFilters).
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    path = str(tmp_path / "part")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    back = spark.read.parquet(path).filter(F.col("l_returnflag") == "A")
    p = formatted(back)
    pf = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
    assert pf and "l_returnflag" in pf[0]


@pytest.mark.parametrize("qid", ["udf_python", "udf_pandas_scalar"])
def test_udf_surface_is_quarantined(spark, sf_dir, qid):
    # exactly the two declared UDF demos may use Python eval; every other
    # query must stay JVM-side (checked here by plan node type).
    df = QUERIES[qid](spark, sf_dir)
    p = plan(df)
    assert ("BatchEvalPython" in p) or ("ArrowEvalPython" in p)


def test_no_unbounded_driver_collect_in_operators():
    # A .collect() whose size grows with the corpus is a driver OOM at
    # 100 TB. The only collects allowed in operator code are explicitly
    # bounded ones (a LIMIT/filter to a constant row count). Source lint:
    # every .collect( in operators/ must sit on a whitelisted line.
    import os
    import re

    import dbt_local_duckdb_deltalake_project_spark.operators as ops

    opdir = os.path.dirname(ops.__file__)
    allowed = {
        # llm_ops: constant-row anchor fetch (vec_id <= nlist bound)
        ("llm_ops.py", "vec_id"),
        # llm_ops IVF: centroid table, nlist x dim rows — O(1) in corpus
        ("llm_ops.py", "bounded: nlist x dim"),
        # llm_ops BPE/WordPiece learning: the per-round argmax+total is
        # ONE aggregated row (min-struct argmax fused with sum, r13)
        ("llm_ops.py", "bounded: 1 row (argmax + 1 scalar)"),
        # llm_ops BPE apply: the staged learned merge table is
        # vocabulary-growth sized (3 rows here), never corpus-sized
        ("llm_ops.py", "bounded: merge-table rows"),
        # subqueries EXECUTE IMMEDIATE demo: both collects are one row
        # per IN-listed segment (2), asserting two binding paths agree
        ("subqueries.py", "bounded: one row per segment"),
        # dbt clone CI: one aggregated stats row per CI model (3)
        ("dbt_ops.py", "bounded: one row of table-level stats"),
    }
    allowed_topandas = {
        # streaming_ops CDF sync: distinct-version frame, one row per
        # upstream commit — O(log length), never O(table)
        ("streaming_ops.py", "bounded: one row per upstream commit"),
    }
    offenders = []
    for fname in sorted(os.listdir(opdir)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(opdir, fname)) as f:
            for ln in f:
                if re.search(r"\.collect\(", ln):
                    if not any(
                        fname == af and marker in ln for af, marker in allowed
                    ):
                        offenders.append((fname, ln.strip()))
                # .toPandas() is the same driver-OOM risk as .collect()
                # at 100 TB — same whitelist discipline
                if re.search(r"\.toPandas\(", ln):
                    if not any(
                        fname == af and marker in ln
                        for af, marker in allowed_topandas
                    ):
                        offenders.append((fname, ln.strip()))
    assert not offenders, f"unbounded driver collect(s): {offenders}"


def test_cdf_stream_reader_is_partitioned():
    # The CDF tail must materialize change rows on EXECUTORS: since r10
    # stream_change_data_feed reads through the partitioned
    # DataSourceStreamReader (latestOffset = driver metadata walk,
    # partitions() = one InputPartition per commit, read() executor-side)
    # — a regression to the driver-side Simple API would silently make
    # the 100 TB CDF tail a driver bottleneck. The reader is the table
    # layer's one log data source (``deltalike._log_source``), which
    # every per-commit read builds through.
    import inspect

    from dbt_local_duckdb_deltalake_project_spark.operators import (
        streaming_ops,
    )
    from dbt_local_duckdb_deltalake_project_spark.sources import deltalike

    op = inspect.getsource(streaming_ops.stream_change_data_feed)
    assert ".changes(" in op and "stream=True" in op
    src = inspect.getsource(deltalike._log_source)
    assert "DataSourceStreamReader" in src
    assert "def partitions(" in src and "def latestOffset(" in src
    assert "SimpleDataSourceStreamReader" not in src


def test_no_empty_partitionby_in_operators():
    # W.partitionBy() with no keys routes the whole input through ONE
    # task (SinglePartition exchange) — the order-less variant prints
    # as a single-bracket Window node the physical-plan lint in
    # test_plans_r6.py historically missed, and plans built inside
    # foreachBatch / streaming micro-batches never reach that lint at
    # all. Source-level pin: no empty partitionBy anywhere in
    # operators/ (r7: agg_chisq_independence's global total was the
    # last one; it moved to a 1-row broadcast crossJoin).
    # Token-based (ADVICE r7): the old line-regex both false-positived
    # on prose in comments/docstrings and missed a call whose closing
    # paren sits on the next line — token matching spans physical lines
    # for free, and prose never lexes as a NAME token (a docstring is
    # one STRING token, so its content can't match; STRING tokens stay
    # in the stream because they are real call arguments).
    import io
    import os
    import tokenize

    import dbt_local_duckdb_deltalake_project_spark.operators as ops

    opdir = os.path.dirname(ops.__file__)
    skip = {
        tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE,
        tokenize.INDENT, tokenize.DEDENT,
    }
    offenders = []
    for fname in sorted(os.listdir(opdir)):
        if not fname.endswith(".py"):
            continue
        with open(os.path.join(opdir, fname)) as f:
            toks = [
                t
                for t in tokenize.generate_tokens(io.StringIO(f.read()).readline)
                if t.type not in skip
            ]
        for j in range(len(toks) - 2):
            if (
                toks[j].type == tokenize.NAME
                and toks[j].string == "partitionBy"
                and toks[j + 1].string == "("
                and toks[j + 2].string == ")"
            ):
                offenders.append((fname, toks[j].start[0]))
    assert not offenders, f"empty partitionBy(): {offenders}"


def test_hot_queries_have_no_python_eval(spark, sf_dir):
    # the relational core must never fall off the codegen path.
    for qid in [
        "agg_groupby_basic",
        "join_multiway_star",
        "win_ranking",
        "cte_chain",
        "llm_dedup_near",
        "llm_simhash",
        "llm_rarity_score",
        "llm_embed_quantize",
        "llm_bpe_pairs",
    ]:
        p = plan(QUERIES[qid](spark, sf_dir))
        assert "EvalPython" not in p, f"{qid} fell back to Python eval"


def test_bloom_runtime_filter_injected(spark, sf_dir):
    # the selective side must inject a Bloom filter that prunes the fact
    # scan before the shuffle: build side aggregates bloom_filter_agg,
    # probe side filters with might_contain.
    df = QUERIES["join_bloom_runtime_filter"](spark, sf_dir)
    p = plan(df)
    assert "might_contain" in p
    assert "bloom_filter_agg" in p


def test_rarity_vocab_build_has_partial_aggregation(spark, sf_dir):
    # the vocab count and the per-doc re-aggregation must both map-side
    # combine: exploded token rows collapse before every shuffle.
    df = QUERIES["llm_rarity_score"](spark, sf_dir)
    p = plan(df)
    assert p.count("HashAggregate") >= 4  # partial+final × two aggs


def test_bpe_pairs_top50_avoids_global_sort(spark, sf_dir):
    df = QUERIES["llm_bpe_pairs"](spark, sf_dir)
    assert "TakeOrderedAndProject" in plan(df)


def test_decontaminate_broadcasts_benchmark_side(spark, sf_dir):
    # the held-out shingle set is eval-benchmark sized (small), so the
    # contamination join must broadcast it — a shuffle join here would
    # move the full training shingle stream at 100 TB.
    df = QUERIES["llm_decontaminate"](spark, sf_dir)
    assert "BroadcastHashJoin" in plan(df)


def test_corpus_mapside_ops_have_no_join_or_agg_exchange(spark, sf_dir):
    # split assignment and PII redaction are pure map-side codegen: the
    # only acceptable Exchange is the final presentation orderBy's range
    # shuffle — no hash-partition Exchange (join/agg) may appear.
    for qid in ("llm_split_assign", "llm_pii_redact"):
        p = plan(QUERIES[qid](spark, sf_dir))
        assert "hashpartitioning" not in p, f"{qid} shuffles"
        assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p


@pytest.mark.parametrize("qid", ["tpch_q2", "tpch_q7", "tpch_q8", "tpch_q9"])
def test_tpch_dim_joins_broadcast(spark, sf_dir, qid):
    # nation/region/supplier/part dims are far below the broadcast
    # threshold: the fact scan must never shuffle to meet a dim.
    p = plan(QUERIES[qid](spark, sf_dir))
    assert "BroadcastHashJoin" in p, qid


def test_tpch_q21_decorrelates_to_semi_and_anti(spark, sf_dir):
    # EXISTS → left-semi, NOT EXISTS → left-anti, both shuffled on
    # l_orderkey — the plan that scales; a correlated per-row probe
    # would show a nested-loop join instead.
    p = plan(QUERIES["tpch_q21"](spark, sf_dir))
    assert "LeftSemi" in p and "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_tpch_q1_partial_aggregation(spark, sf_dir):
    # the pricing summary must map-side combine: partial HashAggregate
    # before the exchange, final after — the shuffle carries 4 group
    # states, not 6M rows.
    p = plan(QUERIES["tpch_q1"](spark, sf_dir))
    assert p.count("HashAggregate") >= 2


def test_column_mapping_pushdown_reaches_physical_column(spark, tmp_path):
    # Filtering the LOGICAL (renamed) column must still push down to the
    # parquet scan as the PHYSICAL column, and pruning must read only it
    # — the rename is an alias Catalyst folds into the scan, so column
    # mapping costs nothing at 100 TB.
    from dbt_local_duckdb_deltalake_project_spark.sources.deltalike import (
        DeltaLikeTable,
    )

    tbl = DeltaLikeTable(str(tmp_path / "cm_push"))
    tbl.write(
        spark.range(100).withColumn("val", F.col("id") * 2),
        mode="overwrite",
    )
    tbl.rename_column("val", "value")
    df = tbl.read(spark).filter(F.col("value") > 100).select("value")
    p = plan(df)
    assert "GreaterThan(val,100)" in p  # pushed, under the physical name
    assert "ReadSchema: struct<val:bigint>" in p  # pruned to one column


def test_range_bucketed_join_is_hash_not_nested_loop(spark, sf_dir):
    # the whole point of the bucket-explode rewrite: the interval match
    # plans as a broadcast HASH join on the bucket id, never the O(N·M)
    # BroadcastNestedLoopJoin a raw inequality join degrades to.
    df = QUERIES["join_range_bucketed"](spark, sf_dir)
    p = plan(df)
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p


def test_bloom_dedup_probe_side_broadcasts(spark, sf_dir):
    # the packed bit-array words and the historical key set both ride
    # broadcasts; the incoming batch is never shuffled for the screen.
    df = QUERIES["llm_dedup_bloom"](spark, sf_dir)
    p = plan(df)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_pagerank_inflow_has_partial_aggregation(spark, sf_dir):
    # every iteration's inflow sum must combine map-side before the dst
    # shuffle (partial_sum in the aggregate) — the property that keeps
    # shuffle bytes ∝ nodes, not edges.
    df = QUERIES["graph_pagerank"](spark, sf_dir)
    p = formatted(df)
    assert "partial_sum" in p or "Partial" in p


def test_ewma_lags_share_one_window_sort(spark, sf_dir):
    # ten lags over the identical window spec must plan as ONE Window
    # node over one sort — not ten.
    df = QUERIES["win_ewma"](spark, sf_dir)
    p = plan(df)
    assert p.count("Window") - p.count("WindowGroupLimit") <= 2


def test_retention_cohort_broadcasts_cohort_frame(spark, sf_dir):
    df = QUERIES["agg_retention_cohort"](spark, sf_dir)
    assert "BroadcastHashJoin" in plan(df)


def test_dynamic_partition_pruning_reaches_fact_scan(spark, sf_dir):
    # the fact scan's PartitionFilters must carry the runtime
    # dynamicpruning subquery fed by the broadcast dim — reading only
    # qualifying partitions is the entire value of the layout.
    df = QUERIES["join_dynamic_partition_pruning"](spark, sf_dir)
    p = formatted(df)
    assert "dynamicpruning" in p.lower()


def test_cte_reuse_plans_reused_exchange(spark, sf_dir):
    # the spend aggregate feeds two consumers; the second must read the
    # first's shuffle files (ReusedExchange), not recompute the agg.
    # AQE stitches the reuse in at runtime, so execute before asserting
    # on the final plan.
    df = QUERIES["cte_reuse_exchange"](spark, sf_dir)
    df.collect()
    assert "ReusedExchange" in plan(df)


def test_cc_star_round_has_bounded_exchanges(spark):
    # One large-star + small-star alternation must stay a BOUNDED number
    # of shuffles regardless of graph size: two min-groupBys, two joins
    # that reuse the groupBy's hash partitioning on u, and the output
    # distinct. If an edit re-keys a join or adds a distinct, the
    # per-round cost at 100 TB multiplies by the round count — pin it.
    from dbt_local_duckdb_deltalake_project_spark.operators.llm_ops import (
        _large_star,
        _small_star,
    )

    e = spark.createDataFrame(
        [(3, 1), (5, 2), (7, 3)], "u long, v long"
    )
    p = plan(_small_star(_large_star(e)))
    # 10 in the printed tree = the real shuffles PLUS re-listed shared
    # subtrees (each groupBy's upstream is shown again under the join
    # probe side; AQE reuse + the per-round localCheckpoint collapse
    # them at runtime). The pin catches a re-keyed join or an added
    # distinct, which would multiply per-round cost at 100 TB.
    assert p.count("Exchange hashpartitioning") <= 10
    # every shuffle in the round is keyed on u — a single co-partition
    # key end-to-end; any other key means a re-shuffle snuck in
    import re

    keys = {
        m.group(1)
        for m in re.finditer(r"Exchange hashpartitioning\((\w+)#", p)
    }
    assert keys <= {"u", "v"}  # v only in the output distinct's (u,v) key


def test_count_min_sketch_has_partial_aggregation(spark, sf_dir):
    # the sketch build must map-side combine to <=256 cells per task —
    # the property that makes the shuffle O(1) in corpus size.
    df = QUERIES["agg_count_min_sketch"](spark, sf_dir)
    p = plan(df)
    assert p.count("HashAggregate") >= 2


def test_importance_resample_topk_is_distributed(spark, sf_dir):
    # global top-100 selection must fuse to TakeOrderedAndProject
    # (per-partition partial top-k), never a single-task rank window.
    df = QUERIES["llm_importance_resample"](spark, sf_dir)
    p = plan(df)
    assert "TakeOrderedAndProject" in p
    assert "Window" not in p


def test_semantic_dedup_broadcasts_centroids(spark, sf_dir):
    # the K x dims centroid table must broadcast to the (vec, dim)
    # stream — a shuffle join there would re-partition the widest
    # intermediate at 100 TB.
    df = QUERIES["llm_dedup_semantic"](spark, sf_dir)
    assert "BroadcastHashJoin" in plan(df)


def test_spatial_grid_candidate_join_is_equi(spark, sf_dir):
    # the 3x3 fan-out must turn the radius join into a hash/merge
    # EQUI-join on the cell key — a BroadcastNestedLoop/Cartesian here
    # means the theta form leaked through and is O(n*m) at 100 TB.
    df = QUERIES["join_spatial_grid"](spark, sf_dir)
    p = plan(df)
    assert "Cartesian" not in p and "BroadcastNestedLoop" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p


def test_vocab_coverage_top30_is_distributed(spark, sf_dir):
    # the vocabulary top-30 must fuse to TakeOrderedAndProject
    # (per-partition heaps + driver merge) — the old rank-over-
    # unpartitioned-window funneled the whole distinct-token table
    # (~1e8 rows on a web corpus) through one task.
    df = QUERIES["llm_vocab_coverage"](spark, sf_dir)
    p = plan(df)
    assert "TakeOrderedAndProject" in p
    assert "windowspecdefinition" not in p


def test_ratio_to_report_grand_total_is_broadcast_scalar(spark, sf_dir):
    # the grand-total denominator must be a broadcast scalar crossJoin,
    # never an empty-partition window funneling every order row through
    # one task; the only window left is the o_custkey-partitioned sum.
    df = QUERIES["win_ratio_to_report"](spark, sf_dir)
    p = plan(df)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    n_specs = p.count("windowspecdefinition(")
    assert n_specs > 0
    assert n_specs == p.count("windowspecdefinition(o_custkey")


def test_pareto_cumsum_has_no_unpartitioned_window(spark, sf_dir):
    # two-pass range-partitioned cumulative sum: every window in the
    # plan must be partitioned by pid (bounded n/P groups) — an empty
    # partition spec means the global cumsum collapsed back onto a
    # single task.
    df = QUERIES["win_pareto_analysis"](spark, sf_dir)
    p = plan(df)
    n_specs = p.count("windowspecdefinition(")
    assert n_specs > 0  # the pid-local running sum/rank windows
    assert n_specs == p.count("windowspecdefinition(pid")


def test_registry_window_covers_unverified_ids():
    # driver-window guard: every id without a driver CORRECTNESS record
    # (a new op) must sit inside the next 50-slot driver window, and the
    # green remainder must be ordered stalest-first so re-verification
    # coverage keeps rotating. A pending id drifting past position 50
    # would silently wait an extra round for its fresh row. The order
    # under test is the driver contract's, not the package registry's.
    import glob
    import json
    import os
    import re

    import __spark_entry__

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last = {}
    for f in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", f)
        rnd = int(m.group(1))
        for qid in json.load(open(f)):
            last[qid] = max(last.get(qid, 0), rnd)
    ids = list(__spark_entry__.queries())
    pending = {q for q in ids if q not in last}
    if pending:
        worst = max(ids.index(q) for q in pending)
        assert worst < 50, (
            f"pending id at position {worst}: {ids[worst]} — "
            f"it misses the next driver window"
        )
    greens = [(ids.index(q), last[q]) for q in ids if q not in pending]
    greens.sort()
    rounds = [r for _, r in greens]
    assert rounds == sorted(rounds), (
        "green ids not stalest-first — the recheck rotation is broken"
    )


def test_registry_import_reads_no_driver_records():
    # Importing the engine's registry must do no driver-artifact I/O:
    # the package's order is plain registration order, and the
    # stalest-first driver order lives in __spark_entry__.queries().
    # An audit hook in a fresh interpreter sees every open and glob.
    import json
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import json, sys\n"
        "seen = []\n"
        "def hook(event, args):\n"
        "    if event in ('open', 'glob.glob'):\n"
        "        seen.append(str(args[0]))\n"
        "sys.addaudithook(hook)\n"
        "import dbt_local_duckdb_deltalake_project_spark.operators\n"
        "print(json.dumps(seen))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=repo, capture_output=True,
        text=True, check=True,
    ).stdout
    seen = json.loads(out.strip().splitlines()[-1])
    assert seen, "audit hook recorded no events"
    hits = [p for p in seen if "CORRECTNESS_r" in p]
    assert not hits, f"registry import touched driver records: {hits}"


def test_deltalike_scan_is_the_native_parquet_scan(spark, sf_dir):
    # a Delta-like table reads through DeltaLikeTable.read: the log plans
    # the files and Spark's parquet scan reads them — no Python data
    # source scan, whose workers would skip deletion vectors and mapping
    p = plan(QUERIES["scan_deltalike_datasource"](spark, sf_dir))
    assert "FileScan parquet" in p
    assert "python" not in p.lower()
