"""Property-based algebraic spot checks (SURVEY.md §5.5, hypothesis).

Identities that must hold for ANY input relation — they guard the
engine's relational algebra independent of the fixture data. Example
counts are kept small: each example pays Spark job overhead.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dbt_local_duckdb_deltalake_project_spark.functions.deterministic import (
    micros,
)

ROW = st.tuples(
    st.integers(min_value=0, max_value=9),
    st.integers(min_value=-100, max_value=100),
)
ROWS = st.lists(ROW, min_size=0, max_size=30)

_settings = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, rows):
    return spark.createDataFrame(rows or [(0, 0)], "k int, v int").limit(
        len(rows)
    )


@given(rows=ROWS)
@_settings
def test_filter_split_equivalence(spark, rows):
    # σ(p∧q) == σ(p)∘σ(q)
    df = _df(spark, rows)
    both = df.filter((F.col("v") > 0) & (F.col("k") % 2 == 0))
    chained = df.filter(F.col("v") > 0).filter(F.col("k") % 2 == 0)
    assert both.count() == chained.count()
    assert sorted(map(tuple, both.collect())) == sorted(
        map(tuple, chained.collect())
    )


@given(a=ROWS, b=ROWS)
@_settings
def test_union_all_counts(spark, a, b):
    da, db = _df(spark, a), _df(spark, b)
    assert da.unionByName(db).count() == len(a) + len(b)


@given(a=ROWS, b=ROWS)
@_settings
def test_bag_partition_identity(spark, a, b):
    # |A ∩all B| + |A −all B| == |A| (multiset partition)
    da, db = _df(spark, a), _df(spark, b)
    assert da.intersectAll(db).count() + da.exceptAll(db).count() == len(a)


@given(rows=ROWS)
@_settings
def test_filter_before_or_after_join(spark, rows):
    # σ_p(A ⋈ B) == σ_p(A) ⋈ B when p references only A's columns
    df = _df(spark, rows)
    dim = df.sparkSession.createDataFrame(
        [(k, f"g{k % 3}") for k in range(10)], "k int, grp string"
    )
    after = df.join(dim, "k").filter(F.col("v") > 0)
    before = df.filter(F.col("v") > 0).join(dim, "k")
    assert sorted(map(tuple, after.collect())) == sorted(
        map(tuple, before.collect())
    )


@given(rows=ROWS)
@_settings
def test_groupby_sum_equals_total(spark, rows):
    # Σ over groups == global Σ (partial-aggregation soundness)
    df = _df(spark, rows)
    per_group = df.groupBy("k").agg(F.sum("v").alias("s"))
    total = per_group.agg(F.sum("s")).collect()[0][0]
    expected = sum(v for _, v in rows) if rows else None
    assert total == expected


@given(a=ROWS, b=ROWS)
@_settings
def test_semi_anti_partition(spark, a, b):
    # semi(A,B) ⊎ anti(A,B) == A row-for-row (on distinct-keyed probes)
    da, db = _df(spark, a), _df(spark, b)
    semi = da.join(db.select("k").distinct(), "k", "left_semi").count()
    anti = da.join(db.select("k").distinct(), "k", "left_anti").count()
    assert semi + anti == len(a)


@given(rows=ROWS)
@_settings
def test_distinct_bounded_by_count(spark, rows):
    df = _df(spark, rows)
    assert df.distinct().count() <= len(rows)
    assert df.select("k").distinct().count() <= max(len(rows), 1)


@given(rows=ROWS)
@_settings
def test_row_number_is_a_permutation(spark, rows):
    # rank assignment covers 1..n exactly once per partition
    from pyspark.sql import Window

    df = _df(spark, rows)
    w = Window.partitionBy("k").orderBy("v", "k")
    rn = df.select("k", F.row_number().over(w).alias("rn"))
    per_key = rn.groupBy("k").agg(
        F.count("*").alias("n"), F.max("rn").alias("mx"), F.min("rn").alias("mn")
    )
    for r in per_key.collect():
        assert r.mn == 1 and r.mx == r.n


@given(
    rows=st.lists(
        st.lists(
            st.integers(min_value=-1000, max_value=1000),
            min_size=1,
            max_size=5,
        ),
        min_size=1,
        max_size=4,
    ),
    lo=st.integers(min_value=-1000, max_value=1000),
    hi=st.integers(min_value=-1000, max_value=1000),
)
@_settings
def test_stats_skipping_never_loses_matching_rows(spark, tmp_path_factory, rows, lo, hi):
    # Data skipping is an OPTIMIZATION: for any file layout and any
    # range, (pruned read + row filter) == (full read + row filter).
    import uuid as _uuid

    from dbt_local_duckdb_deltalake_project_spark.sources.deltalike import (
        DeltaLikeTable,
    )

    if lo > hi:
        lo, hi = hi, lo
    tbl = DeltaLikeTable(
        str(tmp_path_factory.mktemp("skip") / _uuid.uuid4().hex)
    )
    for i, chunk in enumerate(rows):
        tbl.write(
            spark.createDataFrame([(k,) for k in chunk], "k int").coalesce(1),
            mode="overwrite" if i == 0 else "append",
        )
    full = sorted(
        r.k
        for r in tbl.read(spark).filter(F.col("k").between(lo, hi)).collect()
    )
    pruned = sorted(
        r.k
        for r in tbl.read(spark, stats_filter={"k": (lo, hi)})
        .filter(F.col("k").between(lo, hi))
        .collect()
    )
    assert pruned == full


@given(
    rows=st.lists(
        st.lists(
            st.integers(min_value=0, max_value=119), min_size=1, max_size=5
        ),
        min_size=1,
        max_size=3,
    ),
    lo_day=st.integers(min_value=1, max_value=5),
    hi_day=st.integers(min_value=1, max_value=5),
    date_prefix=st.booleans(),
)
@_settings
def test_stats_skipping_timestamp_bounds_never_lose_rows(
    spark, tmp_path_factory, rows, lo_day, hi_day, date_prefix
):
    # Same skipping-is-only-an-optimization invariant, on a TIMESTAMP
    # column with bounds given either as full timestamps or bare
    # date-prefix strings — the shape that used to prune an equal
    # boundary instant under lexicographic comparison (ADVICE r3).
    import datetime
    import uuid as _uuid

    from dbt_local_duckdb_deltalake_project_spark.sources.deltalike import (
        DeltaLikeTable,
    )

    if lo_day > hi_day:
        lo_day, hi_day = hi_day, lo_day
    base = datetime.datetime(2000, 1, 1)
    fmt = "%Y-%m-%d" if date_prefix else "%Y-%m-%d %H:%M:%S"
    lo = datetime.datetime(2000, 1, lo_day).strftime(fmt)
    hi = datetime.datetime(2000, 1, hi_day).strftime(fmt)
    tbl = DeltaLikeTable(
        str(tmp_path_factory.mktemp("tsskip") / _uuid.uuid4().hex)
    )
    for i, chunk in enumerate(rows):
        df = spark.createDataFrame(
            [(base + datetime.timedelta(hours=h),) for h in chunk],
            "ts timestamp",
        )
        tbl.write(df.coalesce(1), mode="overwrite" if i == 0 else "append")
    pred = F.col("ts").between(lo, hi)
    full = sorted(r.ts for r in tbl.read(spark).filter(pred).collect())
    pruned = sorted(
        r.ts
        for r in tbl.read(spark, stats_filter={"ts": (lo, hi)})
        .filter(pred)
        .collect()
    )
    assert pruned == full


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=-100, max_value=100),
        ),
        min_size=1,
        max_size=30,
    ),
    threshold=st.integers(min_value=-100, max_value=100),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_dv_delete_equals_rewrite_delete(spark, tmp_path_factory, rows,
                                         threshold):
    """For ANY table and predicate, DELETE via deletion vectors must be
    row-for-row identical to copy-on-write DELETE (merge-on-read is a
    storage strategy, not a semantics change)."""
    import uuid as _uuid

    from dbt_local_duckdb_deltalake_project_spark.sources.deltalike import (
        DeltaLikeTable,
    )

    base = tmp_path_factory.mktemp("dvprop")
    df = spark.createDataFrame(rows, "k int, v int")
    cond = F.col("v") < threshold

    t_dv = DeltaLikeTable(str(base / f"dv-{_uuid.uuid4().hex}"))
    t_dv.write(df, mode="overwrite")
    t_dv.delete_with_dv(spark, cond)
    got_dv = sorted((r.k, r.v) for r in t_dv.read(spark).collect())

    t_cow = DeltaLikeTable(str(base / f"cow-{_uuid.uuid4().hex}"))
    t_cow.write(df, mode="overwrite")
    t_cow.delete(spark, cond)
    got_cow = sorted((r.k, r.v) for r in t_cow.read(spark).collect())

    assert got_dv == got_cow
    # and the DV table's physical file set never changed
    adds0 = {a["path"] for a in t_dv.live_files(as_of=0)}
    adds1 = {a["path"] for a in t_dv.live_files()}
    assert adds0 == adds1


@given(
    st.integers(min_value=0, max_value=2**85),
)
@settings(max_examples=300, deadline=None)
def test_hi_lo_split_double_conversion_is_correctly_rounded(n):
    # agg_higher_moments converts exact wide-integer power sums to
    # double via the hi/lo 32-bit split because a direct wide→double
    # cast is not correctly rounded in every engine. Property: for any
    # n < 2^85, float(n - n%2^32) + float(n%2^32) equals Python's
    # correctly-rounded float(n) — hi keeps ≤53 significant bits
    # (trailing 32 zeros), lo fits 32 bits, so both convert exactly and
    # the single IEEE add performs the one correct rounding.
    lo = n % 2**32
    hi = n - lo
    assert float(hi) + float(lo) == float(n)


WORDS = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]),
    min_size=1,
    max_size=40,
)


@given(words=WORDS)
@_settings
def test_count_min_sketch_never_undercounts(spark, words):
    # CMS one-sided guarantee: for ANY token stream, the min over hash
    # rows of the bucket count is >= the true count of every token.
    tok = spark.createDataFrame([(w,) for w in words], "w string")

    def bucket(r_col, w_col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("cms"), r_col.cast("string"),
                            F.lit(":"), w_col,
                        )
                    ),
                    1, 8,
                ),
                16, 10,
            ).cast("long")
            % 64
        )

    fan = tok.select(
        "w", F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("r")
    )
    cms = (
        fan.select("r", bucket(F.col("r"), F.col("w")).alias("bucket"))
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    exact = tok.groupBy("w").agg(F.count(F.lit(1)).alias("exact_count"))
    probe = exact.select(
        "w", "exact_count",
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("r"),
    ).select(
        "w", "exact_count", "r", bucket(F.col("r"), F.col("w")).alias("bucket")
    )
    est = (
        probe.join(cms, ["r", "bucket"])
        .groupBy("w", "exact_count")
        .agg(F.min("cnt").alias("est"))
        .collect()
    )
    assert est and all(r["est"] >= r["exact_count"] for r in est)


@given(
    sizes=st.lists(
        st.integers(min_value=1, max_value=10**9), min_size=1, max_size=8
    )
)
@_settings
def test_temperature_weights_are_a_subdistribution(spark, sizes):
    # floor-division ppm weights must sum to <= 1e6 (never over-allocate
    # the token budget) and preserve the size ordering.
    rows = [(f"g{i}", n) for i, n in enumerate(sizes)]
    g = spark.createDataFrame(rows, "lang string, n_chars long").select(
        "lang",
        "n_chars",
        micros(F.round(F.sqrt(F.col("n_chars").cast("double")), 9)).alias("s_m"),
    )
    tot = g.agg(F.sum("s_m").alias("total_m"))
    out = (
        g.crossJoin(F.broadcast(tot))
        .select("lang", "n_chars", F.expr("(s_m * 1000000L) div total_m").alias("w"))
        .collect()
    )
    assert sum(r["w"] for r in out) <= 1_000_000
    by_size = sorted(out, key=lambda r: (r["n_chars"], r["lang"]))
    ws = [r["w"] for r in by_size]
    assert all(a <= b for a, b in zip(ws, ws[1:]))


# ---------------------------------------------------------------------------
# Model-based storage fuzz: a random sequence of table operations applied
# both to a DeltaLikeTable and to a trivial in-memory multiset model must
# agree at EVERY version via time travel. This is the strongest guard the
# versioned-storage layer has: any replay bug (add/remove ordering,
# restore content comparison, checkpoint interaction) shows up as a
# divergence at some historical version, not just at HEAD.
# ---------------------------------------------------------------------------

_OP = st.one_of(
    st.tuples(st.just("append"), st.lists(ROW, min_size=1, max_size=5)),
    st.tuples(st.just("overwrite"), st.lists(ROW, min_size=1, max_size=5)),
    st.tuples(st.just("delete_lt"), st.integers(min_value=0, max_value=9)),
    st.tuples(st.just("compact"), st.just(None)),
    st.tuples(st.just("restore"), st.integers(min_value=0, max_value=5)),
)


@given(ops=st.lists(_OP, min_size=1, max_size=6))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_storage_op_sequence_matches_model(spark, tmp_path_factory, ops):
    from dbt_local_duckdb_deltalake_project_spark.sources.deltalike import DeltaLikeTable

    tbl = DeltaLikeTable(str(tmp_path_factory.mktemp("fuzz") / "t"))

    def df(rows):
        return spark.createDataFrame(rows or [(0, 0)], "k int, v int").limit(
            len(rows)
        )

    versions = []  # model state (sorted tuple multiset) per commit version
    state = []
    for op, arg in ops:
        if op == "append" and versions:
            tbl.write(df(arg), mode="append")
            state = state + list(arg)
        elif op in ("append", "overwrite"):
            tbl.write(df(arg), mode="overwrite")
            state = list(arg)
        elif op == "delete_lt":
            if not versions:
                continue
            tbl.delete(spark, F.col("k") < arg)
            state = [r for r in state if not (r[0] < arg)]
        elif op == "compact":
            if not versions:
                continue
            tbl.compact(spark, target_files=1)
        elif op == "restore":
            if not versions:
                continue
            v = min(arg, len(versions) - 1)
            tbl.restore(v)
            state = list(versions[v])
        versions.append(sorted(state))

    assert tbl.latest_version == len(versions) - 1
    for v, want in enumerate(versions):
        got = sorted(
            (r.k, r.v) for r in tbl.read(spark, as_of=v).collect()
        )
        assert got == want, f"diverged at version {v}: {got} != {want}"


TEXTS = st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=6),
    min_size=1,
    max_size=20,
)


@given(texts=TEXTS)
@_settings
def test_adjacency_extends_matches_bruteforce(spark, texts):
    # the r10 range-partition sorted-adjacency helper must agree with
    # the O(n²) brute force for ANY text multiset: a distinct text is
    # flagged iff it is a proper prefix of SOME other distinct text —
    # including empty strings, duplicate groups, and chains, across
    # range-partition boundaries (16 partitions over ≤20 tiny strings
    # makes nearly every adjacency a boundary handoff).
    from dbt_local_duckdb_deltalake_project_spark.operators.llm_ops import (
        _adjacency_extends,
    )

    rows = [(i, s) for i, s in enumerate(texts)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    uniq = d.groupBy("text").agg(
        F.min("doc_id").alias("rep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    got = {
        r["text_key"]: r["is_ext"]
        for r in _adjacency_extends(uniq, F.col("text")).collect()
    }
    keys = {
        r["text"]: r["k"]
        for r in uniq.select(
            "text", F.md5("text").alias("k")
        ).collect()
    }
    distinct = set(texts)
    for s in distinct:
        brute = any(u != s and u.startswith(s) for u in distinct)
        assert got[keys[s]] == brute, f"mismatch for {s!r} in {texts!r}"
