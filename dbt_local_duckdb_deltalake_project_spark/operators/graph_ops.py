"""Graph analytics over relational data (SURVEY.md §2 extensions).

The customer–supplier bipartite graph implied by order lineitems is the
fixture's natural graph: who buys from whom. `llm_dedup_clusters`
(llm_ops.py) already covers variable-round connected components with
convergence checks; this module adds the fixed-round iterative pattern —
PageRank with the iteration count in the plan, every pass a join + an
aggregation on the node key, no driver-side graph state.

Determinism discipline: ranks live as scaled-long micros and every
division is integer floor division (positive operands, so Spark's
truncating DIV and DuckDB's flooring // agree) — the llm_kmeans route.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import t
from ..functions.deterministic import micros, sql_micros
from .registry import register

_PAGERANK_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS c,
                  's:' || CAST(l_suppkey AS VARCHAR) AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
i1 AS (
  SELECT e.dst AS node,
         CAST(150000 + (85 * SUM(r.r // d.outdeg)) // 100 AS BIGINT) AS r
  FROM edges e
  JOIN deg d ON e.src = d.src
  JOIN r0 r ON r.node = e.src
  GROUP BY e.dst
),
i2 AS (
  SELECT e.dst AS node,
         CAST(150000 + (85 * SUM(r.r // d.outdeg)) // 100 AS BIGINT) AS r
  FROM edges e
  JOIN deg d ON e.src = d.src
  JOIN i1 r ON r.node = e.src
  GROUP BY e.dst
),
i3 AS (
  SELECT e.dst AS node,
         CAST(150000 + (85 * SUM(r.r // d.outdeg)) // 100 AS BIGINT) AS r
  FROM edges e
  JOIN deg d ON e.src = d.src
  JOIN i2 r ON r.node = e.src
  GROUP BY e.dst
)
SELECT node, r AS rank_micros FROM i3 ORDER BY node
"""


@register("graph_pagerank", _PAGERANK_ORACLE)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 unrolled iterations) over the undirected
    customer–supplier purchase graph. Each iteration is exactly one
    join (ranks reach their out-edges on the src key) and one
    aggregation (inflow sums on the dst key) — the textbook distributed
    formulation: rank state never leaves the cluster, no collect, no
    driver loop state, and partial aggregation combines inflow map-side
    before the dst shuffle. Because the edge list is reused every
    round, at 100 TB you persist it partitioned by src (one staging
    shuffle amortized over all iterations, the same discipline as
    join_bucketed_colocated); skewed hub nodes are bounded by AQE skew
    splitting on the inflow shuffle. Ranks are scaled-long micros with
    floor division on positive operands, so Spark DIV and DuckDB //
    produce bit-identical integers — no float mass accumulation to
    drift between engines (fixed iteration count makes the whole
    computation one Catalyst plan; a convergence-checked variant is
    `llm_dedup_clusters`' loop pattern).
    """
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # Dedupe on the 16-byte INT pair and only then build node ids:
    # the distinct is the one full-size shuffle in the whole op, so it
    # runs on the narrowest possible rows. Per-side degrees are tiny
    # (≤ |customers| / |suppliers| rows) and broadcast back onto the
    # pair list — no million-row edges⋈deg shuffle.
    # pairs is the root of FOUR downstream frames (both degree tables,
    # the edge list, the rank seed): checkpoint it so no consumer
    # re-executes the base join+distinct.
    pairs = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .localCheckpoint(eager=True)
    )
    degc = pairs.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("outdeg"))
    degs = pairs.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("outdeg"))
    # r14 (guide §2.3, narrower types): node ids are LONGS through every
    # iteration — customer k ↦ 2k, supplier k ↦ 2k+1 (disjoint, exact) —
    # so the checkpointed edge list and all three rank joins hash and
    # shuffle 8-byte keys instead of "c:<k>"/"s:<k>" strings; the
    # strings the oracle emits are rendered ONCE at the end over the
    # node-count-sized result. Values are identical: the encoding is a
    # bijection, so groups, sums and the final decoded labels match the
    # string-keyed form row for row.
    cid = (F.col("o_custkey").cast("long") * 2)
    sid = (F.col("l_suppkey").cast("long") * 2 + 1)
    edges = pairs.join(F.broadcast(degc), "o_custkey").select(
        cid.alias("src"), sid.alias("dst"), "outdeg"
    ).unionAll(
        pairs.join(F.broadcast(degs), "l_suppkey").select(
            sid.alias("src"), cid.alias("dst"), "outdeg"
        )
    )
    # The edge list feeds every iteration: checkpoint it once so the
    # scan→join→distinct prefix isn't re-executed per round (the
    # cluster-scale analogue is persisting edges partitioned by src) —
    # bounded at |edges| rows, same discipline as llm_dedup_clusters.
    edges_deg = edges.localCheckpoint(eager=True)
    ranks = degc.select(
        cid.alias("node"), F.lit(1_000_000).cast("long").alias("r")
    ).unionAll(
        degs.select(
            sid.alias("node"), F.lit(1_000_000).cast("long").alias("r")
        )
    )
    for _ in range(3):
        # r14 (guide §3.1): the rank table is NODE-count-sized (~16k
        # rows) but derives from a union of two aggregations, so
        # Catalyst's size estimate balloons after round 1 and the plan
        # degraded to a per-round SortMergeJoin — shuffling the
        # EDGE-count-sized (~1.2M row) checkpointed edge list by src
        # every iteration. The explicit broadcast pins the join the
        # docstring argues: edges never reshuffle, only node-sized
        # state moves per round (plan: 3 SortMergeJoin + per-round
        # edge Exchange → 3 BroadcastHashJoin, see plans/r14/).
        ranks = (
            edges_deg.join(F.broadcast(ranks), edges_deg.src == ranks.node)
            .select(
                F.col("dst"), F.expr("r DIV outdeg").alias("contrib")
            )
            .groupBy("dst")
            .agg(
                (
                    F.lit(150_000)
                    + F.expr("85 * sum(contrib) DIV 100")
                ).cast("long").alias("r")
            )
            .withColumnRenamed("dst", "node")
        )
    return ranks.select(
        F.concat(
            F.when(F.col("node") % 2 == 0, F.lit("c:")).otherwise(
                F.lit("s:")
            ),
            F.expr("node DIV 2").cast("string"),
        ).alias("node"),
        F.col("r").alias("rank_micros"),
    ).orderBy("node")


_TRIANGLE_ORACLE = """
WITH cs0 AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
cs AS (
  SELECT c, s FROM (
    SELECT c, s, ROW_NUMBER() OVER (PARTITION BY c ORDER BY s ASC) AS rn
    FROM cs0
  ) WHERE rn <= 12
),
co AS (
  SELECT a.s AS s1, b.s AS s2, COUNT(*) AS shared
  FROM cs a JOIN cs b ON a.c = b.c AND a.s <> b.s
  GROUP BY a.s, b.s
),
knn AS (
  SELECT s1, s2 FROM (
    SELECT s1, s2,
           ROW_NUMBER() OVER (PARTITION BY s1
                              ORDER BY shared DESC, s2 ASC) AS rk
    FROM co
  ) WHERE rk <= 3
),
und AS (
  SELECT DISTINCT LEAST(s1, s2) AS a, GREATEST(s1, s2) AS b FROM knn
),
tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT (SELECT COUNT(DISTINCT s) FROM cs0) AS n_nodes,
       (SELECT COUNT(*) FROM und) AS n_edges,
       n_triangles
FROM tri
"""


@register("graph_triangle_count", _TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the top-3 co-purchase neighbor graph. The raw
    supplier co-purchase graph is near-complete (uniform fixture), so
    the op FIRST sparsifies — each supplier keeps its 3 strongest
    partners (shared-customer count, id tiebreak), the k-NN-graph
    construction every similarity/recommendation pipeline runs — and
    THEN counts triangles on the ordered edge list (a<b<c via one
    wedge join + one closing semi-equi-join). Sparsify-then-count is
    the 100 TB discipline: degree is capped at 2k by construction, so
    the wedge join is ≤ 4k² rows per node no matter how dense the raw
    affinity matrix is, and every step is an equi-join/groupBy on a
    key Catalyst shuffles once. Determinism: ROW_NUMBER tiebreaks make
    the kept edge set engine-identical.
    """
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    cs0 = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # Per-entity cap BEFORE pairing (keep each customer's 12 smallest
    # supplier ids — deterministic): co-occurrence pair counts are
    # quadratic in per-entity degree, so a hub entity is THE blow-up at
    # scale; the cap bounds pairs at C(12,2) per customer. Standard in
    # co-occurrence mining, mirrored exactly in the oracle.
    cs = (
        cs0.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("c").orderBy(F.col("s").asc())),
        )
        .filter(F.col("rn") <= 12)
        .drop("rn")
    )
    a, b = cs.alias("a"), cs.alias("b")
    co = (
        a.join(b, (F.col("a.c") == F.col("b.c")) & (F.col("a.s") != F.col("b.s")))
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    rk = F.row_number().over(
        W.partitionBy("s1").orderBy(
            F.col("shared").desc(), F.col("s2").asc()
        )
    )
    knn = co.select("s1", "s2", rk.alias("rk")).filter(F.col("rk") <= 3)
    und = knn.select(
        F.least("s1", "s2").alias("a"), F.greatest("s1", "s2").alias("b")
    ).distinct()
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nodes = cs0.agg(F.count_distinct("s").alias("n_nodes"))
    edges = und.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        nodes.crossJoin(F.broadcast(edges))
        .crossJoin(F.broadcast(tri))
        .select("n_nodes", "n_edges", "n_triangles")
    )


_CC_ORACLE = """
WITH edges AS (
  SELECT c_custkey AS a, c_custkey - 1 AS b
  FROM customer WHERE c_custkey % 8 <> 0
),
nodes AS (
  SELECT a AS node FROM edges UNION SELECT b FROM edges
)
SELECT node,
       CAST(node - node % 8 AS BIGINT) AS component_id,
       CAST(COUNT(*) OVER (PARTITION BY node - node % 8) AS BIGINT)
         AS component_size,
       (node % 8 = 0) AS is_root
FROM nodes
ORDER BY node
"""


@register("graph_connected_components", _CC_ORACLE)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components as a first-class operator, run on chain
    graphs — the worst case for the naive algorithm. Edges link each
    customer key to its predecessor within blocks of 8, so the graph
    is ~2k disjoint 8-node paths: plain min-label propagation needs
    diameter (7) rounds, while the large-star/small-star alternation
    used here (shared with llm_dedup_clusters) collapses every path in
    O(log n) rounds — the 100 TB-safe shape, since each round is a
    bounded set of shuffles all keyed on the node id and the round
    count stays logarithmic even for pathological chains (the 256-node
    property test in tests/test_corpus_ops.py pins that bound). The
    key-constructed graph gives the oracle a closed form (component =
    node - node % 8) that verifies every label exactly — the same
    construction discipline as llm_dedup_url.
    """
    from .llm_ops import _cc_large_small_star

    c = t(spark, sf_dir, "customer").select("c_custkey")
    edges = c.filter(F.col("c_custkey") % 8 != 0).select(
        F.col("c_custkey").alias("doc_a"),
        (F.col("c_custkey") - 1).alias("doc_b"),
    )
    sym = edges.union(
        edges.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).localCheckpoint(eager=True)
    labels, _rounds = _cc_large_small_star(sym)
    size_w = W.partitionBy("label")
    return labels.select(
        F.col("doc_id").alias("node"),
        F.col("label").alias("component_id"),
        F.count(F.lit(1)).over(size_w).cast("long").alias("component_size"),
        (F.col("doc_id") == F.col("label")).alias("is_root"),
    ).orderBy("node")


_BFS_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT o_custkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
  SELECT 'c:' || CAST(o_custkey AS VARCHAR) AS src,
         's:' || CAST(l_suppkey AS VARCHAR) AS dst FROM pairs
  UNION ALL
  SELECT 's:' || CAST(l_suppkey AS VARCHAR),
         'c:' || CAST(o_custkey AS VARCHAR) FROM pairs
),
d0 AS (SELECT 'c:1' AS node, CAST(0 AS BIGINT) AS d),
d1 AS (
  SELECT node, MIN(d) AS d FROM (
    SELECT * FROM d0
    UNION ALL
    SELECT e.dst, p.d + 1 FROM d0 p JOIN edges e ON e.src = p.node
  ) GROUP BY node
),
d2 AS (
  SELECT node, MIN(d) AS d FROM (
    SELECT * FROM d1
    UNION ALL
    SELECT e.dst, p.d + 1 FROM d1 p JOIN edges e ON e.src = p.node
  ) GROUP BY node
),
d3 AS (
  SELECT node, MIN(d) AS d FROM (
    SELECT * FROM d2
    UNION ALL
    SELECT e.dst, p.d + 1 FROM d2 p JOIN edges e ON e.src = p.node
  ) GROUP BY node
),
d4 AS (
  SELECT node, MIN(d) AS d FROM (
    SELECT * FROM d3
    UNION ALL
    SELECT e.dst, p.d + 1 FROM d3 p JOIN edges e ON e.src = p.node
  ) GROUP BY node
)
SELECT node, d AS dist FROM d4 ORDER BY node
"""


@register("graph_bfs_shortest_path", _BFS_ORACLE)
def graph_bfs_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unweighted single-source shortest paths (BFS, 4 hops) from
    customer c:1 over the bipartite purchase graph — "everything within
    N hops of this account", the reachability/blast-radius query behind
    fraud rings and recall expansion. FRONTIER formulation, the form
    that survives at 100 TB: each round joins only the nodes FIRST
    REACHED last round against the edge list (not the whole dist
    table), anti-joins out already-settled nodes, and appends the new
    frontier with dist = k. Frontier rounds are the textbook
    Pregel-style BFS: per-round cost tracks the frontier's edge
    boundary, total work = O(E) across all rounds, and the min-dist
    invariant holds by construction (a node is settled the first round
    it appears — BFS order IS the shortest unweighted path). Each
    frontier is localCheckpoint-ed (it feeds both the next expansion
    and the settled set, and lineage would otherwise double per round
    — the llm_dedup_clusters discipline). Both per-round joins
    BROADCAST the small side (frontier / settled set) so the edge list
    is never reshuffled per round — measured 23% faster at sf0.1; at
    true 100 TB scale, where a frontier can outgrow the broadcast
    threshold, the swap is hash-partitioning edges by src ONCE and
    reusing that partitioning every round (AQE picks the same
    broadcast plan adaptively while the frontier fits). The oracle
    computes the same four expansions as min-over-union CTEs;
    identical integer hop counts, no floats anywhere.
    """
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # r14 (guide §2.3, narrower types): LONG node ids through every
    # round — customer k ↦ 2k, supplier k ↦ 2k+1, exactly the
    # graph_pagerank encoding — so the checkpointed edge list, the
    # per-round broadcast hash joins and the distinct all work 8-byte
    # keys instead of "c:<k>"/"s:<k>" strings; the oracle's string
    # labels render once at the end. Bijective, so reachability and
    # hop counts are identical.
    cid = (F.col("o_custkey").cast("long") * 2)
    sid = (F.col("l_suppkey").cast("long") * 2 + 1)
    edges = (
        pairs.select(cid.alias("src"), sid.alias("dst"))
        .unionAll(pairs.select(sid.alias("src"), cid.alias("dst")))
        .localCheckpoint(eager=True)
    )
    seed = spark.createDataFrame(
        [(2, 0)], "node long, d long"  # c:1 ↦ 2*1
    )
    dist = seed
    frontier = seed
    for k in range(1, 5):
        reached = (
            edges.join(F.broadcast(frontier), edges.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        frontier = (
            reached.join(F.broadcast(dist), "node", "left_anti")
            .select("node", F.lit(k).cast("long").alias("d"))
            .localCheckpoint(eager=True)
        )
        dist = dist.unionByName(frontier)
    return dist.select(
        F.concat(
            F.when(F.col("node") % 2 == 0, F.lit("c:")).otherwise(
                F.lit("s:")
            ),
            F.expr("node DIV 2").cast("string"),
        ).alias("node"),
        F.col("d").alias("dist"),
    ).orderBy("node")


_COMMON_NEIGHBORS_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
capped AS (
  SELECT c, s FROM (
    SELECT c, s, ROW_NUMBER() OVER (PARTITION BY c ORDER BY s) AS rn
    FROM pairs
  ) WHERE rn <= 8
),
deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM capped GROUP BY s),
inter AS (
  SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS BIGINT) AS shared
  FROM capped a JOIN capped b ON a.c = b.c AND a.s < b.s
  GROUP BY a.s, b.s
)
SELECT i.s1, i.s2, i.shared,
       d1.d AS deg1, d2.d AS deg2,
       (i.shared * 1000000) // (d1.d + d2.d - i.shared) AS jaccard_ppm
FROM inter i JOIN deg d1 ON i.s1 = d1.s JOIN deg d2 ON i.s2 = d2.s
ORDER BY jaccard_ppm DESC, s1, s2
LIMIT 20
"""


@register("graph_common_neighbors", _COMMON_NEIGHBORS_ORACLE)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor (Jaccard) node similarity over the bipartite
    purchase graph: suppliers are similar when the same customers buy
    from both — the link-prediction / seller-recommendation primitive.
    The quadratic danger is the wedge join (Σ deg² over customers), so
    the adjacency is SPARSIFIED first: each customer keeps its 8
    lowest-keyed suppliers (graph_triangle_count's degree-cap trick;
    deterministic, mirrored in the oracle, and the standard large-graph
    move — sampled neighborhoods bound wedges to 8²/customer ≈ 28
    pairs regardless of corpus size). Jaccard on the capped adjacency
    is pure integer math (shared·10⁶ // (d1+d2-shared); Spark div ==
    DuckDB // on positives), top-20 via TakeOrderedAndProject — no
    global sort materialization. Plan: distinct fold → one rank window
    on customer → self-equi-join on customer → count fold → two
    broadcast deg joins.
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    capped = (
        pairs.select(
            "c",
            "s",
            F.row_number()
            .over(W.partitionBy("c").orderBy("s"))
            .alias("rn"),
        )
        .filter(F.col("rn") <= 8)
        .drop("rn")
    )
    deg = capped.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    a = capped.alias("a")
    b = capped.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c")) & (F.col("a.s") < F.col("b.s")),
        )
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    d1 = deg.select(F.col("s").alias("s1"), F.col("d").alias("deg1"))
    d2 = deg.select(F.col("s").alias("s2"), F.col("d").alias("deg2"))
    return (
        inter.join(F.broadcast(d1), "s1")
        .join(F.broadcast(d2), "s2")
        .select(
            "s1",
            "s2",
            "shared",
            "deg1",
            "deg2",
            F.expr(
                "(shared * 1000000L) div (deg1 + deg2 - shared)"
            ).alias("jaccard_ppm"),
        )
        .orderBy(F.col("jaccard_ppm").desc(), "s1", "s2")
        .limit(20)
    )


_LABEL_PROP_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS c,
                  's:' || CAST(l_suppkey AS VARCHAR) AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE (o_custkey + l_suppkey) % 7 = 0
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
l1 AS (
  SELECT e.dst AS node, LEAST(MIN(l.label), MIN(e.dst)) AS label
  FROM edges e JOIN l0 l ON l.node = e.src GROUP BY e.dst
),
l2 AS (
  SELECT e.dst AS node, LEAST(MIN(l.label), MIN(e.dst)) AS label
  FROM edges e JOIN l1 l ON l.node = e.src GROUP BY e.dst
),
l3 AS (
  SELECT e.dst AS node, LEAST(MIN(l.label), MIN(e.dst)) AS label
  FROM edges e JOIN l2 l ON l.node = e.src GROUP BY e.dst
)
SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members,
       MIN(node) AS min_node, MAX(node) AS max_node
FROM l3 GROUP BY label ORDER BY community
"""


@register("graph_label_propagation", _LABEL_PROP_ORACLE)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous min-label propagation, 3 rounds, over the
    customer–supplier bipartite graph — the community-detection
    primitive (LPA, Raghavan et al. 2007, with the deterministic
    min-label tie rule): after k rounds every node carries the
    smallest label in its k-hop neighborhood. Distinct from
    graph_connected_components (which iterates to convergence with
    star contractions) — LPA's fixed round budget IS the operator
    semantics, so the unrolled form is exact, not a shortcut. Each
    round is one edges⋈labels hash join + one min-aggregation with
    map-side combine (labels shrink toward the minimum, so partial
    aggregation collapses duplicates early); edges are
    localCheckpoint'd once and reused across rounds (bounded lineage,
    same discipline as pagerank). Communities are then folded to one
    row each. At 100 TB: hash-partition edges by src once and every
    round co-locates — k scans, no quadratic anything.
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        # sparsify so the fixture graph fragments into real communities
        # (the unfiltered bipartite graph is 3-hop-connected and LPA
        # would collapse to one label — a vacuous demo)
        .filter((F.col("o_custkey") + F.col("l_suppkey")) % 7 == 0)
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias(
                "c"
            ),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias(
                "s"
            ),
        )
        .distinct()
    )
    edges = (
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
        .union(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
        .localCheckpoint(eager=True)
    )
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(3):
        # r14 (guide §3.1): the label table is NODE-sized but derives
        # from an aggregation, so Catalyst's estimate balloons after
        # round 1 and the join degraded to a per-round SortMergeJoin
        # that reshuffles the checkpointed edge list. Broadcast pins
        # the shape the docstring argues (edges never reshuffle).
        labels = (
            edges.join(F.broadcast(labels), edges.src == labels.node)
            .groupBy(edges.dst.alias("node"))
            .agg(
                F.least(F.min("label"), F.min(edges.dst)).alias("label")
            )
        )
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
        )
        .orderBy("community")
    )


_DEGREE_STATS_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS c,
                  's:' || CAST(l_suppkey AS VARCHAR) AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
  FROM (
    SELECT c AS node FROM pairs UNION ALL SELECT s AS node FROM pairs
  ) GROUP BY node
)
SELECT substring(node, 1, 1) AS node_type, degree,
       CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM deg GROUP BY substring(node, 1, 1), degree
ORDER BY node_type, degree
"""


@register("graph_degree_stats", _DEGREE_STATS_ORACLE)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution profile of the bipartite graph: per node
    side (customer/supplier), how many nodes have each degree — the
    first diagnostic every graph pipeline runs (skew detection: a
    power-law tail here is what forces salting/sparsification in the
    heavier graph ops). Two algebraic aggregations, both map-side
    combinable; the distribution output is bounded by max-degree, not
    node count, so it collapses to KBs at any scale.
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias(
                "c"
            ),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias(
                "s"
            ),
        )
        .distinct()
    )
    deg = (
        pairs.select(F.col("c").alias("node"))
        .union(pairs.select(F.col("s").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.groupBy(
            F.substring("node", 1, 1).alias("node_type"), "degree"
        )
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("node_type", "degree")
    )


_KCORE_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS c,
                  's:' || CAST(l_suppkey AS VARCHAR) AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE (o_custkey + l_suppkey) % 7 = 0
),
e0 AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
k1 AS (
  SELECT src AS node FROM e0 GROUP BY src HAVING COUNT(*) >= 3
),
e1 AS (
  SELECT e.src, e.dst FROM e0 e
  JOIN k1 a ON e.src = a.node JOIN k1 b ON e.dst = b.node
),
k2 AS (
  SELECT src AS node FROM e1 GROUP BY src HAVING COUNT(*) >= 3
),
e2 AS (
  SELECT e.src, e.dst FROM e1 e
  JOIN k2 a ON e.src = a.node JOIN k2 b ON e.dst = b.node
),
k3 AS (
  SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS residual_degree
  FROM e2 GROUP BY src HAVING COUNT(*) >= 3
)
SELECT substring(node, 1, 1) AS node_type,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(residual_degree) AS BIGINT) AS sum_degree,
       MIN(node) AS min_node
FROM k3 GROUP BY substring(node, 1, 1) ORDER BY node_type
"""


@register("graph_kcore_peel", _KCORE_ORACLE)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k=3, three peel rounds) over the sparsified
    bipartite graph — the dense-subgraph extractor behind spam-ring /
    collusion detection and graph sampling. Each round drops nodes of
    degree < k and the edges touching them; three unrolled rounds are
    the operator semantics (the LPA/fixed-budget argument — at scale
    you re-run rounds until no node drops; each round is the same
    plan). Round = one degree fold (map-side combine) + one semi-join
    of edges against surviving nodes on EACH endpoint — all hash
    equi-joins keyed by node, no nested loops; survivors only shrink,
    so round cost is monotone non-increasing. Output folds the
    surviving 3-core to per-side population / residual-degree rows.
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter((F.col("o_custkey") + F.col("l_suppkey")) % 7 == 0)
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias(
                "c"
            ),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias(
                "s"
            ),
        )
        .distinct()
    )
    edges = (
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
        .union(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
        .localCheckpoint(eager=True)
    )
    for _ in range(2):
        keep = (
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= 3)
            .select(F.col("src").alias("node"))
        )
        # r14 (guide §3.1): `keep` is the degree-filtered NODE list
        # (tiny) but derives from an agg+filter, so its size estimate
        # balloons and both semi-joins degraded to SortMergeJoins that
        # reshuffle the shrinking edge list twice per round. Broadcast
        # keeps edges in place.
        edges = (
            edges.join(
                F.broadcast(keep), edges.src == keep.node, "left_semi"
            )
            .join(F.broadcast(keep), edges.dst == keep.node, "left_semi")
        )
    core = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("residual_degree"))
        .filter(F.col("residual_degree") >= 3)
    )
    return (
        core.groupBy(F.substring("src", 1, 1).alias("node_type"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("residual_degree").alias("sum_degree"),
            F.min("src").alias("min_node"),
        )
        .orderBy("node_type")
    )


# ---------------------------------------------------------------------------
# graph_clustering_coefficient — local clustering coefficient per node
# on the same sparsified top-3 co-purchase supplier graph as
# graph_triangle_count: cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)). Each
# a<b<c triangle is enumerated once (wedge join + closing join) and
# credited to all three corners via a 3-way union; the coefficient is
# exact integer floor-division micros. Same 100 TB discipline as the
# sibling: per-entity degree capped by construction (≤ 12 pre-pair,
# k = 3 post-sparsify), so every join is an equi-join on a bounded
# neighborhood.
# ---------------------------------------------------------------------------

_CLUSTERING_ORACLE = """
WITH cs0 AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
cs AS (
  SELECT c, s FROM (
    SELECT c, s, ROW_NUMBER() OVER (PARTITION BY c ORDER BY s ASC) AS rn
    FROM cs0
  ) WHERE rn <= 12
),
co AS (
  SELECT a.s AS s1, b.s AS s2, COUNT(*) AS shared
  FROM cs a JOIN cs b ON a.c = b.c AND a.s <> b.s
  GROUP BY a.s, b.s
),
knn AS (
  SELECT s1, s2 FROM (
    SELECT s1, s2,
           ROW_NUMBER() OVER (PARTITION BY s1
                              ORDER BY shared DESC, s2 ASC) AS rk
    FROM co
  ) WHERE rk <= 3
),
und AS (
  SELECT DISTINCT LEAST(s1, s2) AS a, GREATEST(s1, s2) AS b FROM knn
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT a AS node FROM und UNION ALL SELECT b FROM und
  ) GROUP BY node
),
tris AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
),
tric AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS tri FROM (
    SELECT x AS node FROM tris UNION ALL
    SELECT y FROM tris UNION ALL
    SELECT z FROM tris
  ) GROUP BY node
)
SELECT d.node, d.deg,
       COALESCE(t.tri, 0) AS n_triangles,
       CASE WHEN d.deg >= 2
            THEN 2 * COALESCE(t.tri, 0) * 1000000 // (d.deg * (d.deg - 1))
            ELSE 0 END AS cc_micros
FROM deg d LEFT JOIN tric t ON t.node = d.node
ORDER BY d.node
"""


@register("graph_clustering_coefficient", _CLUSTERING_ORACLE)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    cs0 = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    cs = (
        cs0.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("c").orderBy(F.col("s").asc())),
        )
        .filter(F.col("rn") <= 12)
        .drop("rn")
    )
    a, b = cs.alias("a"), cs.alias("b")
    co = (
        a.join(b, (F.col("a.c") == F.col("b.c")) & (F.col("a.s") != F.col("b.s")))
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    rk = F.row_number().over(
        W.partitionBy("s1").orderBy(F.col("shared").desc(), F.col("s2").asc())
    )
    knn = co.select("s1", "s2", rk.alias("rk")).filter(F.col("rk") <= 3)
    und = knn.select(
        F.least("s1", "s2").alias("a"), F.greatest("s1", "s2").alias("b")
    ).distinct()
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    e1, e2, e3 = und.alias("e1"), und.alias("e2"), und.alias("e3")
    tris = (
        e1.join(e2, F.col("e2.a") == F.col("e1.b"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    tric = (
        tris.select(F.col("x").alias("node"))
        .unionAll(tris.select(F.col("y").alias("node")))
        .unionAll(tris.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("tri"))
    )
    tri = F.coalesce(F.col("tri"), F.lit(0))
    return (
        deg.join(F.broadcast(tric), "node", "left")
        .select(
            "node",
            "deg",
            tri.alias("n_triangles"),
            F.when(
                F.col("deg") >= 2,
                F.expr(
                    "2 * coalesce(tri, 0) * 1000000"
                    " div (deg * (deg - 1))"
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("cc_micros"),
        )
        .orderBy("node")
    )


# ---------------------------------------------------------------------------
# graph_resource_allocation — RA link-prediction index (Zhou, Lü &
# Zhang 2009) over the bipartite purchase graph: suppliers s1, s2 score
# sum over shared customers c of 1/deg(c) — a shared customer who buys
# from few suppliers is stronger evidence than a promiscuous one. The
# degree-weighted sibling of graph_common_neighbors' Jaccard (which
# treats all shared neighbors equally); RA empirically beats both
# common-neighbors and Adamic–Adar on dense graphs, and unlike
# Adamic–Adar's 1/log(deg) it is EXACT integer math (1e6 // deg per
# shared customer — no transcendentals, engine-identical). Same
# 8-per-customer deterministic sparsification as the sibling: wedge
# work is bounded at 28 pairs per customer regardless of corpus size,
# and deg(c) <= 8 keeps every term's floor division exact on tiny
# positive operands.
# ---------------------------------------------------------------------------

_RESOURCE_ALLOCATION_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
capped AS (
  SELECT c, s FROM (
    SELECT c, s, ROW_NUMBER() OVER (PARTITION BY c ORDER BY s) AS rn
    FROM pairs
  ) WHERE rn <= 8
),
cdeg AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS dc FROM capped GROUP BY c),
wedge AS (
  SELECT a.s AS s1, b.s AS s2,
         CAST(COUNT(*) AS BIGINT) AS shared,
         CAST(SUM(1000000 // d.dc) AS BIGINT) AS ra_ppm
  FROM capped a
  JOIN capped b ON a.c = b.c AND a.s < b.s
  JOIN cdeg d ON d.c = a.c
  GROUP BY a.s, b.s
)
SELECT s1, s2, shared, ra_ppm
FROM wedge
ORDER BY ra_ppm DESC, s1, s2
LIMIT 20
"""


@register("graph_resource_allocation", _RESOURCE_ALLOCATION_ORACLE)
def graph_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation index on the capped customer→supplier
    adjacency. Plan: distinct fold → one per-customer rank window →
    broadcast of the per-customer degree (bounded ≤ 8) onto the wedge
    self-join → map-side-combined integer fold → top-20 via
    TakeOrderedAndProject. Every 1e6 // deg term has positive operands
    so Spark's truncating div and DuckDB's flooring // agree.
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    capped = (
        pairs.select(
            "c",
            "s",
            F.row_number()
            .over(W.partitionBy("c").orderBy("s"))
            .alias("rn"),
        )
        .filter(F.col("rn") <= 8)
        .select("c", "s")
    )
    cdeg = capped.groupBy("c").agg(F.count(F.lit(1)).alias("dc"))
    a = capped.select(F.col("c"), F.col("s").alias("s1"))
    b = capped.select(F.col("c").alias("cb"), F.col("s").alias("s2"))
    wedge = (
        a.join(b, (F.col("c") == F.col("cb")) & (F.col("s1") < F.col("s2")))
        .join(F.broadcast(cdeg), "c")
        .groupBy("s1", "s2")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.sum(F.expr("1000000 div dc")).alias("ra_ppm"),
        )
    )
    return wedge.orderBy(
        F.col("ra_ppm").desc(), F.col("s1").asc(), F.col("s2").asc()
    ).limit(20)


_MODULARITY_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS c,
                  's:' || CAST(l_suppkey AS VARCHAR) AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE (o_custkey + l_suppkey) % 7 = 0
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges),
l1 AS (
  SELECT e.dst AS node, LEAST(MIN(l.label), MIN(e.dst)) AS label
  FROM edges e JOIN l0 l ON l.node = e.src GROUP BY e.dst
),
l2 AS (
  SELECT e.dst AS node, LEAST(MIN(l.label), MIN(e.dst)) AS label
  FROM edges e JOIN l1 l ON l.node = e.src GROUP BY e.dst
),
l3 AS (
  SELECT e.dst AS node, LEAST(MIN(l.label), MIN(e.dst)) AS label
  FROM edges e JOIN l2 l ON l.node = e.src GROUP BY e.dst
),
mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pairs),
deg AS (SELECT src AS node, COUNT(*) AS d FROM edges GROUP BY src),
tot AS (
  SELECT l.label AS community,
         CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(SUM(deg.d) AS BIGINT) AS tot_degree
  FROM l3 l JOIN deg ON deg.node = l.node
  GROUP BY l.label
),
inc AS (
  SELECT lc.label AS community, CAST(COUNT(*) AS BIGINT) AS in_edges
  FROM pairs p
  JOIN l3 lc ON lc.node = p.c
  JOIN l3 ls ON ls.node = p.s
  WHERE lc.label = ls.label
  GROUP BY lc.label
)
SELECT tot.community, tot.n_members,
       COALESCE(inc.in_edges, 0) AS in_edges,
       tot.tot_degree,
       4 * mm.m * COALESCE(inc.in_edges, 0)
         - tot.tot_degree * tot.tot_degree AS q_num,
       4 * mm.m * mm.m AS q_den
FROM tot LEFT JOIN inc ON tot.community = inc.community
CROSS JOIN mm
ORDER BY tot.community
"""


@register("graph_modularity", _MODULARITY_ORACLE)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the 3-round LPA partition — the quality
    score community detection is judged by: Q = Σ_c (in_c/m −
    (tot_c/2m)²), rewritten as the EXACT RATIONAL per-community
    numerator 4m·in_c − tot_c² over the shared denominator 4m², so
    zero division ever happens and both engines sum integers
    (magnitudes: m ≈ |pairs|, tot_c ≤ 2m → q terms ≤ 4m², ~2.6e10 at
    sf0.1, five orders under 2^63). Plan: the label rounds are the
    graph_label_propagation joins verbatim; then in_c is ONE
    pairs⋈labels⋈labels double hash join (each endpoint keyed by node
    — co-partitioned with the label table), tot_c one degree join +
    groupBy, and m a 1-row broadcast. Downstream Σ q_num/q_den is the
    global Q. At 100 TB everything is key-partitioned joins on node —
    the same co-location the LPA rounds already established.
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter((F.col("o_custkey") + F.col("l_suppkey")) % 7 == 0)
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias(
                "c"
            ),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias(
                "s"
            ),
        )
        .distinct()
        .localCheckpoint()
    )
    edges = (
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
        .unionAll(
            pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
        )
        .localCheckpoint()
    )
    lab = edges.select(F.col("src").alias("node"), F.col("src").alias("label")).distinct()
    # r14 (guide §3.1): same fix as graph_label_propagation — the label
    # table is NODE-sized but derives from aggregations, so ballooned
    # estimates degraded every loop/consumer join to a SortMergeJoin
    # reshuffling the checkpointed edge/pair lists (13 SMJ, 32
    # Exchanges planned); broadcasts pin the key-partitioned shape the
    # docstring argues. (Long node keys are NOT applicable here:
    # min-label propagation orders LABELS as strings, so the encoding
    # would change which label wins.)
    for _ in range(3):
        lab = (
            edges.join(F.broadcast(lab), edges.src == lab.node)
            .groupBy(edges.dst)
            .agg(
                F.least(F.min("label"), F.min(edges.dst)).alias("label")
            )
            .select(F.col("dst").alias("node"), "label")
        )
    m = pairs.agg(F.count(F.lit(1)).alias("m"))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    tot = (
        lab.join(F.broadcast(deg), lab.node == deg.src)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("d").alias("tot_degree"),
        )
        .withColumnRenamed("label", "community")
    )
    lc = lab.select(F.col("node").alias("cnode"), F.col("label").alias("clabel"))
    ls = lab.select(F.col("node").alias("snode"), F.col("label").alias("slabel"))
    inc = (
        pairs.join(F.broadcast(lc), pairs.c == lc.cnode)
        .join(F.broadcast(ls), pairs.s == ls.snode)
        .filter(F.col("clabel") == F.col("slabel"))
        .groupBy(F.col("clabel").alias("community"))
        .agg(F.count(F.lit(1)).alias("in_edges"))
    )
    return (
        tot.join(F.broadcast(inc), "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            "n_members",
            F.coalesce("in_edges", F.lit(0)).alias("in_edges"),
            "tot_degree",
            (
                4 * F.col("m") * F.coalesce("in_edges", F.lit(0))
                - F.col("tot_degree") * F.col("tot_degree")
            ).alias("q_num"),
            (4 * F.col("m") * F.col("m")).alias("q_den"),
        )
        .orderBy("community")
    )


_ASSORT_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT 'c:' || CAST(o_custkey AS VARCHAR) AS c,
                  's:' || CAST(l_suppkey AS VARCHAR) AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM pairs
  UNION ALL
  SELECT s AS src, c AS dst FROM pairs
),
deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM edges GROUP BY src),
ed AS (
  SELECT ds.d AS x, dd.d AS y
  FROM edges e
  JOIN deg ds ON ds.node = e.src
  JOIN deg dd ON dd.node = e.dst
),
m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
         CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
  FROM ed
)
SELECT CAST(n AS BIGINT) AS n_directed_edges,
       CAST(n * sxy - sx * sy AS BIGINT) AS assort_num,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
            THEN CAST(CASE WHEN n * sxy - sx * sy < 0 THEN -1
                           WHEN n * sxy - sx * sy > 0 THEN 1 ELSE 0 END
                 * (((abs(n * sxy - sx * sy) * 1000000)
                     // (n * sxx - sx * sx))
                    * abs(n * sxy - sx * sy)
                    // (n * syy - sy * sy))
                 AS BIGINT)
       END AS assort_r2_signed_micros
FROM m
"""


@register("graph_assortativity", _ASSORT_ORACLE)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) — do hubs attach to hubs?
    Positive in social graphs, NEGATIVE in bipartite commerce graphs
    like this one (many small customers hang off few big suppliers) —
    the one-number structural fingerprint used to sanity-check graph
    ETL output. It is exactly the Pearson correlation of (deg(src),
    deg(dst)) over the DIRECTED edge list (each undirected edge twice,
    once per orientation — the doubling makes r symmetric), so the
    win_rolling_corr signed-r² exact-rational machinery applies
    verbatim — with one headroom twist: num²·1e6 needs ~41 digits at
    sf0.1, past DECIMAL(38), so the r² quantization is TWO-STAGE
    ((|num|·1e6 // dxx)·|num| // dyy — peak ~1e27, mirrored exactly in
    the oracle; differs from the one-shot floor by ≤1 micro and both
    engines compute the identical staging). Plan: degree table once (one groupBy),
    TWO key-partitioned joins pin degrees onto edge endpoints, one
    global six-moment fold with map-side combine. All linear at 100 TB.
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias(
                "c"
            ),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias(
                "s"
            ),
        )
        .distinct()
    )
    edges = pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst")
    ).unionAll(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ds = deg.select(F.col("src").alias("sn"), F.col("d").alias("x"))
    dd = deg.select(F.col("src").alias("dn"), F.col("d").alias("y"))
    ed = (
        edges.join(ds, edges.src == ds.sn)
        .join(dd, edges.dst == dd.dn)
        .select("x", "y")
    )
    dec = "decimal(38,0)"
    m = ed.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dxx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dyy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    a1 = F.abs(num) * F.lit(1_000_000).cast(dec)
    step1 = (a1 - F.pmod(a1, dxx)) / dxx
    a2 = step1 * F.abs(num)
    r2 = (
        F.signum(num).cast("long")
        * ((a2 - F.pmod(a2, dyy)) / dyy).cast("long")
    )
    return m.select(
        F.col("n").cast("long").alias("n_directed_edges"),
        num.cast("long").alias("assort_num"),
        F.when((dxx > 0) & (dyy > 0), r2).alias(
            "assort_r2_signed_micros"
        ),
    )


_ADAMIC_ADAR_ORACLE = f"""
WITH pairs AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
capped AS (
  SELECT c, s FROM (
    SELECT c, s, ROW_NUMBER() OVER (PARTITION BY c ORDER BY s) AS rn
    FROM pairs
  ) WHERE rn <= 8
),
cdeg AS (
  -- degree guard BEFORE the weight expression (mirrors the Spark
  -- weights filter): ln(1) = 0 must never reach the division — on
  -- IEEE-float engines 1/0.0 is inf and CAST(inf AS BIGINT) raises
  SELECT c, d,
         {sql_micros("ROUND(1.0 / ln(CAST(d AS DOUBLE)), 9)")} AS w_micros
  FROM (SELECT c, CAST(COUNT(*) AS BIGINT) AS d FROM capped GROUP BY c)
  WHERE d >= 2
),
inter AS (
  SELECT a.s AS s1, b.s AS s2,
         CAST(COUNT(*) AS BIGINT) AS shared,
         CAST(SUM(w.w_micros) AS BIGINT) AS aa_micros
  FROM capped a
  JOIN capped b ON a.c = b.c AND a.s < b.s
  JOIN cdeg w ON w.c = a.c
  GROUP BY a.s, b.s
)
SELECT s1, s2, shared, aa_micros
FROM inter
ORDER BY aa_micros DESC, s1, s2
LIMIT 20
"""


@register("graph_adamic_adar", _ADAMIC_ADAR_ORACLE)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction (Adamic & Adar 2003) over the
    bipartite purchase graph — the common-neighbors upgrade that
    DISCOUNTS promiscuous neighbors: a supplier pair's score is
    Sigma over shared customers of 1/ln(deg(customer)), so a customer
    who buys from everyone contributes little while an exclusive one
    is strong evidence (the friends-recommendation / co-purchase
    ranking primitive; graph_common_neighbors is the unweighted
    Jaccard sibling, graph_resource_allocation the 1/deg variant).
    Same wedge-join scale discipline: the adjacency is degree-capped
    to each customer's 8 lowest-keyed suppliers FIRST (bounding wedges
    to 28/customer regardless of corpus), and degree-1 customers are
    excluded (ln 1 = 0 would blow up the weight; a common neighbor
    always has degree >= 2 in the uncapped graph, so the filter only
    tracks the cap artifact). Determinism: the weight is the zipf-op
    log discipline — 9-dp-round(1/ln d) then micros — summed as exact
    BIGINTs; top-20 via TakeOrderedAndProject. Plan: distinct fold,
    one rank window on customer, one broadcast weight join onto the
    wedge self-equi-join, one count/sum fold.
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    capped = (
        pairs.select(
            "c",
            "s",
            F.row_number().over(W.partitionBy("c").orderBy("s")).alias("rn"),
        )
        .filter(F.col("rn") <= 8)
        .drop("rn")
    )
    cdeg = capped.groupBy("c").agg(F.count(F.lit(1)).alias("d"))
    weights = cdeg.filter(F.col("d") >= 2).select(
        F.col("c").alias("wc"),
        micros(F.round(F.lit(1.0) / F.log(F.col("d").cast("double")), 9))
        .alias("w_micros"),
    )
    a = capped.alias("a")
    b = capped.alias("b")
    return (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c")) & (F.col("a.s") < F.col("b.s")),
        )
        .join(F.broadcast(weights), F.col("a.c") == F.col("wc"))
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.sum("w_micros").alias("aa_micros"),
        )
        .orderBy(F.col("aa_micros").desc(), "s1", "s2")
        .limit(20)
    )


_HITS_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
a1 AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS auth1 FROM pairs GROUP BY s
),
h1 AS (
  -- iterate widened to HUGEINT explicitly (mirror of the Spark
  -- DECIMAL(38,0) widening): auth2 <= E * max_deg^2 clears int64 on
  -- billion-edge graphs, and SUM over a BIGINT-capped stage would
  -- re-narrow per stage instead of carrying the wide iterate
  SELECT p.c, SUM(CAST(a.auth1 AS HUGEINT)) AS hub1
  FROM pairs p JOIN a1 a ON a.s = p.s
  GROUP BY p.c
),
a2 AS (
  SELECT p.s, SUM(h.hub1) AS auth2
  FROM pairs p JOIN h1 h ON h.c = p.c
  GROUP BY p.s
)
SELECT a2.s AS supplier, a1.auth1, CAST(a2.auth2 AS BIGINT) AS auth2
FROM a2 JOIN a1 ON a1.s = a2.s
ORDER BY a2.auth2 DESC, supplier
LIMIT 20
"""


@register("graph_hits", _HITS_ORACLE)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999), two exact power
    iterations over the bipartite purchase graph: customers are hubs,
    suppliers authorities. With h0 = 1, the first authority pass is
    the in-degree (auth1), the hub pass sums each customer's authority
    mass, and the second authority pass re-concentrates it — suppliers
    whose BUYERS shop broadly at strong suppliers outrank raw degree
    (the difference between auth1 and auth2 order is exactly what HITS
    adds over degree centrality). Everything stays UNNORMALIZED exact
    BIGINT — two iterations bound the iterate by E·max_deg², no float
    division anywhere, so both engines agree bit-for-bit (the usual
    L2 normalization is a presentation constant that cannot change the
    ranking). Plan: one distinct fold then three key-partitioned
    join+fold rounds on (c) or (s) — the PageRank iteration shape
    without the damping constant; top-20 via TakeOrderedAndProject.
    Linear in edges at 100 TB; more iterations = same two shuffles
    per round.
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # iterate sums widened to DECIMAL(38,0) Spark-side AND to HUGEINT
    # in the oracle's h1/a2 CTEs (per-stage BIGINT re-narrowing would
    # overflow loudly instead of widening): auth2 <= E * max_deg^2
    # clears int64 on billion-edge graphs while the fixture values are
    # identical — the agg_cuped_adjustment defect class, fixed ahead
    dec = "decimal(38,0)"
    # r14 (guide §3.1): a1/h1 are NODE-sized iterates derived from
    # aggregations (ballooned estimates → SortMergeJoins reshuffling
    # the edge-sized `pairs` per round); broadcasts pin the
    # key-partitioned join+fold shape the docstring argues.
    a1 = pairs.groupBy("s").agg(F.count(F.lit(1)).alias("auth1"))
    h1 = (
        pairs.join(F.broadcast(a1), "s")
        .groupBy("c")
        .agg(F.sum(F.col("auth1").cast(dec)).alias("hub1"))
    )
    a2 = (
        pairs.join(F.broadcast(h1), "c")
        .groupBy("s")
        .agg(F.sum("hub1").alias("auth2"))
    )
    return (
        a2.join(F.broadcast(a1), "s")
        .select(
            F.col("s").alias("supplier"),
            "auth1",
            F.col("auth2").cast("long").alias("auth2"),
        )
        .orderBy(F.col("auth2").desc(), "supplier")
        .limit(20)
    )


_PPR_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
degc AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS dc FROM pairs GROUP BY c),
degs AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS ds FROM pairs GROUP BY s),
seeds AS (
  SELECT c_custkey AS c, CAST(1000000 AS BIGINT) AS m0
  FROM customer WHERE c_nationkey = 0
),
r1 AS (
  SELECT p.s, CAST(SUM(sd.m0 // d.dc) AS BIGINT) AS m1
  FROM pairs p JOIN seeds sd ON sd.c = p.c JOIN degc d ON d.c = p.c
  GROUP BY p.s
),
r2 AS (
  SELECT p.c, CAST(SUM(r1.m1 // d.ds) AS BIGINT) AS m2
  FROM pairs p JOIN r1 ON r1.s = p.s JOIN degs d ON d.s = p.s
  GROUP BY p.c
),
r3 AS (
  SELECT p.s, CAST(SUM(r2.m2 // d.dc) AS BIGINT) AS m3
  FROM pairs p JOIN r2 ON r2.c = p.c JOIN degc d ON d.c = p.c
  GROUP BY p.s
)
SELECT COALESCE(r1.s, r3.s) AS supplier,
       COALESCE(r1.m1, 0) AS ppr1_micros,
       COALESCE(r3.m3, 0) AS ppr3_micros,
       4 * COALESCE(r1.m1, 0) + COALESCE(r3.m3, 0) AS ppr_score
FROM r1 FULL JOIN r3 ON r3.s = r1.s
ORDER BY ppr_score DESC, supplier
LIMIT 20
"""


@register("graph_personalized_pagerank", _PPR_ORACLE)
def graph_personalized_pagerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Personalized PageRank over the bipartite purchase graph — the
    SEEDED variant of graph_pagerank (the recommendation/trust
    primitive: relevance FROM a query set, not global centrality):
    unit mass starts on nation-0 customers and pushes through
    degree-normalized edges; a supplier's score blends its 1-hop and
    3-hop seed mass 4:1 (damping 1/2 per hop, so beta^1 : beta^3).
    Determinism is the push-phase floor discipline (Andersen et al.
    2006's push approximation made exact): every edge carries
    mass // degree in integer micros — no float division anywhere, and
    total mass only shrinks, so BIGINT holds at any graph size.
    Suppliers the seed set cannot reach in 3 hops are absent (their
    restart-free PPR is 0); FULL-join reconciliation keeps 1-hop-only
    and 3-hop-only suppliers both scored. Plan: one distinct fold, two
    degree folds, then three key-partitioned join+fold rounds — the
    graph_hits shape with a seed filter; top-20 via
    TakeOrderedAndProject. Linear in edges at 100 TB; more hops = two
    more shuffles per hop, the plan never grows per-node state.
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    degc = pairs.groupBy("c").agg(F.count(F.lit(1)).alias("dc"))
    degs = pairs.groupBy("s").agg(F.count(F.lit(1)).alias("ds"))
    seeds = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") == 0)
        .select(F.col("c_custkey").alias("c"), F.lit(1_000_000).alias("m0"))
    )
    # r14 (guide §3.1): seeds/degrees/iterates are all NODE-sized but
    # derive from filters/aggs (ballooned estimates → SortMergeJoins
    # reshuffling the edge-sized `pairs` three times); broadcasts pin
    # the key-partitioned join+fold shape the docstring argues.
    r1 = (
        pairs.join(F.broadcast(seeds), "c")
        .join(F.broadcast(degc), "c")
        .groupBy("s")
        .agg(F.sum(F.expr("m0 div dc")).alias("m1"))
    )
    r2 = (
        pairs.join(F.broadcast(r1), "s")
        .join(F.broadcast(degs), "s")
        .groupBy("c")
        .agg(F.sum(F.expr("m1 div ds")).alias("m2"))
    )
    r3 = (
        pairs.join(F.broadcast(r2), "c")
        .join(F.broadcast(degc), "c")
        .groupBy("s")
        .agg(F.sum(F.expr("m2 div dc")).alias("m3"))
    )
    j = r1.join(r3, "s", "full")
    p1 = F.coalesce(F.col("m1"), F.lit(0))
    p3 = F.coalesce(F.col("m3"), F.lit(0))
    return (
        j.select(
            F.col("s").alias("supplier"),
            p1.alias("ppr1_micros"),
            p3.alias("ppr3_micros"),
            (4 * p1 + p3).alias("ppr_score"),
        )
        .orderBy(F.col("ppr_score").desc(), "supplier")
        .limit(20)
    )


_JACCARD_ORACLE = """
WITH pairs AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
capped AS (
  SELECT c, s FROM (
    SELECT c, s, ROW_NUMBER() OVER (PARTITION BY c ORDER BY s) AS rn
    FROM pairs
  ) WHERE rn <= 8
),
sdeg AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM capped GROUP BY s
),
inter AS (
  SELECT a.s AS s1, b.s AS s2, CAST(COUNT(*) AS BIGINT) AS shared
  FROM capped a JOIN capped b ON a.c = b.c AND a.s < b.s
  GROUP BY a.s, b.s
)
SELECT i.s1, i.s2, i.shared, d1.d AS deg1, d2.d AS deg2,
       CAST(i.shared * 1000000 // (d1.d + d2.d - i.shared) AS BIGINT)
         AS jaccard_ppm
FROM inter i
JOIN sdeg d1 ON d1.s = i.s1
JOIN sdeg d2 ON d2.s = i.s2
ORDER BY jaccard_ppm DESC, i.s1, i.s2
LIMIT 20
"""


@register("graph_jaccard_similarity", _JACCARD_ORACLE)
def graph_jaccard_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood Jaccard link prediction over the bipartite purchase
    graph — |N(a) ∩ N(b)| / |N(a) ∪ N(b)| per supplier pair, the
    normalized completion of the link-prediction battery
    (graph_common_neighbors = raw intersection, graph_adamic_adar =
    1/ln-deg weighting, graph_resource_allocation = 1/deg): Jaccard
    rewards pairs whose customer bases overlap RELATIVE to their size,
    so two boutique suppliers sharing 3 of 4 customers outrank two
    giants sharing 5 of 200. The union size is inclusion-exclusion
    (deg1 + deg2 - shared) over the SAME degree-capped adjacency the
    wedge join counts on (cap = 8 lowest-keyed suppliers per customer,
    bounding wedges to 28/customer regardless of corpus — the
    adamic-adar scale discipline), so the ratio is internally
    consistent; jaccard_ppm floors exactly in both engines (positive
    operands). Plan: distinct fold, one rank window on customer, the
    capped wedge self-join, one count fold, two vocabulary-sized
    degree joins; top-20 via TakeOrderedAndProject. Linear at 100 TB.
    """
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    capped = (
        pairs.select(
            "c",
            "s",
            F.row_number().over(W.partitionBy("c").orderBy("s")).alias("rn"),
        )
        .filter(F.col("rn") <= 8)
        .drop("rn")
    )
    sdeg = capped.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    a = capped.alias("a")
    b = capped.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c")) & (F.col("a.s") < F.col("b.s")),
        )
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    d1 = sdeg.select(F.col("s").alias("s1"), F.col("d").alias("deg1"))
    d2 = sdeg.select(F.col("s").alias("s2"), F.col("d").alias("deg2"))
    return (
        inter.join(F.broadcast(d1), "s1")
        .join(F.broadcast(d2), "s2")
        .select(
            "s1",
            "s2",
            "shared",
            "deg1",
            "deg2",
            F.expr(
                "shared * 1000000 div (deg1 + deg2 - shared)"
            ).alias("jaccard_ppm"),
        )
        .orderBy(F.col("jaccard_ppm").desc(), "s1", "s2")
        .limit(20)
    )
