"""Iterative graph analytics on DataFrames (SURVEY.md §2 beyond —
the message-passing family; the transitive-closure sibling lives in
llm/dedup.py::llm_dedup_cc).

PageRank over the bipartite part<->supplier graph derived from
lineitem (who supplies what — the partsupp projection). The
implementation is the Pregel-on-DataFrame pattern: a Python loop
building one join + one aggregate per superstep, with an eager
localCheckpoint per iteration so the lineage (and the physical plan)
stays O(1) in the iteration count instead of O(2^iters).

Exactness discipline: ranks are INTEGERS at scale 1e12. Float PageRank
is order-sensitive (the per-node SUM of contributions adds doubles in
shuffle order — engines disagree in the last ulp), but integer
contributions ``rank div out_deg`` and the damped update
``teleport + (85 * sum) div 100`` are exact and associative, so Spark
and DuckDB produce bit-identical BIGINT ranks regardless of
aggregation order. The per-edge floor loses < out_deg units of mass
per node per step — deterministic, and irrelevant at scale 1e12.

At 100 TB: edges are the deduplicated (part, supplier) pairs — the
distinct is the big collapse, one shuffle of lineitem's two key
columns. Each superstep is a shuffle join of ranks (O(nodes)) against
edges (O(edges)) plus a mergeable sum — the same cost model as every
distributed PageRank; co-partitioning ranks and edges on the join key
(bucketing, see join_bucketed) removes the per-step rank shuffle on a
real cluster. Convergence detection (rank delta < eps) would add a
per-step action; the fixed-step form matches the oracle exactly.

Reference scope note: the reference engine (task.ts) has no iterative
operators at all; this family is part of the beyond-reference
training-data surface, like llm_dedup_cc (its docstring cites the
same gap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..checkpoints import checkpoint_replacing, release
from ..registry import spec

PR_SCALE = 1_000_000_000_000  # integer rank scale (1e12)
PR_ITERS = 3
PR_DAMP_PCT = 85  # damping factor d = 0.85, as an integer percentage


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct bipartite edges, both directions. Node encoding packs
    the two key spaces into one BIGINT: part p -> 2p, supplier s ->
    2s+1 (disjoint, reversible via div/mod).

    The distinct runs on the (p, s) PAIRS before the direction fan-out
    (r15): parts are even, suppliers odd, so the fwd (even->odd) and
    rev (odd->even) direction sets are disjoint by construction and
    their union needs no second dedup — half the distinct's shuffle
    wire vs distinct-after-union (measured 0.88 vs 1.00 s at sf0.1).
    """
    li = table(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") * 2).alias("p"),
        (F.col("l_suppkey") * 2 + 1).alias("s"),
    ).distinct()
    fwd = li.select(F.col("p").alias("src"), F.col("s").alias("dst"))
    rev = li.select(F.col("s").alias("src"), F.col("p").alias("dst"))
    return fwd.unionByName(rev)


def _by_dst(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """``edges`` hash-partitioned on ``dst`` into the session's
    ``spark.sql.shuffle.partitions`` — one task wave per superstep over
    the persisted cache (a count far above the slot count runs mostly
    empty tasks). The count stays explicit: AQE never coalesces
    a by-number repartition, so the cache keeps hashpartitioning(dst)
    and the supersteps' groupBy(dst) stays exchange-free."""
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return edges.repartition(parts, "dst")


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Build the graph ONCE, shaped for iteration (measured 43s -> ~15s
    # at synthesized sf1, 11.8M directed edges):
    # * degrees folded into the edge list up front — one join total
    #   instead of one per superstep;
    # * materialized ONCE via persist() — without it every superstep's
    #   plan re-runs the 2x-lineitem scan + distinct (the dominant
    #   cost). persist, not localCheckpoint: InMemoryRelation PRESERVES
    #   the dst outputPartitioning (localCheckpoint's Scan ExistingRDD
    #   drops it — measured round 10, correcting this comment's prior
    #   claim), so each superstep's groupBy(dst) aggregate needs NO
    #   exchange at all;
    # * partitioned into the session's shuffle-partition count
    #   (_by_dst), so each superstep is one task wave.
    # Per superstep the rank vector is vocabulary-sized (nodes, 16 B
    # each), so it broadcasts; the only repeated work is one pass over
    # the cached edge partitions + a map-side-combined, exchange-free
    # aggregate. The cache is dropped before returning (the final rank
    # vector is checkpointed) so repeated invocations re-pay the graph
    # build. If ranks ever outgrew broadcast, drop the hint and
    # partition the graph by src instead (shuffle join on src, one
    # exchange per superstep for the agg) — the classic trade.
    edges = _edges(spark, sf_dir)
    # every node appears as a src (each edge has its reverse), so the
    # src side enumerates the node set and there are no dangling nodes
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    graph = _by_dst(spark, edges.join(deg, "src")).persist()
    try:
        n_nodes = deg.count()  # driver-side SCALAR (a count, never data)
        init_rank = PR_SCALE // n_nodes
        teleport = (100 - PR_DAMP_PCT) * init_rank // 100

        ranks = deg.select(
            F.col("src").alias("node"), F.lit(init_rank).alias("rank")
        ).localCheckpoint(eager=True)
        for _ in range(PR_ITERS):
            contribs = graph.join(
                F.broadcast(ranks), graph["src"] == ranks["node"]
            ).select(
                F.col("dst"),
                F.expr("rank div out_deg").alias("contrib"),
            )
            # each round's checkpoint releases the one it supersedes
            # (checkpoints.py contract); the final one belongs to the
            # returned DataFrame
            ranks = checkpoint_replacing(
                contribs.groupBy(F.col("dst").alias("node")).agg(
                    (
                        F.lit(teleport)
                        + F.expr(f"{PR_DAMP_PCT} * sum(contrib) div 100")
                    ).alias("rank")
                ),
                replacing=ranks,
            )
    finally:
        graph.unpersist()
    return ranks.select(
        F.when(F.col("node") % 2 == 0, F.lit("part"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node div 2").alias("node_key"),
        F.col("rank").alias("rank_s12"),
    )


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration twin of graph_pagerank. The teleport
    and damping arithmetic mirrors the Spark expressions token for
    token (integer //), so ranks match exactly."""
    S, d, n_it = PR_SCALE, PR_DAMP_PCT, PR_ITERS
    sql = f"""
WITH edges AS MATERIALIZED (
  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM lineitem
  UNION
  SELECT DISTINCT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst
  FROM lineitem
),
deg AS MATERIALIZED (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src),
n AS MATERIALIZED (SELECT COUNT(*) AS n_nodes FROM deg),
r0 AS MATERIALIZED (
  SELECT d.src AS node, ({S} // n.n_nodes) AS rank FROM deg d, n
)"""
    for i in range(n_it):
        sql += f""",
r{i + 1} AS MATERIALIZED (
  SELECT
    e.dst AS node,
    (100 - {d}) * ({S} // n.n_nodes) // 100
      + {d} * CAST(SUM(r.rank // g.out_deg) AS BIGINT) // 100 AS rank
  FROM edges e
  JOIN r{i} r ON r.node = e.src
  JOIN deg g ON g.src = e.src, n
  GROUP BY e.dst, n.n_nodes
)"""
    sql += f"""
SELECT
  CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
  node // 2 AS node_key,
  CAST(rank AS BIGINT) AS rank_s12
FROM r{n_it}
"""
    return sql


ORACLE_GRAPH_PAGERANK = _pagerank_oracle()


#: minimum co-occurring orders for a part-part edge. 1 keeps the raw
#: co-occurrence graph (115k edges / 413k triangles at sf0.01 — joins
#: fine, but the structure is noise); 2 keeps only repeated pairings
#: (3.4k edges, 61 triangles at sf0.01; 2.3k / 3.3k at sf0.001), which
#: is the association-rule shape this analysis exists for.
TRI_MIN_COOCCUR = 2


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts on the part co-occurrence graph — the
    clustering-structure primitive (community detection seeds, graph
    feature for recommenders).

    Graph: parts are nodes; an undirected edge connects two parts that
    appear in >= TRI_MIN_COOCCUR distinct orders together. Edges are
    stored ONCE in canonical (u < v) orientation, which is also the
    triangle-join trick: each triangle a<b<c is produced exactly once
    by e(a,b) |><| e(b,c) |><| e(a,c), no 6x overcount, no cycle-check
    filter. The per-node count then explodes each triangle to its 3
    corners and hash-aggregates.

    At 100 TB: the expensive step is the wedge self-join, and the
    canonical orientation is the standard mitigation (each wedge built
    only at its middle-lowest node — for skewed degree distributions
    the refinement is degree-ordering rather than key-ordering, one
    extra join against a degree table, same plan shape). Everything
    shuffles on part keys; no broadcast is assumed anywhere, so the
    plan survives an edge set that outgrows memory. Reference scope:
    like PageRank above, iterative/graph analytics are
    beyond-reference surface (task.ts has no graph operators).
    """
    li = table(spark, sf_dir, "lineitem")
    pp = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a, b = pp.alias("a"), pp.alias("b")
    edges = (
        a.join(b, (F.col("a.o") == F.col("b.o"))
               & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .agg(F.count(F.lit(1)).alias("k"))
        .filter(F.col("k") >= TRI_MIN_COOCCUR)
        .select("u", "v")
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(e3, (F.col("e3.u") == F.col("e1.u"))
              & (F.col("e3.v") == F.col("e2.v")))
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return corners.groupBy(F.col("node").alias("p_partkey")).agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


ORACLE_GRAPH_TRIANGLE_COUNT = f"""
WITH pp AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
edges AS MATERIALIZED (
  SELECT a.p AS u, b.p AS v
  FROM pp a JOIN pp b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2
  HAVING COUNT(*) >= {TRI_MIN_COOCCUR}
),
tri AS MATERIALIZED (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e2.u = e1.v
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
),
corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT node AS p_partkey, COUNT(*) AS n_triangles
FROM corners
GROUP BY node
"""


def graph_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the bipartite part<->supplier graph —
    the first diagnostic anyone runs on a graph (skew detection: a
    heavy-tail histogram is the signal to switch joins to the salted /
    degree-ordered variants this repo already ships).

    Two mergeable hash aggregates back to back (degree per node, then
    nodes per (type, degree)); output is histogram-sized. At 100 TB
    both stages are map-side combined and the second one's cardinality
    is bounded by max-degree x 2, independent of edge count.
    """
    edges = _edges(spark, sf_dir)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    return (
        deg.groupBy(
            F.when(F.col("src") % 2 == 0, F.lit("part"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            "deg",
        )
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


ORACLE_GRAPH_DEGREE_HIST = """
WITH edges AS (
  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM lineitem
  UNION
  SELECT DISTINCT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst
  FROM lineitem
),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)
SELECT
  CASE WHEN src % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
  deg,
  COUNT(*) AS n_nodes
FROM deg
GROUP BY 1, 2
"""


#: packed (count DESC, label ASC) comparison key for the LPA vote:
#: cnt * 2^33 - lbl is a single BIGINT max (node ids < 2^25 even at
#: the sf1 replica key spans; counts < n_nodes < 2^25 -> pack < 2^58).
LPA_PACK = 1 << 33
LPA_ITERS = 3


def _lpa_superstep(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous LPA round: broadcast the label vector into the
    dst-partitioned edge cache, count votes per (dst, lbl), pick the
    packed-BIGINT argmax. Zero live Exchanges when ``edges`` is
    persisted with hashpartitioning(dst) (see
    graph_label_propagation's docstring; plan pinned in tests)."""
    votes = (
        edges.join(F.broadcast(labels), edges["src"] == labels["node"])
        .groupBy(edges["dst"], F.col("lbl"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return votes.groupBy(F.col("dst").alias("node")).agg(
        F.max_by(
            "lbl", F.col("cnt") * F.lit(LPA_PACK) - F.col("lbl")
        ).alias("lbl")
    )


def _lpa_first_round(edges: DataFrame) -> DataFrame:
    """Round 1 of LPA from identity labels, in closed form: each node
    takes its smallest neighbour id. Every node starts labelled with
    its own id and ``_edges`` is distinct, so every (dst, src) vote
    counts exactly 1 and the packed argmax reduces to ``min(src)``
    (pinned against ``_lpa_superstep`` in tests). Exchange-free over
    the dst-partitioned cache, like a superstep, but with no label
    vector to build or broadcast."""
    return edges.groupBy(F.col("dst").alias("node")).agg(
        F.min("src").alias("lbl")
    )


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (community detection) made
    hash-checkable: every node starts as its own label; each round it
    adopts the most frequent label among its neighbors, ties broken by
    the SMALLEST label — a deterministic total order, so Spark and the
    unrolled DuckDB CTE agree bit-for-bit after any fixed number of
    rounds (the same exactness discipline as graph_pagerank's integer
    ranks; classic mode-based LPA is tie-nondeterministic, which is
    why naive ports can't be oracle-checked).

    Per round: the vote pick is ``max_by`` over a packed BIGINT
    (count DESC, label ASC as one scalar — keeps the aggregate a
    HashAggregate; a struct ordering key would fall back to
    SortAggregate). ``localCheckpoint`` per round keeps plan depth
    O(1) in rounds.

    Exchange-free supersteps (round 10 — the r9 form re-shuffled
    edge-sized vote rows twice per round and cost 20.2 s at sf1):
    edges are pre-partitioned by ``dst`` once and ``persist()``ed —
    InMemoryRelation PRESERVES outputPartitioning, which
    ``localCheckpoint``'s Scan ExistingRDD does NOT (measured round
    10; the prior docstring claim was wrong). The node-sized label
    vector is broadcast into the join (no edge movement), and both
    per-round aggregates cluster on ``dst`` — hashpartitioning(dst)
    satisfies ClusteredDistribution for groupBy(dst, lbl) AND
    groupBy(dst), so neither adds an Exchange (pinned by
    tests/test_relational.py::test_lpa_superstep_is_exchange_free).
    Per round the only data motion is the label broadcast. The label
    vector itself keeps per-round localCheckpoint (plan depth O(1) in
    rounds); the edge cache is dropped before returning so repeated
    invocations re-pay the build (bench fairness). If labels outgrew
    broadcast, swap to a shuffle join on src with edges partitioned
    by src — one exchange per round, the classic trade.

    Round 1 runs in closed form (``_lpa_first_round``): one job that
    both materializes the edge cache and labels every node, with no
    identity-label vector. The remaining rounds are supersteps.
    """
    edges = _by_dst(spark, _edges(spark, sf_dir)).persist()
    try:
        labels = _lpa_first_round(edges).localCheckpoint(eager=True)
        for _ in range(LPA_ITERS - 1):
            # superseded round snapshots are released as we go
            # (checkpoints.py contract); the last is the result's own
            labels = checkpoint_replacing(
                _lpa_superstep(edges, labels), replacing=labels
            )
    finally:
        edges.unpersist()
    return labels.select(
        F.when(F.col("node") % 2 == 0, F.lit("part"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node div 2").alias("node_key"),
        F.col("lbl").alias("community"),
    )


def _lpa_oracle() -> str:
    """Unrolled fixed-round twin of graph_label_propagation; the vote
    pick mirrors the packed max_by token for token (ARG_MAX over
    cnt * LPA_PACK - lbl)."""
    sql = """
WITH edges AS (
  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM lineitem
  UNION
  SELECT DISTINCT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst
  FROM lineitem
),
l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges)"""
    for i in range(LPA_ITERS):
        sql += f""",
c{i + 1} AS (
  SELECT e.dst AS node, l.lbl, COUNT(*) AS cnt
  FROM edges e JOIN l{i} l ON l.node = e.src
  GROUP BY 1, 2
),
l{i + 1} AS (
  SELECT node, ARG_MAX(lbl, cnt * {LPA_PACK} - lbl) AS lbl
  FROM c{i + 1} GROUP BY node
)"""
    sql += f"""
SELECT
  CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
  node // 2 AS node_key,
  lbl AS community
FROM l{LPA_ITERS}
"""
    return sql


ORACLE_GRAPH_LABEL_PROPAGATION = _lpa_oracle()


#: BFS source: node 2 == part key 1 (present at every SF) in the packed
#: bipartite encoding (part p -> 2p, supplier s -> 2s+1)
BFS_SOURCE = 2
BFS_MAX_LEVEL = 4


def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first search levels from one source over the bipartite
    part<->supplier graph — the shortest-unweighted-path primitive
    (reachability tiers, blast-radius analysis, the recursive-CTE
    workload relational engines express with WITH RECURSIVE).

    Frontier iteration, not edge-power: each superstep joins only the
    CURRENT frontier (nodes first reached last step) against the edge
    list, dedups the successors, and anti-joins the visited set — so a
    node is assigned the MINIMAL level by construction and each edge is
    traversed at most twice overall. ``localCheckpoint`` per level keeps
    the plan O(1) in depth (the Pregel discipline shared with
    graph_pagerank / graph_label_propagation); the level cap matches
    the oracle's recursion bound.

    Join strategy (round 10; 3.3 s -> see SCALE.md §24): frontier and
    visited reach the planner as checkpointed LogicalRDDs with NO
    stats, so Catalyst conservatively sort-merge-joined them — every
    level re-shuffled the FULL edge list twice. Both are node-sized
    vectors here (the same budget the label/rank vectors broadcast
    under in LPA/PageRank), so they carry explicit broadcast hints:
    per level the cached edges stream map-side through a
    BroadcastHashJoin and a broadcast anti join, and the only shuffle
    is the distinct over the expanded frontier. The per-level visited
    checkpoint is also gone — visited is the source row plus a union
    of <= depth already-checkpointed frontiers, so its plan stays flat
    without one. At 100 TB with a frontier too big to broadcast
    (web-graph expansion peak), drop the hints and pre-partition edges
    by src — the classic shuffle-BFS trade, one exchange per level.

    The first two levels cost no join. The one-row source is built in
    the JVM (``spark.range``), so it runs no job; an uncheckpointed
    ``createDataFrame`` would be a Python RDD re-evaluated at every
    broadcast. Level 1 is the source's out-edges: edges are distinct
    and the graph is bipartite (the source cannot be its own
    neighbour), so the filter needs no distinct and no anti join.

    Where the time goes (r15, SCALE.md §30b): per-level job tax, not
    plan — the edge build (the 2x-lineitem scan + pair distinct) plus
    one eager checkpoint per level from 1 to BFS_MAX_LEVEL at the
    per-job floor. Both structural alternatives were built and
    measured SLOWER: a fully lazy bounded-depth single-job plan (5.1 s
    — frontier subtrees recompute exponentially without per-level
    materialization) and a two-levels-per-superstep fold (2.63 vs
    2.42 s — the fold halves jobs but doubles stages per job, so the
    wave count is unchanged). Every level keeps its checkpoint.
    """
    edges = _edges(spark, sf_dir).localCheckpoint(eager=True)
    source = spark.range(1).select(
        F.lit(BFS_SOURCE).cast("long").alias("node"), F.lit(0).alias("level")
    )
    frontier = (
        edges.filter(F.col("src") == BFS_SOURCE)
        .select(F.col("dst").alias("node"), F.lit(1).alias("level"))
        .localCheckpoint(eager=True)
    )
    visited = source.unionByName(frontier)
    for lvl in range(2, BFS_MAX_LEVEL + 1):
        nxt = (
            edges.join(
                F.broadcast(frontier), edges["src"] == frontier["node"]
            )
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(F.broadcast(visited), "node", "left_anti")
            .withColumn("level", F.lit(lvl))
            .localCheckpoint(eager=True)
        )
        visited = visited.unionByName(nxt)
        frontier = nxt
    # the result plan is a union of the (checkpointed) frontiers only —
    # the edge snapshot is not referenced by it, so free it now
    release(edges)
    return visited.select(
        F.when(F.col("node") % 2 == 0, F.lit("part"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node div 2").alias("node_key"),
        F.col("level").cast("int").alias("level"),
    )


ORACLE_GRAPH_BFS_LEVELS = f"""
WITH RECURSIVE edges AS (
  SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
  FROM lineitem
  UNION
  SELECT DISTINCT l_suppkey * 2 + 1 AS src, l_partkey * 2 AS dst
  FROM lineitem
),
bfs(node, level) AS (
  SELECT CAST({BFS_SOURCE} AS BIGINT) AS node, 0 AS level
  UNION
  SELECT e.dst AS node, b.level + 1 AS level
  FROM bfs b JOIN edges e ON e.src = b.node
  WHERE b.level < {BFS_MAX_LEVEL}
)
SELECT
  CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
  node // 2 AS node_key,
  CAST(MIN(level) AS INTEGER) AS level
FROM bfs
GROUP BY node
"""


def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node LOCAL clustering coefficient on the part co-occurrence
    graph: c(v) = 2*T(v) / (d(v)*(d(v)-1)) — how close each node's
    neighborhood is to a clique (the community-tightness feature next
    to raw triangle counts).

    Shares graph_triangle_count's canonical (u < v) edge set and
    triangle join verbatim; adds the degree table (edges counted in
    both orientations) and a LEFT join so triangle-free nodes report
    coefficient 0 rather than vanishing. The quotient is integer ppm
    (2*T*1e6 div d*(d-1)) — no float anywhere; nodes with d < 2 are
    excluded (the coefficient is undefined on them).

    At 100 TB: identical scaling argument to graph_triangle_count (the
    wedge join dominates; canonical orientation bounds it), plus one
    hash aggregate for degrees and one shuffle join on node keys.
    """
    li = table(spark, sf_dir, "lineitem")
    pp = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a, b = pp.alias("a"), pp.alias("b")
    edges = (
        a.join(b, (F.col("a.o") == F.col("b.o"))
               & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .agg(F.count(F.lit(1)).alias("k"))
        .filter(F.col("k") >= TRI_MIN_COOCCUR)
        .select("u", "v")
    )
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(e3, (F.col("e3.u") == F.col("e1.u"))
              & (F.col("e3.v") == F.col("e2.v")))
        .select(
            F.col("e1.u").alias("x"),
            F.col("e1.v").alias("y"),
            F.col("e2.v").alias("z"),
        )
    )
    corners = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    tcount = corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tcount, "node", "left")
        .select(
            F.col("node").alias("p_partkey"),
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.expr(
                "2 * coalesce(n_triangles, 0) * 1000000"
                " div (degree * (degree - 1))"
            ).alias("coeff_ppm"),
        )
    )


ORACLE_GRAPH_CLUSTERING_COEFF = f"""
WITH pp AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
edges AS MATERIALIZED (
  SELECT a.p AS u, b.p AS v
  FROM pp a JOIN pp b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2
  HAVING COUNT(*) >= {TRI_MIN_COOCCUR}
),
tri AS MATERIALIZED (
  SELECT e1.u AS x, e1.v AS y, e2.v AS z
  FROM edges e1
  JOIN edges e2 ON e2.u = e1.v
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
),
corners AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
),
tcount AS (
  SELECT node, COUNT(*) AS n_triangles FROM corners GROUP BY node
),
deg AS (
  SELECT node, COUNT(*) AS degree
  FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
  GROUP BY node
)
SELECT
  d.node AS p_partkey,
  d.degree,
  COALESCE(t.n_triangles, 0) AS n_triangles,
  2 * COALESCE(t.n_triangles, 0) * 1000000
    // (d.degree * (d.degree - 1)) AS coeff_ppm
FROM deg d LEFT JOIN tcount t USING (node)
WHERE d.degree >= 2
"""


#: k-core threshold and the fixed number of peel rounds. K = 2 (r13;
#: K = 3 emptied the core at sf0.1 AND sf1 — the graph_jaccard lesson:
#: a bench pair that verifies a 0-row answer measures work without
#: verifying it). Measured fixpoints with K = 2: sf0.001 200 nodes
#: (stable from peel 4), sf0.01 1535 (peel 4), sf0.1 3 (peel 5) — six
#: rounds make the last peel a verified no-op at every test SF, so the
#: output IS the true 2-core (asserted by tests/test_relational.py's
#: fixpoint check); the FIXED count is what lets the DuckDB oracle
#: unroll to the identical state. The two extra rounds run on the
#: already-peeled (tiny) edge set — each sits at the per-job floor
#: (~0.14 s measured, SCALE.md §28c).
KCORE_K = 2
KCORE_PEELS = 6


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (membership form) of the part co-occurrence
    graph: repeatedly peel nodes of degree < K; what survives is the
    K-core — the standard "dense backbone" extraction (community
    seeding, spam-graph pruning) that complements triangle counts.

    Shares graph_triangle_count's canonical co-occurrence edge set,
    symmetrized for degree counting. Each peel round is one mergeable
    degree aggregate plus two semi-joins of the edge list against the
    surviving-node set (both sides of an edge must survive);
    localCheckpoint truncates lineage per round, and the edge set only
    shrinks. The round count is FIXED (KCORE_PEELS) rather than
    convergence-detected so the unrolled DuckDB oracle reproduces the
    exact same state — on this graph the fixpoint arrives in 3 rounds
    and round 4 is a verified no-op, so the output IS the true K-core,
    not a truncation.

    At 100 TB: the graph build dominates (same wedge-join bound as
    graph_triangle_count); each peel shuffles the CURRENT edge set
    once for degrees, and the survivor set joins back without
    assuming broadcastability (AQE may choose it at this sf; a real
    cluster would run it as a shuffle semi-join co-partitioned with
    the edges). Peeling is the textbook distributed k-core
    (Montresor et al.): O(peel rounds) supersteps, never per-node
    sequential removal.
    """
    li = table(spark, sf_dir, "lineitem")
    pp = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a, b = pp.alias("a"), pp.alias("b")
    canon = (
        a.join(b, (F.col("a.o") == F.col("b.o"))
               & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .agg(F.count(F.lit(1)).alias("k"))
        .filter(F.col("k") >= TRI_MIN_COOCCUR)
        .select("u", "v")
    )
    sym = (
        canon.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(canon.select(F.col("v").alias("src"),
                               F.col("u").alias("dst")))
        .localCheckpoint(eager=True)
    )
    for _ in range(KCORE_PEELS):
        # node-sized; checkpointed so the TWO semi-joins below don't
        # each re-run the degree aggregate
        alive = (
            sym.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= KCORE_K)
            .select("src")
            .localCheckpoint(eager=True)
        )
        # the new edge snapshot supersedes both the previous one and
        # this round's survivor set (checkpoints.py contract)
        prev = sym
        sym = checkpoint_replacing(
            sym.join(alive, "src", "left_semi")
            .join(alive.withColumnRenamed("src", "dst"), "dst", "left_semi"),
            replacing=prev,
        )
        release(alive)
    return sym.groupBy(F.col("src").alias("p_partkey")).agg(
        F.count(F.lit(1)).alias("core_degree")
    )


def _kcore_oracle() -> str:
    """Unrolled fixed-round twin of graph_kcore (the pagerank-oracle
    discipline): alive_i from e_{i-1}'s degrees, e_i both-ends
    filtered."""
    sql = f"""
WITH pp AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
canon AS MATERIALIZED (
  SELECT a.p AS u, b.p AS v
  FROM pp a JOIN pp b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2
  HAVING COUNT(*) >= {TRI_MIN_COOCCUR}
),
e0 AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM canon
  UNION ALL
  SELECT v AS src, u AS dst FROM canon
)"""
    for i in range(1, KCORE_PEELS + 1):
        sql += f""",
a{i} AS MATERIALIZED (
  SELECT src FROM e{i - 1} GROUP BY src HAVING COUNT(*) >= {KCORE_K}
),
e{i} AS MATERIALIZED (
  SELECT e.src, e.dst
  FROM e{i - 1} e
  JOIN a{i} s ON e.src = s.src
  JOIN a{i} t ON e.dst = t.src
)"""
    sql += f"""
SELECT src AS p_partkey, COUNT(*) AS core_degree
FROM e{KCORE_PEELS}
GROUP BY src
"""
    return sql


ORACLE_GRAPH_KCORE = _kcore_oracle()


#: minimum shared-neighbor count for a Jaccard candidate pair. 1 — the
#: natural wedge-join output (every pair with any common neighbor);
#: jaccard_ppm itself carries the overlap strength, so consumers rank
#: or threshold on it. A >=2 floor emptied the output at bench scales
#: (r12 verdict: 0 rows at sf0.1/sf1 — measuring the wedge join while
#: verifying nothing), which is worse than a noisier tail.
JACC_MIN_COMMON = 1


def graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood Jaccard similarity between part pairs — the
    link-prediction / "customers also bought" primitive: two parts are
    similar when their co-occurrence neighborhoods overlap
    (|N(u) ∩ N(v)| / |N(u) ∪ N(v)|), including pairs that are NOT
    themselves connected.

    Same graph as graph_triangle_count (co-occurrence edges with
    >= {TRI_MIN_COOCCUR} shared orders, canonical u < v). Candidate
    pairs are generated by the WEDGE join — only pairs with at least
    one common neighbor can have Jaccard > 0, so the all-pairs space
    is never touched: symmetrized edges self-join on the middle node
    with u < v on the endpoints, and one hash aggregate counts common
    neighbors per pair. Degrees come from a cell-sized aggregate and
    attach by two node-keyed joins; similarity is integer ppm
    (``common * 1e6 div (du + dv - common)``) so both engines agree
    bit-for-bit.

    At 100 TB: the wedge join is the bound — sum over middle nodes of
    deg(w)^2 — the SAME bound as triangle counting/clustering
    coefficient above (degree-capping the hubs is the standard
    refinement, one extra filter against the degree table, plan shape
    unchanged). Everything shuffles on node keys; nothing assumes the
    graph fits anywhere. Output keeps every wedge pair (common >=
    {JACC_MIN_COMMON}); jaccard_ppm carries the ranking signal.
    """
    li = table(spark, sf_dir, "lineitem")
    pp = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    a, b = pp.alias("a"), pp.alias("b")
    canon = (
        a.join(b, (F.col("a.o") == F.col("b.o"))
               & (F.col("a.p") < F.col("b.p")))
        .groupBy(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .agg(F.count(F.lit(1)).alias("k"))
        .filter(F.col("k") >= TRI_MIN_COOCCUR)
        .select("u", "v")
    )
    sym = canon.unionByName(
        canon.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    w1, w2 = sym.alias("w1"), sym.alias("w2")
    common = (
        w1.join(w2, (F.col("w1.u") == F.col("w2.u"))
                & (F.col("w1.v") < F.col("w2.v")))
        .groupBy(F.col("w1.v").alias("x"), F.col("w2.v").alias("y"))
        .agg(F.count(F.lit(1)).alias("common"))
        .filter(F.col("common") >= JACC_MIN_COMMON)
    )
    du = deg.select(F.col("node").alias("x"), F.col("deg").alias("dx"))
    dv = deg.select(F.col("node").alias("y"), F.col("deg").alias("dy"))
    return (
        common.join(du, "x")
        .join(dv, "y")
        .select(
            F.col("x").alias("p_a"),
            F.col("y").alias("p_b"),
            "common",
            F.expr("common * 1000000 div (dx + dy - common)").alias(
                "jaccard_ppm"
            ),
        )
    )


ORACLE_GRAPH_JACCARD = f"""
WITH pp AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
),
canon AS MATERIALIZED (
  SELECT a.p AS u, b.p AS v
  FROM pp a JOIN pp b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2
  HAVING COUNT(*) >= {TRI_MIN_COOCCUR}
),
sym AS MATERIALIZED (
  SELECT u, v FROM canon
  UNION ALL
  SELECT v AS u, u AS v FROM canon
),
deg AS MATERIALIZED (
  SELECT u AS node, COUNT(*) AS deg FROM sym GROUP BY u
),
common AS MATERIALIZED (
  SELECT w1.v AS x, w2.v AS y, COUNT(*) AS common
  FROM sym w1 JOIN sym w2 ON w1.u = w2.u AND w1.v < w2.v
  GROUP BY 1, 2
  HAVING COUNT(*) >= {JACC_MIN_COMMON}
)
SELECT
  c.x AS p_a,
  c.y AS p_b,
  c.common,
  c.common * 1000000 // (du.deg + dv.deg - c.common) AS jaccard_ppm
FROM common c
JOIN deg du ON du.node = c.x
JOIN deg dv ON dv.node = c.y
"""


QUERIES = {
    "graph_pagerank": spec(
        graph_pagerank, ORACLE_GRAPH_PAGERANK, "beyond",
        doc="integer-exact damped PageRank, 3 supersteps, localCheckpoint",
    ),
    "graph_triangle_count": spec(
        graph_triangle_count, ORACLE_GRAPH_TRIANGLE_COUNT, "beyond",
        doc="per-node triangles via canonical-orientation wedge join",
    ),
    "graph_degree_hist": spec(
        graph_degree_hist, ORACLE_GRAPH_DEGREE_HIST, "beyond",
        doc="degree distribution per node type (two mergeable aggs)",
    ),
    "graph_label_propagation": spec(
        graph_label_propagation, ORACLE_GRAPH_LABEL_PROPAGATION, "beyond",
        doc="deterministic synchronous LPA, packed max_by vote, 3 rounds",
    ),
    "graph_bfs_levels": spec(
        graph_bfs_levels, ORACLE_GRAPH_BFS_LEVELS, "beyond",
        doc="frontier BFS levels from one source (oracle: WITH RECURSIVE)",
    ),
    "graph_clustering_coeff": spec(
        graph_clustering_coeff, ORACLE_GRAPH_CLUSTERING_COEFF, "beyond",
        doc="per-node local clustering coefficient (canonical triangle "
            "join + integer-ppm quotient)",
    ),
    "graph_kcore": spec(
        graph_kcore, ORACLE_GRAPH_KCORE, "beyond",
        doc="k-core membership via fixed-round distributed peeling "
            "(oracle: unrolled degree-filter CTEs)",
    ),
    "graph_jaccard": spec(
        graph_jaccard, ORACLE_GRAPH_JACCARD, "beyond",
        doc="neighborhood Jaccard link prediction via wedge join "
            "(integer-ppm similarity, common-neighbor candidates only)",
    ),
}
