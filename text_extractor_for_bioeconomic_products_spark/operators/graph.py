"""Graph operators (graft extension): fixed-iteration PageRank over a
co-occurrence graph derived from the relational tables.

The reference ranks its inputs only implicitly (smallest-file-first
scheduling, scripts/direct_batch_process.py:158; latest-run-wins upsert,
src/storage/database.py:188-253); a web-scale curation pipeline needs an
explicit link-analysis rank: which suppliers (hosts, domains, sources)
sit at the center of the purchase (link) graph.  This
module implements the canonical distributed formulation — synchronous
power iteration with a damping factor — as a DataFrame loop.

Scale shape (the part that must survive 10^12 edges):

* The edge list is built ONCE: distinct (customer, supplier) pairs out
  of orders ⋈ lineitem, symmetrized, with the source node's out-degree
  attached up front.  After that, every iteration joins the static
  edge table against a rank table of one row per node — the edges
  never move again.  On a real cluster the edge table would be
  bucketed/bucket-sorted by ``src`` so the per-iteration shuffle is
  only the (node, rank) table (8+8 bytes per node), which is the
  standard Pregel/GraphX partitioning discipline.
* Each iteration is exactly one shuffle: groupBy(dst) of
  rank/out-degree contributions with map-side partial sums.  The rank
  update ``(1-d)/n + d * Σ`` is a narrow projection.
* The loop runs a FIXED number of iterations (deterministic output, no
  float-threshold convergence test that could diverge between engines)
  and severs lineage with one eager localCheckpoint per iteration —
  the same plan-growth discipline as
  :func:`..operators.dedup.connected_components_star`.
* The graph is symmetrized, so every node has out-degree ≥ 1 and the
  dangling-mass term vanishes — the oracle and the Spark plan compute
  the identical recurrence.

Oracle: PageRank with K fixed iterations is plain SQL — the power
iteration unrolls into K chained CTEs (r1..rK), each one groupBy-join
step.  DuckDB executes the identical arithmetic, so the census is fully
hash-checked, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load

PR_ITERS = 5
PR_DAMPING = 0.85


def pagerank(edges: DataFrame,
             iters: int = PR_ITERS,
             damping: float = PR_DAMPING) -> DataFrame:
    """Synchronous PageRank over an undirected edge list.

    ``edges`` must have two long columns (u, v); the graph is
    symmetrized and deduplicated here, so callers pass each undirected
    edge once in either orientation.  Returns (node, degree, pagerank)
    for every node incident to ≥1 edge.

    One-time setup: symmetrize + distinct (one shuffle), degree count
    (one shuffle), then the static (src, dst, outdeg) table is
    checkpointed.  Per iteration: one groupBy(dst) shuffle of
    contributions; ranks are one row per node and checkpoint eagerly so
    iteration k's plan does not replay iterations 1..k-1.
    """
    u, v = edges.columns[0], edges.columns[1]
    sym = (
        edges.select(F.col(u).alias("src"), F.col(v).alias("dst"))
        .union(edges.select(F.col(v).alias("src"), F.col(u).alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("outdeg"))
    # static per-iteration join input: every edge already carries its
    # source's out-degree, so the loop never touches the degree table
    linked = sym.join(deg, "src").localCheckpoint(eager=True)
    nodes = deg.select(F.col("src").alias("node"), "outdeg").localCheckpoint(
        eager=True
    )
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank: edge list has no non-self edges")
    base = (1.0 - damping) / n

    ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
    for _ in range(iters):
        contrib = (
            linked.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("mass"))
        )
        new_ranks = contrib.select(
            F.col("dst").alias("node"),
            (F.lit(base) + F.lit(damping) * F.col("mass")).alias("rank"),
        ).localCheckpoint(eager=True)
        ranks.unpersist()
        ranks = new_ranks

    return nodes.join(ranks, "node").select(
        "node", F.col("outdeg").alias("degree"), "rank"
    )


def q_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank census of the supplier side of the customer↔supplier
    co-purchase graph (an edge per distinct customer-supplier pair that
    shares ≥1 order line).

    Node encoding keeps the bipartite id spaces disjoint without
    strings: customer c → 2c, supplier s → 2s+1.  Output is one row per
    supplier: (s_suppkey, degree = #distinct customers, pagerank
    rounded via the decimal idiom so Spark and DuckDB emit the same
    double).
    """
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    edges = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
    )
    pr = pagerank(edges)
    return pr.filter(F.col("node") % 2 == 1).select(
        ((F.col("node") - 1) / 2).cast("bigint").alias("s_suppkey"),
        F.col("degree").cast("bigint").alias("degree"),
        F.round(F.col("rank").cast("decimal(28,18)"), 9)
        .cast("double")
        .alias("pagerank"),
    )


def _pagerank_sql_duckdb(iters: int = PR_ITERS,
                         damping: float = PR_DAMPING) -> str:
    """The identical power iteration unrolled as chained CTEs."""
    steps = []
    prev = "r0"
    for k in range(1, iters + 1):
        steps.append(
            f"""r{k} AS (
        SELECT l.dst AS node,
               (SELECT (1.0 - {damping}) / n FROM nn)
                   + {damping} * SUM(r.rank / l.outdeg) AS rank
        FROM linked l JOIN {prev} r ON l.src = r.node
        GROUP BY l.dst
    )"""
        )
        prev = f"r{k}"
    chain = ",\n    ".join(steps)
    return f"""
    WITH edges AS (
        SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    sym AS (
        SELECT u AS src, v AS dst FROM edges WHERE u <> v
        UNION
        SELECT v AS src, u AS dst FROM edges WHERE u <> v
    ),
    deg AS (SELECT src, count(*) AS outdeg FROM sym GROUP BY src),
    linked AS (SELECT s.src, s.dst, d.outdeg FROM sym s JOIN deg d USING (src)),
    nn AS (SELECT count(*) AS n FROM deg),
    r0 AS (SELECT src AS node, 1.0 / (SELECT n FROM nn) AS rank FROM deg),
    {chain}
    SELECT CAST((node - 1) / 2 AS BIGINT) AS s_suppkey,
           CAST(d.outdeg AS BIGINT) AS degree,
           CAST(round(CAST(r.rank AS DECIMAL(28,18)), 9) AS DOUBLE)
               AS pagerank
    FROM {prev} r JOIN deg d ON r.node = d.src
    WHERE node % 2 = 1
"""


BFS_ROUNDS = 4


def bfs_distances(edges: DataFrame, source: int,
                  rounds: int = BFS_ROUNDS) -> DataFrame:
    """Fixed-round BFS over an undirected edge list: (node, dist) for
    every node reached within ``rounds`` hops of ``source``.

    Frontier-free formulation (deterministic, oracle-identical): each
    round relaxes ALL known distances through every edge and keeps the
    per-node minimum — Bellman-Ford's round, which for unit weights
    computes exact BFS layers after k rounds ≤ k hops out.  Per round:
    one edge⋈dist join + one groupBy-min shuffle (map-side partials);
    dist rows are (8+4) bytes/node, the edge table is static and
    checkpointed — the identical shuffle discipline to :func:`pagerank`.
    A production variant would relax only the newly-reached frontier;
    relaxing all keeps round k's output a pure function of round k-1's
    (what the unrolled SQL twin computes) at the same asymptotic shuffle
    volume for small round counts on short-diameter graphs.
    """
    u, v = edges.columns[0], edges.columns[1]
    sym = (
        edges.select(F.col(u).alias("src"), F.col(v).alias("dst"))
        .union(edges.select(F.col(v).alias("src"), F.col(u).alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    dist = sym.sparkSession.createDataFrame(
        [(source, 0)], "node long, dist int"
    )
    for _ in range(rounds):
        relaxed = sym.join(
            dist.withColumnRenamed("node", "src"), "src"
        ).select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        dist = (
            dist.union(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return dist


def q_graph_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS layer census of the co-purchase graph from its minimum node
    (a deterministic source both engines compute identically): one row
    per distance 0..BFS_ROUNDS with the node count at that layer, plus
    a dist = -1 row counting nodes not reached within the horizon.
    All-integer output — no float drift surface at all."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    edges = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
    )
    source = edges.agg(F.min(F.least("u", "v"))).collect()[0][0]
    dist = bfs_distances(edges, int(source))
    nodes = edges.select(F.col("u").alias("node")).union(
        edges.select(F.col("v").alias("node"))
    ).distinct()
    labeled = nodes.join(dist, "node", "left").select(
        F.coalesce("dist", F.lit(-1)).alias("dist")
    )
    return (
        labeled.groupBy("dist")
        .agg(F.count("*").alias("n_nodes"))
        .select(F.col("dist").cast("int").alias("dist"), "n_nodes")
        .orderBy("dist")
    )


def _bfs_sql_duckdb(rounds: int = BFS_ROUNDS) -> str:
    """The identical all-relax rounds unrolled as chained CTEs."""
    steps = []
    prev = "d0"
    for k in range(1, rounds + 1):
        steps.append(
            f"""d{k} AS (
        SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM {prev}
            UNION ALL
            SELECT e.dst AS node, d.dist + 1 AS dist
            FROM sym e JOIN {prev} d ON e.src = d.node
        ) GROUP BY node
    )"""
        )
        prev = f"d{k}"
    chain = ",\n    ".join(steps)
    return f"""
    WITH edges AS (
        SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    sym AS (
        SELECT u AS src, v AS dst FROM edges WHERE u <> v
        UNION
        SELECT v AS src, u AS dst FROM edges WHERE u <> v
    ),
    d0 AS (
        SELECT least(min(u), min(v)) AS node, 0 AS dist FROM edges
    ),
    {chain},
    nodes AS (SELECT u AS node FROM edges UNION SELECT v FROM edges)
    SELECT CAST(COALESCE(d.dist, -1) AS INT) AS dist,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM nodes n LEFT JOIN {prev} d USING (node)
    GROUP BY 1
    ORDER BY 1
"""


LPA_ROUNDS = 3


def label_propagation(edges: DataFrame,
                      rounds: int = LPA_ROUNDS) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007), the
    community-detection sibling of :func:`..dedup.connected_components`:
    every node starts labeled with itself; each round it adopts the most
    frequent label among its neighbors (ties → smallest label).
    Deterministic by construction: synchronous updates + total
    tie-order, so round k's labels are a pure function of round k-1's —
    exactly what the unrolled SQL twin computes.

    Per round: one groupBy(dst, label) count (map-side partials — a hub
    node's repeated neighbor labels pre-reduce per partition) and one
    groupBy(dst) argmax via ``max(struct(count, -label))`` — no window,
    no sort.  Label rows are one per node; the edge table is static and
    checkpointed, same discipline as :func:`pagerank`.
    """
    u, v = edges.columns[0], edges.columns[1]
    sym = (
        edges.select(F.col(u).alias("src"), F.col(v).alias("dst"))
        .union(edges.select(F.col(v).alias("src"), F.col(u).alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = sym.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(rounds):
        votes = (
            sym.join(
                labels.withColumnRenamed("node", "src"), "src"
            )
            .groupBy("dst", "label")
            .agg(F.count("*").alias("cnt"))
        )
        labels = (
            votes.groupBy("dst")
            .agg(
                F.max(
                    F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))
                ).alias("w")
            )
            .select(
                F.col("dst").alias("node"), (-F.col("w.nl")).alias("label")
            )
            .localCheckpoint(eager=True)
        )
    return labels


def q_graph_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community-size histogram of the co-purchase graph after
    LPA_ROUNDS synchronous rounds: (community_size, n_communities) —
    compact, all-integer, and a pure function of the edge set."""
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    edges = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
    )
    labels = label_propagation(edges)
    sizes = labels.groupBy("label").agg(F.count("*").alias("community_size"))
    return (
        sizes.groupBy("community_size")
        .agg(F.count("*").alias("n_communities"))
        .orderBy("community_size")
    )


def _lpa_sql_duckdb(rounds: int = LPA_ROUNDS) -> str:
    """The identical synchronous rounds unrolled; the argmax is the
    same (count desc, label asc) order expressed as a window rank."""
    steps = []
    prev = "l0"
    for k in range(1, rounds + 1):
        steps.append(
            f"""l{k} AS (
        SELECT node, label FROM (
            SELECT e.dst AS node, p.label,
                   row_number() OVER (
                       PARTITION BY e.dst
                       ORDER BY count(*) DESC, p.label ASC
                   ) AS rn
            FROM sym e JOIN {prev} p ON e.src = p.node
            GROUP BY e.dst, p.label
        ) WHERE rn = 1
    )"""
        )
        prev = f"l{k}"
    chain = ",\n    ".join(steps)
    return f"""
    WITH edges AS (
        SELECT DISTINCT o_custkey * 2 AS u, l_suppkey * 2 + 1 AS v
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    sym AS (
        SELECT u AS src, v AS dst FROM edges WHERE u <> v
        UNION
        SELECT v AS src, u AS dst FROM edges WHERE u <> v
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM sym),
    {chain},
    sizes AS (
        SELECT label, count(*) AS community_size FROM {prev} GROUP BY label
    )
    SELECT community_size, CAST(count(*) AS BIGINT) AS n_communities
    FROM sizes
    GROUP BY community_size
    ORDER BY community_size
"""


def triangle_census(edges: DataFrame) -> DataFrame:
    """Exact triangle count + global clustering coefficient of an
    undirected graph — the fourth graph-family member (PageRank ranks,
    BFS measures reach, LPA groups; triangles measure local cohesion,
    the standard signal for community quality and spam-farm detection).

    Scale shape — the Schank-Wagner / Cohen degree-ordered orientation,
    THE shape that survives power-law graphs:

    * Edges orient from lower to higher (degree, id) rank.  Every node's
      oriented OUT-degree is then O(√m) regardless of its raw degree —
      a 10^8-degree hub emits wedges only toward its few higher-ranked
      peers, so the wedge join's per-key fan-out is bounded by
      orientation, not by the degree distribution.
    * Wedge generation is one self-join on the oriented source; the
      closing-edge check is a semi-join against the same oriented edge
      table.  Three shuffles total, all on node keys, AQE-splittable.
    * Each triangle materializes exactly once (at its lowest-ranked
      apex), so the count needs no division by 3/6.

    Returns one row: (n_nodes, n_edges, n_wedges, n_triangles,
    clustering) where clustering = 3·triangles / wedges (wedges counted
    on the UNORIENTED graph: Σ C(deg, 2)).
    """
    a, b = edges.columns[0], edges.columns[1]
    # canonical undirected edge list (dedupe either orientation)
    e = (
        edges.select(
            F.least(F.col(a), F.col(b)).alias("x"),
            F.greatest(F.col(a), F.col(b)).alias("y"),
        )
        .filter(F.col("x") != F.col("y"))
        .distinct()
    )
    deg = (
        e.select(F.col("x").alias("node"))
        .union(e.select(F.col("y").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    ed = (
        e.join(deg.select(F.col("node").alias("x"),
                          F.col("deg").alias("dx")), "x")
        .join(deg.select(F.col("node").alias("y"),
                         F.col("deg").alias("dy")), "y")
    )
    lower_first = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))
    )
    o = ed.select(
        F.when(lower_first, F.col("x")).otherwise(F.col("y")).alias("u"),
        F.when(lower_first, F.col("y")).otherwise(F.col("x")).alias("v"),
        F.when(lower_first, F.col("dy")).otherwise(F.col("dx")).alias("dv"),
    ).localCheckpoint(eager=True)
    lhs = o.select(F.col("u"), F.col("v").alias("v1"), F.col("dv").alias("d1"))
    rhs = o.select(F.col("u"), F.col("v").alias("v2"), F.col("dv").alias("d2"))
    wedges = lhs.join(rhs, "u").filter(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    )
    tri = wedges.join(
        o.select(F.col("u").alias("v1"), F.col("v").alias("v2")),
        ["v1", "v2"],
        "left_semi",
    ).agg(F.count("*").alias("n_triangles"))
    # integer `div`, not float /2: wedge totals pass 2^53 on big graphs
    stats = deg.agg(
        F.count("*").alias("n_nodes"),
        F.expr("sum(deg * (deg - 1)) div 2").cast("long").alias("n_wedges"),
    )
    n_edges = e.agg(F.count("*").alias("n_edges"))
    # three single-row frames — the broadcast-single-row-aggregate
    # crossJoin idiom used throughout this package
    return (
        stats.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_wedges",
            F.col("n_triangles").cast("long").alias("n_triangles"),
            F.round(
                (F.lit(3.0) * F.col("n_triangles") / F.col("n_wedges"))
                .cast("decimal(28,12)"),
                6,
            ).cast("double").alias("clustering"),
        )
    )


def q_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-order graph (parts appearing on
    the same order share an edge): cohesion of the product catalog's
    co-purchase structure.  Pair generation is per-order — bounded by
    order size, never by part popularity."""
    lineitem = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct()
    pairs = (
        lineitem.alias("i")
        .join(lineitem.alias("j"), "l_orderkey")
        .filter(F.col("i.l_partkey") < F.col("j.l_partkey"))
        .select(
            F.col("i.l_partkey").alias("u"),
            F.col("j.l_partkey").alias("v"),
        )
        .distinct()
    )
    return triangle_census(pairs)


_TRIANGLE_SQL = """
    WITH li AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    e AS (
        SELECT DISTINCT i.l_partkey AS x, j.l_partkey AS y
        FROM li i JOIN li j
          ON i.l_orderkey = j.l_orderkey AND i.l_partkey < j.l_partkey
    ),
    deg AS (
        SELECT node, count(*) AS deg FROM (
            SELECT x AS node FROM e UNION ALL SELECT y FROM e
        ) GROUP BY node
    ),
    tri AS (
        -- id-canonical closure: each triangle p<q<r counted once; the
        -- count is orientation-invariant, so this independently checks
        -- the Spark side's degree-ordered plan
        SELECT count(*) AS n_triangles
        FROM e xy JOIN e xz ON xz.x = xy.x AND xz.y > xy.y
                  JOIN e yz ON yz.x = xy.y AND yz.y = xz.y
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           (SELECT CAST(sum(deg * (deg - 1)) // 2 AS BIGINT)
            FROM deg) AS n_wedges,
           CAST(t.n_triangles AS BIGINT) AS n_triangles,
           CAST(round(CAST(3.0 * t.n_triangles /
                           (SELECT CAST(sum(deg * (deg - 1)) // 2 AS BIGINT)
                            FROM deg)
                           AS DECIMAL(28,12)), 6) AS DOUBLE) AS clustering
    FROM tri t
"""


ORACLE_SQL = {
    "triangle_census": _TRIANGLE_SQL,
    "pagerank_suppliers": _pagerank_sql_duckdb(),
    "graph_distances": _bfs_sql_duckdb(),
    "graph_communities": _lpa_sql_duckdb(),
}

QUERIES = {
    "pagerank_suppliers": q_pagerank_suppliers,
    "graph_distances": q_graph_distances,
    "graph_communities": q_graph_communities,
    "triangle_census": q_triangle_census,
}
