"""Graph analytics over the co-purchase graph.

Every query derives the same graph from ``lineitem`` (parts appearing in
the same order) through ``functions/graph.py``, whose ``cached_edges``
stages the thresholded edge list once per session and ``lineitem``
version. The family covers degree and triangle structure, clustering
coefficients, k-cores, walk, PageRank and HITS centrality, label
propagation and modularity, link prediction, assortativity, BFS
frontiers and weighted shortest paths. Each is DuckDB-oracle-checked end
to end; the oracle side unrolls the iterative algorithms as CTEs or
recursive CTEs.

Float policy note (registry docstring): PageRank values are rationals
with 2- and 5-rich denominators (damping 17/20, degree divisors), so
exact terminating decimals sitting ON a round() HALF-boundary are
likely, not measure-zero. Both engines therefore round
``rank + 1e-9``: the ε is 4 orders of magnitude below the rounding
quantum (1e-4) and 4 above the worst-case summation drift (~1e-13), so
it pushes exactly-on-boundary values safely off the boundary on BOTH
engines without changing any non-boundary digit. Walk centrality, HITS
and the clustering coefficient need no such care: their values are
BIGINTs or raw IEEE quotients of identical integers.

Scale posture: the thresholded edge relation is orders of magnitude
smaller than the fact table, so joins over it broadcast at bench scale
and orient-and-sort-merge past the threshold (graph_triangle_orient).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orchestrated_etl_spark.functions.graph import (
    EDGE_CTE,
    bfs_distances,
    cached_edges,
    cached_undirected_layout,
    degrees,
    pagerank,
    shortest_path_bf,
    triangle_count,
    triangle_count_oriented,
    undirect,
)
from orchestrated_etl_spark.compat import stage
from orchestrated_etl_spark.registry import register
from orchestrated_etl_spark.staged import staged


# ---------------------------------------------------------------------------
# edge derivation
# ---------------------------------------------------------------------------


def _graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded co-purchase edge list (weight ≥ 2): the pairs that
    co-occur in at least two orders. See functions/graph.py for the
    two-shuffle, no-self-join derivation; the threshold is what keeps
    the edge relation orders of magnitude smaller than the fact table
    (a random pair needs REPEATED co-purchase to survive), which is the
    precondition for the broadcast joins downstream queries use."""
    return cached_edges(spark, sf_dir, min_weight=2)


register(
    "graph_copurchase_edges",
    _graph_edges,
    f"""
    WITH {EDGE_CTE}
    SELECT part_a, part_b, weight FROM e WHERE weight >= 2
    """,
)


# ---------------------------------------------------------------------------
# degree distribution
# ---------------------------------------------------------------------------


def _graph_degree_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the FULL (weight ≥ 1) co-purchase graph:
    how many parts have k co-purchase partners. Two cheap aggregates on
    top of the edge derivation; output is histogram-sized regardless of
    scale (the 100 TB-safe shape for any distribution profile)."""
    deg = degrees(cached_edges(spark, sf_dir, min_weight=1))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_parts"))


register(
    "graph_degree_distribution",
    _graph_degree_dist,
    f"""
    WITH {EDGE_CTE},
    ed AS (
        SELECT part_a AS node FROM e
        UNION ALL
        SELECT part_b FROM e
    ),
    deg AS (SELECT node, count(*) AS degree FROM ed GROUP BY 1)
    SELECT degree, count(*) AS n_parts FROM deg GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# triangle count
# ---------------------------------------------------------------------------


def _graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle count of the weight ≥ 2 graph, plus node/edge
    counts for context. Canonical orientation (a<b<c) counts each
    triangle once; see functions/graph.py triangle_count for the
    degree-orientation fallback past the broadcast threshold."""
    # Materialized once: three join legs + two count legs all read the
    # same small edge relation (a lazy plan re-derives the fact scan per
    # leg — 6 scans at bench, 6 corpus passes at 100 TB).
    edges = cached_edges(spark, sf_dir, min_weight=2)
    tri = triangle_count(edges)
    counts = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    nodes = (
        undirect(edges)
        .select(F.col("src").alias("node"))
        .agg(F.count_distinct("node").alias("n_nodes"))
    )
    return counts.crossJoin(nodes).crossJoin(tri)


register(
    "graph_triangle_count",
    _graph_triangles,
    f"""
    WITH {EDGE_CTE},
    e2 AS (SELECT part_a, part_b FROM e WHERE weight >= 2),
    nodes AS (
        SELECT count(DISTINCT node) AS n_nodes FROM (
            SELECT part_a AS node FROM e2
            UNION ALL SELECT part_b FROM e2
        )
    ),
    tri AS (
        SELECT count(*) AS n_triangles
        FROM e2 t1
        JOIN e2 t2 ON t1.part_b = t2.part_a
        JOIN e2 t3 ON t3.part_a = t1.part_a AND t3.part_b = t2.part_b
    )
    SELECT (SELECT count(*) FROM e2) AS n_edges,
           nodes.n_nodes, tri.n_triangles
    FROM nodes, tri
    """,
)


def _graph_triangles_oriented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count through the degree-orientation layout
    (functions/graph.py triangle_count_oriented): edges re-oriented from
    their lower-(degree, id) endpoint, wedges paired per apex, closure
    probed with sort-merge joins — NO broadcast of the edge list
    anywhere in the plan (MERGE hints pin it), which is the triangle
    plan that still works when the edge list outgrows the broadcast
    threshold. Oracle: the canonical a<b<c join formulation — both must
    count every triangle exactly once, so the counts are equal by
    construction."""
    edges = cached_edges(spark, sf_dir, min_weight=2)
    return triangle_count_oriented(edges)


register(
    "graph_triangle_orient",
    _graph_triangles_oriented,
    f"""
    WITH {EDGE_CTE},
    e2 AS (SELECT part_a, part_b FROM e WHERE weight >= 2)
    SELECT count(*) AS n_triangles
    FROM e2 t1
    JOIN e2 t2 ON t1.part_b = t2.part_a
    JOIN e2 t3 ON t3.part_a = t1.part_a AND t3.part_b = t2.part_b
    """,
)


# ---------------------------------------------------------------------------
# walk centrality (exact integer power iteration)
# ---------------------------------------------------------------------------


def _graph_walk_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-step walk count per node: W_0 = 1, W_k(v) = Σ_{u~v} W_{k-1}(u)
    — the number of length-3 walks ending at v, the unnormalised power
    iteration of eigenvector centrality. Pure BIGINT arithmetic, so the
    oracle comparison is exact with no float policy at all. Same
    join-aggregate-per-round shape as PageRank below."""
    ed = stage(undirect(cached_edges(spark, sf_dir, min_weight=2)))
    walks = ed.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(1).cast("long").alias("w")
    )
    for _ in range(3):
        walks = (
            ed.join(walks, ed.src == walks.node)
            .groupBy(F.col("dst").alias("node2"))
            .agg(F.sum("w").alias("w"))
            .select(F.col("node2").alias("node"), "w")
        )
    return walks.select("node", F.col("w").alias("walks3"))


register(
    "graph_walk_centrality",
    _graph_walk_centrality,
    f"""
    WITH {EDGE_CTE},
    e2 AS (SELECT part_a, part_b FROM e WHERE weight >= 2),
    ed AS (
        SELECT part_a AS src, part_b AS dst FROM e2
        UNION ALL
        SELECT part_b, part_a FROM e2
    ),
    w0 AS (SELECT DISTINCT src AS node, CAST(1 AS BIGINT) AS w FROM ed),
    w1 AS (SELECT ed.dst AS node, sum(w0.w) AS w
           FROM ed JOIN w0 ON ed.src = w0.node GROUP BY 1),
    w2 AS (SELECT ed.dst AS node, sum(w1.w) AS w
           FROM ed JOIN w1 ON ed.src = w1.node GROUP BY 1),
    w3 AS (SELECT ed.dst AS node, sum(w2.w) AS w
           FROM ed JOIN w2 ON ed.src = w2.node GROUP BY 1)
    SELECT node, CAST(w AS BIGINT) AS walks3 FROM w3
    """,
)


# ---------------------------------------------------------------------------
# PageRank (3 unrolled iterations)
# ---------------------------------------------------------------------------


def _graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank after 3 synchronous iterations on the weight ≥ 2 graph
    (damping 0.85, ranks init 1.0). The oracle unrolls the identical
    recurrence as three CTE rounds, proving the ITERATIVE operator — a
    shape SQL engines rarely host — is still oracle-checkable. Rounded
    with the ε-nudge documented in the module docstring."""
    ranks = pagerank(
        cached_edges(spark, sf_dir, min_weight=2),
        iterations=3,
        damping=0.85,
    )
    return ranks.select(
        "node",
        F.round(F.col("rank") + F.lit(1e-9), 4).alias("pagerank"),
    )


register(
    "graph_pagerank",
    _graph_pagerank,
    f"""
    WITH {EDGE_CTE},
    e2 AS (SELECT part_a, part_b FROM e WHERE weight >= 2),
    ed AS (
        SELECT part_a AS src, part_b AS dst FROM e2
        UNION ALL
        SELECT part_b, part_a FROM e2
    ),
    deg AS (SELECT src AS node, count(*) AS deg FROM ed GROUP BY 1),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank, deg FROM deg),
    r1 AS (
        SELECT d.node, CAST(0.15 AS DOUBLE) + 0.85 * s.acc AS rank, d.deg
        FROM (SELECT ed.dst AS node, sum(r0.rank / r0.deg) AS acc
              FROM ed JOIN r0 ON ed.src = r0.node GROUP BY 1) s
        JOIN deg d ON d.node = s.node
    ),
    r2 AS (
        SELECT d.node, CAST(0.15 AS DOUBLE) + 0.85 * s.acc AS rank, d.deg
        FROM (SELECT ed.dst AS node, sum(r1.rank / r1.deg) AS acc
              FROM ed JOIN r1 ON ed.src = r1.node GROUP BY 1) s
        JOIN deg d ON d.node = s.node
    ),
    r3 AS (
        SELECT s.node, CAST(0.15 AS DOUBLE) + 0.85 * s.acc AS rank
        FROM (SELECT ed.dst AS node, sum(r2.rank / r2.deg) AS acc
              FROM ed JOIN r2 ON ed.src = r2.node GROUP BY 1) s
    )
    SELECT node, round(rank + 1e-9, 4) AS pagerank FROM r3
    """,
)


# ---------------------------------------------------------------------------
# label propagation (community detection, 3 unrolled rounds)
# ---------------------------------------------------------------------------


def _graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous LPA on the weight ≥ 2 graph:
    3 rounds of adopt-the-most-frequent-neighbor-label with smallest-
    label tie-breaks. Deterministic by construction (see
    functions/graph.label_propagation), so the oracle unrolls the
    identical recurrence as three CTE rounds — exact BIGINT comparison,
    no float policy at all."""
    from orchestrated_etl_spark.functions.graph import label_propagation

    return label_propagation(
        cached_edges(spark, sf_dir, min_weight=2), iterations=3
    )


# Shared 3-iteration synchronous-LPA CTE chain (also consumed by the
# modularity oracle).
_LPA_ROUNDS_CTE = """
    e2 AS (SELECT part_a, part_b FROM e WHERE weight >= 2),
    ed AS (
        SELECT part_a AS src, part_b AS dst FROM e2
        UNION ALL
        SELECT part_b, part_a FROM e2
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM ed),
    l1 AS (
        SELECT node, label FROM (
            SELECT ed.dst AS node, l.label, count(*) AS c,
                   row_number() OVER (PARTITION BY ed.dst
                         ORDER BY count(*) DESC, l.label) AS rn
            FROM ed JOIN l0 l ON ed.src = l.node
            GROUP BY ed.dst, l.label
        ) WHERE rn = 1
    ),
    l2 AS (
        SELECT node, label FROM (
            SELECT ed.dst AS node, l.label, count(*) AS c,
                   row_number() OVER (PARTITION BY ed.dst
                         ORDER BY count(*) DESC, l.label) AS rn
            FROM ed JOIN l1 l ON ed.src = l.node
            GROUP BY ed.dst, l.label
        ) WHERE rn = 1
    ),
    l3 AS (
        SELECT node, label FROM (
            SELECT ed.dst AS node, l.label, count(*) AS c,
                   row_number() OVER (PARTITION BY ed.dst
                         ORDER BY count(*) DESC, l.label) AS rn
            FROM ed JOIN l2 l ON ed.src = l.node
            GROUP BY ed.dst, l.label
        ) WHERE rn = 1
    )
"""


register(
    "graph_label_propagation",
    _graph_label_propagation,
    f"""
    WITH {EDGE_CTE},
    {_LPA_ROUNDS_CTE}
    SELECT node, CAST(label AS BIGINT) AS community FROM l3
    """,
)


# ---------------------------------------------------------------------------
# link prediction: common neighbors + Jaccard over non-edges
# ---------------------------------------------------------------------------


def _graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction on the co-purchase graph — the
    "related items you haven't bought together yet" recommendation
    shape: wedge-join the undirected edge relation on the middle vertex
    to count common neighbors per (a < c) pair, DROP pairs already
    connected (an anti-join — prediction targets NEW links), attach
    degrees for the Jaccard score cn / (deg_a + deg_c - cn), and keep
    the top-50 by (common neighbors, then Jaccard, then pair id).

    Scale shape (honest form): the wedge join pairs
    neighbours per middle vertex, so fan-out is Σ deg(b)² — a hub
    vertex contributes deg² candidate pairs. THIS code path does not
    bound that; the production path at 100 TB re-orients wedges from
    the lower-(degree, id) endpoint first — exactly what
    functions/graph.triangle_count_oriented implements for closure
    counting — bounding per-vertex fan-out by the oriented out-degree
    (≤ √(2·|E|)). The thresholded (weight ≥ 2) edge relation keeps the
    join sort-merge/shuffle-based with no forced broadcast. Counts are
    exact integers; the Jaccard is one division of exact ints, rounded
    6 on both engines. The top-50 boundary is deterministic: ties
    broken by the full (cn, jaccard, a, c) composite."""
    edges = cached_edges(spark, sf_dir, min_weight=2)
    ed = undirect(edges)
    deg = degrees(edges)
    w1 = ed.select(F.col("src").alias("b"), F.col("dst").alias("a"))
    w2 = ed.select(F.col("src").alias("b2"), F.col("dst").alias("c"))
    wedges = w1.join(
        w2, (F.col("b") == F.col("b2")) & (F.col("a") < F.col("c"))
    )
    cn = wedges.groupBy("a", "c").agg(F.count(F.lit(1)).alias("common"))
    non_edges = cn.join(
        edges,
        (F.col("a") == F.col("part_a")) & (F.col("c") == F.col("part_b")),
        "anti",
    )
    scored = (
        non_edges.join(deg.select(F.col("node").alias("a"),
                                  F.col("degree").alias("deg_a")), "a")
        .join(deg.select(F.col("node").alias("c"),
                         F.col("degree").alias("deg_c")), "c")
        .select(
            "a",
            "c",
            "common",
            F.round(
                F.col("common")
                / (F.col("deg_a") + F.col("deg_c") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("common").desc(), F.col("jaccard").desc(), "a", "c"
    ).limit(50)


register(
    "graph_link_prediction",
    _graph_link_prediction,
    f"""
    WITH {EDGE_CTE},
    e2 AS (SELECT part_a, part_b FROM e WHERE weight >= 2),
    ed AS (
        SELECT part_a AS src, part_b AS dst FROM e2
        UNION ALL
        SELECT part_b, part_a FROM e2
    ),
    deg AS (SELECT src AS node, count(*) AS degree FROM ed GROUP BY 1),
    cn AS (
        SELECT w1.dst AS a, w2.dst AS c, count(*) AS common
        FROM ed w1 JOIN ed w2 ON w1.src = w2.src AND w1.dst < w2.dst
        GROUP BY 1, 2
    ),
    non_edges AS (
        SELECT cn.* FROM cn
        WHERE NOT EXISTS (SELECT 1 FROM e2
                          WHERE e2.part_a = cn.a AND e2.part_b = cn.c)
    )
    SELECT n.a, n.c, n.common,
           round(n.common * 1.0 / (da.degree + dc.degree - n.common), 6)
               AS jaccard
    FROM non_edges n
    JOIN deg da ON da.node = n.a
    JOIN deg dc ON dc.node = n.c
    ORDER BY n.common DESC, jaccard DESC, n.a, n.c
    LIMIT 50
    """,
)


# ---------------------------------------------------------------------------
# degree assortativity (graph-level structural statistic)
# ---------------------------------------------------------------------------


def _graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: the Pearson
    correlation of (source degree, destination degree) over the
    undirected edge relation — positive means hubs link to hubs
    (social-network-like), negative means hubs link to leaves
    (hub-and-spoke catalogs). One number summarizing whether the
    co-purchase structure is hierarchical or clique-y — the kind of
    corpus-level statistic a graph-quality dashboard tracks.

    Shape: degrees via one aggregate, two HINT-FREE join-backs to
    annotate edge endpoints (the degree relation is O(V) — it grows
    with the graph, so no forced broadcast: threshold/AQE broadcast it
    while small, past that the joins shuffle on the node key, which
    co-partitions with the edge list), corr() as a single
    partial-aggregable pass (corr's moments combine associatively).
    Rounded to 4 — corr is a quotient of float moment sums, the
    registry's irrational-value policy."""
    edges = cached_edges(spark, sf_dir, min_weight=2)
    ed = undirect(edges)
    deg = degrees(edges)
    annotated = (
        ed.join(
            deg.select(F.col("node").alias("src"),
                       F.col("degree").alias("deg_src")),
            "src",
        )
        .join(
            deg.select(F.col("node").alias("dst"),
                       F.col("degree").alias("deg_dst")),
            "dst",
        )
    )
    return annotated.agg(
        F.count(F.lit(1)).alias("n_directed_edges"),
        F.round(F.corr("deg_src", "deg_dst"), 4).alias("assortativity"),
    )


register(
    "graph_assortativity",
    _graph_assortativity,
    f"""
    WITH {EDGE_CTE},
    e2 AS (SELECT part_a, part_b FROM e WHERE weight >= 2),
    ed AS (
        SELECT part_a AS src, part_b AS dst FROM e2
        UNION ALL
        SELECT part_b, part_a FROM e2
    ),
    deg AS (SELECT src AS node, count(*) AS degree FROM ed GROUP BY 1)
    SELECT count(*) AS n_directed_edges,
           round(corr(da.degree, dc.degree), 4) AS assortativity
    FROM ed
    JOIN deg da ON da.node = ed.src
    JOIN deg dc ON dc.node = ed.dst
    """,
)


# ---------------------------------------------------------------------------
# BFS frontier expansion over the co-purchase graph
# ---------------------------------------------------------------------------

_BFS_HOPS = 4


def _bfs_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop distance to every part within 4 hops of the seed on
    the FULL (weight>=1) co-purchase graph — unlike the other graph_*
    queries, BFS runs on the dense graph: the weight>=2 forest is
    near-edgeless at sf0.1 (max component ~12 nodes), which would make
    the traversal vacuous, while the full graph exercises genuine
    frontier growth (hop sizes grow geometrically, then saturate by
    hop 3 — exactly the behavior distributed BFS exists for). The seed
    is the SMALLEST node id present in the edge set — deterministic and
    fixture-scale-independent; fetching it is a 1-scalar driver fetch,
    the same class as an iterative algorithm's hyperparameter, not a
    data collect. Spark has no recursive SQL, so the traversal is
    iterative frontier expansion — see functions/graph.bfs_distances
    for the per-round plan shape. The oracle is DuckDB's WITH RECURSIVE
    with set-dedup on (node, hop): its fixpoint relation is exactly the
    hop-labelled reachability set, and min(hop) per node is the BFS
    distance. The seed is staged with the edges it comes from, so a
    warm call fetches nothing."""
    edges = cached_edges(spark, sf_dir, min_weight=1)
    seed = staged(
        spark, "seed/w1", sf_dir, ("lineitem",),
        lambda: edges.agg(F.min("part_a")).collect()[0][0],
    )
    u = cached_undirected_layout(spark, sf_dir, min_weight=1)
    return bfs_distances(edges, seed, _BFS_HOPS, u_layout=u)


register(
    "graph_bfs_frontier",
    _bfs_frontier,
    f"""
    WITH RECURSIVE
    li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
        FROM li a
        JOIN li b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    u AS (
        SELECT part_a AS src, part_b AS dst FROM e
        UNION ALL
        SELECT part_b, part_a FROM e
    ),
    bfs(node, hop) AS (
        SELECT (SELECT min(part_a) FROM e), 0
        UNION
        SELECT u.dst, bfs.hop + 1
        FROM bfs JOIN u ON u.src = bfs.node
        WHERE bfs.hop < {_BFS_HOPS}
    )
    SELECT node, CAST(min(hop) AS INTEGER) AS dist
    FROM bfs GROUP BY node
    """,
)


# ---------------------------------------------------------------------------
# weighted shortest path: Bellman-Ford relaxation rounds
# ---------------------------------------------------------------------------

_BF_ROUNDS = 3


def _shortest_path_bf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum total edge weight from part 0 using <= 3 edges, on the
    weight>=2 co-purchase graph (weights as integer costs — exact
    BIGINT arithmetic end to end, no float drift). Bellman-Ford
    expressed relationally: each round unions the current distance
    relation with every one-edge relaxation and takes min(cost) per
    node; k rounds give exact <=k-edge shortest costs. Per-round
    staging (the pagerank/BFS pattern) keeps round N's plan
    from replaying rounds 1..N-1. Round cost: one join of the
    distance relation (<=|V| rows) against the edge list + one
    min-aggregate — the Pregel SSSP shape. The oracle unrolls the
    same three rounds as CTEs (DuckDB's recursive CTE cannot
    aggregate per iteration). Seed = smallest node in the edge set
    (see _bfs_frontier: a fixed literal is isolated at sf0.1), staged
    with its edges."""
    edges = cached_edges(spark, sf_dir, min_weight=2)
    seed = staged(
        spark, "seed/w2", sf_dir, ("lineitem",),
        lambda: edges.agg(F.min("part_a")).collect()[0][0],
    )
    return shortest_path_bf(edges, seed, _BF_ROUNDS)


register(
    "graph_shortest_path_weighted",
    _shortest_path_bf,
    f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS w
        FROM li a
        JOIN li b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    u AS (SELECT pa AS s, pb AS d, w FROM e
          UNION ALL SELECT pb AS s, pa AS d, w FROM e),
    d0 AS (SELECT (SELECT min(pa) FROM e) AS node, CAST(0 AS BIGINT) AS c),
    d1 AS (SELECT node, min(c) AS c FROM (
        SELECT node, c FROM d0 UNION ALL
        SELECT u.d AS node, d0.c + u.w AS c FROM d0 JOIN u ON u.s = d0.node
    ) GROUP BY node),
    d2 AS (SELECT node, min(c) AS c FROM (
        SELECT node, c FROM d1 UNION ALL
        SELECT u.d AS node, d1.c + u.w AS c FROM d1 JOIN u ON u.s = d1.node
    ) GROUP BY node),
    d3 AS (SELECT node, min(c) AS c FROM (
        SELECT node, c FROM d2 UNION ALL
        SELECT u.d AS node, d2.c + u.w AS c FROM d2 JOIN u ON u.s = d2.node
    ) GROUP BY node)
    SELECT node, c FROM d3
    """,
)


# ---------------------------------------------------------------------------
# k-core decomposition (iterative peeling)
# ---------------------------------------------------------------------------

_KCORE_K = 3


_KCORE_ROUNDS = 3


def _kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling on the weight>=2 co-purchase graph: repeatedly
    drop nodes whose degree within the SURVIVING subgraph is < k
    (community-core extraction — the standard preprocessing cut before
    expensive per-node analytics). Three peeling rounds registered
    (1880 -> 1245 -> 1078 -> 1019 nodes at sf0.01 — each round does
    real work); a fixpoint loop is the same code with an emptiness
    check per round. Each round: semi-join the edge list to surviving
    nodes on BOTH endpoints, recount degrees, filter — edge-list-sized
    joins and aggregates, per-round staging (the established
    iteration pattern). Output: surviving nodes with their final-round
    in-core degree, exact BIGINTs; the oracle unrolls the same three
    rounds."""
    edges = cached_edges(spark, sf_dir, min_weight=2)
    u = stage(undirect(edges))
    alive = u.select(F.col("src").alias("node")).distinct()
    deg = None
    for _ in range(_KCORE_ROUNDS):
        a = alive.select(F.col("node").alias("_na"))
        b = alive.select(F.col("node").alias("_nb"))
        deg = (
            u.join(a, u["src"] == F.col("_na"), "left_semi")
            .join(b, u["dst"] == F.col("_nb"), "left_semi")
            .groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).alias("degree"))
        )
        alive = stage(
            deg.where(F.col("degree") >= _KCORE_K)
            .select("node")
        )
    return deg.join(alive, "node", "left_semi").select("node", "degree")


register(
    "graph_kcore",
    _kcore,
    f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM li a
        JOIN li b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    u AS (SELECT pa AS s, pb AS d FROM e
          UNION ALL SELECT pb AS s, pa AS d FROM e),
    n0 AS (SELECT DISTINCT s AS node FROM u),
    d1 AS (SELECT u.s AS node, count(*) AS dg FROM u
           JOIN n0 a ON u.s = a.node JOIN n0 b ON u.d = b.node GROUP BY 1),
    n1 AS (SELECT node FROM d1 WHERE dg >= {_KCORE_K}),
    d2 AS (SELECT u.s AS node, count(*) AS dg FROM u
           JOIN n1 a ON u.s = a.node JOIN n1 b ON u.d = b.node GROUP BY 1),
    n2 AS (SELECT node FROM d2 WHERE dg >= {_KCORE_K}),
    d3 AS (SELECT u.s AS node, count(*) AS dg FROM u
           JOIN n2 a ON u.s = a.node JOIN n2 b ON u.d = b.node GROUP BY 1),
    n3 AS (SELECT node FROM d3 WHERE dg >= {_KCORE_K})
    SELECT d3.node, d3.dg AS degree
    FROM d3 JOIN n3 ON d3.node = n3.node
    """,
)


# ---------------------------------------------------------------------------
# local clustering coefficient
# ---------------------------------------------------------------------------


def _clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the weight>=2
    co-purchase graph: cc(v) = 2·T(v) / (deg(v)·(deg(v)-1)), cc = 0 for
    degree-1 nodes. T(v) comes from the canonical a<b<c wedge join
    (functions/graph.py triangle_count) with each closed triangle
    exploded to its three corners; degrees from the undirected
    expansion. Both factors are exact BIGINTs, so the quotient is one
    IEEE division of identical operands on both engines — bit-exact.

    Scale: the edge relation is the thresholded co-purchase graph
    (broadcastable at bench scale; past the broadcast threshold,
    re-orient by degree and sort-merge exactly as
    graph_triangle_orient does — T(v) per corner falls out of the same
    oriented closure by exploding [u,v,w] instead of counting)."""
    edges = cached_edges(spark, sf_dir, min_weight=2)
    e1 = edges.select(F.col("part_a").alias("a"), F.col("part_b").alias("b"))
    e2 = edges.select(F.col("part_a").alias("b2"), F.col("part_b").alias("c"))
    e3 = edges.select(F.col("part_a").alias("a3"), F.col("part_b").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    per_node_t = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("tri_count"))
    )
    deg = degrees(edges)
    joined = deg.join(per_node_t, "node", "left").select(
        "node",
        "degree",
        F.coalesce("tri_count", F.lit(0)).alias("tri_count"),
    )
    cc = F.when(F.col("degree") < 2, F.lit(0.0)).otherwise(
        (F.lit(2) * F.col("tri_count")).cast("double")
        / (F.col("degree") * (F.col("degree") - 1)).cast("double")
    )
    return joined.select("node", "degree", "tri_count", cc.alias("cc"))


register(
    "graph_clustering_coefficient",
    _clustering_coefficient,
    f"""
    WITH {EDGE_CTE},
    ew AS (SELECT part_a, part_b FROM e WHERE weight >= 2),
    tri AS (
        SELECT e1.part_a AS a, e1.part_b AS b, e2.part_b AS c
        FROM ew e1
        JOIN ew e2 ON e1.part_b = e2.part_a
        JOIN ew e3 ON e3.part_a = e1.part_a AND e3.part_b = e2.part_b
    ),
    corners AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    ),
    per_node_t AS (
        SELECT node, count(*) AS tri_count FROM corners GROUP BY node
    ),
    deg AS (
        SELECT node, count(*) AS degree FROM (
            SELECT part_a AS node FROM ew
            UNION ALL SELECT part_b FROM ew
        ) GROUP BY node
    )
    SELECT d.node,
           CAST(d.degree AS BIGINT) AS degree,
           CAST(COALESCE(t.tri_count, 0) AS BIGINT) AS tri_count,
           CASE WHEN d.degree < 2 THEN 0.0
                ELSE CAST(2 * COALESCE(t.tri_count, 0) AS DOUBLE)
                     / CAST(d.degree * (d.degree - 1) AS DOUBLE)
           END AS cc
    FROM deg d LEFT JOIN per_node_t t ON d.node = t.node
    """,
)


# ---------------------------------------------------------------------------
# HITS hubs & authorities, two unnormalized iterations
# ---------------------------------------------------------------------------


def _hits_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synchronous HITS iterations over the co-purchase graph
    directed by its canonical (low id → high id) orientation. h⁰ ≡ 1,
    then auth¹(v) = Σ_{u→v} h⁰(u) = in-degree, hub¹(u) = Σ_{u→v}
    auth¹(v), auth²(v) = Σ_{u→v} hub¹(u). Skipping the usual L2
    normalization keeps every score a BIGINT — the ranking (the thing
    HITS is used for) is normalization-invariant, and the oracle is
    exact instead of ε-guarded like graph_pagerank's.

    Scale: each iteration is one equi-join of the edge list against the
    previous O(V) score vector plus one aggregate. The score side
    carries NO forced broadcast hint (it is node-sized
    — linearly growing — and a hint never falls back past the
    threshold): at bench scale the threshold/AQE broadcast it anyway;
    at billions of nodes the join goes shuffle-hash on the edge layout,
    exactly as bfs_distances does. The edge list is never broadcast and
    never re-derived (cached_edges materializes it once per session)."""
    edges = cached_edges(spark, sf_dir, min_weight=2).select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst")
    )
    auth1 = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("auth_1"))
    hub1 = (
        edges.join(auth1, "dst")
        .groupBy("src")
        .agg(F.sum("auth_1").alias("hub_1"))
    )
    auth2 = (
        edges.join(hub1, "src")
        .groupBy("dst")
        .agg(F.sum("hub_1").alias("auth_2"))
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select("dst"))
        .distinct()
    )
    return (
        nodes.join(auth1.withColumnRenamed("dst", "node"), "node", "left")
        .join(hub1.withColumnRenamed("src", "node"), "node", "left")
        .join(auth2.withColumnRenamed("dst", "node"), "node", "left")
        .select(
            "node",
            F.coalesce("auth_1", F.lit(0)).cast("long").alias("auth_1"),
            F.coalesce("hub_1", F.lit(0)).cast("long").alias("hub_1"),
            F.coalesce("auth_2", F.lit(0)).cast("long").alias("auth_2"),
        )
    )


register(
    "graph_hits_2iter",
    _hits_2iter,
    f"""
    WITH {EDGE_CTE},
    d AS (SELECT part_a AS src, part_b AS dst FROM e WHERE weight >= 2),
    auth1 AS (SELECT dst, count(*) AS auth_1 FROM d GROUP BY dst),
    hub1 AS (
        SELECT d.src, sum(a.auth_1) AS hub_1
        FROM d JOIN auth1 a ON d.dst = a.dst GROUP BY d.src
    ),
    auth2 AS (
        SELECT d.dst, sum(h.hub_1) AS auth_2
        FROM d JOIN hub1 h ON d.src = h.src GROUP BY d.dst
    ),
    nodes AS (
        SELECT DISTINCT src AS node FROM d
        UNION SELECT DISTINCT dst FROM d
    )
    SELECT n.node,
           CAST(COALESCE(a1.auth_1, 0) AS BIGINT) AS auth_1,
           CAST(COALESCE(h1.hub_1, 0) AS BIGINT) AS hub_1,
           CAST(COALESCE(a2.auth_2, 0) AS BIGINT) AS auth_2
    FROM nodes n
    LEFT JOIN auth1 a1 ON n.node = a1.dst
    LEFT JOIN hub1 h1 ON n.node = h1.src
    LEFT JOIN auth2 a2 ON n.node = a2.dst
    """,
)


# ---------------------------------------------------------------------------
# modularity of the LPA communities (exact integer identity)
# ---------------------------------------------------------------------------


def _graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the LPA community assignment — the
    quality score that says whether the detected communities are real
    structure (Q near 0 = no better than random wiring). Computed via
    the integer identity Q = (4m·E_in − Σ_c d_c²) / 4m²: every
    aggregate (intra-community edge count E_in, per-community degree
    sums squared, edge count m) is a pure BIGINT — community terms are
    NEVER summed as floats (a per-community float Σ would be
    partition-order-dependent) — and Q is ONE division of identical
    integers on both engines. Bit-exact, no rounding policy.

    Scale: labels come from the same deterministic synchronous LPA as
    graph_label_propagation (node-sized, broadcast onto the edge
    relation); the rest is three partial-aggregable counts."""
    from orchestrated_etl_spark.functions.graph import (
        label_propagation,
    )

    edges = cached_edges(spark, sf_dir, min_weight=2)
    labels = label_propagation(edges, iterations=3)
    la = labels.select(
        F.col("node").alias("part_a"), F.col("community").alias("ca")
    )
    lb = labels.select(
        F.col("node").alias("part_b"), F.col("community").alias("cb")
    )
    # No forced broadcast on the label vector: it is
    # O(V) — node-sized, linearly growing. Threshold/AQE broadcast it
    # at bench scale; the joins shuffle on the node id past that.
    intra = (
        edges.join(la, "part_a")
        .join(lb, "part_b")
        .where(F.col("ca") == F.col("cb"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    m = edges.agg(F.count(F.lit(1)).alias("m"))
    d2 = (
        degrees(edges)
        .join(
            labels.withColumnRenamed("community", "c"), "node"
        )
        .groupBy("c")
        .agg(F.sum("degree").alias("d_c"))
        .agg(
            F.sum(F.col("d_c") * F.col("d_c")).alias("sum_d_sq"),
            F.count(F.lit(1)).alias("n_communities"),
        )
    )
    return (
        intra.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(d2))
        .select(
            "m",
            "e_in",
            "n_communities",
            "sum_d_sq",
            (
                (
                    F.lit(4) * F.col("m") * F.col("e_in")
                    - F.col("sum_d_sq")
                ).cast("double")
                / (F.lit(4) * F.col("m") * F.col("m")).cast("double")
            ).alias("modularity"),
        )
    )


def _modularity_oracle() -> str:
    return f"""
    WITH {EDGE_CTE},
    {_LPA_ROUNDS_CTE},
    ew AS (SELECT part_a, part_b FROM e WHERE weight >= 2),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ew),
    intra AS (
        SELECT CAST(count(*) AS BIGINT) AS e_in
        FROM ew
        JOIN l3 a ON ew.part_a = a.node
        JOIN l3 b ON ew.part_b = b.node
        WHERE a.label = b.label
    ),
    deg AS (
        SELECT node, count(*) AS degree FROM (
            SELECT part_a AS node FROM ew
            UNION ALL SELECT part_b FROM ew
        ) GROUP BY node
    ),
    dc AS (
        SELECT l.label AS c, CAST(sum(d.degree) AS BIGINT) AS d_c
        FROM deg d JOIN l3 l ON d.node = l.node
        GROUP BY l.label
    ),
    d2 AS (
        SELECT CAST(sum(d_c * d_c) AS BIGINT) AS sum_d_sq,
               CAST(count(*) AS BIGINT) AS n_communities
        FROM dc
    )
    SELECT m.m, i.e_in, d2.n_communities, d2.sum_d_sq,
           CAST(4 * m.m * i.e_in - d2.sum_d_sq AS DOUBLE)
               / CAST(4 * m.m * m.m AS DOUBLE) AS modularity
    FROM intra i, m, d2
    """


register("graph_modularity", _graph_modularity, _modularity_oracle())
