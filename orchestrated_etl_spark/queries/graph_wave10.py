"""Wave-10: graph analytics over relational data.

The reference DAG (dags/dag.py) never leaves tabular land, but a corpus
engine needs graph primitives: co-occurrence edges power related-item
retrieval, triangle density measures community structure, and
walk/PageRank centrality ranks nodes for sampling and quality weighting
(dedup cluster collapse in functions/dedup.py is already a graph
algorithm). All four queries derive the SAME co-purchase graph from
``lineitem`` — parts appearing in the same order — and are
DuckDB-oracle-checked end to end, including the iterative PageRank
(unrolled as CTEs on the oracle side).

Float policy note (registry docstring): PageRank values are rationals
with 2- and 5-rich denominators (damping 17/20, degree divisors), so
exact terminating decimals sitting ON a round() HALF-boundary are
likely, not measure-zero. Both engines therefore round
``rank + 1e-9``: the ε is 4 orders of magnitude below the rounding
quantum (1e-4) and 4 above the worst-case summation drift (~1e-13), so
it pushes exactly-on-boundary values safely off the boundary on BOTH
engines without changing any non-boundary digit. Walk centrality needs
no such care — it is pure BIGINT arithmetic, exact everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orchestrated_etl_spark.functions.graph import (
    cached_edges,
    degrees,
    pagerank,
    triangle_count,
    triangle_count_oriented,
    undirect,
)
from orchestrated_etl_spark.registry import register

# Shared oracle CTE: canonical (a<b) co-purchase edges with weight.
_EDGE_CTE = """
    li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS weight
        FROM li a
        JOIN li b ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )
"""


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
    WITH {_EDGE_CTE}
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
    WITH {_EDGE_CTE},
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
    WITH {_EDGE_CTE},
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
    WITH {_EDGE_CTE},
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
    ed = undirect(
        cached_edges(spark, sf_dir, min_weight=2)
    ).localCheckpoint(eager=True)
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
    WITH {_EDGE_CTE},
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
    WITH {_EDGE_CTE},
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


# Shared 3-round synchronous-LPA CTE chain (also consumed by
# wave15_round4's modularity query).
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
    WITH {_EDGE_CTE},
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

    Scale shape (round-16 review, honest form): the wedge join pairs
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
    WITH {_EDGE_CTE},
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
    WITH {_EDGE_CTE},
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
