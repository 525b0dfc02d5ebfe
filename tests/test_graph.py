"""Graph-family tests: semantics pinned on hand-built graphs (triangle
count, walk counts, PageRank vs a pure-numpy power iteration) and plan
shape for the edge derivation (no self-join of lineitem, bounded
map-side pair generation); BFS, Bellman-Ford, k-core, clustering
coefficients and HITS on planted graphs."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from orchestrated_etl_spark.functions.graph import (
    copurchase_edges,
    degrees,
    pagerank,
    triangle_count,
    triangle_count_oriented,
)


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [(a, b) for a, b in pairs], "part_a long, part_b long"
    )


# ---------------------------------------------------------------------------
# semantics on hand-built graphs
# ---------------------------------------------------------------------------


def test_triangle_count_k4(spark):
    """K4 (complete graph on 4 nodes) has exactly 4 triangles; adding a
    pendant edge adds none."""
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    assert triangle_count(_edges_df(spark, k4)).collect()[0][0] == 4
    assert (
        triangle_count(_edges_df(spark, k4 + [(4, 9)])).collect()[0][0] == 4
    )


def test_triangle_oriented_matches_canonical(spark):
    """Degree-orientation triangle count equals the canonical a<b<c join
    on K4 + pendant (4 triangles) and on a triangle-free star (0), and
    its physical plan contains NO broadcast join — the orientation
    layout must keep every join sort-merge so it survives edge lists
    past the broadcast threshold."""
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    df = triangle_count_oriented(_edges_df(spark, k4 + [(4, 9)]))
    assert df.collect()[0][0] == 4
    star = [(1, n) for n in range(2, 8)]
    assert triangle_count_oriented(_edges_df(spark, star)).collect()[0][0] == 0
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan and "BroadcastNestedLoop" not in plan
    assert "SortMergeJoin" in plan


def test_degrees_path_graph(spark):
    """Path 1-2-3: endpoints degree 1, middle degree 2."""
    got = {
        r["node"]: r["degree"]
        for r in degrees(_edges_df(spark, [(1, 2), (2, 3)])).collect()
    }
    assert got == {1: 1, 2: 2, 3: 1}


def test_pagerank_matches_numpy_power_iteration(spark):
    """3 iterations on an asymmetric graph must match the same
    recurrence computed densely in numpy to float tolerance."""
    pairs = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (1, 5), (2, 6)]
    nodes = sorted({n for p in pairs for n in p})
    idx = {n: i for i, n in enumerate(nodes)}
    adj = np.zeros((len(nodes), len(nodes)))
    for a, b in pairs:
        adj[idx[a], idx[b]] = adj[idx[b], idx[a]] = 1.0
    deg = adj.sum(axis=1)
    r = np.ones(len(nodes))
    for _ in range(3):
        r = 0.15 + 0.85 * adj.T @ (r / deg)
    got = {
        row["node"]: row["rank"]
        for row in pagerank(_edges_df(spark, pairs), iterations=3).collect()
    }
    for n in nodes:
        assert abs(got[n] - r[idx[n]]) < 1e-12, (n, got[n], r[idx[n]])


def test_walk_centrality_star(spark, sf_dir):
    """On a star K1,3 the hub's k-step walk count is 3 (leaves each send
    their walks back), leaves get the hub's previous count — exact
    integer recurrence, checked two rounds deep by hand.
    W0 = 1 everywhere; W1(hub) = 3, W1(leaf) = 1;
    W2(hub) = 3, W2(leaf) = 3; W3(hub) = 9, W3(leaf) = 3."""
    from orchestrated_etl_spark.queries.graph import (
        _graph_walk_centrality,  # noqa: F401  (registry import path)
    )

    star = _edges_df(spark, [(1, 2), (1, 3), (1, 4)])
    from orchestrated_etl_spark.functions.graph import undirect

    ed = undirect(star)
    walks = (
        ed.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.lit(1).cast("long").alias("w"))
    )
    for _ in range(3):
        walks = (
            ed.join(walks, ed.src == walks.node)
            .groupBy(F.col("dst").alias("n2"))
            .agg(F.sum("w").alias("w"))
            .select(F.col("n2").alias("node"), "w")
        )
    got = {r["node"]: r["w"] for r in walks.collect()}
    assert got == {1: 9, 2: 3, 3: 3, 4: 3}


# ---------------------------------------------------------------------------
# plan shape
# ---------------------------------------------------------------------------


def test_edge_derivation_is_not_a_self_join(spark, sf_dir):
    """The co-purchase pair generation must be the single-scan
    groupBy-then-explode shape: exactly ONE lineitem scan (a self-join
    would show two) and no join node before the pair aggregate."""
    plan = (
        copurchase_edges(spark, sf_dir, min_weight=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("lineitem") <= 1, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan


def test_edge_scan_prunes_columns(spark, sf_dir):
    """The lineitem scan under the edge derivation must read only the
    two key columns."""
    plan = (
        copurchase_edges(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert rs and "l_orderkey" in rs[0] and "l_partkey" in rs[0], plan
    assert "l_quantity" not in rs[0] and "l_comment" not in rs[0], plan


def test_label_propagation_two_communities(spark):
    """Barbell graph: two triangles {1,2,3} and {10,11,12} joined by a
    single bridge edge (3,10). After 3 synchronous rounds with
    smallest-label ties, each triangle converges to its own minimum
    label — the bridge is outvoted by the in-triangle majority."""
    from orchestrated_etl_spark.functions.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2, 2), (1, 3, 2), (2, 3, 2),
         (10, 11, 2), (10, 12, 2), (11, 12, 2),
         (3, 10, 2)],
        "part_a long, part_b long, weight long",
    )
    got = {
        r["node"]: r["community"]
        for r in label_propagation(edges, iterations=3).collect()
    }
    assert got[1] == got[2] == got[3]
    assert got[10] == got[11] == got[12]
    assert got[1] != got[10]


# ---------------------------------------------------------------------------
# stage(keep_partitioning=True): partitioning visibility through staging
# ---------------------------------------------------------------------------


def test_staged_checkpoint_preserves_partitioning_and_conf(spark):
    """A plain localCheckpoint under AQE reports UnknownPartitioning, so
    co-partitioned joins re-exchange BOTH sides; staging with
    keep_partitioning must (a) keep the hashpartitioning visible — a
    shuffle_hash join of two layouts staged on the join keys plans with
    ZERO exchanges — and (b) restore spark.sql.adaptive.enabled
    afterwards."""
    from orchestrated_etl_spark.compat import stage

    before = spark.conf.get("spark.sql.adaptive.enabled")
    a = stage(spark.range(0, 5000).repartition(8, "id"), keep_partitioning=True)
    b = stage(
        spark.range(0, 5000).select(F.col("id").alias("id2"))
        .repartition(8, "id2"),
        keep_partitioning=True,
    )
    assert spark.conf.get("spark.sql.adaptive.enabled") == before
    plan = (
        a.hint("shuffle_hash").join(b, a["id"] == b["id2"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange hashpartitioning" not in plan, plan
    # the plain-checkpoint control: partitioning lost, exchanges back
    c = spark.range(0, 5000).repartition(8, "id").localCheckpoint()
    d = (
        spark.range(0, 5000).select(F.col("id").alias("id2"))
        .repartition(8, "id2").localCheckpoint()
    )
    control = (
        c.hint("shuffle_hash").join(d, c["id"] == d["id2"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert control.count("Exchange hashpartitioning") == 2, control


@pytest.mark.parametrize("width", [None, 16], ids=["session", "16"])
def test_bfs_round_join_is_exchange_free(spark, width):
    """The bfs_distances round body must join the frontier against the
    staged edge layout with no exchange on either side, whatever the
    shuffle width: the test session's 8 and 16 both differ from the core
    count of a 4-core host, where a layout staged at the core count had
    its edge side re-keyed every round."""
    from orchestrated_etl_spark.compat import staged_checkpoint
    from orchestrated_etl_spark.functions.graph import src_layout, undirect

    pairs = [(i, i + 1) for i in range(200)]
    edges = _edges_df(spark, pairs)
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    if width is not None:
        spark.conf.set(key, str(width))
    try:
        u = src_layout(undirect(edges))
        # replicate the real loop: round 1 expands an RDD-backed seed, the
        # staged min-aggregate re-partitions by node, round 2's frontier is
        # a filter of that staged relation.
        seed = (
            spark.createDataFrame([(0, 0)], "node long, dist int")
            .localCheckpoint(eager=True)
        )
        expanded = (
            seed.select("node").hint("shuffle_hash")
            .join(u, F.col("node") == u["src"])
            .select(
                F.col("dst").alias("node"), F.lit(1).cast("int").alias("dist")
            )
        )
        dist = staged_checkpoint(
            seed.unionByName(expanded)
            .groupBy("node").agg(F.min("dist").alias("dist"))
        )
        frontier = dist.filter(F.col("dist") == 1).select("node")
        plan = (
            frontier.hint("shuffle_hash").join(u, frontier["node"] == u["src"])
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set(key, saved)
    # the edge layout must NEVER be re-keyed, and with the layout at the
    # aggregate's width neither side moves
    assert "Exchange hashpartitioning(src" not in plan, plan
    assert "Exchange" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan


def test_bfs_distances_hand_graph(spark):
    """Path graph 1-2-3-4-5 plus an unreachable node 9: distances from 1
    capped at 3 hops; node 5 (4 hops) and node 9 excluded."""
    from orchestrated_etl_spark.functions.graph import bfs_distances

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)],
        "part_a long, part_b long",
    )
    out = {r["node"]: r["dist"] for r in bfs_distances(edges, 1, 3).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 3}


def test_shortest_path_bf_hand_graph(spark):
    """Triangle with a heavy direct edge: 0-2 direct costs 10, but
    0-1-2 costs 2+3=5; 3 rounds must find the cheaper 2-edge path."""
    from orchestrated_etl_spark.functions.graph import shortest_path_bf

    edges = spark.createDataFrame(
        [(0, 1, 2), (1, 2, 3), (0, 2, 10)],
        "part_a long, part_b long, weight long",
    )
    out = {
        r["node"]: r["c"] for r in shortest_path_bf(edges, 0, 3).collect()
    }
    assert out == {0: 0, 1: 2, 2: 5}


def test_kcore_peels_tail_nodes(spark, tmp_path, monkeypatch):
    """Hand graph: a 4-clique (every node degree 3) plus a pendant chain;
    3-core peeling must keep exactly the clique with degree 3 each."""
    from orchestrated_etl_spark.queries import graph as G

    edges = spark.createDataFrame(
        # 4-clique 1-2-3-4 + chain 4-5-6
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
        "part_a long, part_b long",
    )
    monkeypatch.setattr(
        G, "cached_edges", lambda spark, sf_dir, min_weight=2: edges
    )
    out = {r["node"]: r["degree"] for r in G._kcore(spark, "ignored").collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


# Planted co-purchase lineitem: orders {1,2,3}x2 and {1,4}x2 give the
# weight>=2 edge set {(1,2),(1,3),(2,3),(1,4)} — a triangle 1-2-3 with
# pendant 4 hanging off node 1.
_LINEITEM_ROWS = [
    (1, 1), (1, 2), (1, 3),
    (2, 1), (2, 2), (2, 3),
    (3, 1), (3, 4),
    (4, 1), (4, 4),
]


def _write_lineitem(spark, tmp_path) -> str:
    df = spark.createDataFrame(
        _LINEITEM_ROWS, "l_orderkey long, l_partkey long"
    )
    sf_dir = str(tmp_path)
    df.write.parquet(f"{sf_dir}/lineitem.parquet")
    return sf_dir


def test_clustering_coefficient_planted(spark, tmp_path):
    from orchestrated_etl_spark.queries.graph import _clustering_coefficient

    sf_dir = _write_lineitem(spark, tmp_path)
    out = {
        r["node"]: (r["degree"], r["tri_count"], r["cc"])
        for r in _clustering_coefficient(spark, sf_dir).collect()
    }
    # node 1: degree 3 (2,3,4), 1 triangle -> 2*1/(3*2) = 1/3
    assert out[1] == (3, 1, 2.0 / 6.0)
    # nodes 2,3: degree 2, 1 triangle -> fully clustered
    assert out[2] == (2, 1, 1.0)
    assert out[3] == (2, 1, 1.0)
    # pendant node 4: degree 1 -> cc pinned to 0.0, not 0/0
    assert out[4] == (1, 0, 0.0)
    assert len(out) == 4


def test_hits_2iter_planted(spark, tmp_path):
    from orchestrated_etl_spark.queries.graph import _hits_2iter

    sf_dir = _write_lineitem(spark, tmp_path)
    out = {
        r["node"]: (r["auth_1"], r["hub_1"], r["auth_2"])
        for r in _hits_2iter(spark, sf_dir).collect()
    }
    # directed edges (low->high): 1->2, 1->3, 2->3, 1->4
    # auth1 = in-degree; hub1(u) = sum auth1 over u's out-neighbors;
    # auth2(v) = sum hub1 over v's in-neighbors.
    assert out[1] == (0, 1 + 2 + 1, 0)
    assert out[2] == (1, 2, 4)
    assert out[3] == (2, 0, 4 + 2)
    assert out[4] == (1, 0, 4)
    assert len(out) == 4
