"""Round-4 planted-fixture semantics tests (round-3 advice items):

- join_null_safe_eq must genuinely exercise the null-safe path: NULL
  keys on BOTH sides join to each other (anonymous bucket), surface the
  -1 sentinel and is_anonymous=true.
- sq8_topk's id-space contract: with exclude_self=False an external
  query whose id numerically collides with an unrelated corpus id must
  NOT lose that corpus vector as a candidate.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F


def test_null_safe_join_planted_null_keys(spark, tmp_path):
    """Planted events where user_id % 7 == 0 rows exist on both the
    click and purchase side: the anonymized NULL keys must merge into
    ONE anonymous row via <=>, not be dropped (plain equi-join) nor
    cross-matched per NULL (SQL NULL != NULL)."""
    from orchestrated_etl_spark.queries.relational import _null_safe_join

    ts = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    rows = [
        # user 7 and 14 -> anonymized to NULL by the query's % 7 rule
        (1, ts, 7, "click", 1.0, "{}"),
        (2, ts, 14, "click", 1.0, "{}"),
        (3, ts, 7, "purchase", 1.0, "{}"),
        # named user on both sides
        (4, ts, 3, "click", 1.0, "{}"),
        (5, ts, 3, "purchase", 1.0, "{}"),
        # named user on one side only
        (6, ts, 5, "purchase", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    sf_dir = str(tmp_path)
    df.write.parquet(f"{sf_dir}/events.parquet")

    out = {
        r["user_key"]: (r["n_clicks"], r["n_purchases"], r["is_anonymous"])
        for r in _null_safe_join(spark, sf_dir).collect()
    }
    # ONE anonymous row: 2 clicks (users 7,14) null-safe-joined to
    # 1 purchase (user 7); sentinel -1; is_anonymous=true.
    assert out[-1] == (2, 1, True)
    assert out[3] == (1, 1, False)
    assert out[5] == (0, 1, False)
    assert len(out) == 3


def test_sq8_topk_external_query_id_collision(spark):
    """Corpus ids 0..3; an EXTERNAL query reuses id 2. With
    exclude_self=False the unrelated corpus vector 2 stays a candidate
    (it is the query's true nearest neighbor here); with the default
    exclude_self=True it is silently dropped — the documented
    corpus-subset-only behavior."""
    from orchestrated_etl_spark.functions import similarity as SIM

    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0, 0.0]),
            (2, [0.0, 0.0, 1.0, 0.0]),  # the collided-id vector
            (3, [0.0, 0.0, 0.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    # external query: id happens to equal corpus id 2, vector is nearly
    # corpus vector 2's direction
    queries = spark.createDataFrame(
        [(2, [0.0, 0.1, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )

    with_self = SIM.sq8_topk(
        queries, corpus, "vec_id", "embedding", 1, exclude_self=False
    ).collect()
    assert [r["neighbor_id"] for r in with_self] == [2]

    without = SIM.sq8_topk(
        queries, corpus, "vec_id", "embedding", 1
    ).collect()
    assert [r["neighbor_id"] for r in without] == [1]  # true NN excluded


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


def test_cep_pattern_counts_episodes(spark, tmp_path):
    """view click purchase | view purchase -> 2 episodes; a purchase-free
    user and a purchase-before-view user -> no row."""
    import datetime

    from orchestrated_etl_spark.queries.events import _cep_conversion

    t0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)

    def row(eid, uid, typ, minute):
        return (
            eid,
            t0 + datetime.timedelta(minutes=minute),
            uid,
            typ,
            1.0,
            "{}",
        )

    rows = [
        # user 1: view click purchase view purchase -> 2 conversions
        row(1, 1, "view", 0),
        row(2, 1, "click", 1),
        row(3, 1, "purchase", 2),
        row(4, 1, "view", 3),
        row(5, 1, "purchase", 4),
        # user 2: view click click -> none
        row(6, 2, "view", 0),
        row(7, 2, "click", 1),
        row(8, 2, "click", 2),
        # user 3: purchase view -> none
        row(9, 3, "purchase", 0),
        row(10, 3, "view", 1),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    sf_dir = str(tmp_path)
    df.write.parquet(f"{sf_dir}/events.parquet")
    out = {
        r["user_id"]: r["n_conversions"]
        for r in _cep_conversion(spark, sf_dir).collect()
    }
    assert out == {1: 2}


def test_bloom_prefilter_prunes_but_never_drops(spark, sf_dir):
    """The Bloom pre-filtered join must equal the plain exact join (the
    oracle relation) — false positives are filtered by the exact join;
    false negatives must not exist by construction (same hash exprs on
    build and probe)."""
    from pyspark.sql import functions as F  # noqa: F811

    from orchestrated_etl_spark.queries.relational import bloom_prefilter_core

    sup = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .where(F.col("s_suppkey") % 3 == 0)  # sf0.001 has no acctbal>9000
        .select("s_suppkey")
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    got = {
        r["s_suppkey"]: (r["n_items"], r["revenue"])
        for r in bloom_prefilter_core(sup, li).collect()
    }
    exact = {
        r["s_suppkey"]: (r["n_items"], r["revenue"])
        for r in (
            li.join(sup, li.l_suppkey == sup.s_suppkey)
            .groupBy("s_suppkey")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (
                        F.lit(1).cast("decimal(18,2)")
                        - F.col("l_discount").cast("decimal(18,2)")
                    )
                )
                .cast("double")
                .alias("revenue"),
            )
        ).collect()
    }
    assert got == exact and len(got) > 0


def test_snapshot_diff_classifies(spark, sf_dir):
    """Spot-check the three change classes against the mutation rules."""
    from orchestrated_etl_spark.queries.relational import _snapshot_diff

    rows = _snapshot_diff(spark, sf_dir).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["change_type"], []).append(r)
    assert all(r["o_orderkey"] % 50 == 0 for r in by_type["delete"])
    assert all(
        r["o_orderkey"] % 7 == 0 and r["new_price"] == r["old_price"] + 100.0
        for r in by_type["update"]
    )
    assert all(
        r["o_orderkey"] >= 10_000_000 and r["old_price"] is None
        for r in by_type["insert"]
    )


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


def test_skyline_hand_points(spark, tmp_path):
    """Planted catalog: (1,1) dominates everything except the duplicate
    pair — exact duplicates are NOT strictly dominated and both
    survive alongside the unique minimum."""
    from orchestrated_etl_spark.queries.relational import _skyline

    rows = [
        (1, 910.0, 5),   # skyline
        (2, 905.0, 9),   # skyline (cheaper, bigger)
        (3, 910.0, 6),   # dominated by 1
        (4, 990.0, 5),   # dominated by 1 (same size, pricier)
        (5, 902.0, 30),  # skyline (cheapest)
        (6, 902.0, 30),  # exact duplicate of 5: both survive
    ]
    df = spark.createDataFrame(
        rows, "p_partkey long, p_retailprice double, p_size int"
    )
    sf_dir = str(tmp_path)
    df.write.parquet(f"{sf_dir}/part.parquet")
    keys = sorted(
        r["p_partkey"] for r in _skyline(spark, sf_dir).collect()
    )
    assert keys == [1, 2, 5, 6]


def test_interval_coverage_merges_overlaps(spark, tmp_path):
    """User 1: events at t0 and t0+5m overlap -> ONE 15-minute span;
    user 2: events 20m apart -> TWO 10-minute spans."""
    import datetime

    from orchestrated_etl_spark.queries.events import _interval_coverage

    t0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    rows = [
        (1, t0, 1, "view", 1.0, "{}"),
        (2, t0 + datetime.timedelta(minutes=5), 1, "view", 1.0, "{}"),
        (3, t0, 2, "view", 1.0, "{}"),
        (4, t0 + datetime.timedelta(minutes=20), 2, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    sf_dir = str(tmp_path)
    df.write.parquet(f"{sf_dir}/events.parquet")
    out = {
        r["user_id"]: (r["n_spans"], r["covered_seconds"])
        for r in _interval_coverage(spark, sf_dir).collect()
    }
    assert out == {1: (1, 15 * 60), 2: (2, 2 * 10 * 60)}


def test_spatial_join_grid_blocking_exactness(spark, sf_dir):
    """The grid-blocked spatial join must equal the naive all-pairs
    distance filter — cell blocking with a 3x3 neighborhood at cell
    size == radius can never miss a qualifying pair (any pair within
    r spans at most one cell boundary per axis)."""
    from pyspark.sql import functions as F  # noqa: F811

    from orchestrated_etl_spark.queries.relational import (
        _SPATIAL_R,
        _spatial_points,
        _spatial_radius_join,
    )
    from orchestrated_etl_spark.sources.catalog import read_events

    got = {
        (r["user_id"], r["store_id"], r["dist_sq"])
        for r in _spatial_radius_join(spark, sf_dir).collect()
    }
    ev = read_events(spark, sf_dir)
    users = _spatial_points(
        ev.where(F.col("user_id").isNotNull()).select("user_id").distinct(),
        "user_id", 2654435761, 0, 40503, 7,
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    stores = _spatial_points(
        part.where(F.col("p_partkey") < 200).select(
            F.col("p_partkey").alias("store_id")
        ),
        "store_id", 48271, 11, 69621, 3,
    )
    naive = {
        (r["user_id"], r["store_id"], r["dist_sq"])
        for r in users.alias("u")
        .crossJoin(stores.alias("s"))
        .select(
            "u.user_id",
            "s.store_id",
            (
                (F.col("u.x") - F.col("s.x")) * (F.col("u.x") - F.col("s.x"))
                + (F.col("u.y") - F.col("s.y"))
                * (F.col("u.y") - F.col("s.y"))
            ).alias("dist_sq"),
        )
        .where(F.col("dist_sq") <= _SPATIAL_R * _SPATIAL_R)
        .collect()
    }
    assert got == naive and len(got) > 0


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


def test_incremental_moments_match_varsamp(spark, sf_dir):
    """Merged stored-moment variance must agree with Spark's own
    var_samp over the raw data (same N, mean; variance within the
    1000-unit reporting grid)."""
    from pyspark.sql import functions as F  # noqa: F811

    from orchestrated_etl_spark.queries.aggregates import _incremental_moments

    got = {
        r["o_orderstatus"]: (r["n_rows"], r["mean_price"], r["var_price_k"])
        for r in _incremental_moments(spark, sf_dir).collect()
    }
    raw = {
        r["o_orderstatus"]: (r["n"], r["mean"], r["var"])
        for r in (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.avg("o_totalprice").alias("mean"),
                F.var_samp("o_totalprice").alias("var"),
            )
        ).collect()
    }
    assert set(got) == set(raw)
    for k, (n, mean, var_k) in got.items():
        rn, rmean, rvar = raw[k]
        assert n == rn
        assert abs(mean - rmean) < 1e-6
        assert abs(var_k - rvar / 1000.0) <= 1.0  # grid floor


def _write_orders(spark, path, days):
    """Minimal orders fixture: only the two columns _rolling_median
    reads (Catalyst prunes the rest anyway). ``days`` is a list of
    (date, totalprice) pairs; duplicate dates aggregate into one day."""
    rows = [(d, float(p)) for d, p in days]
    spark.createDataFrame(
        rows, "o_orderdate date, o_totalprice double"
    ).write.parquet(f"{path}/orders.parquet")


def test_rolling_median_sparse_bucket_guard(spark, tmp_path):
    """Round-14 advice: a non-final year bucket with < 6 rows can't
    donate a full 6-row pad tail, so the bounded-overlap rewrite's
    frames would under-fill — the guard must raise LOUDLY instead of
    returning silently wrong medians. 3 days per year over 3 years
    violates the precondition for 2024 and 2025."""
    import pytest

    from orchestrated_etl_spark.queries.relational import _rolling_median

    days = [
        (datetime.date(y, m, 15), 100.0 * m + y % 100)
        for y in (2024, 2025, 2026)
        for m in (1, 5, 9)
    ]
    _write_orders(spark, str(tmp_path), days)
    with pytest.raises(Exception, match="non-final year bucket"):
        _rolling_median(spark, str(tmp_path)).collect()


def test_rolling_median_matches_global_window_with_gap_year(
    spark, tmp_path
):
    """The bucketed rewrite must stay bit-identical to the single
    global ROWS BETWEEN 6 PRECEDING window on a series with (a) a
    wholly EMPTY year (pads must hop the gap into the next PRESENT
    year) and (b) a < 6-row FINAL bucket (legal: the last bucket never
    donates pads, so the guard must not fire)."""
    from pyspark.sql import Window

    from orchestrated_etl_spark.queries.relational import _rolling_median

    days = (
        # 2023: 10 days (dense donor)
        [(datetime.date(2023, 1, d), 10.0 * d) for d in range(1, 11)]
        # 2024: entirely absent (gap year)
        # 2025: 8 days
        + [(datetime.date(2025, 2, d), 7.0 * d + 3) for d in range(1, 9)]
        # 2026: 3 days — sparse but FINAL, so allowed
        + [(datetime.date(2026, 3, d), 5.0 * d) for d in range(1, 4)]
    )
    _write_orders(spark, str(tmp_path), days)
    got = {
        r["day"]: (r["rev"], r["med7"])
        for r in _rolling_median(spark, str(tmp_path)).collect()
    }

    daily = (
        spark.read.parquet(f"{tmp_path}/orders.parquet")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("rev")
        )
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    frame = F.array_sort(F.collect_list("rev").over(w))
    n = F.size(frame)
    hi = ((n + 1) / F.lit(2)).cast("int")
    lo = (n / F.lit(2)).cast("int")
    ref_med = F.when(n % 2 == 1, F.element_at(frame, hi)).otherwise(
        (F.element_at(frame, lo) + F.element_at(frame, lo + 1))
        / F.lit(2.0)
    )
    want = {
        r["day"]: (r["rev"], r["med7"])
        for r in daily.select("day", "rev", ref_med.alias("med7"))
        .collect()
    }
    assert got == want  # bit-identical, gap year + sparse final bucket
