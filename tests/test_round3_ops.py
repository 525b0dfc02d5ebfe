"""Hand-pinned semantics for round-3 operators, on planted fixtures the
oracle-agreement gate can't distinguish: quantile-cutoff bucketing rule,
cross-set incremental MinHash (planted near-dup), SemDedup drop rule
(planted duplicate vector), EWMA fold recurrence vs a pure-Python loop,
and the LOCF carry-forward contract.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_rfm_cutoff_rule_hand_graph(spark):
    """Histogram-derived quintile cutoffs: for values 1..10 (n=10),
    rank k_i = ceil(i*10/5) = 2,4,6,8 → cutoffs 2,4,6,8; score of v is
    1 + #cutoffs strictly below it."""
    from orchestrated_etl_spark.queries.analytics_wave5 import (
        _rfm_cutoff_1row,
    )

    df = spark.createDataFrame([(v,) for v in range(1, 11)], "v long")
    n_df = df.agg(F.count(F.lit(1)).alias("n"))
    cuts = _rfm_cutoff_1row(df, "v", n_df).collect()[0]
    assert (cuts["c1"], cuts["c2"], cuts["c3"], cuts["c4"]) == (2, 4, 6, 8)


def test_incremental_minhash_planted_neardup(spark):
    """An incoming doc nearly identical to a history doc is flagged with
    that history doc as its match; an unrelated incoming doc is not."""
    from orchestrated_etl_spark.functions.dedup import (
        incremental_minhash_flags,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows_hist = [(1, base), (2, "completely different words entirely here")]
    rows_in = [(10, base), (11, "nothing shares any shingle with history")]
    hist = spark.createDataFrame(rows_hist, "doc_id long, text string")
    inc = spark.createDataFrame(rows_in, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["is_neardup"], r["matched"])
        for r in incremental_minhash_flags(
            inc, hist, "doc_id", "text", threshold=0.9
        ).collect()
    }
    assert out[10] == (True, 1)
    assert out[11] == (False, -1)


def test_semdedup_drops_planted_duplicate(spark, sf_dir):
    """Duplicate the lowest-id embedding under a fresh high id: the
    clone must be assigned to the same cluster and DROPPED (cosine 1.0
    to a lower-id member), while the original stays kept."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    clone = emb.where(F.col("vec_id") == 20).select(
        F.lit(100000).cast("long").alias("vec_id"),
        "embedding",
        "label",
    )
    patched = emb.unionByName(clone)
    # run the registered pipeline on the patched frame
    from orchestrated_etl_spark.functions.similarity import (
        assign_to_centroids,
        dot,
        vec_norm,
    )

    centroids = patched.filter(F.col("vec_id") < 8)
    assigned = assign_to_centroids(patched, centroids, "vec_id", "embedding")
    a = assigned.select(
        F.col("_id").alias("id_a"), F.col("_vec").alias("_va"), "centroid_id"
    ).withColumn("_na", vec_norm(F.col("_va")))
    b = assigned.select(
        F.col("_id").alias("id_b"),
        F.col("_vec").alias("_vb"),
        F.col("centroid_id").alias("_cb"),
    ).withColumn("_nb", vec_norm(F.col("_vb")))
    pairs = a.join(
        b,
        (F.col("centroid_id") == F.col("_cb"))
        & (F.col("id_b") < F.col("id_a")),
    )
    cos = F.round(
        F.try_divide(
            dot(F.col("_va"), F.col("_vb")), F.col("_na") * F.col("_nb")
        ),
        6,
    )
    dropped = {
        r["id_a"]
        for r in pairs.where(cos >= 0.99).select("id_a").distinct().collect()
    }
    assert 100000 in dropped and 20 not in dropped


def test_ewma_fold_matches_python_loop(spark, sf_dir):
    """The array-fold EWMA equals the straightforward sequential Python
    recurrence, bit for bit, for every user."""
    from orchestrated_etl_spark.queries.analytics_wave5 import (
        _EWMA_ALPHA,
        _ewma_fold,
    )
    from orchestrated_etl_spark.sources.catalog import read_events

    got = {
        r["user_id"]: r["ewma_value"]
        for r in _ewma_fold(spark, sf_dir).collect()
    }
    rows = (
        read_events(spark, sf_dir)
        .where(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(
            (r["ts"], r["event_id"], r["value"])
        )
    for uid, xs in by_user.items():
        xs.sort()
        s = xs[0][2]
        for _, _, v in xs[1:]:
            s = _EWMA_ALPHA * v + (1.0 - _EWMA_ALPHA) * s
        assert got[uid] == s, (uid, got[uid], s)


def test_locf_carries_last_purchase_only(spark):
    """LOCF: each event sees the most recent purchase value at-or-before
    it within its user; -1.0 before any purchase."""
    from orchestrated_etl_spark.queries.sql_surface_wave12 import (
        _locf_purchase_value,
    )
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = [
        (1, 7, t0, "click", 9.0),
        (2, 7, t0 + dt.timedelta(minutes=1), "purchase", 5.0),
        (3, 7, t0 + dt.timedelta(minutes=2), "click", 9.0),
        (4, 7, t0 + dt.timedelta(minutes=3), "purchase", 8.0),
        (5, 7, t0 + dt.timedelta(minutes=4), "view", 9.0),
        (6, 8, t0, "click", 9.0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp_ntz, "
        "event_type string, value double",
    )
    import orchestrated_etl_spark.queries.sql_surface_wave12 as W12

    orig = W12.read_events
    W12.read_events = lambda s, d: df
    try:
        got = {
            r["event_id"]: r["last_purchase_value"]
            for r in _locf_purchase_value(spark, "unused").collect()
        }
    finally:
        W12.read_events = orig
    assert got == {1: -1.0, 2: 5.0, 3: 5.0, 4: 8.0, 5: 8.0, 6: -1.0}


def test_linear_interpolation_hand_series(spark):
    """Planted series: user 1 observes 10.0 on day 1 and 40.0 on day 4 —
    days 2 and 3 must interpolate to 20.0 and 30.0 exactly; user 2's
    single observation spans no gap."""
    import datetime as dt

    import orchestrated_etl_spark.queries.surface_wave4 as W4

    t = lambda d: dt.datetime(  # noqa: E731
        2024, 1, d, 12, 0, tzinfo=dt.timezone.utc
    )
    rows = [
        (1, 1, t(1), "view", 10.0),
        (2, 1, t(4), "view", 40.0),
        (3, 2, t(2), "view", 7.0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts timestamp_ntz, "
        "event_type string, value double",
    )
    orig = W4.read_events
    W4.read_events = lambda s, d: df
    try:
        got = {
            (r["user_id"], r["day"].isoformat()): (
                r["observed"],
                r["interp_value"],
            )
            for r in W4._linear_interpolate(spark, "unused").collect()
        }
    finally:
        W4.read_events = orig
    assert got[(1, "2024-01-01")] == (True, 10.0)
    assert got[(1, "2024-01-02")] == (False, 20.0)
    assert got[(1, "2024-01-03")] == (False, 30.0)
    assert got[(1, "2024-01-04")] == (True, 40.0)
    assert got[(2, "2024-01-02")] == (True, 7.0)


def test_cogroup_click_purchase_counts_what_it_collects(spark, sf_dir):
    """Counting the cogroup must run the same kernel as collecting it.
    When both sides came from one events frame they shared attributes,
    and the column pruning of count() dropped ``value`` from the purchase
    side (KeyError: 'value' inside the pandas function)."""
    from orchestrated_etl_spark.queries.analytics_wave5 import (
        _cogroup_click_purchase,
    )

    df = _cogroup_click_purchase(spark, sf_dir)
    rows = df.collect()
    assert rows
    assert df.count() == len(rows)
