"""Relational semantics and plan shapes on hand-built frames: LOCF
carry-forward and linear interpolation, gap-fill and the shuffle-hash
join hint, null-safe joins, Bloom prefilters, snapshot diffs, skylines,
grid-blocked spatial joins and the rolling median."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from orchestrated_etl_spark.queries.relational import _gap_fill
from tests.test_events import _ts, _write_events


def test_locf_carries_last_purchase_only(spark):
    """LOCF: each event sees the most recent purchase value at-or-before
    it within its user; -1.0 before any purchase."""
    from orchestrated_etl_spark.queries.relational import _locf_purchase_value
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
    import orchestrated_etl_spark.queries.relational as REL

    orig = REL.load_table
    REL.load_table = lambda s, d, name: (
        df if name == "events" else orig(s, d, name)
    )
    try:
        got = {
            r["event_id"]: r["last_purchase_value"]
            for r in _locf_purchase_value(spark, "unused").collect()
        }
    finally:
        REL.load_table = orig
    assert got == {1: -1.0, 2: 5.0, 3: 5.0, 4: 8.0, 5: 8.0, 6: -1.0}


def test_linear_interpolation_hand_series(spark):
    """Planted series: user 1 observes 10.0 on day 1 and 40.0 on day 4 —
    days 2 and 3 must interpolate to 20.0 and 30.0 exactly; user 2's
    single observation spans no gap."""
    import datetime as dt

    import orchestrated_etl_spark.queries.relational as REL

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
    orig = REL.load_table
    REL.load_table = lambda s, d, name: (
        df if name == "events" else orig(s, d, name)
    )
    try:
        got = {
            (r["user_id"], r["day"].isoformat()): (
                r["observed"],
                r["interp_value"],
            )
            for r in REL._linear_interpolate(spark, "unused").collect()
        }
    finally:
        REL.load_table = orig
    assert got[(1, "2024-01-01")] == (True, 10.0)
    assert got[(1, "2024-01-02")] == (False, 20.0)
    assert got[(1, "2024-01-03")] == (False, 30.0)
    assert got[(1, "2024-01-04")] == (True, 40.0)
    assert got[(2, "2024-01-02")] == (True, 7.0)


def test_gap_fill_emits_missing_days_and_forward_fills(spark, tmp_path):
    """Day 2 is absent from the input → the spine materializes it with
    day_value 0.0 and filled_value carried from day 1."""
    rows = [
        (1, 5, _ts("2024-01-01T08:00:00"), "view"),
        (2, 5, _ts("2024-01-03T08:00:00"), "view"),
    ]
    sf = _write_events(spark, tmp_path, rows)
    out = {
        str(r["day"]): (r["day_value"], r["filled_value"])
        for r in _gap_fill(spark, sf).collect()
    }
    assert set(out) == {"2024-01-01", "2024-01-02", "2024-01-03"}
    assert out["2024-01-02"] == (0.0, 1.0)  # spine row, forward-filled
    assert out["2024-01-03"] == (1.0, 1.0)


def test_shuffle_hash_hint_changes_physical_strategy(spark, sf_dir):
    """The SHUFFLE_HASH hint must materialize as a ShuffledHashJoin node
    (not broadcast — the filtered orders side would otherwise broadcast
    at this scale, and not sort-merge); the query's RESULT is strategy-
    independent, which is what its oracle checks."""
    from orchestrated_etl_spark.queries.relational import _shuffle_hash_hint

    plan = (
        _shuffle_hash_hint(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ShuffledHashJoin" in plan, plan


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
    from orchestrated_etl_spark.sources.catalog import load_table

    got = {
        (r["user_id"], r["store_id"], r["dist_sq"])
        for r in _spatial_radius_join(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
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


def test_nth_value_ignores_read_order(spark, sf_dir, tmp_path):
    """window_nth_value over lineitem rewritten as a directory of 3 part
    files with its rows permuted (seed 7) — a table's shape at scale,
    read in no fixed order — must still match its DuckDB oracle over
    the original file. With l_linenumber as the only sort key the
    repeated (l_orderkey, l_linenumber) pairs made the 2nd row depend
    on read order."""
    import sys
    from pathlib import Path

    import numpy as np
    import pyarrow.parquet as pq

    import __spark_entry__ as entrymod

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from check_oracle import compare, duck_fetch, duck_views

    rows = pq.read_table(f"{sf_dir}/lineitem.parquet")
    rows = rows.take(np.random.default_rng(7).permutation(rows.num_rows))
    parted = tmp_path / "lineitem.parquet"
    parted.mkdir()
    for i, part in enumerate(np.array_split(np.arange(rows.num_rows), 3)):
        pq.write_table(rows.take(part), parted / f"part-{i}.parquet")

    sdf = entrymod.queries()["window_nth_value"](spark, str(tmp_path))
    con = duck_views(sf_dir)
    try:
        oracle = entrymod.oracle_sql()["window_nth_value"]
        dcols, drows = duck_fetch(con.execute(oracle), False)
    finally:
        con.close()
    srows = [tuple(r) for r in sdf.collect()]
    assert compare(sdf.columns, srows, dcols, drows) == []
