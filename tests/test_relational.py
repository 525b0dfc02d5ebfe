"""Relational semantics and plan shapes on hand-built frames: LOCF
carry-forward and linear interpolation, gap-fill and the shuffle-hash
join hint."""

from __future__ import annotations

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

    orig = REL.read_events
    REL.read_events = lambda s, d: df
    try:
        got = {
            r["event_id"]: r["last_purchase_value"]
            for r in _locf_purchase_value(spark, "unused").collect()
        }
    finally:
        REL.read_events = orig
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
    orig = REL.read_events
    REL.read_events = lambda s, d: df
    try:
        got = {
            (r["user_id"], r["day"].isoformat()): (
                r["observed"],
                r["interp_value"],
            )
            for r in REL._linear_interpolate(spark, "unused").collect()
        }
    finally:
        REL.read_events = orig
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
