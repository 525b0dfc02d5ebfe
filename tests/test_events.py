"""Event-analytics semantics on planted fixtures: hand-computed
expectations the oracle-agreement gate cannot distinguish — the RFM
quantile-cutoff rule, the EWMA fold vs a pure-Python loop, strict funnel
stage order and the click/purchase cogroup's count, CEP episodes,
interval coverage and the time-series detectors (CUSUM, ACF,
Kaplan-Meier, Holt)."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from orchestrated_etl_spark.queries.events import _funnel


def test_rfm_cutoff_rule_hand_graph(spark):
    """Histogram-derived quintile cutoffs: for values 1..10 (n=10),
    rank k_i = ceil(i*10/5) = 2,4,6,8 → cutoffs 2,4,6,8; score of v is
    1 + #cutoffs strictly below it."""
    from orchestrated_etl_spark.queries.events import _rfm_cutoff_1row

    df = spark.createDataFrame([(v,) for v in range(1, 11)], "v long")
    n_df = df.agg(F.count(F.lit(1)).alias("n"))
    cuts = _rfm_cutoff_1row(df, "v", n_df).collect()[0]
    assert (cuts["c1"], cuts["c2"], cuts["c3"], cuts["c4"]) == (2, 4, 6, 8)


def test_ewma_fold_matches_python_loop(spark, sf_dir):
    """The array-fold EWMA equals the straightforward sequential Python
    recurrence, bit for bit, for every user."""
    from orchestrated_etl_spark.queries.events import _EWMA_ALPHA, _ewma_fold
    from orchestrated_etl_spark.sources.catalog import load_table

    got = {
        r["user_id"]: r["ewma_value"]
        for r in _ewma_fold(spark, sf_dir).collect()
    }
    rows = (
        load_table(spark, sf_dir, "events")
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


def test_cogroup_click_purchase_counts_what_it_collects(spark, sf_dir):
    """Counting the cogroup must run the same kernel as collecting it.
    When both sides came from one events frame they shared attributes,
    and the column pruning of count() dropped ``value`` from the purchase
    side (KeyError: 'value' inside the pandas function)."""
    from orchestrated_etl_spark.queries.events import _cogroup_click_purchase

    df = _cogroup_click_purchase(spark, sf_dir)
    rows = df.collect()
    assert rows
    assert df.count() == len(rows)


def _ts(s):
    # UTC-aware, not naive: createDataFrame interprets a NAIVE datetime
    # in the PYTHON PROCESS timezone, so under a host TZ that crosses
    # midnight vs UTC (e.g. Pacific/Kiritimati, +14) the stored instant
    # lands on another UTC day and every day-bucketed assertion shifts.
    # Zone-free fixtures are the standing rule (round-12/13 TZ axes).
    return datetime.datetime.fromisoformat(s).replace(
        tzinfo=datetime.timezone.utc
    )


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string"
    )
    sf = str(tmp_path)
    df.withColumn("value", F.lit(1.0)).withColumn("props", F.lit("{}")).write.mode(
        "overwrite"
    ).parquet(f"{sf}/events.parquet")
    return sf


def test_funnel_requires_strict_stage_order(spark, tmp_path):
    """A click BEFORE the first view must not count as converted; a
    purchase between view and click must not count either."""
    rows = [
        # user 1: full ordered funnel view < click < purchase
        (1, 1, _ts("2024-01-01T09:00:00"), "view"),
        (2, 1, _ts("2024-01-01T10:00:00"), "click"),
        (3, 1, _ts("2024-01-01T11:00:00"), "purchase"),
        # user 2: click precedes the only view → stalls at 'viewed'
        (4, 2, _ts("2024-01-01T09:00:00"), "click"),
        (5, 2, _ts("2024-01-01T10:00:00"), "view"),
        # user 3: purchase lands between view and click → not counted
        (6, 3, _ts("2024-01-01T09:00:00"), "view"),
        (7, 3, _ts("2024-01-01T09:30:00"), "purchase"),
        (8, 3, _ts("2024-01-01T10:00:00"), "click"),
        # user 4: never views → contributes to n_users only
        (9, 4, _ts("2024-01-01T09:00:00"), "purchase"),
    ]
    sf = _write_events(spark, tmp_path, rows)
    row = _funnel(spark, sf).collect()[0]
    assert row["n_users"] == 4
    assert row["n_viewed"] == 3
    assert row["n_clicked_after_view"] == 2  # users 1 and 3
    assert row["n_purchased_after_click"] == 1  # user 1 only


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


def _event(eid, day, etype="view", value=None, user=1):
    return (
        eid,
        # UTC-aware: a naive datetime is interpreted in the PROCESS TZ
        # by createDataFrame; under TZ=Pacific/Kiritimati (+14) noon
        # lands on the previous UTC day and day-bucketed assertions
        # shift (zone-free-fixture rule, round-13 Kiritimati pytest).
        datetime.datetime(2024, 1, day, 12, 0, 0,
                          tzinfo=datetime.timezone.utc),
        user,
        etype,
        value,
        "{}",
    )


_EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def test_cusum_changepoint_planted_level_shift(spark, tmp_path):
    """1 event/day on days 1-4, then 3/day on days 5-8: N=8, S=16, so
    N*c-S is -8 before and +8 after the shift; the scaled CUSUM walks
    -8,-16,-24,-32 then recovers to 0, peaking exactly at the last
    pre-shift day."""
    from orchestrated_etl_spark.queries.events import _cusum_changepoint

    rows, eid = [], 0
    for day in range(1, 5):
        eid += 1
        rows.append(_event(eid, day))
    for day in range(5, 9):
        for _ in range(3):
            eid += 1
            rows.append(_event(eid, day))
    spark.createDataFrame(rows, _EVENT_SCHEMA).write.parquet(
        f"{tmp_path}/events.parquet"
    )
    out = {
        r["day"].day: (r["n_events"], r["cusum_scaled"], r["is_peak"])
        for r in _cusum_changepoint(spark, str(tmp_path)).collect()
    }
    assert out[1] == (1, -8, False)
    assert out[4] == (1, -32, True)
    assert out[5] == (3, -24, False)
    assert out[8] == (3, 0, False)
    assert sum(1 for _, _, p in out.values() if p) == 1


def test_acf_planted_period2_series(spark, tmp_path):
    """Alternating 10/20 daily revenue: every lag-1 pair lies exactly
    on y = 30 - x (r = -1) and every lag-2 pair on y = x (r = +1)."""
    from orchestrated_etl_spark.queries.events import _acf_lags

    rows = [
        _event(d, d, "purchase", 10.0 if d % 2 else 20.0)
        for d in range(1, 9)
    ]
    spark.createDataFrame(rows, _EVENT_SCHEMA).write.parquet(
        f"{tmp_path}/events.parquet"
    )
    out = {
        r["lag"]: (r["n_pairs"], r["acf_r"])
        for r in _acf_lags(spark, str(tmp_path)).collect()
    }
    assert out[1] == (7, -1.0)
    assert out[2] == (6, 1.0)
    assert out[3] == (5, -1.0)
    assert out[7] == (1, None)  # single pair: zero variance -> NULL corr


def test_km_survival_planted_censoring(spark, tmp_path):
    """Four-user cohort covering every KM edge: same-day conversion
    (duration 0), a delayed conversion, a never-converter censored at
    the horizon, and a user whose only purchase PRECEDES their click
    (must count as censored, not converted)."""
    from orchestrated_etl_spark.queries.events import _km_survival

    rows = [
        _event(1, 1, "click", user=1),
        _event(2, 3, "purchase", 10.0, user=1),  # u1: d=2, event
        _event(3, 1, "click", user=2),
        _event(4, 1, "purchase", 10.0, user=2),  # u2: d=0, event
        _event(5, 2, "click", user=3),  # u3: censored at horizon
        _event(6, 1, "purchase", 10.0, user=4),  # before u4's click
        _event(7, 2, "click", user=4),  # u4: censored (no post-click buy)
        _event(8, 6, "view", user=99),  # horizon = day 6; 99 not in cohort
    ]
    spark.createDataFrame(rows, _EVENT_SCHEMA).write.parquet(
        f"{tmp_path}/events.parquet"
    )
    out = {
        r["duration"]: (
            r["d_i"], r["c_i"], r["n_i"], r["km_survival"]
        )
        for r in _km_survival(spark, str(tmp_path)).collect()
    }
    # durations: u1=2(event), u2=0(event), u3=4(censored), u4=4(censored)
    assert out[0] == (1, 1, 4, 3.0 / 4.0)
    assert out[2] == (1, 1, 3, (3.0 / 4.0) * (2.0 / 3.0))
    assert out[4] == (0, 2, 2, (3.0 / 4.0) * (2.0 / 3.0) * 1.0)
    assert len(out) == 3


def test_holt_linear_matches_python_recurrence(spark, tmp_path):
    """Spark's struct-accumulator fold must replay the exact Holt
    recurrence (alpha=1/2, gamma=1/4, init l=x1, b=0) bit-for-bit."""
    from orchestrated_etl_spark.queries.events import _holt_linear

    xs = [100.0, 110.0, 90.0, 130.0, 120.0]
    rows = [
        _event(d, d, "purchase", xs[d - 1]) for d in range(1, len(xs) + 1)
    ]
    spark.createDataFrame(rows, _EVENT_SCHEMA).write.parquet(
        f"{tmp_path}/events.parquet"
    )
    l, b = xs[0], 0.0
    for x in xs[1:]:
        nl = 0.5 * x + 0.5 * (l + b)
        b = 0.25 * (nl - l) + 0.75 * b
        l = nl
    out = _holt_linear(spark, str(tmp_path)).collect()[0]
    assert out["n_days"] == len(xs)
    assert out["level"] == l
    assert out["trend"] == b
    assert out["forecast_3d"] == l + 3.0 * b
