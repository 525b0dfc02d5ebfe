"""Event-analytics semantics on planted fixtures: hand-computed
expectations the oracle-agreement gate cannot distinguish — the RFM
quantile-cutoff rule, the EWMA fold vs a pure-Python loop, strict funnel
stage order and the click/purchase cogroup's count."""

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
