"""Event analytics over the ``events`` table.

Three kinds of query live here:

- sessions, funnels and sequences: cohort retention, DAU/WAU, the
  strict-order view→click→purchase funnel, CEP pattern matching,
  Markov transitions, trigram paths, linear attribution, the
  click/purchase cogroup and interval coverage;
- customer value: RFM segments and quantile cutoffs, cohort LTV and
  the Pareto 80/20 share;
- time series over the daily relation: trailing-window z-score and MAD
  anomalies, EWMA, seasonal decomposition, Holt smoothing, CUSUM
  changepoints, autocorrelation, maximum drawdown, Kaplan–Meier
  survival and bot cadence.

Scale posture: per-user work shuffles once on ``user_id``. The
time-series queries aggregate the fact table to the O(date-domain)
daily relation FIRST; the only ordered windows in their plans see
O(domain) rows, never O(fact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from orchestrated_etl_spark.compat import stage
from orchestrated_etl_spark.operators.relational import global_rank_two_phase
from orchestrated_etl_spark.registry import register
from orchestrated_etl_spark.sources.catalog import read_events


# ---------------------------------------------------------------------------
# ordered funnel conversion
# ---------------------------------------------------------------------------


def _funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel: a user converts a stage only if
    it happens strictly AFTER the previous stage's first completion. Three
    stacked conditional-min windows over the SAME user_id partitioning —
    Catalyst plans one shuffle and evaluates the three Window nodes on the
    co-partitioned data, so the funnel costs one exchange at any scale
    (the classic alternative, one self-join per stage, costs three)."""
    ev = (
        read_events(spark, sf_dir)
        .where(F.col("user_id").isNotNull())
        .select("user_id", "event_type", "ts")
    )
    w = Window.partitionBy("user_id")
    staged = (
        ev.withColumn(
            "t_view",
            F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t_view")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = staged.select("user_id", "t_view", "t_click", "t_purchase").distinct()
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_viewed"),
        F.count("t_click").alias("n_clicked_after_view"),
        F.count("t_purchase").alias("n_purchased_after_click"),
    )


register(
    "funnel_view_click_purchase",
    _funnel,
    """
    WITH s1 AS (
        SELECT user_id, event_type, ts,
               min(CASE WHEN event_type = 'view' THEN ts END)
                   OVER (PARTITION BY user_id) AS t_view
        FROM events WHERE user_id IS NOT NULL
    ),
    s2 AS (
        SELECT *, min(CASE WHEN event_type = 'click' AND ts > t_view
                      THEN ts END) OVER (PARTITION BY user_id) AS t_click
        FROM s1
    ),
    s3 AS (
        SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t_click
                      THEN ts END) OVER (PARTITION BY user_id) AS t_purchase
        FROM s2
    ),
    per_user AS (
        SELECT DISTINCT user_id, t_view, t_click, t_purchase FROM s3
    )
    SELECT count(*) AS n_users,
           count(t_view) AS n_viewed,
           count(t_click) AS n_clicked_after_view,
           count(t_purchase) AS n_purchased_after_click
    FROM per_user
    """,
)


# ---------------------------------------------------------------------------
# cohort retention
# ---------------------------------------------------------------------------


def _retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort retention: users grouped by their first active day,
    counted on each later day-offset they return. Distinct (user, day)
    activity first (bounds the fan-in), cohort day via one partitioned
    window min — no self-join against a "first seen" table — then a
    (cohort, offset) count-distinct. Two shuffles, both on user-sized or
    aggregate-sized data."""
    ev = (
        read_events(spark, sf_dir)
        .where(F.col("user_id").isNotNull())
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id")
    cohorted = ev.withColumn("cohort_day", F.min("day").over(w))
    return (
        cohorted.select(
            "cohort_day",
            F.datediff("day", "cohort_day").alias("day_offset"),
            "user_id",
        )
        .where(F.col("day_offset") <= 14)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


register(
    "events_retention_cohorts",
    _retention,
    """
    WITH activity AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        FROM events WHERE user_id IS NOT NULL
    ),
    cohorted AS (
        SELECT user_id, day,
               min(day) OVER (PARTITION BY user_id) AS cohort_day
        FROM activity
    )
    SELECT cohort_day,
           CAST(day - cohort_day AS INTEGER) AS day_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
    FROM cohorted
    WHERE day - cohort_day <= 14
    GROUP BY cohort_day, day_offset
    """,
)


# ---------------------------------------------------------------------------
# trailing-window anomaly z-score
# ---------------------------------------------------------------------------


def _anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-type volume scored against its own trailing week:
    z = (today − mean(prev 7 days)) / stddev(prev 7 days). The frame
    excludes the current row (an anomaly must not suppress itself) and
    needs ≥ 3 prior days before scoring. Daily totals accumulate in
    DECIMAL (exact, order-independent) so both engines feed identical
    doubles into the identical ordered frame. One shuffle on event_type."""
    daily = (
        read_events(spark, sf_dir)
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.col("value").cast("decimal(25,10)"))
            .cast("double")
            .alias("day_total")
        )
    )
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    scored = daily.select(
        "event_type",
        "day",
        "day_total",
        F.count("day_total").over(w).alias("n_prior"),
        F.avg("day_total").over(w).alias("mu"),
        F.stddev_samp("day_total").over(w).alias("sigma"),
    )
    return scored.select(
        "event_type",
        "day",
        "day_total",
        F.when(
            F.col("n_prior") >= 3,
            F.round(
                F.try_divide(
                    F.col("day_total") - F.col("mu"), F.nullif("sigma", F.lit(0.0))
                ),
                3,
            ),
        ).alias("zscore"),
    )


register(
    "events_anomaly_zscore",
    _anomaly,
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE)
                   AS day_total
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    scored AS (
        SELECT event_type, day, day_total,
               count(day_total) OVER w AS n_prior,
               avg(day_total) OVER w AS mu,
               stddev_samp(day_total) OVER w AS sigma
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, day, day_total,
           CASE WHEN n_prior >= 3
                THEN round((day_total - mu) / nullif(sigma, 0.0), 3)
           END AS zscore
    FROM scored
    """,
)


# ---------------------------------------------------------------------------
# cogrouped applyInPandas (the two-sided grouped-map UDF surface)
# ---------------------------------------------------------------------------


def _cogroup_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped ``applyInPandas``: clicks and purchases are co-shuffled
    on user_id and handed to one pandas function per key as two aligned
    frames — the API for per-key logic that needs BOTH sides at once and
    can't be a join (e.g. attribution models, per-user reconciliation).
    The kernel here is deliberately expressible (counts + rounded sums)
    so the DuckDB oracle — a full outer join of two aggregates — pins the
    cogroup semantics: keys present on EITHER side reach the function.
    Each side reads events on its own: two sides derived from one frame
    share its attributes, the UDF binds both sides' ``value`` to one
    attribute, and the pruning a ``count()`` triggers then drops
    ``value`` from the purchase side (KeyError in the kernel)."""

    def side(event_type: str) -> DataFrame:
        return read_events(spark, sf_dir).where(
            F.col("user_id").isNotNull() & (F.col("event_type") == event_type)
        ).select("user_id", "value")

    clicks, purchases = side("click"), side("purchase")

    def reconcile(key, left, right):
        import pandas as pd

        (uid,) = key
        return pd.DataFrame(
            {
                "user_id": [uid],
                "n_clicks": [len(left)],
                "n_purchases": [len(right)],
                "click_value": [round(float(left["value"].sum()), 4)],
                "purchase_value": [round(float(right["value"].sum()), 4)],
            }
        )

    return (
        clicks.groupBy("user_id")
        .cogroup(purchases.groupBy("user_id"))
        .applyInPandas(
            reconcile,
            "user_id long, n_clicks long, n_purchases long, "
            "click_value double, purchase_value double",
        )
    )


register(
    "cogroup_click_purchase",
    _cogroup_click_purchase,
    """
    WITH c AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_clicks,
               round(sum(value), 4) AS click_value
        FROM events WHERE user_id IS NOT NULL AND event_type = 'click'
        GROUP BY user_id
    ),
    p AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_purchases,
               round(sum(value), 4) AS purchase_value
        FROM events WHERE user_id IS NOT NULL AND event_type = 'purchase'
        GROUP BY user_id
    )
    SELECT coalesce(c.user_id, p.user_id) AS user_id,
           coalesce(c.n_clicks, 0) AS n_clicks,
           coalesce(p.n_purchases, 0) AS n_purchases,
           coalesce(c.click_value, 0.0) AS click_value,
           coalesce(p.purchase_value, 0.0) AS purchase_value
    FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
    """,
)


# ---------------------------------------------------------------------------
# multi-touch (linear) attribution
# ---------------------------------------------------------------------------


def _attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every click by the same user in
    the 24 h before a purchase shares that purchase's value equally;
    credit rolls up per channel (the ``k`` prop mod 4 — the fixture's
    stand-in for a campaign id). The shape every marketing warehouse
    runs: a time-range join (user equi-key + interval predicate), a
    per-purchase touch count, a credit division, a channel rollup.

    Exactness policy: value → DECIMAL(18,2) cents, credit = integer
    ``cents * 1_000_000 div n_touches`` (micro-cents, floor division —
    identical on any engine, no float summation anywhere), summed as
    BIGINT. The division remainder (< n_touches micro-cents per
    purchase) is deliberately dropped, not redistributed — documented,
    deterministic, and auditable against total purchase value.

    Scale: the range join shuffles once on user_id (per-user histories
    are partition-local, same contract as asof_join); the touch-count
    window shares the purchase-id partitioning with the credit rollup.
    Purchases with zero prior clicks simply attribute nothing."""
    ev = read_events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        # try_cast: ANSI mode is on, so a plain cast would ERROR on a
        # non-numeric prop where the oracle's TRY_CAST yields NULL.
        (
            F.get_json_object("props", "$.k").try_cast("int") % 4
        ).alias("channel"),
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    j = purch.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS")),
    )
    w = Window.partitionBy("p_id")
    credited = j.withColumn("n_touches", F.count(F.lit(1)).over(w)).withColumn(
        "credit_micro", F.expr("cents * 1000000L div n_touches")
    )
    return credited.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.count_distinct("p_id").alias("n_purchases"),
        F.sum("credit_micro").alias("credit_microcents"),
    )


register(
    "events_attribution_linear",
    _attribution_linear,
    """
    WITH clicks AS (
        SELECT user_id AS c_user, ts AS c_ts,
               TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) % 4
                   AS channel
        FROM events WHERE event_type = 'click'
    ),
    purch AS (
        SELECT event_id AS p_id, user_id AS p_user, ts AS p_ts,
               CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ),
    j AS (
        SELECT p.p_id, p.cents, c.channel,
               count(*) OVER (PARTITION BY p.p_id) AS n_touches
        FROM purch p
        JOIN clicks c
          ON c.c_user = p.p_user
         AND c.c_ts < p.p_ts
         AND c.c_ts >= p.p_ts - INTERVAL 24 HOURS
    )
    SELECT channel,
           count(*) AS n_touches,
           count(DISTINCT p_id) AS n_purchases,
           CAST(sum(cents * 1000000 // n_touches) AS BIGINT)
               AS credit_microcents
    FROM j GROUP BY channel
    """,
)


# ---------------------------------------------------------------------------
# event-type transition matrix (Markov bigrams per user session stream)
# ---------------------------------------------------------------------------


def _markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order transition matrix over each user's time-ordered event
    stream: count (prev_type → type) bigrams, emit per-edge share of
    all transitions leaving prev_type. The sequence-mining shape (next-
    event prediction features, funnel-anomaly baselines) that windows +
    one aggregate express without any sessionization machinery.

    One shuffle on user_id for the lag window (ties broken by event_id
    so the sequence is total-ordered and engine-independent), then one
    partial-aggregable count; the share divides two exact counts via a
    window over prev_type — no float accumulation."""
    ev = read_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    bigrams = ev.select(
        "user_id",
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).where(F.col("prev_type").isNotNull())
    counts = bigrams.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    total = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(total), 6).alias("p"),
    )


register(
    "events_markov_transitions",
    _markov_transitions,
    """
    WITH bigrams AS (
        SELECT user_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type,
               event_type AS next_type
        FROM events
    ),
    counts AS (
        SELECT prev_type, next_type, count(*) AS n
        FROM bigrams WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY prev_type), 6) AS p
    FROM counts
    """,
)


# ---------------------------------------------------------------------------
# RFM customer segmentation
# ---------------------------------------------------------------------------


def _rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation over purchase
    events — the classic warehouse customer-scoring op: per user, days
    since last purchase (vs the corpus max ts, so the query is
    reproducible — no now()), purchase count, and exact DECIMAL spend;
    each dimension quintiled with ntile(5) (ties broken by user_id so
    bucket boundaries are engine-deterministic), emitting per
    (r_score, f_score, m_score) cell the user count and total spend.

    Shape: one user_id aggregate (staged once), three two-phase
    global rankings bucketed map-side into exact ntile(5) quintiles
    (see rfm_ntile_core — no unpartitioned window anywhere since round
    6), one cell rollup; spend stays in DECIMAL until the final cast.
    The REGISTERED companion `events_rfm_quantile_cutoffs` (below)
    trades exact rank-split quintiles for broadcast histogram-derived
    VALUE cutoffs — one shuffle, 12 broadcast scalars — when quintile
    boundaries may be approximated by the value grid. Both forms are
    oracle-checked."""
    return rfm_ntile_core(read_events(spark, sf_dir))


def rfm_ntile_core(ev: DataFrame) -> DataFrame:
    """Exact-ntile RFM core over an events frame — see _rfm_segmentation.

    Re-plumbed: the former three ``ntile(5).over(Window.orderBy
    (...))`` global windows (single-partition sorts of the per-user
    relation) are now three ``global_rank_two_phase`` rankings (range
    partition + per-partition row_number + broadcast P-row offsets)
    bucketed map-side with ``exact_ntile_expr`` — bit-identical ntile
    semantics (property-tested for every n/k split), zero unpartitioned
    windows over the user domain. The quantile-cutoff twin
    (`events_rfm_quantile_cutoffs`) remains the registered one-shuffle
    scale path; this form keeps exact rank-split ntile semantics while
    no longer being confined to the small regime.

    Contract: NULL user_ids are EXCLUDED up front — RFM is
    per-identified-user by definition, and the explicit filter keeps the
    three rank-reassembly inner equi-joins on user_id exact (an inner
    equi-join silently drops a NULL-keyed group that groupBy would have
    kept; the earlier window form ranked it). The oracle applies the
    same predicate, so the contract is symmetric, not fixture luck."""
    from orchestrated_etl_spark.operators.relational import (
        exact_ntile_expr,
        global_rank_two_phase,
    )

    purch = ev.where(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    )
    maxts = purch.agg(F.max("ts").alias("_maxts"))
    per_user = stage(  # 1 events aggregate feeds 3 ranks + n
        purch.crossJoin(F.broadcast(maxts))
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("_last"),
            F.max("_maxts").alias("_mx"),  # constant per row; max is a no-op
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("_spend"),
        )
        .withColumn(
            "recency_days",
            F.datediff(F.to_date("_mx"), F.to_date("_last")),
        ),
        eager=False,
    )
    n_df = per_user.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    dims = [
        ("r_score", [F.asc("recency_days"), F.asc("user_id")]),
        ("f_score", [F.desc("frequency"), F.asc("user_id")]),
        ("m_score", [F.desc("_spend"), F.asc("user_id")]),
    ]
    scored = per_user.select("user_id", "_spend")
    for col, order in dims:
        ranked = global_rank_two_phase(
            per_user, order, rank_col=f"_{col}_rnk"
        ).select("user_id", f"_{col}_rnk")
        scored = scored.join(ranked, "user_id")
    scored = scored.crossJoin(F.broadcast(n_df)).select(
        "user_id",
        "_spend",
        *[
            exact_ntile_expr(F.col(f"_{col}_rnk"), F.col("_n"), 5).alias(col)
            for col, _ in dims
        ],
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("_spend").cast("double").alias("total_spend"),
    )


register(
    "events_rfm_segmentation",
    _rfm_segmentation,
    """
    WITH purch AS (
        SELECT user_id, ts, CAST(value AS DECIMAL(18,2)) AS spend
        FROM events
        WHERE event_type = 'purchase' AND user_id IS NOT NULL
    ),
    per_user AS (
        SELECT user_id,
               date_diff('day', CAST(max(ts) AS DATE),
                         (SELECT CAST(max(ts) AS DATE) FROM purch))
                   AS recency_days,
               count(*) AS frequency,
               sum(spend) AS spend
        FROM purch GROUP BY user_id
    ),
    scored AS (
        SELECT user_id, spend,
               ntile(5) OVER (ORDER BY recency_days, user_id) AS r_score,
               ntile(5) OVER (ORDER BY frequency DESC, user_id) AS f_score,
               ntile(5) OVER (ORDER BY spend DESC, user_id) AS m_score
        FROM per_user
    )
    SELECT r_score, f_score, m_score, count(*) AS n_users,
           CAST(sum(spend) AS DOUBLE) AS total_spend
    FROM scored GROUP BY 1, 2, 3
    """,
)


def _rfm_cutoff_1row(per_user: DataFrame, col: str, n_df: DataFrame) -> DataFrame:
    """Quintile cutoffs for one RFM dimension WITHOUT a global per-user
    sort: histogram the dimension over its distinct values (map-side
    combine makes this a domain-sized relation: recency is bounded by
    the date range, frequency by max purchases/user, monetary by the
    whole-currency grid), cumulative-sum over the tiny histogram, then
    pick cutoff c_i = min value whose cumulative count reaches rank
    k_i = ceil(i*n/5) (integer form (i*n+4) DIV 5 — no float rank).
    The only ordered window runs over the O(domain) histogram, never
    the O(users) relation. Returns a 1-row DF (c1..c4)."""
    hist = per_user.groupBy(F.col(col).alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(w))
    joined = cum.crossJoin(F.broadcast(n_df))
    return joined.agg(
        *[
            F.min(
                F.when(
                    F.col("cum") >= F.expr(f"({i} * n + 4) DIV 5"), F.col("v")
                )
            ).alias(f"c{i}")
            for i in (1, 2, 3, 4)
        ]
    )


def _rfm_quantile_cutoffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation, SCALE PATH: the registered alternative to
    `events_rfm_segmentation`'s three global ntile(5) windows (which
    pull the whole per-user relation into one sorted partition). Here
    each dimension is bucketed against 4 broadcast quintile cutoffs:

      score = 1 + [v > c1] + [v > c2] + [v > c3] + [v > c4],
      c_i   = min value whose cumulative count >= ceil(i*n/5)

    computed from a per-dimension VALUE HISTOGRAM (see _rfm_cutoff_1row)
    — recency in whole days, frequency in counts, monetary on a
    whole-currency floor grid, so every domain is bounded and the
    cutoffs are exact order statistics, reproducible bit-for-bit in the
    oracle (no engine-specific percentile interpolation). Plan shape:
    one user_id shuffle builds per_user; three domain-sized histogram
    aggregates; scoring is MAP-SIDE against 12 broadcast scalars; final
    cell rollup. No ordered window ever sees the per-user relation —
    this is the plan that survives 100x users, where the ntile twin
    becomes a single-executor sort."""
    return rfm_cutoff_core(read_events(spark, sf_dir))


def rfm_cutoff_core(ev: DataFrame) -> DataFrame:
    """Quantile-cutoff RFM core over an events frame — see
    _rfm_quantile_cutoffs (split out so scaling measurements drive the
    identical plan on synthetically grown inputs)."""
    # Same row contract as the ntile twin (rfm_ntile_core): purchases
    # with a non-NULL user_id. Without the isNotNull the two "both
    # forms" RFM queries would define different relations whenever
    # user_id can be NULL (a NULL key would form its own RFM cell here
    # but is excluded from the ntile ranking there).
    purch = ev.where(
        (F.col("event_type") == "purchase") & F.col("user_id").isNotNull()
    )
    maxts = purch.agg(F.max("ts").alias("_maxts"))
    per_user = (
        purch.crossJoin(F.broadcast(maxts))
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("_last"),
            F.max("_maxts").alias("_mx"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("_spend"),
        )
        .withColumn(
            "recency_days",
            F.datediff(F.to_date("_mx"), F.to_date("_last")),
        )
        .withColumn("spend_unit", F.floor("_spend").cast("long"))
    )
    per_user = stage(per_user, eager=False)
    # FUSED cutoff derivation: all three dimensions' histograms in ONE
    # pass — explode each user row into (dim, value), histogram by
    # (dim, value), cumulative-sum over a window PARTITIONED BY dim
    # (no unpartitioned window anywhere), pick the 4 ranks per dim, and
    # fold the 3 rows into a single 12-scalar broadcast row. One job and
    # one broadcast instead of three of each (the per-dimension helper
    # _rfm_cutoff_1row remains as the reference implementation, pinned
    # by tests). Semantically identical cutoffs.
    dims = [("r", "recency_days"), ("f", "frequency"), ("m", "spend_unit")]
    exploded = per_user.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(tag).alias("dim"),
                        F.col(c).cast("long").alias("v"),
                    )
                    for tag, c in dims
                ]
            )
        ).alias("e")
    ).select("e.dim", "e.v")
    hist = exploded.groupBy("dim", "v").agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.partitionBy("dim")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # n (the user count) = each dimension's total histogram mass — an
    # unordered full-partition window over the SAME dim partitioning the
    # cumulative window already established, so it adds no exchange.
    # This replaces the separate count(per_user) pass + its broadcast
    # crossJoin (one fewer job + one fewer broadcast;
    # guide §2.4 — two operations keyed the same way share one
    # exchange). Identical n: every user contributes exactly one
    # histogram row per dimension, NULL values included (a NULL v forms
    # its own histogram group, and max-over-partition sees all groups).
    wn = Window.partitionBy("dim")
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "n", F.sum("cnt").over(wn)
    )
    per_dim = cum.groupBy("dim").agg(
        *[
            F.min(
                F.when(
                    F.col("cum") >= F.expr(f"({i} * n + 4) DIV 5"), F.col("v")
                )
            ).alias(f"c{i}")
            for i in (1, 2, 3, 4)
        ]
    )
    cuts_row = per_dim.agg(
        *[
            F.min(F.when(F.col("dim") == tag, F.col(f"c{i}"))).alias(
                f"{tag}_c{i}"
            )
            for tag, _ in dims
            for i in (1, 2, 3, 4)
        ]
    )

    def score(col: str, cuts) -> F.Column:
        s = F.lit(1)
        for i in (1, 2, 3, 4):
            s = s + F.when(F.col(col) > cuts[f"c{i}"], 1).otherwise(0)
        return s

    scored = (
        per_user.crossJoin(F.broadcast(cuts_row))
        .select(
            "user_id",
            "_spend",
            score(
                "recency_days",
                {f"c{i}": F.col(f"r_c{i}") for i in (1, 2, 3, 4)},
            ).alias("r_score"),
            score(
                "frequency",
                {f"c{i}": F.col(f"f_c{i}") for i in (1, 2, 3, 4)},
            ).alias("f_score"),
            score(
                "spend_unit",
                {f"c{i}": F.col(f"m_c{i}") for i in (1, 2, 3, 4)},
            ).alias("m_score"),
        )
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("_spend").cast("double").alias("total_spend"),
    )


register(
    "events_rfm_quantile_cutoffs",
    _rfm_quantile_cutoffs,
    """
    WITH purch AS (
        SELECT user_id, ts, CAST(value AS DECIMAL(18,2)) AS spend
        FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
    ),
    per_user AS (
        SELECT user_id,
               date_diff('day', CAST(max(ts) AS DATE),
                         (SELECT CAST(max(ts) AS DATE) FROM purch))
                   AS recency_days,
               count(*) AS frequency,
               sum(spend) AS spend,
               CAST(floor(sum(spend)) AS BIGINT) AS spend_unit
        FROM purch GROUP BY user_id
    ),
    nn AS (SELECT count(*) AS n FROM per_user),
    rcum AS (
        SELECT v, sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
        FROM (SELECT recency_days AS v, count(*) AS cnt
              FROM per_user GROUP BY 1)
    ),
    rcut AS (
        SELECT min(CASE WHEN cum >= (1*n+4)//5 THEN v END) AS c1,
               min(CASE WHEN cum >= (2*n+4)//5 THEN v END) AS c2,
               min(CASE WHEN cum >= (3*n+4)//5 THEN v END) AS c3,
               min(CASE WHEN cum >= (4*n+4)//5 THEN v END) AS c4
        FROM rcum, nn
    ),
    fcum AS (
        SELECT v, sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
        FROM (SELECT frequency AS v, count(*) AS cnt FROM per_user GROUP BY 1)
    ),
    fcut AS (
        SELECT min(CASE WHEN cum >= (1*n+4)//5 THEN v END) AS c1,
               min(CASE WHEN cum >= (2*n+4)//5 THEN v END) AS c2,
               min(CASE WHEN cum >= (3*n+4)//5 THEN v END) AS c3,
               min(CASE WHEN cum >= (4*n+4)//5 THEN v END) AS c4
        FROM fcum, nn
    ),
    mcum AS (
        SELECT v, sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
        FROM (SELECT spend_unit AS v, count(*) AS cnt FROM per_user GROUP BY 1)
    ),
    mcut AS (
        SELECT min(CASE WHEN cum >= (1*n+4)//5 THEN v END) AS c1,
               min(CASE WHEN cum >= (2*n+4)//5 THEN v END) AS c2,
               min(CASE WHEN cum >= (3*n+4)//5 THEN v END) AS c3,
               min(CASE WHEN cum >= (4*n+4)//5 THEN v END) AS c4
        FROM mcum, nn
    ),
    scored AS (
        SELECT p.user_id, p.spend,
               1 + (CASE WHEN p.recency_days > r.c1 THEN 1 ELSE 0 END)
                 + (CASE WHEN p.recency_days > r.c2 THEN 1 ELSE 0 END)
                 + (CASE WHEN p.recency_days > r.c3 THEN 1 ELSE 0 END)
                 + (CASE WHEN p.recency_days > r.c4 THEN 1 ELSE 0 END)
                   AS r_score,
               1 + (CASE WHEN p.frequency > f.c1 THEN 1 ELSE 0 END)
                 + (CASE WHEN p.frequency > f.c2 THEN 1 ELSE 0 END)
                 + (CASE WHEN p.frequency > f.c3 THEN 1 ELSE 0 END)
                 + (CASE WHEN p.frequency > f.c4 THEN 1 ELSE 0 END)
                   AS f_score,
               1 + (CASE WHEN p.spend_unit > m.c1 THEN 1 ELSE 0 END)
                 + (CASE WHEN p.spend_unit > m.c2 THEN 1 ELSE 0 END)
                 + (CASE WHEN p.spend_unit > m.c3 THEN 1 ELSE 0 END)
                 + (CASE WHEN p.spend_unit > m.c4 THEN 1 ELSE 0 END)
                   AS m_score
        FROM per_user p, rcut r, fcut f, mcut m
    )
    SELECT r_score, f_score, m_score,
           count(*) AS n_users,
           CAST(sum(spend) AS DOUBLE) AS total_spend
    FROM scored GROUP BY 1, 2, 3
    """,
)


# ---------------------------------------------------------------------------
# DAU / WAU rolling distinct actives
# ---------------------------------------------------------------------------


def _dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily and 7-day rolling distinct active users — the engagement
    metric every event warehouse publishes. Rolling DISTINCT cannot be
    a window aggregate (distinctness doesn't decompose over frames), so
    the scalable form is: dedup to (day, user) once, then EXPLODE each
    active-day row onto the 7 report days it contributes to and count
    distinct per report day — a 7x fan-out of two-column rows followed
    by one distinct aggregate, instead of a 7-day self-join per day or
    a quadratic subquery. Report days are restricted to those with
    events (the calendar spine join is datetime_gap_fill's job). At
    100 TB the (day,user) dedup is the only event-volume pass;
    everything after operates on active-pairs. For a 30/90-day MAU the
    same shape fans out 30x/90x compact pairs — or switch to stored HLL
    sketches per day and merge (agg_hll_sketch_merge), trading
    exactness for a constant-size merge."""
    ev = read_events(spark, sf_dir)
    daily = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    dau = daily.groupBy("day").agg(
        F.count_distinct("user_id").alias("dau")
    )
    fanned = daily.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("report_day"),
        "user_id",
    )
    wau = fanned.groupBy("report_day").agg(
        F.count_distinct("user_id").alias("wau")
    )
    return (
        dau.join(wau, dau.day == wau.report_day)
        .select("day", "dau", "wau")
    )


register(
    "events_dau_wau",
    _dau_wau,
    """
    WITH daily AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    dau AS (
        SELECT day, count(DISTINCT user_id) AS dau FROM daily GROUP BY day
    ),
    fanned AS (
        SELECT day + CAST(i AS INTEGER) AS report_day, user_id
        FROM daily, unnest(range(0, 7)) AS t(i)
    ),
    wau AS (
        SELECT report_day, count(DISTINCT user_id) AS wau
        FROM fanned GROUP BY report_day
    )
    SELECT d.day, d.dau, w.wau
    FROM dau d JOIN wau w ON w.report_day = d.day
    """,
)


# ---------------------------------------------------------------------------
# EWMA via ordered array fold (exact sequential recurrence)
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.25  # exact binary fraction: products/sums are reproducible


def _ewma_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of purchase values — the recurrence s_1 = x_1,
    s_t = α·x_t + (1-α)·s_{t-1}. A recurrence is NOT partial-aggregable
    (no window frame computes it), so the exact form is a per-key
    ORDERED LEFT FOLD: collect the user's (ts, event_id, value) structs,
    array_sort (unique total order), fold left. Both engines execute the
    identical sequence of IEEE ops (α is an exact binary fraction), so
    the result is bit-reproducible with NO rounding policy.

    Scale note: the fold holds one user's history in memory — bounded
    by per-key cardinality, the same contract as any collect_list
    sessionization. For unbounded keys, window the recurrence per day
    and chain daily states (the stored-sketch pattern); Spark cannot
    stream an order-dependent fold any other way."""
    ev = read_events(spark, sf_dir)
    purch = ev.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    arr = F.array_sort(
        F.collect_list(F.struct("ts", "event_id", "value"))
    )
    a = F.lit(_EWMA_ALPHA)
    per_user = purch.groupBy("user_id").agg(arr.alias("xs"))
    ewma = F.aggregate(
        F.slice(F.col("xs"), 2, F.size("xs")),
        F.element_at(F.col("xs"), 1)["value"],
        lambda acc, x: a * x["value"] + (F.lit(1.0) - a) * acc,
    )
    return per_user.select(
        "user_id",
        F.size("xs").alias("n_purchases"),
        ewma.alias("ewma_value"),
    )


register(
    "events_ewma_fold",
    _ewma_fold,
    f"""
    WITH per_user AS (
        SELECT user_id,
               list(value ORDER BY ts, event_id) AS xs
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
        GROUP BY user_id
    )
    SELECT user_id,
           len(xs) AS n_purchases,
           list_reduce(xs,
               (acc, x) -> {_EWMA_ALPHA} * x + {1 - _EWMA_ALPHA} * acc)
               AS ewma_value
    FROM per_user
    """,
)


# ---------------------------------------------------------------------------
# robust anomaly detection: median absolute deviation
# ---------------------------------------------------------------------------


def _anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD-based robust outlier report per event type: median and
    median-absolute-deviation are computed with percentile_disc (ACTUAL
    data values — exact, no interpolation), and a value is an outlier
    when |x - med| > 3 · 1.4826 · MAD (the normal-consistency constant).
    Unlike the z-score twin (events_anomaly_zscore), a few huge values
    cannot drag the threshold — median/MAD have a 50% breakdown point.
    Two grouped exact-percentile passes + one broadcast join + one
    conditional aggregate; every compared number is either an exact data
    value or an integer count."""
    return spark.sql(
        """
        WITH med AS (
            SELECT event_type,
                   percentile_disc(0.5) WITHIN GROUP (ORDER BY value)
                       AS med
            FROM {events} GROUP BY event_type
        ),
        dev AS (
            SELECT e.event_type, e.value, m.med,
                   abs(e.value - m.med) AS ad
            FROM {events} e JOIN med m USING (event_type)
        ),
        mad AS (
            SELECT event_type, max(med) AS med,
                   percentile_disc(0.5) WITHIN GROUP (ORDER BY ad) AS mad
            FROM dev GROUP BY event_type
        )
        SELECT d.event_type, m.med, m.mad,
               count(*) AS n_values,
               CAST(sum(CASE WHEN d.ad > 3 * 1.4826 * m.mad
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM dev d JOIN mad m USING (event_type)
        GROUP BY d.event_type, m.med, m.mad
        """,
        events=read_events(spark, sf_dir).where(F.col("value").isNotNull()),
    )


register(
    "events_anomaly_mad",
    _anomaly_mad,
    """
    WITH e AS (SELECT * FROM events WHERE value IS NOT NULL),
    med AS (
        SELECT event_type,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS med
        FROM e GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS ad
        FROM e JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type, max(med) AS med,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY ad) AS mad
        FROM dev GROUP BY event_type
    )
    SELECT d.event_type, m.med, m.mad,
           count(*) AS n_values,
           CAST(sum(CASE WHEN d.ad > 3 * 1.4826 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type, m.med, m.mad
    """,
)


# ---------------------------------------------------------------------------
# seasonal decomposition: trend + day-of-week effect + residual
# ---------------------------------------------------------------------------


def _seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite seasonal decomposition of the daily per-type volume:
    trend = centered 7-day moving average (emitted only where the full
    window exists — a partial-window "trend" is an artifact), seasonal =
    the type's mean detrended value per day-of-week, residual = value −
    trend − seasonal. The anomaly-detection preprocessor: a spike is
    judged against residual, not raw volume, so weekday/weekend rhythm
    stops producing false positives (compare events_anomaly_zscore,
    which scores raw values). Two window passes + one (type, dow)
    aggregate — all on the days-sized relation, one event_type shuffle.
    Day totals are exact DECIMAL sums; trend/seasonal are genuinely
    non-terminating (÷7, group means), so outputs round(6) per the
    registry float policy."""
    daily = (
        read_events(spark, sf_dir)
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.col("value").cast("decimal(25,10)"))
            .cast("double")
            .alias("day_total")
        )
    )
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-3, 3)
    )
    trended = daily.select(
        "event_type",
        "day",
        "day_total",
        F.when(
            F.count("day_total").over(w7) == 7,
            F.avg("day_total").over(w7),
        ).alias("trend"),
    )
    # ISO day-of-week; weekday() is 0=Monday on Spark
    dow = (F.weekday("day") + 1).alias("dow")
    detr = trended.select(
        "event_type", "day", "day_total", "trend", dow,
        (F.col("day_total") - F.col("trend")).alias("_d"),
    )
    seasonal = detr.where(F.col("trend").isNotNull()).groupBy(
        "event_type", "dow"
    ).agg(F.avg("_d").alias("seasonal"))
    return (
        detr.join(seasonal, ["event_type", "dow"], "left")
        .select(
            "event_type",
            "day",
            F.round("day_total", 6).alias("day_total"),
            F.coalesce(F.round("trend", 6), F.lit(-1.0)).alias("trend"),
            F.coalesce(F.round("seasonal", 6), F.lit(0.0)).alias("seasonal"),
            F.coalesce(
                F.round(
                    F.col("day_total") - F.col("trend") - F.col("seasonal"),
                    6,
                ),
                F.lit(0.0),
            ).alias("residual"),
        )
    )


register(
    "events_seasonal_decompose",
    _seasonal_decompose,
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE)
                   AS day_total
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    trended AS (
        SELECT event_type, day, day_total,
               CASE WHEN count(day_total) OVER w7 = 7
                    THEN avg(day_total) OVER w7 END AS trend
        FROM daily
        WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    detr AS (
        SELECT event_type, day, day_total, trend,
               isodow(day) AS dow,
               day_total - trend AS _d
        FROM trended
    ),
    seasonal AS (
        SELECT event_type, dow, avg(_d) AS seasonal
        FROM detr WHERE trend IS NOT NULL
        GROUP BY event_type, dow
    )
    SELECT d.event_type, d.day,
           round(d.day_total, 6) AS day_total,
           coalesce(round(d.trend, 6), -1.0) AS trend,
           coalesce(round(s.seasonal, 6), 0.0) AS seasonal,
           coalesce(round(d.day_total - d.trend - s.seasonal, 6), 0.0)
               AS residual
    FROM detr d
    LEFT JOIN seasonal s
      ON d.event_type = s.event_type AND d.dow = s.dow
    """,
)


# ---------------------------------------------------------------------------
# CEP-style sequence pattern over per-user event streams
# ---------------------------------------------------------------------------

# RE2-safe (DuckDB) AND java.util.regex-safe: no lookahead — the
# "anything but purchase" gap is an explicit alternation over the other
# event types. Both engines use leftmost, non-overlapping matching with
# greedy quantifiers; the alternation branches are disjoint literal
# words, so match sets are identical.
_CEP_PATTERN = "view( (click|view|signup|error))* purchase"


def _cep_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE / Flink-CEP-style sequence detection: per user,
    count non-overlapping view -> (no purchase in between) -> purchase
    conversions in the event-time-ordered event sequence. One user_id
    shuffle builds the ordered sequence (array_sort over a
    (ts, event_id, type) struct — total order, event_id breaks ts
    ties); the pattern machine is a map-side regexp_count over the
    joined type string. This is the sequence-pattern primitive behind
    funnel mining and abuse detection; the window twin
    (events' _funnel) answers 'did the user ever convert',
    this one counts EVERY conversion episode.

    At 100 TB: one shuffle, sequences bounded by per-user activity;
    monster users (bots) are the known skew — the REGISTERED scale twin
    events_cep_sessionized bounds the regex input by 30-minute session
    instead of whole-user history (same pattern, same shuffle). The
    regex is RE2-compatible (no lookahead) so the DuckDB oracle runs
    the SAME pattern."""
    ev = read_events(spark, sf_dir).where(F.col("user_id").isNotNull())
    seqs = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
                " ",
            ).alias("seq"),
            F.count(F.lit(1)).alias("seq_len"),
        )
    )
    return (
        seqs.select(
            "user_id",
            "seq_len",
            F.regexp_count(F.col("seq"), F.lit(_CEP_PATTERN)).alias(
                "n_conversions"
            ),
        )
        .where(F.col("n_conversions") > 0)
    )


register(
    "events_cep_conversion",
    _cep_conversion,
    f"""
    WITH seqs AS (
        SELECT user_id,
               string_agg(event_type, ' ' ORDER BY ts, event_id) AS seq,
               count(*) AS seq_len
        FROM events
        WHERE user_id IS NOT NULL
        GROUP BY user_id
    )
    SELECT user_id, seq_len,
           CAST(len(regexp_extract_all(seq, '{_CEP_PATTERN}')) AS INTEGER)
               AS n_conversions
    FROM seqs
    WHERE len(regexp_extract_all(seq, '{_CEP_PATTERN}')) > 0
    """,
)


# ---------------------------------------------------------------------------
# interval-union coverage per user
# ---------------------------------------------------------------------------


def _interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity coverage: each event opens a 10-minute
    attention interval [ts, ts+10m); overlapping intervals merge, and
    the output is each user's merged-span count and total covered
    seconds — the interval-union aggregate behind ad-exposure,
    uptime, and watch-time metrics.

    Classic sweep, one user_id shuffle: running max of interval END
    over prior rows (ties broken by event_id) marks a new span
    whenever the next start exceeds it; cumulative-sum of the marks
    numbers the spans; two stacked aggregates ride the same
    partitioning. Interval arithmetic only (no cast-to-double on
    timestamps — NTZ-safe). Span lengths are summed in exact elapsed
    MICROSECONDS then integer-divided to seconds: DuckDB's
    date_diff('second') counts second-BOUNDARY crossings while Spark's
    timestampdiff(SECOND) floors elapsed time — off by one whenever a
    span's end has a smaller sub-second fraction than its start. At µs
    granularity (the storage resolution) both measures coincide
    exactly."""
    ev = (
        read_events(spark, sf_dir)
        .where(F.col("user_id").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.col("ts").alias("s"),
            (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("e"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("s", "e", "event_id")
    prev_max_e = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = ev.withColumn(
        "new_span",
        F.when(
            prev_max_e.isNull() | (F.col("s") > prev_max_e), F.lit(1)
        )
        .otherwise(F.lit(0))
        .cast("long"),
    )
    spans = flagged.withColumn(
        "span_id",
        F.sum("new_span").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    merged = spans.groupBy("user_id", "span_id").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    return (
        merged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.expr("timestampdiff(MICROSECOND, ms, me)"))
            .cast("long")
            .alias("_us"),
        )
        .select(
            "user_id",
            "n_spans",
            F.expr("_us DIV 1000000").alias("covered_seconds"),
        )
    )


register(
    "events_interval_coverage",
    _interval_coverage,
    """
    WITH iv AS (
        SELECT user_id, event_id, ts AS s,
               ts + INTERVAL '10 minutes' AS e
        FROM events WHERE user_id IS NOT NULL
    ),
    m AS (
        SELECT user_id, s, e,
               CASE WHEN max(e) OVER (PARTITION BY user_id
                        ORDER BY s, e, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        IS NULL
                      OR s > max(e) OVER (PARTITION BY user_id
                        ORDER BY s, e, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS new_span,
               event_id
        FROM iv
    ),
    g AS (
        SELECT user_id, s, e,
               CAST(sum(new_span) OVER (PARTITION BY user_id
                    ORDER BY s, e, event_id ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS span_id
        FROM m
    ),
    merged AS (
        SELECT user_id, span_id, min(s) AS ms, max(e) AS me
        FROM g GROUP BY user_id, span_id
    )
    SELECT user_id, count(*) AS n_spans,
           CAST(sum(date_diff('microsecond', ms, me)) AS BIGINT) // 1000000
               AS covered_seconds
    FROM merged GROUP BY user_id
    """,
)


def _cep_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALE TWIN of events_cep_conversion (the asof_join_salted /
    events_rfm_quantile_cutoffs pattern: the documented mitigation is
    REGISTERED, not a comment): the pattern machine runs per 30-minute
    SESSION instead of per whole-user history, so the regex input is
    bounded by session length no matter how monstrous a user's total
    event count — a bot with 10^8 events becomes 10^5 bounded sessions
    that parallelize, instead of one 10^8-char string on one task.
    Conversions cannot span a >30-min idle gap under this contract
    (usually the BETTER semantics for conversion analysis). Same single
    user_id shuffle; the lag/cum-sum sessionizer and the sequence
    aggregate ride one partitioning. Output: per-user conversion count
    and session count."""
    ev = read_events(spark, sf_dir).where(F.col("user_id").isNotNull())
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select("user_id", "ts", "event_id", "event_type").withColumn(
        "new_s",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.col("ts") - F.lag("ts").over(w) > F.expr("INTERVAL 30 MINUTES")),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long"),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    seqs = sess.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
            " ",
        ).alias("seq")
    )
    per_session = seqs.select(
        "user_id",
        F.regexp_count(F.col("seq"), F.lit(_CEP_PATTERN)).alias("_n"),
    )
    return (
        per_session.groupBy("user_id")
        .agg(
            F.sum("_n").alias("n_conversions"),
            F.count(F.lit(1)).alias("n_sessions"),
        )
        .where(F.col("n_conversions") > 0)
    )


register(
    "events_cep_sessionized",
    _cep_sessionized,
    f"""
    WITH x AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WHERE user_id IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, event_id, ts, event_type,
               CAST(sum(new_s) OVER (PARTITION BY user_id
                    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS session_id
        FROM x
    ),
    seqs AS (
        SELECT user_id, session_id,
               string_agg(event_type, ' ' ORDER BY ts, event_id) AS seq
        FROM s GROUP BY user_id, session_id
    ),
    per_session AS (
        SELECT user_id,
               len(regexp_extract_all(seq, '{_CEP_PATTERN}')) AS n
        FROM seqs
    )
    SELECT user_id,
           CAST(sum(n) AS BIGINT) AS n_conversions,
           count(*) AS n_sessions
    FROM per_session GROUP BY user_id
    HAVING sum(n) > 0
    """,
)


# ---------------------------------------------------------------------------
# CUSUM changepoint scan (integer-exact)
# ---------------------------------------------------------------------------


def _cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift scan over daily event volume. The textbook statistic
    cumsum_t(c_d - c̄) is rescaled by N = #days so every compared value
    stays a BIGINT: cusum_scaled_t = Σ_{d≤t} (N·c_d - S) = N·cusum_t.
    The day maximizing |cusum_scaled| is the level-shift changepoint
    estimate (flagged is_peak; scaling by N>0 preserves the argmax).

    Exactness: integer counts, integer window sums — no float anywhere,
    both engines bit-agree with no rounding policy. The one-row global
    (N, S, max|cusum|) relation is broadcast back onto the O(domain)
    daily series (plan_audit SCALAR_BROADCAST_OK); the ordered window
    runs over that same O(domain) relation, never the fact table."""
    ev = read_events(spark, sf_dir)
    # Materialized once: the O(domain) daily series feeds the totals
    # aggregate, the window, and the peak scan — without this each
    # consumer replays the fact-table aggregate (4 fact scans).
    daily = stage(
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    totals = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n_events").alias("total_events"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_cusum = daily.crossJoin(F.broadcast(totals)).select(
        "day",
        "n_events",
        F.sum(
            F.col("n_days") * F.col("n_events") - F.col("total_events")
        )
        .over(w)
        .alias("cusum_scaled"),
    )
    peak = with_cusum.agg(
        F.max(F.abs(F.col("cusum_scaled"))).alias("max_abs")
    )
    return with_cusum.crossJoin(F.broadcast(peak)).select(
        "day",
        "n_events",
        "cusum_scaled",
        (F.abs(F.col("cusum_scaled")) == F.col("max_abs")).alias("is_peak"),
    )


register(
    "events_cusum_changepoint",
    _cusum_changepoint,
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, count(*) AS n_events
        FROM events GROUP BY 1
    ),
    totals AS (
        SELECT count(*) AS n_days, sum(n_events) AS total_events
        FROM daily
    ),
    cus AS (
        SELECT day, n_events,
               CAST(sum(n_days * n_events - total_events) OVER (
                   ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cusum_scaled
        FROM daily, totals
    )
    SELECT day, CAST(n_events AS BIGINT) AS n_events, cusum_scaled,
           abs(cusum_scaled) = (SELECT max(abs(cusum_scaled)) FROM cus)
               AS is_peak
    FROM cus
    """,
)


# ---------------------------------------------------------------------------
# autocorrelation of the daily revenue series, lags 1..7
# ---------------------------------------------------------------------------


def _acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson autocorrelation of daily purchase revenue at lags 1..7
    — the periodicity detector behind seasonal modeling choices. The
    series is the exact-DECIMAL daily revenue over the OBSERVED date
    spine (sequence(min_day, max_day), zero-filled) so a lag of L days
    is L positions. Lagged pairs come from ONE equi-self-join of the
    spine against (day + L) fanned across the 7 lags — no per-lag
    window pass. corr() is computed by both engines from co-moment
    sums whose accumulation order differs, and the value is genuinely
    irrational — round(,6) is the float-policy tolerance exception (c),
    same as graph_assortativity.

    Scale: the fact table collapses to the O(domain) daily relation
    first; the lag fan-out is 7×O(domain) rows into one equi-join and
    one 7-group aggregate. Nothing ordered ever sees O(fact)."""
    ev = read_events(spark, sf_dir)
    purch = ev.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    # Materialized once: bounds, the spine join, and the lag fan-out
    # all consume the O(domain) daily series — staging caps the
    # plan at ONE fact-table aggregate pass.
    daily = stage(
        purch.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("rev")
        )
    )
    bounds = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
    )
    series = spine.join(daily, "day", "left").select(
        "day", F.coalesce("rev", F.lit(0.0)).alias("rev")
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    fanned = series.crossJoin(F.broadcast(lags)).select(
        F.date_add(F.col("day"), F.col("lag")).alias("join_day"),
        "lag",
        F.col("rev").alias("rev_lagged"),
    )
    pairs = series.join(
        fanned, series.day == fanned.join_day
    ).select("lag", "rev", "rev_lagged")
    return (
        pairs.groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.corr("rev", "rev_lagged"), 6).alias("acf_r"),
        )
        .orderBy("lag")
    )


register(
    "events_acf_lags",
    _acf_lags,
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rev
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
        GROUP BY 1
    ),
    bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
    spine AS (
        SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
                   AS day
        FROM bounds
    ),
    series AS (
        SELECT s.day, COALESCE(d.rev, 0.0) AS rev
        FROM spine s LEFT JOIN daily d ON s.day = d.day
    ),
    lags AS (SELECT CAST(unnest(range(1, 8)) AS INTEGER) AS lag),
    fanned AS (
        SELECT s.day + CAST(l.lag AS INTEGER) AS join_day, l.lag,
               s.rev AS rev_lagged
        FROM series s, lags l
    )
    SELECT f.lag,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(corr(s.rev, f.rev_lagged), 6) AS acf_r
    FROM series s JOIN fanned f ON s.day = f.join_day
    GROUP BY f.lag
    """,
)


# ---------------------------------------------------------------------------
# Kaplan-Meier survival (click -> purchase conversion), exact folds
# ---------------------------------------------------------------------------


def _km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Kaplan-Meier estimator of time-to-conversion: for
    each user with a click, the duration (days) to their first
    subsequent purchase, right-CENSORED at the corpus horizon for
    users who never convert — the survival-analysis shape behind
    retention curves and time-to-event product questions, which naive
    "average days to convert" gets wrong by silently dropping
    non-converters.

    Per distinct duration d: events d_i, leavers c_i (events +
    censored), risk set n_i = Σ_{e>=d} c_e (a DESC-ordered window over
    the O(duration-domain) relation), factor (n_i - d_i)/n_i — an
    exact BIGINT quotient. S(d) = Π_{e<=d} factor_e is an ORDERED LEFT
    FOLD over the duration-sorted factor array (events_ewma_fold
    trick): a cumulative PRODUCT is not partial-aggregable and
    exp(sum(log)) is not bit-stable, but the fold is — both engines
    run the identical IEEE multiply sequence, so S(d) needs NO
    rounding policy.

    Scale: two user-keyed fact aggregates (clicks, conditional first
    purchase) + one broadcast 1-row horizon; everything ordered
    operates on O(distinct durations) rows — date-domain, never
    fact-sized. The packed-array fold sees one row."""
    ev = read_events(spark, sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("fc"))
    )
    horizon = ev.agg(F.max(F.to_date("ts")).alias("hz"))
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.to_date("ts").alias("pd")
    )
    firstp = (
        clicks.join(purch, "user_id")
        .where(F.col("pd") >= F.col("fc"))
        .groupBy("user_id")
        .agg(F.min("pd").alias("fp"))
    )
    cohort = (
        clicks.join(firstp, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(
                F.col("fp").isNotNull(), F.datediff("fp", "fc")
            )
            .otherwise(F.datediff("hz", "fc"))
            .alias("duration"),
            F.when(F.col("fp").isNotNull(), 1).otherwise(0).alias("event"),
        )
    )
    at_dur = cohort.groupBy("duration").agg(
        F.sum("event").alias("d_i"), F.count(F.lit(1)).alias("c_i")
    )
    w = Window.orderBy(F.desc("duration")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    terms = at_dur.select(
        "duration",
        "d_i",
        "c_i",
        F.sum("c_i").over(w).alias("n_i"),
    ).select(
        "duration",
        "d_i",
        "c_i",
        "n_i",
        (
            (F.col("n_i") - F.col("d_i")).cast("double")
            / F.col("n_i").cast("double")
        ).alias("term"),
    )
    packed = terms.agg(
        F.array_sort(
            F.collect_list(
                F.struct("duration", "d_i", "c_i", "n_i", "term")
            )
        ).alias("arr")
    )
    arr = F.col("arr")
    out = packed.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(arr)),
                lambda k: F.struct(
                    F.try_element_at(arr, k)["duration"].alias("duration"),
                    F.try_element_at(arr, k)["d_i"].alias("d_i"),
                    F.try_element_at(arr, k)["c_i"].alias("c_i"),
                    F.try_element_at(arr, k)["n_i"].alias("n_i"),
                    F.aggregate(
                        F.slice(arr, 1, k),
                        F.lit(1.0),
                        lambda acc, x: acc * x["term"],
                    ).alias("km_survival"),
                ),
            )
        ).alias("r")
    )
    return out.select("r.*")


register(
    "events_km_survival",
    _km_survival,
    """
    WITH clicks AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS fc
        FROM events WHERE event_type = 'click' GROUP BY user_id
    ),
    hz AS (SELECT max(CAST(ts AS DATE)) AS hz FROM events),
    firstp AS (
        SELECT c.user_id, min(CAST(p.ts AS DATE)) AS fp
        FROM clicks c
        JOIN events p ON p.user_id = c.user_id
             AND p.event_type = 'purchase'
             AND CAST(p.ts AS DATE) >= c.fc
        GROUP BY c.user_id
    ),
    cohort AS (
        SELECT CAST(CASE WHEN f.fp IS NOT NULL THEN f.fp - c.fc
                         ELSE h.hz - c.fc END AS INTEGER) AS duration,
               CASE WHEN f.fp IS NOT NULL THEN 1 ELSE 0 END AS event
        FROM clicks c LEFT JOIN firstp f USING (user_id), hz h
    ),
    at_dur AS (
        SELECT duration, CAST(sum(event) AS BIGINT) AS d_i,
               CAST(count(*) AS BIGINT) AS c_i
        FROM cohort GROUP BY duration
    ),
    risk AS (
        SELECT duration, d_i, c_i,
               CAST(sum(c_i) OVER (ORDER BY duration DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_i
        FROM at_dur
    ),
    terms AS (
        SELECT duration, d_i, c_i, n_i,
               CAST(n_i - d_i AS DOUBLE) / CAST(n_i AS DOUBLE) AS term
        FROM risk
    ),
    packed AS (
        SELECT list(struct_pack(
                   duration := duration, d_i := d_i, c_i := c_i,
                   n_i := n_i, term := term) ORDER BY duration) AS arr
        FROM terms
    ),
    unrolled AS (
        SELECT unnest(list_transform(
            range(1, CAST(len(arr) + 1 AS BIGINT)),
            k -> struct_pack(
                duration := arr[CAST(k AS INTEGER)]['duration'],
                d_i := arr[CAST(k AS INTEGER)]['d_i'],
                c_i := arr[CAST(k AS INTEGER)]['c_i'],
                n_i := arr[CAST(k AS INTEGER)]['n_i'],
                km := list_reduce(
                    list_prepend(CAST(1.0 AS DOUBLE),
                        list_transform(arr[1:CAST(k AS INTEGER)],
                                       x -> x['term'])),
                    (a, b) -> a * b)))) AS r
        FROM packed
    )
    SELECT r['duration'] AS duration, r['d_i'] AS d_i,
           r['c_i'] AS c_i, r['n_i'] AS n_i,
           r['km'] AS km_survival
    FROM unrolled
    """,
)


# ---------------------------------------------------------------------------
# Holt linear-trend smoothing via ordered struct fold (forecasting)
# ---------------------------------------------------------------------------


def _holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + linear trend) over
    the daily purchase-revenue series, with a 3-day-ahead forecast —
    the trend-aware upgrade of events_ewma_fold's flat EWMA. The
    recurrence l' = α·x + (1-α)(l+b), b' = γ(l'-l) + (1-γ)b carries
    TWO accumulators, so the fold state is a STRUCT: the day-sorted
    series becomes an array of {l: x_d, b: 0} structs and the left
    fold starts from its first element — which IS the standard init
    (l₁=x₁, b₁=0) — making Spark's F.aggregate and DuckDB's
    list_reduce (no initial-value overload in 1.0) traverse the
    identical sequence. α=1/2 and γ=1/4 are exact binary fractions,
    every input is an exact-DECIMAL daily sum, so the whole recurrence
    is bit-reproducible with NO rounding policy.

    Scale: the fact table collapses to the O(date-domain) daily
    relation; the fold sees one array on one row. Per-key series would
    fold per group (the EWMA contract)."""
    ev = read_events(spark, sf_dir)
    purch = ev.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    daily = purch.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("rev")
    )
    packed = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "rev"))),
            lambda s: F.struct(
                s["rev"].alias("l"), F.lit(0.0).alias("b")
            ),
        ).alias("arr"),
    )
    a, g = F.lit(0.5), F.lit(0.25)
    one = F.lit(1.0)

    def merge(acc, x):
        new_l = a * x["l"] + (one - a) * (acc["l"] + acc["b"])
        return F.struct(
            new_l.alias("l"),
            (g * (new_l - acc["l"]) + (one - g) * acc["b"]).alias("b"),
        )

    state = F.aggregate(
        F.slice(F.col("arr"), 2, F.greatest(F.size("arr") - 1, F.lit(0))),
        F.try_element_at(F.col("arr"), F.lit(1)),
        merge,
    )
    return packed.select(
        "n_days",
        state["l"].alias("level"),
        state["b"].alias("trend"),
        (state["l"] + F.lit(1.0) * state["b"]).alias("forecast_1d"),
        (state["l"] + F.lit(2.0) * state["b"]).alias("forecast_2d"),
        (state["l"] + F.lit(3.0) * state["b"]).alias("forecast_3d"),
    )


# Oracle note: the natural DuckDB form — list_reduce with a STRUCT
# accumulator — is nondeterministic in DuckDB 1.0 (the same fold
# returned three different states depending on slicing context;
# double-typed accumulators like events_ewma_fold's are fine). The
# recurrence is therefore unrolled as a data-dependent recursive CTE,
# which matches the pure-Python replica bit-for-bit.
register(
    "events_holt_linear",
    _holt_linear,
    """
    WITH RECURSIVE daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rev
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
        GROUP BY 1
    ),
    seq AS (
        SELECT CAST(row_number() OVER (ORDER BY day) AS INTEGER) AS i,
               rev
        FROM daily
    ),
    walk(i, l, b) AS (
        SELECT 1, rev, CAST(0.0 AS DOUBLE) FROM seq WHERE i = 1
        UNION ALL
        SELECT s.i,
               CAST(0.5 AS DOUBLE) * s.rev
                   + CAST(0.5 AS DOUBLE) * (w.l + w.b),
               CAST(0.25 AS DOUBLE)
                   * (CAST(0.5 AS DOUBLE) * s.rev
                      + CAST(0.5 AS DOUBLE) * (w.l + w.b) - w.l)
                 + CAST(0.75 AS DOUBLE) * w.b
        FROM walk w JOIN seq s ON s.i = w.i + 1
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM seq) AS n_days,
           l AS level,
           b AS trend,
           l + CAST(1.0 AS DOUBLE) * b AS forecast_1d,
           l + CAST(2.0 AS DOUBLE) * b AS forecast_2d,
           l + CAST(3.0 AS DOUBLE) * b AS forecast_3d
    FROM walk WHERE i = (SELECT max(i) FROM walk)
    """,
)


# ---------------------------------------------------------------------------
# top event-path trigrams (funnel discovery)
# ---------------------------------------------------------------------------


def _trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-step behavioral paths (event-type trigrams per
    user, time-ordered) — the funnel-DISCOVERY complement to
    funnel_view_click_purchase's fixed funnel: it surfaces which
    3-step sequences actually dominate, ranked by exact counts with a
    total (count DESC, path ASC) tie-break.

    Scale: one user-partitioned window (two lag()s share the same
    sort), one path aggregate, and a global top-10 that plans as
    TakeOrderedAndProject — never a full sort. The (ts, event_id)
    window order is a total order, so ranks can't flip between
    engines or reruns."""
    ev = read_events(spark, sf_dir).where(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = ev.select(
        F.concat_ws(
            ">",
            F.lag("event_type", 2).over(w),
            F.lag("event_type", 1).over(w),
            F.col("event_type"),
        ).alias("path"),
        F.lag("event_type", 2).over(w).alias("_t2"),
    ).where(F.col("_t2").isNotNull())
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.desc("n_paths"), F.asc("path"))
        .limit(10)
    )


register(
    "events_trigram_paths",
    _trigram_paths,
    """
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type, 2) OVER w AS t2,
               lag(event_type, 1) OVER w AS t1
        FROM events
        WHERE user_id IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT t2 || '>' || t1 || '>' || event_type AS path,
           CAST(count(*) AS BIGINT) AS n_paths
    FROM seq WHERE t2 IS NOT NULL
    GROUP BY 1
    ORDER BY n_paths DESC, path ASC
    LIMIT 10
    """,
)


# ---------------------------------------------------------------------------
# maximum drawdown of the daily revenue series (exact)
# ---------------------------------------------------------------------------


def _max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-peak drawdown of daily purchase revenue — the
    worst-decline-from-peak measure (finance's max drawdown, ops'
    worst regression-from-best). Peak is a running MAX window (an
    exact pick, no arithmetic), drawdown = rev/peak - 1 is a fixed
    IEEE chain on exact-DECIMAL-derived doubles, and the deepest day
    is flagged via a broadcast 1-row minimum — every compared value
    either exact or an identical-operand IEEE result: no rounding.

    Scale: the fact table collapses to the O(date-domain) daily
    relation first (the rolling-median argument); the ordered window
    and the 1-row broadcast both operate on date-domain rows."""
    ev = read_events(spark, sf_dir)
    purch = ev.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    daily = stage(  # window + min consumer, 1 fact pass
        purch.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("rev")
        )
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_dd = daily.select(
        "day",
        "rev",
        F.max("rev").over(w).alias("peak"),
    ).select(
        "day",
        "rev",
        "peak",
        (F.col("rev") / F.col("peak") - F.lit(1.0)).alias("drawdown"),
    )
    worst = with_dd.agg(F.min("drawdown").alias("worst"))
    return with_dd.crossJoin(F.broadcast(worst)).select(
        "day",
        "rev",
        "peak",
        "drawdown",
        (F.col("drawdown") == F.col("worst")).alias("is_max_drawdown"),
    )


register(
    "events_max_drawdown",
    _max_drawdown,
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rev
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
        GROUP BY 1
    ),
    dd AS (
        SELECT day, rev,
               max(rev) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS peak
        FROM daily
    ),
    dd2 AS (
        SELECT day, rev, peak, rev / peak - 1.0 AS drawdown FROM dd
    )
    SELECT day, rev, peak, drawdown,
           drawdown = (SELECT min(drawdown) FROM dd2) AS is_max_drawdown
    FROM dd2
    """,
)


# ---------------------------------------------------------------------------
# behavioral anomaly heuristics (bot detection from event cadence)
# ---------------------------------------------------------------------------


def _bot_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-cadence anomaly profile — the abuse-filtering /
    traffic-quality stage of a telemetry pipeline: inter-arrival-time
    order statistics (exact percentile_disc on BIGINT microseconds)
    plus the max burst (events inside any trailing 60 s window, an
    exact RANGE-frame count over a microsecond offset key). The offset
    key is timestampdiff(MICROSECOND) from a fixed NTZ anchor —
    wall-clock arithmetic, immune to session timezone, and at
    microsecond granularity DuckDB's epoch_us difference computes the
    identical BIGINT. Every output is an exact integer or boolean:
    no rounding policy.

    Scale: one user-partitioned sort shared by the lag and the RANGE
    window, one grouped aggregate. The flag threshold (>= 2 events in
    60 s) is where this fixture's organic traffic thins out; real
    deployments tune it per surface.

    The lag window orders by (us, event_id) — a TOTAL order: on
    bare `us`, two same-microsecond events for one user
    would make the inter-arrival multiset tie-ORDER-dependent and the
    engines could legally disagree; the current fixture has no per-user
    microsecond ties, but a regenerated one may. The RANGE burst frame
    keys on `us` alone by construction (range frames include all ties
    regardless of sort position)."""
    ev = read_events(spark, sf_dir).where(F.col("user_id").isNotNull())
    us = F.expr(
        "timestampdiff(MICROSECOND,"
        " TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    wr = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-59_999_999, Window.currentRow)
    )
    seq = ev.select("user_id", "event_id", us.alias("us")).select(
        "user_id",
        "us",
        (F.col("us") - F.lag("us").over(w)).alias("iat_us"),
        F.count(F.lit(1)).over(wr).alias("burst_60s"),
    )
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("iat_us").alias("min_iat_us"),
        F.expr(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY iat_us)"
            " AS BIGINT)"
        ).alias("p50_iat_us"),
        F.max("burst_60s").alias("max_burst_60s"),
        (F.max("burst_60s") >= F.lit(2)).alias("is_burst_anomaly"),
    )


register(
    "events_bot_cadence",
    _bot_cadence,
    """
    WITH seq AS (
        SELECT user_id, event_id,
               epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00')
                   AS us
        FROM events WHERE user_id IS NOT NULL
    ),
    iat AS (
        SELECT user_id, us,
               us - lag(us) OVER (PARTITION BY user_id
                                  ORDER BY us, event_id)
                   AS iat_us,
               CAST(count(*) OVER (PARTITION BY user_id ORDER BY us
                   RANGE BETWEEN 59999999 PRECEDING AND CURRENT ROW)
               AS BIGINT) AS burst_60s
        FROM seq
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           min(iat_us) AS min_iat_us,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY iat_us)
                AS BIGINT) AS p50_iat_us,
           max(burst_60s) AS max_burst_60s,
           max(burst_60s) >= 2 AS is_burst_anomaly
    FROM iat
    GROUP BY user_id
    """,
)


# ---------------------------------------------------------------------------
# cohort lifetime value (cumulative revenue by cohort age)
# ---------------------------------------------------------------------------


def _cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV: users grouped by first-active month, purchase
    revenue accumulated by cohort AGE in weeks — the
    revenue-over-lifetime companion to events_retention_cohorts'
    activity counts (the curve a growth team reads payback periods
    off). Week age is pure integer day arithmetic from a fixed anchor
    (no months_between floats, no timezone exposure);
    revenue sums in exact DECIMAL; the cumulative curve is an ordered
    window over the O(cohorts x ages) relation. Everything compared
    is an exact integer or exact-DECIMAL-derived double.

    Scale: one user aggregate (first activity), one broadcast-back
    join, one grouped aggregate; the only ordered window runs over
    the month-domain rollup, never the fact table."""
    ev = read_events(spark, sf_dir).where(F.col("user_id").isNotNull())
    # integer WEEK index from a fixed anchor: exact, timezone-free, and
    # fine-grained enough that a month-long fixture still yields a
    # cohort x age grid (months would collapse it to one cell)
    week_idx = F.floor(
        F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01")))
        / F.lit(7)
    ).cast("long")
    cohorts = ev.groupBy("user_id").agg(
        F.min(week_idx).alias("cohort_idx")
    )
    purch = ev.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        "user_id",
        week_idx.alias("m_idx"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    cells = (
        purch.join(cohorts, "user_id")
        .groupBy(
            "cohort_idx",
            (F.col("m_idx") - F.col("cohort_idx")).alias("age_weeks"),
        )
        .agg(
            F.sum("v").cast("decimal(18,2)").alias("revenue_d"),
            F.count_distinct("user_id").alias("n_buyers"),
        )
    )
    w = (
        Window.partitionBy("cohort_idx")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cells.select(
        "cohort_idx",
        "age_weeks",
        F.col("revenue_d").cast("double").alias("revenue"),
        F.sum("revenue_d")
        .over(w)
        .cast("decimal(18,2)")
        .cast("double")
        .alias("cum_revenue"),
        "n_buyers",
    )


register(
    "events_cohort_ltv",
    _cohort_ltv,
    """
    WITH cohorts AS (
        SELECT user_id,
               min(CAST(floor((CAST(ts AS DATE) - DATE '2024-01-01') / 7)
                   AS BIGINT)) AS cohort_idx
        FROM events WHERE user_id IS NOT NULL
        GROUP BY user_id
    ),
    purch AS (
        SELECT e.user_id,
               CAST(floor((CAST(e.ts AS DATE) - DATE '2024-01-01') / 7)
                   AS BIGINT) AS m_idx,
               CAST(e.value AS DECIMAL(18,2)) AS v
        FROM events e
        WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
              AND e.user_id IS NOT NULL
    ),
    cells AS (
        SELECT c.cohort_idx,
               p.m_idx - c.cohort_idx AS age_weeks,
               CAST(sum(p.v) AS DECIMAL(18,2)) AS revenue_d,
               CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_buyers
        FROM purch p JOIN cohorts c ON p.user_id = c.user_id
        GROUP BY 1, 2
    )
    SELECT CAST(cohort_idx AS BIGINT) AS cohort_idx,
           CAST(age_weeks AS BIGINT) AS age_weeks,
           CAST(revenue_d AS DOUBLE) AS revenue,
           CAST(CAST(sum(revenue_d) OVER (PARTITION BY cohort_idx
                   ORDER BY age_weeks
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DECIMAL(18,2)) AS DOUBLE) AS cum_revenue,
           n_buyers
    FROM cells
    """,
)


# ---------------------------------------------------------------------------
# Pareto 80/20 concentration readout
# ---------------------------------------------------------------------------


def _pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pareto question answered exactly: how many top-spending
    users cover 80% of purchase revenue? Users are ranked by exact-
    DECIMAL revenue (total order: revenue DESC, user_id), the running
    total accumulates in DECIMAL over the user-domain window, and the
    answer is the first rank whose cumulative share reaches 0.8 — a
    comparison of exact decimals (cum·10 >= total·8 in integer-exact
    DECIMAL arithmetic, so the 0.8 threshold never touches floats).
    Complements agg_gini_revenue's summary coefficient with the
    operational cut-off number.

    Scale (re-plumbed): one fact aggregate to the user-domain
    relation, then rank + running sum via the two-phase
    ``global_rank_two_phase`` operator — range-partition on
    (rev DESC, user_id), per-partition local window, broadcast P-row
    cumulative offsets. Users grow with the corpus, so the former
    unpartitioned ``Window.orderBy(desc(rev))`` (single-executor sort
    at 100x) is gone; the only unpartitioned window left is the
    exclusive-preceding offset scan over <=32 per-partition aggregate
    rows. Output is one row."""
    ev = read_events(spark, sf_dir)
    purch = ev.where(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
    )
    per_user = purch.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("rev")
    )
    order = [F.desc("rev"), F.asc("user_id")]
    ranked = global_rank_two_phase(
        per_user,
        order,
        rank_col="rnk",
        running_sum_expr=F.col("rev"),
        running_sum_col="_cum",
    ).select(
        "user_id",
        "rev",
        "rnk",
        F.col("_cum").cast("decimal(28,2)").alias("cum"),
    )
    totals = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("rev").cast("decimal(28,2)").alias("total"),
    )
    hit = (
        ranked.crossJoin(F.broadcast(totals))
        .where(
            F.col("cum") * F.lit(10) >= F.col("total") * F.lit(8)
        )
        .agg(F.min("rnk").alias("users_for_80pct"), F.max("n_users").alias("n_users"))
    )
    return hit.select(
        "users_for_80pct",
        "n_users",
        (
            F.col("users_for_80pct").cast("double")
            / F.col("n_users").cast("double")
        ).alias("user_share_for_80pct"),
    )


register(
    "events_pareto_8020",
    _pareto_8020,
    """
    WITH per_user AS (
        SELECT user_id,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
                   AS rev
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
              AND user_id IS NOT NULL
        GROUP BY user_id
    ),
    ranked AS (
        SELECT user_id, rev,
               row_number() OVER (ORDER BY rev DESC, user_id) AS rnk,
               CAST(sum(rev) OVER (ORDER BY rev DESC, user_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DECIMAL(28,2)) AS cum
        FROM per_user
    ),
    totals AS (
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(rev) AS DECIMAL(28,2)) AS total
        FROM per_user
    )
    SELECT CAST(min(r.rnk) AS BIGINT) AS users_for_80pct,
           max(t.n_users) AS n_users,
           CAST(min(r.rnk) AS DOUBLE) / CAST(max(t.n_users) AS DOUBLE)
               AS user_share_for_80pct
    FROM ranked r, totals t
    WHERE r.cum * 10 >= t.total * 8
    """,
)
