"""Wave-12 SQL/aggregate surface: ordered string aggregation (LISTAGG),
ignore-nulls window carry-forward (LOCF), bitwise/boolean aggregates,
exact median, ANSI percentile_cont/disc, nth_value frames, and the
approx_top_k sketch aggregate.

These are the remaining ANSI/Spark-4 aggregate-surface functions a
reference user could reach for that had no registered twin yet (the
reference itself has none of this — its only aggregation is five pandas
groupbys, dags/dag.py:167-181; this is the §2.7 "full SQL surface"
extension family).

Determinism policy (same as the registry-wide float policy):
- LISTAGG carries an explicit WITHIN GROUP (ORDER BY) on a unique key —
  the concatenation order is pinned on both engines.
- approx_top_k is registered on a LOW-CARDINALITY column with k >
  distinct-count and re-sorted by item, so the sketch is provably exact
  and the output order independent of count ties.
- percentile_cont/disc follow ANSI on both engines (probed: disc picks
  the same order statistic, cont interpolates bit-identically on
  identical doubles).
- The ignore-nulls carry-forward orders on (ts, event_id) — a unique
  total order.

Scale posture: every query here is one partial-aggregable hash aggregate
or one partitioned window — the same shuffle-once shapes as the
relational core; LISTAGG strings are bounded by group size (guarded by
the o_orderkey < 50 slice — unbounded LISTAGG at 100 TB is an anti-
pattern; cap or switch to arrays).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from orchestrated_etl_spark.registry import register
from orchestrated_etl_spark.sources.catalog import load_table, read_events


def _li(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem")


# ---------------------------------------------------------------------------
# LISTAGG / string_agg with pinned ordering
# ---------------------------------------------------------------------------


def _listagg_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order ordered line manifest via LISTAGG ... WITHIN GROUP — the
    ANSI ordered string aggregation (Spark 4 syntax; DuckDB spells it
    string_agg(... ORDER BY ...)). Restricted to a key slice so group
    strings stay bounded — the 100 TB guidance is to cap membership or
    aggregate into arrays instead of unbounded strings."""
    _li(spark, sf_dir).createOrReplaceTempView("lineitem_w12a")
    return spark.sql(
        """
        SELECT l_orderkey,
               listagg(CAST(l_linenumber AS STRING), ',')
                   WITHIN GROUP (ORDER BY l_linenumber) AS line_manifest,
               listagg(DISTINCT l_returnflag, '|')
                   WITHIN GROUP (ORDER BY l_returnflag) AS flags,
               count(*) AS n_lines
        FROM lineitem_w12a
        WHERE l_orderkey < 50
        GROUP BY l_orderkey
        """
    )


register(
    "agg_listagg_lines",
    _listagg_lines,
    """
    SELECT l_orderkey,
           string_agg(CAST(l_linenumber AS VARCHAR), ','
                      ORDER BY l_linenumber) AS line_manifest,
           string_agg(DISTINCT l_returnflag, '|' ORDER BY l_returnflag)
               AS flags,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_orderkey < 50
    GROUP BY l_orderkey
    """,
)


# ---------------------------------------------------------------------------
# ignore-nulls carry-forward (LOCF)
# ---------------------------------------------------------------------------


def _locf_purchase_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward: annotate every event with the
    value of the user's most recent PURCHASE at-or-before it — the
    sensor/price-feed gap-fill shape, done with last(expr, ignorenulls)
    over a running frame instead of a self-join. One shuffle on user_id;
    the frame scan is O(1) amortized per row. Ordering (ts, event_id) is
    a unique total order, so the carried value is engine-deterministic."""
    ev = read_events(spark, sf_dir).select(
        "event_id", "user_id", "ts", "event_type", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        # coalesce to a typed sentinel: a NULL-bearing numeric column
        # pandas-coerces to float64/NaN downstream, which hashes
        # differently from Spark's None (tests/test_oracle_dtypes.py
        # class); -1.0 is outside the value domain (values >= 0).
        F.coalesce(
            F.last(
                F.when(F.col("event_type") == "purchase", F.col("value")),
                ignorenulls=True,
            ).over(w),
            F.lit(-1.0),
        ).alias("last_purchase_value"),
    )


register(
    "window_locf_ignore_nulls",
    _locf_purchase_value,
    """
    SELECT event_id, user_id,
           coalesce(
               last_value(CASE WHEN event_type = 'purchase' THEN value END
                          IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING),
               -1.0) AS last_purchase_value
    FROM events
    """,
)


# ---------------------------------------------------------------------------
# bitwise aggregates
# ---------------------------------------------------------------------------


def _bitwise_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bit_or / bit_and / bit_xor over a derived 8-bit flag word — the
    compact-bitmask rollup (feature flags, permission masks). Fully
    partial-aggregable: each is a commutative-associative fold, so the
    map-side combine does almost all the work."""
    orders = load_table(spark, sf_dir, "orders")
    flag = (F.col("o_orderkey") % 256).cast("long")
    return orders.groupBy("o_orderpriority").agg(
        F.bit_or(flag).alias("flags_any"),
        F.bit_and(flag).alias("flags_all"),
        F.bit_xor(flag).alias("flags_parity"),
        F.count(F.lit(1)).alias("n_orders"),
    )


register(
    "agg_bitwise_flags",
    _bitwise_flags,
    """
    SELECT o_orderpriority,
           bit_or(o_orderkey % 256) AS flags_any,
           bit_and(o_orderkey % 256) AS flags_all,
           bit_xor(o_orderkey % 256) AS flags_parity,
           count(*) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
)


# ---------------------------------------------------------------------------
# boolean aggregates
# ---------------------------------------------------------------------------


def _bool_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bool_and / bool_or rule rollups — the constraint-audit aggregate
    in its native ANSI form (EVERY/ANY): does EVERY line in the flag
    group satisfy the rule, does ANY violate it. Integer/boolean outputs
    only — bit-exact cross-engine."""
    li = _li(spark, sf_dir)
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_quantity") > 0).alias("all_qty_positive"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_deep_discount"),
        F.bool_and(F.col("l_shipdate").isNotNull()).alias("all_shipped_dated"),
        F.count(F.lit(1)).alias("n_lines"),
    )


register(
    "agg_bool_rules",
    _bool_rules,
    """
    SELECT l_returnflag,
           bool_and(l_quantity > 0) AS all_qty_positive,
           bool_or(l_discount > 0.09) AS any_deep_discount,
           bool_and(l_shipdate IS NOT NULL) AS all_shipped_dated,
           count(*) AS n_lines
    FROM lineitem GROUP BY l_returnflag
    """,
)


# ---------------------------------------------------------------------------
# exact median + ANSI percentiles
# ---------------------------------------------------------------------------


def _median_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median and ANSI percentile_cont/disc per group. disc picks
    an actual order statistic (probed: both engines implement the ANSI
    smallest-cume_dist>=p rule); cont interpolates between adjacent
    statistics with bit-identical IEEE arithmetic on identical inputs
    (integer quantities cast to double). Exact percentile buffers each
    group's values — bounded-cardinality groups only; the streaming-
    friendly histogram alternative is events_rfm_quantile_cutoffs'
    cutoff derivation."""
    _li(spark, sf_dir).createOrReplaceTempView("lineitem_w12b")
    return spark.sql(
        """
        SELECT l_returnflag,
               median(CAST(l_quantity AS INT)) AS median_qty,
               percentile_cont(0.25)
                   WITHIN GROUP (ORDER BY CAST(l_quantity AS INT))
                   AS q1_qty,
               CAST(percentile_disc(0.9)
                   WITHIN GROUP (ORDER BY CAST(l_quantity AS INT))
                   AS DOUBLE) AS p90_qty_disc,
               count(*) AS n_lines
        FROM lineitem_w12b
        GROUP BY l_returnflag
        """
    )


register(
    "agg_median_percentiles",
    _median_percentiles,
    """
    SELECT l_returnflag,
           median(CAST(l_quantity AS INT)) AS median_qty,
           percentile_cont(0.25)
               WITHIN GROUP (ORDER BY CAST(l_quantity AS INT)) AS q1_qty,
           CAST(percentile_disc(0.9)
               WITHIN GROUP (ORDER BY CAST(l_quantity AS INT))
               AS DOUBLE) AS p90_qty_disc,
           count(*) AS n_lines
    FROM lineitem GROUP BY l_returnflag
    """,
)


# ---------------------------------------------------------------------------
# nth_value over a full frame
# ---------------------------------------------------------------------------


def _nth_value_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value over the FULL partition frame: each order's 2nd line
    part key annotated onto every line (NULL for 1-line orders) — the
    "compare to the group's k-th element" window shape. Unique ordering
    (l_linenumber) makes the picked row engine-deterministic."""
    li = _li(spark, sf_dir).where(F.col("l_orderkey") < 200)
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        # sentinel for 1-line orders: NULL-bearing BIGINT pandas-coerces
        # to float64 downstream (see window_locf_ignore_nulls note)
        F.coalesce(F.nth_value("l_partkey", 2).over(w), F.lit(-1).cast("long"))
        .alias("second_line_part"),
    )


register(
    "window_nth_value",
    _nth_value_lines,
    """
    SELECT l_orderkey, l_linenumber,
           coalesce(
               nth_value(l_partkey, 2)
                   OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND UNBOUNDED FOLLOWING),
               -1) AS second_line_part
    FROM lineitem
    WHERE l_orderkey < 200
    """,
)


# ---------------------------------------------------------------------------
# approx_top_k sketch (registered in its provably-exact regime)
# ---------------------------------------------------------------------------


def _approx_topk_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_top_k — Spark 4's frequent-items sketch aggregate,
    registered in the regime where the sketch is PROVABLY exact:
    k and maxItemsTracked exceed the column's distinct count (5 event
    types), so every item survives with its exact count, and the output
    re-sorts by item so count ties can't reorder rows. At real
    cardinalities the same one-pass sketch returns approximate heavy
    hitters with bounded memory — the scale path for "top URLs / top
    tokens" over 100 TB where an exact groupBy-then-sort would shuffle
    the full key space. The oracle is the exact GROUP BY this sketch
    deliberately collapses to here."""
    read_events(spark, sf_dir).createOrReplaceTempView("events_w12")
    return spark.sql(
        """
        SELECT t.item AS event_type, t.count AS n_events
        FROM (
            SELECT explode(approx_top_k(event_type, 10, 1000)) AS t
            FROM events_w12
        )
        ORDER BY event_type
        """
    )


register(
    "agg_approx_topk_exact_regime",
    _approx_topk_event_types,
    """
    SELECT event_type, count(*) AS n_events
    FROM events GROUP BY event_type
    ORDER BY event_type
    """,
)


# ---------------------------------------------------------------------------
# higher-order array functions
# ---------------------------------------------------------------------------


def _array_hof_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array function surface over per-order quantity
    arrays: aggregate (fold), filter, exists, array_distinct,
    array_position — the fold/position half of the lambda-expression
    API (the existing `array_hof_profile` covers filter/exists/min/max
    over embeddings); keeps per-row collection logic JVM-side instead
    of a Python UDF. The array is
    built with ONE collect_list aggregate (sorted for determinism);
    every HOF then evaluates map-side in the same projection. Oracle:
    DuckDB's list_* twins (list_reduce/list_filter/list_contains/
    list_distinct/list_position; absent-element position NULL-coalesced
    to Spark's 0 contract)."""
    li = _li(spark, sf_dir).where(F.col("l_orderkey") < 500)
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(F.col("l_quantity").cast("int"))
        ).alias("qtys")
    )
    return per_order.select(
        "l_orderkey",
        F.aggregate(
            "qtys", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("total_qty"),
        F.size(F.filter("qtys", lambda x: x > 30)).alias("n_big"),
        F.exists("qtys", lambda x: x == 40).alias("has_qty_40"),
        F.size(F.array_distinct("qtys")).alias("n_distinct_qty"),
        F.array_position("qtys", 25).cast("long").alias("pos_of_25"),
        F.size("qtys").alias("n_lines"),
    )


register(
    "array_fold_profile",
    _array_hof_profile,
    """
    SELECT l_orderkey,
           CAST(list_reduce(list_prepend(0, qtys), (a, b) -> a + b)
                AS BIGINT) AS total_qty,
           len(list_filter(qtys, x -> x > 30)) AS n_big,
           list_contains(qtys, 40) AS has_qty_40,
           len(list_distinct(qtys)) AS n_distinct_qty,
           CAST(coalesce(list_position(qtys, 25), 0) AS BIGINT)
               AS pos_of_25,
           len(qtys) AS n_lines
    FROM (
        SELECT l_orderkey,
               list_sort(list(CAST(l_quantity AS INTEGER))) AS qtys
        FROM lineitem
        WHERE l_orderkey < 500
        GROUP BY l_orderkey
    )
    """,
)


# ---------------------------------------------------------------------------
# calendar / interval arithmetic
# ---------------------------------------------------------------------------


def _interval_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-arithmetic surface on order dates: fixed-day and
    calendar-month offsets (month-end clamping pinned: Jan 31 + 1 month
    = Feb 28/29), last_day, ISO week start/number, day-of-week,
    quarter, and day distance to an anchor. All map-side projections on
    DATE values — wall-clock, engine- and timezone-independent (the
    contract tests/test_timezone.py enforces). DuckDB's dayofweek is
    0=Sunday vs Spark's 1=Sunday — the oracle carries the +1."""
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") < 500
    )
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        d.alias("d"),
        F.date_add(d, 45).alias("plus_45d"),
        F.add_months(d, 2).alias("plus_2m"),
        F.last_day(d).alias("month_end"),
        F.trunc(d, "week").alias("week_start"),
        F.dayofweek(d).alias("dow"),
        F.weekofyear(d).alias("iso_week"),
        F.quarter(d).alias("qtr"),
        F.datediff(F.to_date(F.lit("1997-01-01")), d).alias("days_to_1997"),
    )


register(
    "datetime_interval_math",
    _interval_math,
    """
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS d,
           CAST(CAST(o_orderdate AS DATE) + to_days(45) AS DATE)
               AS plus_45d,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE)
               AS plus_2m,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE)
               AS week_start,
           CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INTEGER) AS dow,
           CAST(weekofyear(CAST(o_orderdate AS DATE)) AS INTEGER) AS iso_week,
           CAST(quarter(CAST(o_orderdate AS DATE)) AS INTEGER) AS qtr,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '1997-01-01')
                AS INTEGER) AS days_to_1997
    FROM orders
    WHERE o_orderkey < 500
    """,
)


# ---------------------------------------------------------------------------
# grouping() / grouping_id() over a cube
# ---------------------------------------------------------------------------


def _grouping_id_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouping()/grouping_id() disambiguation over CUBE: a NULL group
    key from the data vs a NULL standing for "all" at a superaggregate
    level are indistinguishable without grouping() — grouping_id gives
    the level bitmask every reporting layer keys on. Standard ANSI on
    both engines; superaggregate NULL keys are rendered as 'ALL' via
    the grouping bit so the compared output has no NULL strings."""
    _li(spark, sf_dir).createOrReplaceTempView("lineitem_w12c")
    return spark.sql(
        """
        SELECT CASE WHEN grouping(l_returnflag) = 1 THEN 'ALL'
                    ELSE l_returnflag END AS returnflag,
               CASE WHEN grouping(l_linestatus) = 1 THEN 'ALL'
                    ELSE l_linestatus END AS linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
               count(*) AS n_lines
        FROM lineitem_w12c
        GROUP BY CUBE(l_returnflag, l_linestatus)
        """
    )


register(
    "agg_grouping_id_cube",
    _grouping_id_cube,
    """
    SELECT CASE WHEN grouping(l_returnflag) = 1 THEN 'ALL'
                ELSE l_returnflag END AS returnflag,
           CASE WHEN grouping(l_linestatus) = 1 THEN 'ALL'
                ELSE l_linestatus END AS linestatus,
           CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
           count(*) AS n_lines
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)


# ---------------------------------------------------------------------------
# ANSI linear-regression aggregates
# ---------------------------------------------------------------------------


def _regression_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI regr_* aggregates: per return flag, OLS slope / intercept /
    R² / count / mean-x / mean-y of extended price against quantity —
    single-pass partial-aggregable moment statistics (never a driver
    fit). Probed bit-identical cross-engine on identical doubles;
    round(6) absorbs partial-aggregation summation-order ulp on the
    fixture's larger groups (irrational-valued outputs — the allowed
    rounding class)."""
    _li(spark, sf_dir).createOrReplaceTempView("lineitem_w12d")
    return spark.sql(
        """
        SELECT l_returnflag,
               round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
               round(regr_intercept(l_extendedprice, l_quantity), 6)
                   AS intercept,
               round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
               regr_count(l_extendedprice, l_quantity) AS n,
               round(regr_avgx(l_extendedprice, l_quantity), 6) AS avg_qty,
               round(regr_avgy(l_extendedprice, l_quantity), 6) AS avg_price
        FROM lineitem_w12d
        GROUP BY l_returnflag
        """
    )


register(
    "agg_regression_funcs",
    _regression_funcs,
    """
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 6)
               AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           regr_count(l_extendedprice, l_quantity) AS n,
           round(regr_avgx(l_extendedprice, l_quantity), 6) AS avg_qty,
           round(regr_avgy(l_extendedprice, l_quantity), 6) AS avg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)


# ---------------------------------------------------------------------------
# width_bucket equi-width histogram
# ---------------------------------------------------------------------------


def _width_bucket_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals via ANSI width_bucket —
    fixed [0, 400000) domain in 20 bins with under/overflow buckets 0
    and 21. One map-side bucketing projection + one tiny aggregate —
    the fixed-domain histogram that needs NO stats pass first (contrast
    dq_drift_psi's data-derived bins). The oracle spells the bucketing
    rule arithmetically (DuckDB has no width_bucket): identical doubles
    through floor((x-lo)/(hi-lo)*n)+1 on both engines."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.expr(
                "width_bucket(o_totalprice, 0.0, 400000.0, 20)"
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


register(
    "agg_width_bucket_histogram",
    _width_bucket_hist,
    """
    SELECT CASE WHEN o_totalprice < 0.0 THEN 0
                WHEN o_totalprice >= 400000.0 THEN 21
                ELSE CAST(floor(o_totalprice / 400000.0 * 20) AS BIGINT) + 1
           END AS bucket,
           count(*) AS n_orders
    FROM orders
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# null-safe equality join
# ---------------------------------------------------------------------------


def _null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): anonymous
    activity (NULL user key) forms a real group that plain equi-joins
    silently drop — here per-user click and purchase rollups are joined
    null-safely so the anonymous bucket joins to itself. The fixture has
    no NULL user_id rows, so the anonymization rule user_id % 7 == 0 →
    NULL is applied identically on both engines, guaranteeing NULL keys
    on BOTH join sides — the null-safe path, the -1 sentinel, and
    is_anonymous=true are all exercised by the oracle (round-3 advice:
    previously vacuous). <=> plans as an ordinary hash join (NULL is
    just another key value), so the scale shape is identical to the
    equi-join. The nullable key is emitted through a -1 sentinel (no
    NULL-bearing numeric output)."""
    ev = read_events(spark, sf_dir).withColumn(
        "user_id",
        F.when(F.col("user_id") % 7 == 0, F.lit(None)).otherwise(
            F.col("user_id")
        ),
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    joined = clicks.alias("c").join(
        purchases.alias("p"),
        F.col("c.user_id").eqNullSafe(F.col("p.user_id")),
        "full_outer",
    )
    return joined.select(
        F.coalesce(
            F.col("c.user_id"), F.col("p.user_id"), F.lit(-1).cast("long")
        ).alias("user_key"),
        F.coalesce(F.col("n_clicks"), F.lit(0).cast("long")).alias("n_clicks"),
        F.coalesce(F.col("n_purchases"), F.lit(0).cast("long")).alias(
            "n_purchases"
        ),
        (
            F.col("c.user_id").isNull() & F.col("p.user_id").isNull()
        ).alias("is_anonymous"),
    )


register(
    "join_null_safe_eq",
    _null_safe_join,
    """
    WITH anon AS (
        SELECT CASE WHEN user_id % 7 = 0 THEN NULL ELSE user_id END
                   AS user_id,
               event_type
        FROM events
    ),
    c AS (
        SELECT user_id, count(*) AS n_clicks
        FROM anon WHERE event_type = 'click' GROUP BY user_id
    ),
    p AS (
        SELECT user_id, count(*) AS n_purchases
        FROM anon WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT coalesce(c.user_id, p.user_id, -1) AS user_key,
           coalesce(c.n_clicks, 0) AS n_clicks,
           coalesce(p.n_purchases, 0) AS n_purchases,
           c.user_id IS NULL AND p.user_id IS NULL AS is_anonymous
    FROM c FULL OUTER JOIN p
      ON c.user_id IS NOT DISTINCT FROM p.user_id
    """,
)


# ---------------------------------------------------------------------------
# SHUFFLE_HASH join hint
# ---------------------------------------------------------------------------


def _shuffle_hash_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHUFFLE_HASH hint surface: pins the orders–lineitem join to a
    shuffled hash join — the strategy that beats sort-merge when one
    side is much smaller than the other but too big to broadcast (no
    sort phase, build-side hash table per partition). Hints change the
    PHYSICAL strategy only; the result is the plain join, which is the
    oracle. The plan pin lives in tests (ShuffledHashJoin node)."""
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "P"
    )
    li = load_table(spark, sf_dir, "lineitem")
    joined = li.join(
        orders.hint("shuffle_hash"),
        li.l_orderkey == orders.o_orderkey,
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


register(
    "join_shuffle_hash_hint",
    _shuffle_hash_hint,
    """
    SELECT o_orderpriority, count(*) AS n_lines,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'P'
    GROUP BY o_orderpriority
    """,
)


# ---------------------------------------------------------------------------
# approx_percentile with verified rank-error bounds
# ---------------------------------------------------------------------------

_AP_ACCURACY = 1000  # rank error guarantee: |rank - target| <= n / accuracy


def _approx_percentile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile under its own contract: the Greenwald-Khanna
    sketch guarantees the returned value's RANK is within n/accuracy of
    the target rank. The query computes the approximate p50/p90 per
    order priority AND then verifies the guarantee exactly — count of
    rows <= the returned value vs the target rank — emitting booleans.
    The sketch value itself is engine-specific (DuckDB uses t-digest),
    so the ORACLE CONTRACT is the bounds booleans + exact counts, the
    same pattern as agg_hll_sketch_merge: what is checked cross-engine
    is that Spark's sketch satisfies the published guarantee, not that
    two different sketches agree. This is the bounded-memory,
    partial-aggregable percentile for 100 TB groups — the scale path
    the exact percentile queries (agg_median_percentiles) document
    against."""
    orders = load_table(spark, sf_dir, "orders")
    ap = orders.groupBy("o_orderpriority").agg(
        F.expr(
            f"approx_percentile(o_totalprice, array(0.5, 0.9), {_AP_ACCURACY})"
        ).alias("ap"),
        F.count(F.lit(1)).alias("n"),
    )
    joined = orders.join(
        F.broadcast(
            ap.select(
                "o_orderpriority",
                F.col("ap")[0].alias("p50"),
                F.col("ap")[1].alias("p90"),
                "n",
            )
        ),
        "o_orderpriority",
    )
    ranks = joined.groupBy("o_orderpriority").agg(
        F.first("n").alias("n"),
        F.sum((F.col("o_totalprice") <= F.col("p50")).cast("long")).alias(
            "rank50"
        ),
        F.sum((F.col("o_totalprice") <= F.col("p90")).cast("long")).alias(
            "rank90"
        ),
    )
    eps = F.col("n") / F.lit(_AP_ACCURACY) + 1
    return ranks.select(
        "o_orderpriority",
        "n",
        (F.abs(F.col("rank50") - F.col("n") * 0.5) <= eps).alias(
            "p50_within_bounds"
        ),
        (F.abs(F.col("rank90") - F.col("n") * 0.9) <= eps).alias(
            "p90_within_bounds"
        ),
    )


register(
    "agg_approx_percentile_bounds",
    _approx_percentile_bounds,
    """
    SELECT o_orderpriority, count(*) AS n,
           TRUE AS p50_within_bounds,
           TRUE AS p90_within_bounds
    FROM orders
    GROUP BY o_orderpriority
    """,
)


# ---------------------------------------------------------------------------
# ORDER BY ALL + LIMIT/OFFSET pagination
# ---------------------------------------------------------------------------


def _pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless pagination surface: ORDER BY ALL (every select item, left
    to right — the dashboard shorthand both engines implement) plus
    LIMIT/OFFSET page 3 of the nation roster. OFFSET is fine at page
    depth 10 and an anti-pattern at depth 10^6 (each page re-sorts the
    prefix); the scale path is keyset pagination (WHERE key > last_seen
    ORDER BY key LIMIT n), which is exactly how every *_topk query here
    bounds its scan. Total order ⇒ deterministic page."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "nation_w12"
    )
    return spark.sql(
        """
        SELECT n_regionkey, n_name
        FROM nation_w12
        ORDER BY ALL
        LIMIT 5 OFFSET 10
        """
    )


register(
    "sql_pagination_offset",
    _pagination,
    """
    SELECT n_regionkey, n_name
    FROM nation
    ORDER BY ALL
    LIMIT 5 OFFSET 10
    """,
)


# ---------------------------------------------------------------------------
# regexp_count / instr / substr surface
# ---------------------------------------------------------------------------


def _regexp_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The counting/locating regexp family (regexp_count / regexp_instr
    / regexp_substr) over document text — all map-side JVM expressions.
    DuckDB spells them differently (len(regexp_extract_all(...)),
    strpos of the first extract, regexp_extract(...)), which is what the
    oracle does; the -1/'' sentinels pin the no-match contracts so no
    NULL-bearing output column exists."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < 200
    )
    return docs.select(
        "doc_id",
        F.expr("regexp_count(text, 'a[a-z]+')").alias("n_a_words"),
        F.expr("CAST(regexp_instr(text, 'join') AS INT)").alias("join_pos"),
        F.coalesce(
            F.expr("regexp_substr(text, '[a-z]{7,}')"), F.lit("")
        ).alias("first_long_word"),
    )


register(
    "sql_regexp_count_instr",
    _regexp_surface,
    """
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, 'a[a-z]+')) AS INTEGER)
               AS n_a_words,
           CAST(CASE WHEN regexp_extract(text, 'join') = ''
                     THEN 0 ELSE strpos(text, regexp_extract(text, 'join'))
                END AS INTEGER) AS join_pos,
           regexp_extract(text, '[a-z]{7,}') AS first_long_word
    FROM documents
    WHERE doc_id < 200
    """,
)
