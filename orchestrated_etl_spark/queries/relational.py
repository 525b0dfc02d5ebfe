"""Gap-list relational queries (SURVEY §2.7) with DuckDB oracles:
sort/top-k, set ops, window functions, rollup/cube/grouping sets, pivot,
distinct aggregates, date/time functions, and JSON extraction (the
analogue of the reference's HTML field extraction S2, dags/dag.py:83-92).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from orchestrated_etl_spark.operators import relational as R
from orchestrated_etl_spark.registry import register
from orchestrated_etl_spark.schemas import EVENT_PROPS
from orchestrated_etl_spark.sources.catalog import load_table, read_events

# ---------------------------------------------------------------------------
# sort / top-k
# ---------------------------------------------------------------------------


def _topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return R.top_k(
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        50,
        F.col("o_totalprice").desc(),
        F.col("o_orderkey"),
    )


register(
    "topk_orders_by_price",
    _topk,
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 50
    """,
)

# ---------------------------------------------------------------------------
# set operations
# ---------------------------------------------------------------------------


def _union(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        customer.select(F.col("c_nationkey").alias("nationkey"))
        .union(supplier.select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
    )


register(
    "setop_union",
    _union,
    """
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)


def _intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    return customer.select(F.col("c_nationkey").alias("nationkey")).intersect(
        supplier.select(F.col("s_nationkey").alias("nationkey"))
    )


register(
    "setop_intersect",
    _intersect,
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)


def _except(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    # subtract == EXCEPT DISTINCT (exceptAll would keep multiplicity)
    return customer.select(F.col("c_nationkey").alias("nationkey")).subtract(
        supplier.select(F.col("s_nationkey").alias("nationkey"))
    )


register(
    "setop_except",
    _except,
    """
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)


def _except_nonempty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order keys with no lineitems, as EXCEPT over key projections
    (non-empty: the fixtures contain childless orders)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return orders.select(F.col("o_orderkey").alias("orderkey")).subtract(
        li.select(F.col("l_orderkey").alias("orderkey"))
    )


register(
    "setop_except_orders",
    _except_nonempty,
    """
    SELECT o_orderkey AS orderkey FROM orders
    EXCEPT
    SELECT l_orderkey AS orderkey FROM lineitem
    """,
)

def _intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics INTERSECT ALL: per-value multiplicity is
    min(count_left, count_right) — lineitem ship-priority keys vs order
    keys keep duplicate counts, where the DISTINCT form collapses them.
    Spark plans intersectAll as a count-and-replicate aggregate, not a
    join explosion."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(F.col("l_orderkey").alias("orderkey"))
        .intersectAll(orders.select(F.col("o_orderkey").alias("orderkey")))
        .groupBy("orderkey")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
    )


register(
    "setop_intersect_all",
    _intersect_all,
    """
    SELECT orderkey, count(*) AS multiplicity FROM (
        SELECT l_orderkey AS orderkey FROM lineitem
        INTERSECT ALL
        SELECT o_orderkey AS orderkey FROM orders
    ) GROUP BY orderkey
    """,
)


def _except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics EXCEPT ALL: multiplicity max(count_left -
    count_right, 0) — lineitem order keys minus one occurrence per
    order row, i.e. "line items beyond the first per order" as a
    multiset. The aggregate-based plan (no join fan-out) is the same
    shape Spark uses for intersectAll."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(F.col("l_orderkey").alias("orderkey"))
        .exceptAll(orders.select(F.col("o_orderkey").alias("orderkey")))
        .groupBy("orderkey")
        .agg(F.count(F.lit(1)).alias("multiplicity"))
    )


register(
    "setop_except_all",
    _except_all,
    """
    SELECT orderkey, count(*) AS multiplicity FROM (
        SELECT l_orderkey AS orderkey FROM lineitem
        EXCEPT ALL
        SELECT o_orderkey AS orderkey FROM orders
    ) GROUP BY orderkey
    """,
)


# ---------------------------------------------------------------------------
# window functions
# ---------------------------------------------------------------------------


def _win_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return R.top_k_per_group(
        orders.select("o_custkey", "o_orderkey", "o_totalprice"),
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        3,
    )


register(
    "window_topk_per_group",
    _win_topk_per_group,
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(row_number() OVER (PARTITION BY o_custkey
                     ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        FROM orders
    ) WHERE rn <= 3
    """,
)


def _win_rank_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The synthetic fixture contains duplicate (l_orderkey, l_linenumber)
    # pairs (observed at sf0.1), so (shipdate, orderkey, linenumber) is
    # NOT a total order — lag/lead over it would be engine-arbitrary at
    # ties. Appending l_quantity (the lagged value itself) restores a
    # deterministic MULTISET: rows equal on every sort key are adjacent,
    # so swapping them never changes the emitted (prev, next) values.
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        "l_shipdate", "l_orderkey", "l_linenumber", "l_quantity"
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.rank().over(w).alias("ship_rank"),
        F.lag("l_quantity", 1).over(w).alias("prev_qty"),
        F.lead("l_quantity", 1).over(w).alias("next_qty"),
    )


register(
    "window_rank_lag_lead",
    _win_rank_lag,
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(rank() OVER w AS INTEGER) AS ship_rank,
           lag(l_quantity, 1) OVER w AS prev_qty,
           lead(l_quantity, 1) OVER w AS next_qty
    FROM lineitem
    WINDOW w AS (PARTITION BY l_suppkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity)
    """,
)


def _win_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Running sum/avg accumulate in engine-specific order; over DOUBLE the
    # last ulp differs between Spark's streaming frame accumulation and
    # DuckDB's segment-tree windows, which can flip round(). Accumulating in
    # DECIMAL(18,2) is exact, so both engines produce bit-identical sums; the
    # avg is then one double division of identical inputs.
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # No round() on the avg: round(x, 4) tie-breaks differently across
    # engines (Spark: exact BigDecimal HALF_UP; DuckDB: multiply-by-1e4),
    # and with identical double inputs the raw IEEE quotient is already
    # bit-identical on both sides — rounding could only reintroduce drift.
    sum_dec = F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w)
    cnt = F.count(F.lit(1)).over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        sum_dec.cast("double").alias("running_spend"),
        (sum_dec.cast("double") / cnt).alias("running_avg"),
    )


register(
    "window_running_sum",
    _win_running,
    """
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
               AS running_spend,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
                 / (count(*) OVER w) AS running_avg
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)

# ---------------------------------------------------------------------------
# rollup / cube / grouping sets — one Expand + one hash aggregate, not one
# shuffle per grouping set
# ---------------------------------------------------------------------------


def _rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
    )


register(
    "rollup_flag_status",
    _rollup,
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)


def _cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(14,2)"))
        .cast("double").alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


register(
    "cube_flag_status",
    _cube,
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
               AS sum_price, count(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)


def _grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
               count(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
        """
    )


register(
    "grouping_sets_orders",
    _grouping_sets,
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price, count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                            (o_orderstatus, o_orderpriority))
    """,
)

# ---------------------------------------------------------------------------
# pivot — conditional aggregation fan-out
# ---------------------------------------------------------------------------


def _pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
        .withColumnRenamed("O", "qty_open")
        .withColumnRenamed("F", "qty_filled")
    )


register(
    "pivot_status_qty",
    _pivot,
    """
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS qty_open,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS qty_filled
    FROM lineitem GROUP BY l_returnflag
    """,
)

# ---------------------------------------------------------------------------
# distinct aggregates
# ---------------------------------------------------------------------------


def _distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.round(F.sum_distinct(F.col("l_quantity")), 2).alias("sum_distinct_qty"),
    )


register(
    "distinct_aggregates",
    _distinct_agg,
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           round(sum(DISTINCT l_quantity), 2) AS sum_distinct_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)

# ---------------------------------------------------------------------------
# date/time functions on events.ts (absent from the reference entirely)
# ---------------------------------------------------------------------------


def _date_trunc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    return (
        ev.groupBy(
            # NOT date_trunc: Spark's date_trunc on TIMESTAMP_NTZ converts
            # through the SESSION timezone (NTZ -> LTZ), shifting day
            # boundaries under any non-UTC session. cast date -> ntz stays
            # wall-clock end to end (pinned by tests/test_timezone.py).
            F.col("ts").cast("date").cast("timestamp_ntz").alias("day"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,10)"))
            .cast("double").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


register(
    "datetime_daily_rollup",
    _date_trunc_daily,
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE) AS sum_value,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1, 2
    """,
)


def _date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofmonth("o_orderdate").alias("dom"),
        (F.weekday("o_orderdate") + F.lit(1)).alias("isodow"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
    )


register(
    "datetime_parts",
    _date_parts,
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           CAST(day(o_orderdate) AS INTEGER) AS dom,
           CAST(isodow(o_orderdate) AS INTEGER) AS isodow,
           strftime(o_orderdate, '%Y-%m') AS ym
    FROM orders
    """,
)


def _tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    return R.tumbling_window_agg(
        ev,
        "ts",
        "1 hour",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n_events"),
            # DECIMAL accumulation → exact sum regardless of order; the avg
            # is then one double division of identical inputs on both
            # engines (round(avg(double),6) flipped at sf0.1 group sizes).
            (
                F.sum(F.col("value").cast("decimal(25,10)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_value"),
        ],
    ).select("window_start", "window_end", "event_type", "n_events", "avg_value")


register(
    "window_tumbling_hourly",
    _tumbling_hourly,
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE) / count(*)
               AS avg_value
    FROM events GROUP BY 1, 2, 3
    """,
)

def _sliding_2h_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window in BATCH: window(ts, 2h, 1h) assigns each
    event to its two overlapping hour-aligned windows (a row expansion of
    exactly duration/slide — bounded, unlike an explode over arbitrary
    arrays), then one hash aggregate per (window, type). The streaming
    twin is stream_sliding_2h; this batch form is the backfill path."""
    ev = read_events(spark, sf_dir)
    w = F.window("ts", "2 hours", "1 hour")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(25,10)"))
            .cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


register(
    "window_sliding_2h_batch",
    _sliding_2h_batch,
    """
    WITH starts AS (
        SELECT unnest([time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour',
                       time_bucket(INTERVAL '1 hour', ts)]) AS window_start,
               event_type, value
        FROM events
    )
    SELECT window_start,
           window_start + INTERVAL '2 hours' AS window_end,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE) AS sum_value
    FROM starts GROUP BY 1, 2, 3
    """,
)

# ---------------------------------------------------------------------------
# JSON extraction on events.props — the analogue of the reference's HTML
# field extraction (S2, dags/dag.py:83-92)
# ---------------------------------------------------------------------------


def _json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_path"),
        F.from_json("props", EVENT_PROPS).getField("k").alias("k_struct"),
    )


register(
    "json_extract_props",
    _json_extract,
    """
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_path,
           TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_struct
    FROM events
    """,
)


def _json_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over an extracted JSON field (extraction feeding the
    relational layer, as the reference's scraped fields feed its groupbys)."""
    ev = read_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


register(
    "json_field_agg",
    _json_agg,
    """
    SELECT event_type,
           round(avg(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)), 6) AS avg_k,
           min(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_k,
           max(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
    FROM events GROUP BY event_type
    """,
)


# ---------------------------------------------------------------------------
# SQL API parity: the same engine surface through spark.sql (TPC-H Q3 shape)
# ---------------------------------------------------------------------------


def _sql_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority query (TPC-H Q3 shape) issued as pure SQL text —
    demonstrates that the registered-view + spark.sql path hits the same
    Catalyst plan (hint-free joins — dims broadcast under the threshold
    and shuffle past it, partial agg, pushed predicates) as the
    DataFrame API."""
    for t in ("customer", "orders", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"v_{t}")
    return spark.sql(
        """
        SELECT l.l_orderkey AS orderkey,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(14,2))
                    * CAST(1 - l.l_discount AS DECIMAL(4,2))) AS DOUBLE)
               AS revenue,
               o.o_orderdate AS orderdate,
               o.o_orderpriority AS orderpriority
        FROM v_customer c
        JOIN v_orders o ON c.c_custkey = o.o_custkey
        JOIN v_lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l.l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, orderdate, orderkey
        LIMIT 20
        """
    )


register(
    "sql_q3_shipping_priority",
    _sql_q3,
    """
    SELECT l.l_orderkey AS orderkey,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(14,2))
                    * CAST(1 - l.l_discount AS DECIMAL(4,2))) AS DOUBLE)
               AS revenue,
           o.o_orderdate AS orderdate,
           o.o_orderpriority AS orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, orderdate, orderkey
    LIMIT 20
    """,
)


# ---------------------------------------------------------------------------
# NTILE quantile bucketing + two-variable statistics
# ---------------------------------------------------------------------------


def _ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile bucketing of order value within each status (NTILE) with a
    per-bucket profile — the binning step for calibration/quantile
    features.

    Scale (round-16 rework): the original window partitioned by the
    3-value o_orderstatus, so each status — a third of the corpus —
    sorted in ONE task forever (the r15 verdict's parallelism-ceiling
    class). Now a TWO-PHASE grouped rank (operators/relational.
    grouped_rank_two_phase: range-partition on (status, price, key),
    per-partition row_number + broadcast P-row offsets, re-based per
    status by a 3-row bounded-domain offset broadcast) feeds
    exact_ntile_expr — SQL-standard ntile computed arithmetically from
    (rank, n), bucket assignment map-side. No stage sorts more than a
    range partition; output identical to ntile(10) OVER (...)."""
    orders = load_table(spark, sf_dir, "orders")
    ranked = R.grouped_rank_two_phase(
        orders.select("o_orderstatus", "o_totalprice", "o_orderkey"),
        ["o_orderstatus"],
        [F.asc("o_totalprice"), F.asc("o_orderkey")],
        rank_col="_rn",
        n_col="_n",
        broadcast_offsets=True,  # o_orderstatus domain: 3 values
    )
    b = ranked.select(
        "o_orderstatus",
        "o_totalprice",
        R.exact_ntile_expr(F.col("_rn"), F.col("_n"), 10).alias("decile"),
    )
    return b.groupBy("o_orderstatus", "decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


register(
    "window_ntile_deciles",
    _ntile,
    """
    WITH b AS (
        SELECT o_orderstatus, o_totalprice,
               ntile(10) OVER (PARTITION BY o_orderstatus
                               ORDER BY o_totalprice, o_orderkey) AS decile
        FROM orders
    )
    SELECT o_orderstatus, decile, count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM b GROUP BY o_orderstatus, decile
    """,
)


def _stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-variable statistics per returnflag: sample stddev, Pearson
    correlation, covariance — all partial-aggregable (sum/sum-of-squares/
    cross-products combine map-side), so one pass at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("cov_qty_price"),
    )


register(
    "agg_stats_corr",
    _stats,
    """
    SELECT l_returnflag, count(*) AS n,
           round(stddev_samp(l_extendedprice), 4) AS sd_price,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price
    FROM lineitem GROUP BY l_returnflag
    """,
)


def _unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt) the lineitem measures into (measure, value) rows via
    stack() — the inverse of pivot_status_qty — then profile each measure.
    stack is a generator expression: no shuffle until the aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.selectExpr(
        "l_returnflag",
        "stack(3, 'quantity', l_quantity, 'price', l_extendedprice,"
        " 'discount', l_discount) AS (measure, value)"
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


register(
    "unpivot_lineitem_measures",
    _unpivot,
    """
    WITH long AS (
        SELECT l_returnflag, 'quantity' AS measure, l_quantity AS value FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'price', l_extendedprice FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'discount', l_discount FROM lineitem
    )
    SELECT l_returnflag, measure, count(*) AS n,
           round(avg(value), 6) AS avg_value
    FROM long GROUP BY l_returnflag, measure
    """,
)


def _json_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType coverage: parse props into map<string,int>, access by key
    and explode entries — the dynamic-schema alternative to the typed
    from_json struct in json_extract_props. Aggregates per event_type."""
    ev = read_events(spark, sf_dir)
    m = F.from_json("props", "map<string,int>")
    entries = ev.select(
        "event_type",
        F.explode(m).alias("key", "val"),
    )
    return entries.groupBy("event_type", "key").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("val").cast("long").alias("sum_val"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
    )


register(
    "json_map_entries",
    _json_map,
    """
    SELECT event_type, 'k' AS key, count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_val,
           min(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS min_val,
           max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_val
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
    GROUP BY event_type
    """,
)


# ---------------------------------------------------------------------------
# VARIANT (Spark 4 semi-structured type) over the props JSON
# ---------------------------------------------------------------------------


def _variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT surface: parse_json gives a binary-encoded
    semi-structured value (shredded access without re-parsing the string
    per path — the scale answer to repeated get_json_object calls on wide
    JSON), try_variant_get extracts typed fields. Functionally the twin
    of json_field_agg; the difference is the column TYPE carried between
    operators is variant, not string."""
    ev = read_events(spark, sf_dir)
    parsed = ev.select(
        "event_type",
        F.try_variant_get(F.parse_json("props"), "$.k", "int").alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("k").alias("n_with_k"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


register(
    "json_variant_props",
    _variant_props,
    """
    SELECT event_type,
           count(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER))
               AS n_with_k,
           CAST(sum(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER))
               AS BIGINT) AS sum_k,
           min(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER))
               AS min_k,
           max(TRY_CAST(json_extract_string(props, '$.k') AS INTEGER))
               AS max_k
    FROM events GROUP BY event_type
    """,
)


def _pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4): the ETL-natural top-to-bottom form of
    the same Catalyst plan — each |> stage is a relational operator
    applied to the previous result, exactly how this engine's DataFrame
    pipelines read. Plan-identical to the nested-SELECT form; this query
    exists to pin the parser surface."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_pipe_src"
    )
    return spark.sql(
        """
        FROM orders_pipe_src
        |> WHERE o_orderpriority = '1-URGENT'
        |> AGGREGATE count(*) AS n_orders,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
           GROUP BY o_orderstatus
        |> ORDER BY o_orderstatus
        """
    )


register(
    "sql_pipe_syntax",
    _pipe_syntax,
    """
    SELECT o_orderstatus, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY 1 ORDER BY 1
    """,
)
