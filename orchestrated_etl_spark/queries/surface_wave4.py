"""Wave-4 API surface: gap-fill date spines, interval RANGE frames,
FILTER-clause aggregates, string-function profile, character entropy.

None of these exist in the reference (SURVEY §2.7 gap list); they round out
the function surface a training-data pipeline leans on daily:

- Gap-fill + forward-fill is the canonical "regularize an irregular
  time series" op (metrics backfill, feature snapshots). The spine comes
  from ``sequence()`` — generated, never cross-joined against a calendar
  table — and the fill is one partitioned window, no self-join.
- RANGE frames over time intervals (rolling 7-day spend) are the
  window-function shape ROWS frames can't express when events are
  irregularly spaced.
- FILTER-clause aggregates compute N conditional metrics in ONE pass —
  at 100 TB the alternative (N self-joined subqueries) is N fact scans.
- Character-entropy is a standard quality-scoring signal (gibberish and
  boilerplate both have distinctive entropy); computed via explode +
  two hash aggregates, all JVM-side, no Python.

Scale posture: every window here is partitioned by a key (user_id /
c_custkey / doc_id — never a global ORDER BY); the entropy explode fans
out ~n_chars rows but aggregates immediately with map-side combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from orchestrated_etl_spark.registry import register
from orchestrated_etl_spark.sources.catalog import load_table, read_events


# ---------------------------------------------------------------------------
# date-spine gap fill + forward fill
# ---------------------------------------------------------------------------


def _gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regularize each user's daily event-value series: build the full
    min→max day spine per user with ``sequence()`` (no calendar-table
    cross join, no driver loop), left-join the observed daily sums, and
    forward-fill gaps with ``last(..., ignorenulls)`` over one partitioned
    window. Two shuffles total (daily agg, spine join) — both on user_id,
    and AQE coalesces them at small SF."""
    ev = (
        read_events(spark, sf_dir)
        .where(F.col("user_id").isNotNull() & (F.col("user_id") < 40))
        .select("user_id", F.col("ts").cast("date").alias("day"), "value")
    )
    daily = ev.groupBy("user_id", "day").agg(
        F.sum(F.col("value").cast("decimal(25,10)"))
        .cast("double").alias("day_value")
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce("day_value", F.lit(0.0)).alias("day_value"),
            F.last("day_value", ignorenulls=True).over(w).alias("filled_value"),
        )
    )


register(
    "datetime_gap_fill",
    _gap_fill,
    """
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE) AS day_value
        FROM events
        WHERE user_id IS NOT NULL AND user_id < 40
        GROUP BY user_id, CAST(ts AS DATE)
    ),
    spine AS (
        SELECT user_id,
               CAST(unnest(generate_series(min(day), max(day),
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM daily GROUP BY user_id
    )
    SELECT s.user_id, s.day,
           coalesce(d.day_value, 0.0) AS day_value,
           last_value(d.day_value IGNORE NULLS) OVER (
               PARTITION BY s.user_id ORDER BY s.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled_value
    FROM spine s LEFT JOIN daily d
      ON s.user_id = d.user_id AND s.day = d.day
    """,
)


# ---------------------------------------------------------------------------
# interval RANGE window frame
# ---------------------------------------------------------------------------


def _range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day spend per customer — a RANGE frame bounded by a time
    interval, which a ROWS frame cannot express over irregular order
    dates. Issued as SQL text (the DataFrame ``rangeBetween`` API takes
    only numeric offsets; interval frames are SQL-surface). Window is
    partitioned by customer — no global sort at any scale."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "v_orders_w4"
    )
    return spark.sql(
        """
        SELECT o_custkey, o_orderkey, o_orderdate,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate
                   RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS spend_7d,
               count(*) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate
                   RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
               ) AS n_orders_7d
        FROM v_orders_w4
        """
    )


register(
    "window_range_7day_spend",
    _range_frame,
    """
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS spend_7d,
           CAST(count(*) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_orders_7d
    FROM orders
    """,
)


# ---------------------------------------------------------------------------
# FILTER-clause conditional aggregates
# ---------------------------------------------------------------------------


def _filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N conditional metrics in ONE fact scan via the SQL FILTER clause
    (plus bool_and/bool_or/count_if) — the single-pass replacement for
    the reference's three-separate-groupbys style (dags/dag.py:167-181).
    One hash aggregate, map-side partials, no self-joins."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "v_lineitem_w4"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               count(*) AS n_rows,
               count(*) FILTER (WHERE l_discount > 0.05) AS n_high_disc,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)))
                    FILTER (WHERE l_tax > 0.04) AS DOUBLE) AS taxed_price,
               count_if(l_quantity >= 49.0) AS n_near_cap,
               bool_and(l_quantity > 0.0) AS all_positive_qty,
               bool_or(l_discount >= 0.10) AS any_max_disc
        FROM v_lineitem_w4
        GROUP BY l_returnflag
        """
    )


register(
    "agg_filtered_conditional",
    _filtered_agg,
    """
    SELECT l_returnflag,
           count(*) AS n_rows,
           count(*) FILTER (WHERE l_discount > 0.05) AS n_high_disc,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2)))
                FILTER (WHERE l_tax > 0.04) AS DOUBLE) AS taxed_price,
           CAST(count_if(l_quantity >= 49.0) AS BIGINT) AS n_near_cap,
           bool_and(l_quantity > 0.0) AS all_positive_qty,
           bool_or(l_discount >= 0.10) AS any_max_disc
    FROM lineitem
    GROUP BY l_returnflag
    """,
)


# ---------------------------------------------------------------------------
# string-function profile
# ---------------------------------------------------------------------------


def _string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface over part names: pad, translate,
    split_part, reverse, levenshtein — the standardise-stage vocabulary
    (dags/dag.py:138-146 did only replace+cast) extended to the full
    set an entity-resolution / catalog-cleaning pipeline needs. Pure
    map-stage projection: no shuffle, whole-stage codegen."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.lpad("p_brand", 12, "*").alias("brand_padded"),
        F.translate("p_type", " ", "_").alias("type_snake"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head"),
        F.reverse("p_name").alias("name_rev"),
        F.levenshtein("p_brand", F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)))
        .alias("brand_name_dist"),
        F.length("p_name").alias("name_len"),
    )


register(
    "string_funcs_profile",
    _string_funcs,
    """
    SELECT p_partkey,
           lpad(p_brand, 12, '*') AS brand_padded,
           translate(p_type, ' ', '_') AS type_snake,
           split_part(p_type, ' ', 1) AS type_head,
           reverse(p_name) AS name_rev,
           CAST(levenshtein(p_brand, split_part(p_name, ' ', 1)) AS INTEGER)
               AS brand_name_dist,
           CAST(length(p_name) AS INTEGER) AS name_len
    FROM part
    """,
)


# ---------------------------------------------------------------------------
# character entropy (quality signal)
# ---------------------------------------------------------------------------


def _char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language character-entropy profile: Shannon entropy of each
    document's character distribution (gibberish scores high, repeated
    boilerplate low), averaged per lang. Explode → two hash aggregates,
    all JVM expressions; the explode fan-out (~n_chars rows) combines
    map-side immediately, so the shuffle carries only (doc, char) counts."""
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id",
        "lang",
        F.explode(F.filter(F.split("text", ""), lambda c: c != "")).alias("ch"),
    )
    per_char = chars.groupBy("doc_id", "lang", "ch").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    with_total = per_char.withColumn(
        "p", F.col("cnt") / F.sum("cnt").over(Window.partitionBy("doc_id"))
    )
    per_doc = with_total.groupBy("doc_id", "lang").agg(
        (-F.sum(F.col("p") * F.log("p"))).alias("entropy"),
        F.count(F.lit(1)).alias("uniq_chars"),
    )
    return per_doc.groupBy("lang").agg(
        F.round(F.avg("entropy"), 4).alias("avg_entropy"),
        F.round(F.avg("uniq_chars"), 4).alias("avg_uniq_chars"),
        F.count(F.lit(1)).alias("n_docs"),
    )


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
# deterministic train/val/test split
# ---------------------------------------------------------------------------


def _split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split: the bucket is an md5
    hash of the stable doc_id, so the assignment is reproducible across
    reruns, engines, and cluster sizes (never ``rand()``), evaluates in
    the scan stage with no shuffle, and any future re-shard keeps every
    document's split stable. Reports per-(split, lang) composition —
    the skew check run before training."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 10
    )
    split = (
        F.when(bucket < 8, F.lit("train"))
        .when(bucket == 8, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


register(
    "train_split_assignment",
    _split_assignment,
    """
    WITH assigned AS (
        SELECT CASE
                 WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                      AS BIGINT) % 10 < 8 THEN 'train'
                 WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
                      AS BIGINT) % 10 = 8 THEN 'val'
                 ELSE 'test'
               END AS split,
               lang, n_chars
        FROM documents
    )
    SELECT split, lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM assigned GROUP BY split, lang
    """,
)


register(
    "text_char_entropy",
    _char_entropy,
    r"""
    WITH chars AS (
        -- [\s\S] (not '.') so newlines are enumerated like every other
        -- character, matching Spark's split(text, '') enumeration even on
        -- multi-line documents.
        SELECT doc_id, lang, unnest(regexp_extract_all(text, '[\s\S]')) AS ch
        FROM documents
    ),
    per_char AS (
        SELECT doc_id, lang, ch, count(*) AS cnt
        FROM chars GROUP BY doc_id, lang, ch
    ),
    with_total AS (
        SELECT doc_id, lang, cnt,
               cnt * 1.0 / sum(cnt) OVER (PARTITION BY doc_id) AS p
        FROM per_char
    ),
    per_doc AS (
        SELECT doc_id, lang,
               -sum(p * ln(p)) AS entropy,
               count(*) AS uniq_chars
        FROM with_total GROUP BY doc_id, lang
    )
    SELECT lang,
           round(avg(entropy), 4) AS avg_entropy,
           round(avg(uniq_chars), 4) AS avg_uniq_chars,
           count(*) AS n_docs
    FROM per_doc GROUP BY lang
    """,
)


# ---------------------------------------------------------------------------
# linear interpolation over the day spine
# ---------------------------------------------------------------------------


def _linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR interpolation of missing daily values — the resampling op
    forward-fill (datetime_gap_fill) can't express: a gap day's value is
    prev + (next - prev) · (day - prev_day)/(next_day - prev_day), from
    the nearest known neighbors found with last(ignorenulls) over the
    preceding frame and first(ignorenulls) over the following frame —
    two frames over ONE user_id window partitioning, no self-join. The
    formula is written identically in the oracle, so both engines
    execute the same IEEE ops on the same exact-DECIMAL-derived doubles;
    boundary days (before first / after last observation) coalesce to
    the known side. The standard sensor/time-series regularization at
    any scale: two shuffles (daily agg, spine join), both on user_id."""
    ev = (
        read_events(spark, sf_dir)
        .where(F.col("user_id").isNotNull() & (F.col("user_id") < 40))
        .select("user_id", F.col("ts").cast("date").alias("day"), "value")
    )
    daily = ev.groupBy("user_id", "day").agg(
        F.sum(F.col("value").cast("decimal(25,10)"))
        .cast("double").alias("day_value")
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
            ).alias("day"),
        )
    )
    joined = spine.join(daily, ["user_id", "day"], "left")
    wp = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    prev_v = F.last("day_value", ignorenulls=True).over(wp)
    next_v = F.first("day_value", ignorenulls=True).over(wf)
    prev_d = F.last(
        F.when(F.col("day_value").isNotNull(), F.col("day")), ignorenulls=True
    ).over(wp)
    next_d = F.first(
        F.when(F.col("day_value").isNotNull(), F.col("day")), ignorenulls=True
    ).over(wf)
    frac = F.datediff(F.col("day"), prev_d) / F.datediff(next_d, prev_d)
    interp = F.when(F.col("day_value").isNotNull(), F.col("day_value")).otherwise(
        F.when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .otherwise(prev_v + (next_v - prev_v) * frac)
    )
    return joined.select(
        "user_id",
        "day",
        F.col("day_value").isNotNull().alias("observed"),
        interp.alias("interp_value"),
    )


register(
    "datetime_linear_interpolate",
    _linear_interpolate,
    """
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE) AS day_value
        FROM events
        WHERE user_id IS NOT NULL AND user_id < 40
        GROUP BY user_id, CAST(ts AS DATE)
    ),
    spine AS (
        SELECT user_id,
               CAST(unnest(generate_series(min(day), max(day),
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM daily GROUP BY user_id
    ),
    j AS (
        SELECT s.user_id, s.day, d.day_value FROM spine s
        LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day
    ),
    n AS (
        SELECT user_id, day, day_value,
               last_value(day_value IGNORE NULLS) OVER wp AS prev_v,
               first_value(day_value IGNORE NULLS) OVER wf AS next_v,
               last_value(CASE WHEN day_value IS NOT NULL THEN day END
                          IGNORE NULLS) OVER wp AS prev_d,
               first_value(CASE WHEN day_value IS NOT NULL THEN day END
                           IGNORE NULLS) OVER wf AS next_d
        FROM j
        WINDOW wp AS (PARTITION BY user_id ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wf AS (PARTITION BY user_id ORDER BY day
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, day,
           day_value IS NOT NULL AS observed,
           CASE WHEN day_value IS NOT NULL THEN day_value
                WHEN prev_v IS NULL THEN next_v
                WHEN next_v IS NULL THEN prev_v
                ELSE prev_v + (next_v - prev_v)
                     * (CAST(day - prev_d AS DOUBLE)
                        / CAST(next_d - prev_d AS DOUBLE))
           END AS interp_value
    FROM n
    """,
)


# ---------------------------------------------------------------------------
# pandas API on Spark — the reference's own syntax, distributed
# ---------------------------------------------------------------------------


def _pandas_api_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference IS a pandas pipeline (its whole transform stage is
    pandas groupbys, dags/dag.py:167-181) — this query runs that exact
    SYNTAX distributed through the pandas API on Spark (pyspark.pandas):
    assign → groupby → named-agg → reset_index, then back to a Spark
    DataFrame. A reference user migrates by changing the import, not the
    code; under the hood every pandas call here compiles to the same
    Catalyst plan the native DataFrame form produces (one hash
    aggregate). Aggregates are chosen exact-by-construction (counts,
    integer sums, min/max) because pandas-API float sums accumulate in
    double — order-dependent — which is also why the reference's own
    float sums were quietly nondeterministic."""
    import pyspark.pandas as ps  # noqa: F401  (API under test)

    li = load_table(spark, sf_dir, "lineitem")
    pdf = li.pandas_api()
    pdf = pdf.assign(qty_int=pdf.l_quantity.astype("int"))
    out = pdf.groupby("l_returnflag").agg(
        n_lines=("l_orderkey", "count"),
        total_qty=("qty_int", "sum"),
        min_price=("l_extendedprice", "min"),
        max_price=("l_extendedprice", "max"),
    )
    return out.reset_index().to_spark()


register(
    "ps_pandas_api_rollup",
    _pandas_api_rollup,
    """
    SELECT l_returnflag,
           count(l_orderkey) AS n_lines,
           CAST(sum(CAST(l_quantity AS INTEGER)) AS BIGINT) AS total_qty,
           min(l_extendedprice) AS min_price,
           max(l_extendedprice) AS max_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
