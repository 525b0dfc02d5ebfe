"""Aggregates, sketches and statistics.

- The ANSI/Spark aggregate surface: ordered string aggregation
  (LISTAGG), bitwise and boolean aggregates, exact median and
  percentile_cont/disc, FILTER-clause conditional aggregates, grouping
  ids over CUBE, regression functions, width_bucket histograms and
  multi-distinct counts.
- Incremental aggregation: rollups, join views and moments that merge a
  new batch into stored state instead of recomputing history.
- Sketches: count-min estimates and merges, bitmap distinct counts,
  mergeable histogram quantiles, and approx_top_k/approx_percentile in
  the regime where they are provably exact.
- Statistics: chi-square cells and totals, the correlation matrix,
  Welch's t-test, trimmed means, the Gini coefficient, a sampled revenue
  confidence interval and basket lift.

Determinism policy (same as the registry-wide float policy):
- LISTAGG carries an explicit WITHIN GROUP (ORDER BY) on a unique key —
  the concatenation order is pinned on both engines.
- approx_top_k is registered on a LOW-CARDINALITY column with k >
  distinct-count and re-sorted by item, so the sketch is provably exact
  and the output order independent of count ties.
- percentile_cont/disc follow ANSI on both engines (disc picks the same
  order statistic, cont interpolates bit-identically on identical
  doubles).

Scale posture: every query is one partial-aggregable hash aggregate or
one partitioned window, the same shuffle-once shapes as the relational
core; LISTAGG strings are bounded by group size (the o_orderkey < 50
slice; unbounded LISTAGG at 100 TB is an anti-pattern).
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from orchestrated_etl_spark.compat import stage
from orchestrated_etl_spark.functions.graph import EDGE_CTE, cached_edges
from orchestrated_etl_spark.operators.relational import global_rank_two_phase
from orchestrated_etl_spark.registry import register
from orchestrated_etl_spark.sources.catalog import load_table, read_events
from orchestrated_etl_spark.sources.scratch import scratch_path


# ---------------------------------------------------------------------------
# FILTER-clause conditional aggregates
# ---------------------------------------------------------------------------


def _filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N conditional metrics in ONE fact scan via the SQL FILTER clause
    (plus bool_and/bool_or/count_if) — the single-pass replacement for
    the reference's three-separate-groupbys style (dags/dag.py:167-181).
    One hash aggregate, map-side partials, no self-joins."""
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
        FROM {lineitem}
        GROUP BY l_returnflag
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
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
# incremental aggregate maintenance (merge partials, don't rescan history)
# ---------------------------------------------------------------------------


def _agg_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental rollup maintenance: a stored per-(status, priority)
    summary built from history (orders before 1998) is MERGED with the
    fresh batch's partial aggregate — sums add, counts add — instead of
    re-aggregating all of history. This is the 100 TB append pattern: the
    nightly cost is O(new batch) + O(summary), never O(corpus). The
    result must be indistinguishable from a full recompute, which is
    exactly what the oracle asserts (it aggregates everything directly).
    All merged measures are DECIMAL/BIGINT — associative, exact, safe to
    re-partition arbitrarily."""
    base = scratch_path("incremental_rollup", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    keys = ["o_orderstatus", "o_orderpriority"]
    cutoff = F.col("o_orderdate") < "1998-01-01"

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias(
                "total_price"
            ),
        )

    # the stored summary (history partial), persisted like a real rollup
    partial(orders.where(cutoff)).write.mode("overwrite").parquet(base)
    stored = spark.read.parquet(base)
    fresh = partial(orders.where(~cutoff))
    merged = (
        stored.unionByName(fresh)
        .groupBy(*keys)
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("total_price").alias("total_price"),
        )
    )
    return merged.select(
        *keys,
        "n_orders",
        F.col("total_price").cast("double").alias("total_price"),
    ).orderBy(*keys)


register(
    "agg_incremental_rollup",
    _agg_incremental_rollup,
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)


# ---------------------------------------------------------------------------
# incremental JOIN-view maintenance (delta-join, the IVM classic)
# ---------------------------------------------------------------------------


def _agg_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view — revenue per customer over
    orders ⋈ lineitem — when BOTH sides receive append deltas. The
    delta-join identity (with O = O₀ ∪ ΔO, L = L₀ ∪ ΔL):

        V  =  V₀  +  rollup( O ⋈ ΔL  ∪  ΔO ⋈ L₀ )

    (the O ⋈ ΔL term absorbs ΔO ⋈ ΔL, so nothing double-counts). The
    stored view V₀ is a persisted parquet summary; the maintenance joins
    touch only a DELTA on one side each — at 100 TB the nightly cost is
    O(Δ · join fan-in), never a full O ⋈ L recompute, which is the whole
    point of incremental view maintenance. The oracle IS the full
    recompute, so the identity is verified end to end. All merged
    measures are DECIMAL/BIGINT — associative and exact under arbitrary
    re-partitioning. Deltas: orders with o_orderkey % 10 == 0, lineitem
    rows with l_suppkey % 7 == 0 (both sides genuinely change)."""
    base = scratch_path("incremental_join_view", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
    )
    d_o = F.col("o_orderkey") % 10 == 0
    d_l = F.col("l_suppkey") % 7 == 0
    o0, do = orders.where(~d_o), orders.where(d_o)
    l0, dl = li.where(~d_l), li.where(d_l)

    def rollup(o: DataFrame, l: DataFrame) -> DataFrame:
        return (
            l.join(o, l.l_orderkey == o.o_orderkey)
            .groupBy("o_custkey")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.sum("price").alias("revenue"),
            )
        )

    # stored view V0, persisted like a real materialized view
    rollup(o0, l0).write.mode("overwrite").parquet(base)
    stored = spark.read.parquet(base)
    delta = rollup(orders, dl).unionByName(rollup(do, l0))
    merged = (
        stored.unionByName(delta)
        .groupBy("o_custkey")
        .agg(
            F.sum("n_lines").alias("n_lines"),
            F.sum("revenue").alias("revenue"),
        )
    )
    return merged.select(
        "o_custkey", "n_lines", F.col("revenue").cast("double").alias("revenue")
    )


register(
    "agg_incremental_join_view",
    _agg_incremental_join_view,
    """
    SELECT o_custkey, count(*) AS n_lines,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_custkey
    """,
)


# ---------------------------------------------------------------------------
# LISTAGG / string_agg with pinned ordering
# ---------------------------------------------------------------------------


def _listagg_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order ordered line manifest via LISTAGG ... WITHIN GROUP — the
    ANSI ordered string aggregation (Spark 4 syntax; DuckDB spells it
    string_agg(... ORDER BY ...)). Restricted to a key slice so group
    strings stay bounded — the 100 TB guidance is to cap membership or
    aggregate into arrays instead of unbounded strings."""
    return spark.sql(
        """
        SELECT l_orderkey,
               listagg(CAST(l_linenumber AS STRING), ',')
                   WITHIN GROUP (ORDER BY l_linenumber) AS line_manifest,
               listagg(DISTINCT l_returnflag, '|')
                   WITHIN GROUP (ORDER BY l_returnflag) AS flags,
               count(*) AS n_lines
        FROM {lineitem}
        WHERE l_orderkey < 50
        GROUP BY l_orderkey
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
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
    li = load_table(spark, sf_dir, "lineitem")
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
        FROM {lineitem}
        GROUP BY l_returnflag
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
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
    return spark.sql(
        """
        SELECT t.item AS event_type, t.count AS n_events
        FROM (
            SELECT explode(approx_top_k(event_type, 10, 1000)) AS t
            FROM {events}
        )
        ORDER BY event_type
        """,
        events=read_events(spark, sf_dir),
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
# grouping() / grouping_id() over a cube
# ---------------------------------------------------------------------------


def _grouping_id_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grouping()/grouping_id() disambiguation over CUBE: a NULL group
    key from the data vs a NULL standing for "all" at a superaggregate
    level are indistinguishable without grouping() — grouping_id gives
    the level bitmask every reporting layer keys on. Standard ANSI on
    both engines; superaggregate NULL keys are rendered as 'ALL' via
    the grouping bit so the compared output has no NULL strings."""
    return spark.sql(
        """
        SELECT CASE WHEN grouping(l_returnflag) = 1 THEN 'ALL'
                    ELSE l_returnflag END AS returnflag,
               CASE WHEN grouping(l_linestatus) = 1 THEN 'ALL'
                    ELSE l_linestatus END AS linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
               count(*) AS n_lines
        FROM {lineitem}
        GROUP BY CUBE(l_returnflag, l_linestatus)
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
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
        FROM {lineitem}
        GROUP BY l_returnflag
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
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
# multi-distinct aggregate (Expand operator)
# ---------------------------------------------------------------------------


def _multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several DISTINCT aggregates over different columns in ONE
    statement: Catalyst plans an Expand (one replicated row per
    distinct-group) + two-stage aggregate — the row multiplication is
    x(#distinct groups) MAP-SIDE, the partial aggregate collapses each
    group before the shuffle, so the exchange carries near-aggregate-
    sized data, not the expanded fact. The scale caveat the plan
    encodes: every extra DISTINCT column widens the Expand, so at
    100 TB wide multi-distincts either split into joined single-
    distinct passes or drop to approx_count_distinct
    (agg_approx_sketches is that registered path)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("n_customers"),
        F.count_distinct(F.date_trunc("month", F.col("o_orderdate"))).alias(
            "n_months"
        ),
        F.count(F.lit(1)).alias("n_orders"),
    )


register(
    "agg_multi_distinct",
    _multi_distinct,
    """
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(count(DISTINCT date_trunc('month', o_orderdate)) AS BIGINT)
               AS n_months,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)


# ---------------------------------------------------------------------------
# stored-moments incremental variance (merge partials, never re-scan)
# ---------------------------------------------------------------------------


def _incremental_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental mean/variance from STORED per-month moment partials
    (n, sum, sum-of-squares) — the numeric twin of agg_hll_sketch_merge:
    a nightly job appends one moments row per (status, month) partition,
    and any later query over any month range merges those tiny rows
    instead of re-scanning raw data. Moments are EXACT DECIMAL sums of
    2-decimal prices (sum DECIMAL(38,2), sum-of-squares DECIMAL(38,4) —
    no float drift in the stored partials), so the merged mean/variance
    are computed from bit-identical scalars on both engines. The
    variance numerator stays EXACT DECIMAL all the way:
    var = (N*Q - S^2) / (N*(N-1)) — N*Q and S^2 are integer-scaled
    decimal products (precisions sized so neither engine saturates its
    38-digit cap) and the subtraction is exact. The numerator exceeds
    2^53, and a >2^53 DECIMAL -> DOUBLE cast is the one conversion the
    two engines round DIFFERENTLY (Spark's BigDecimal.doubleValue is
    correctly rounded once; DuckDB's int128-scaled path double-rounds
    — measured 4e-6 drift on a 2e10 variance), so the variance is
    reported on a 1000-unit grid (floor(var/1000) BIGINT): the grid
    quantum sits 8+ orders above the drift, making a boundary flip
    probability ~4e-9 instead of certainty-of-ulp-mismatch. The mean
    needs no grid: S fits 2^53, its cast is exact on both engines."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.date_trunc("month", F.col("o_orderdate")).alias("_m"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("_x"),
    )
    # the "stored" monthly partials relation (staging stands in
    # for the persisted moments table, as with the HLL sketch store)
    monthly = stage(
        orders.groupBy("o_orderstatus", "_m")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("_x").cast("decimal(38,2)").alias("_s"),
            F.sum(
                (F.col("_x") * F.col("_x")).cast("decimal(38,4)")
            ).cast("decimal(38,4)").alias("_q"),
        )
    )
    merged = monthly.groupBy("o_orderstatus").agg(
        F.sum("_n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_partials"),
        F.sum("_s").cast("decimal(18,2)").alias("_S"),
        F.sum("_q").cast("decimal(20,4)").alias("_Q"),
    )
    # exact-decimal numerator: N*Q (10+20+1=31 digits) - S^2 (37 digits)
    num = (
        F.col("n_rows").cast("decimal(10,0)") * F.col("_Q")
        - (F.col("_S") * F.col("_S")).cast("decimal(38,4)")
    ).cast("decimal(38,4)")
    den = (F.col("n_rows") * (F.col("n_rows") - F.lit(1))).cast("double")
    return merged.select(
        "o_orderstatus",
        "n_rows",
        "n_partials",
        (F.col("_S").cast("double") / F.col("n_rows").cast("double")).alias(
            "mean_price"
        ),
        F.floor(num.cast("double") / den / F.lit(1000.0))
        .cast("long")
        .alias("var_price_k"),
    )


register(
    "agg_incremental_moments",
    _incremental_moments,
    """
    WITH monthly AS (
        SELECT o_orderstatus,
               date_trunc('month', o_orderdate) AS m,
               count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DECIMAL(38,2)) AS s,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                             * CAST(o_totalprice AS DECIMAL(18,2))
                             AS DECIMAL(38,4)))
                    AS DECIMAL(38,4)) AS q
        FROM orders
        GROUP BY 1, 2
    )
    SELECT o_orderstatus,
           CAST(sum(n) AS BIGINT) AS n_rows,
           count(*) AS n_partials,
           CAST(CAST(sum(s) AS DECIMAL(18,2)) AS DOUBLE)
               / CAST(CAST(sum(n) AS BIGINT) AS DOUBLE) AS mean_price,
           CAST(floor(
             CAST(CAST(
                CAST(CAST(sum(n) AS BIGINT) AS DECIMAL(10,0))
                  * CAST(sum(q) AS DECIMAL(20,4))
                -- DECIMAL(19,2) forces DuckDB's int128 storage class:
                -- at precision 18 it multiplies in int64 and overflows
                - CAST(CAST(sum(s) AS DECIMAL(19,2))
                       * CAST(sum(s) AS DECIMAL(19,2)) AS DECIMAL(38,4))
                AS DECIMAL(38,4)) AS DOUBLE)
             / CAST(CAST(sum(n) AS BIGINT)
                    * (CAST(sum(n) AS BIGINT) - 1) AS DOUBLE)
             / 1000.0) AS BIGINT) AS var_price_k
    FROM monthly
    GROUP BY o_orderstatus
    """,
)


# ---------------------------------------------------------------------------
# count-min sketch frequency estimation (exact cross-engine replica)
# ---------------------------------------------------------------------------

_CM_P = 2147483647  # Mersenne prime 2^31-1


_CM_W = 256  # sketch width (buckets per hash row)


_CM_HASHES = [(131071, 8191), (524287, 2047), (6700417, 97), (999983, 523)]


def _cm_bucket(k, a: int, b: int):
    """Universal-family bucket h_{a,b}(k) = ((a·(k mod p) + b) mod p)
    mod w, p = 2^31-1. The inner mod keeps a·k inside BIGINT for any
    key; constants < 2^31 make every intermediate < 2^62."""
    return (
        (F.lit(a) * (k % F.lit(_CM_P)) + F.lit(b)) % F.lit(_CM_P)
    ) % F.lit(_CM_W)


def _countmin_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over part frequencies in ``lineitem``, probed
    for the top-10 exact heavy hitters: per key the sketch's min-over-
    rows estimate, the exact count, and the (always >= 0) overcount.

    The sketch is hand-rolled from JVM integer expressions instead of
    Spark's ``count_min_sketch`` aggregate because (a) the binary
    sketch Spark produces cannot be PROBED from SQL, and (b) an
    explicit polynomial hash is computable identically in DuckDB, so
    the estimates themselves are oracle-checked exactly — stronger
    than a bounds-contract oracle. depth=4, width=256: the classic
    eps = e/w, delta = e^-4 point estimate.

    Scale shape: the build is ONE pass — each fact row expands to 4
    (row, bucket) pairs map-side and partial-aggregates into a <= 1024
    -row sketch (the whole point: frequency state is O(w·d), not
    O(keys); the stored-sketch pattern of agg_hll_sketch_merge applied
    to frequencies). The probe side is a top-k (TakeOrdered, no global
    sort) fanned x4 and hash-joined against the tiny sketch."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("k")
    )
    rb = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"),
                    _cm_bucket(F.col("k"), a, b).alias("bucket"),
                )
                for r, (a, b) in enumerate(_CM_HASHES)
            ]
        )
    ).alias("rb")
    sketch = (
        li.select(rb)
        .select("rb.r", "rb.bucket")
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    exact = li.groupBy("k").agg(F.count(F.lit(1)).alias("true_count"))
    cand = exact.orderBy(F.desc("true_count"), F.asc("k")).limit(10)
    probes = cand.select(
        "k",
        "true_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _cm_bucket(F.col("k"), a, b).alias("bucket"),
                    )
                    for r, (a, b) in enumerate(_CM_HASHES)
                ]
            )
        ).alias("rb"),
    ).select("k", "true_count", "rb.r", "rb.bucket")
    est = (
        probes.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("k", "true_count")
        .agg(F.min("cnt").alias("cm_estimate"))
    )
    return est.select(
        F.col("k").alias("part_key"),
        "true_count",
        "cm_estimate",
        (F.col("cm_estimate") - F.col("true_count")).alias("overcount"),
        (F.col("cm_estimate") >= F.col("true_count")).alias("est_ge_true"),
    )


register(
    "agg_countmin_sketch_estimate",
    _countmin_estimate,
    """
    WITH li AS (SELECT l_partkey AS k FROM lineitem),
    hp AS (
        SELECT * FROM (VALUES (0, 131071, 8191), (1, 524287, 2047),
                              (2, 6700417, 97), (3, 999983, 523))
            AS t(r, a, b)
    ),
    sketch AS (
        SELECT hp.r,
               ((hp.a * (li.k % 2147483647) + hp.b) % 2147483647) % 256
                   AS bucket,
               count(*) AS cnt
        FROM li, hp GROUP BY 1, 2
    ),
    exact AS (SELECT k, count(*) AS true_count FROM li GROUP BY k),
    cand AS (
        SELECT k, true_count FROM exact
        ORDER BY true_count DESC, k LIMIT 10
    ),
    probes AS (
        SELECT c.k, c.true_count, hp.r,
               ((hp.a * (c.k % 2147483647) + hp.b) % 2147483647) % 256
                   AS bucket
        FROM cand c, hp
    ),
    est AS (
        SELECT p.k, p.true_count, min(s.cnt) AS cm_estimate
        FROM probes p JOIN sketch s ON p.r = s.r AND p.bucket = s.bucket
        GROUP BY 1, 2
    )
    SELECT k AS part_key,
           CAST(true_count AS BIGINT) AS true_count,
           CAST(cm_estimate AS BIGINT) AS cm_estimate,
           CAST(cm_estimate - true_count AS BIGINT) AS overcount,
           cm_estimate >= true_count AS est_ge_true
    FROM est
    """,
)


# ---------------------------------------------------------------------------
# bitmap-aggregate exact distinct (Spark 4 bitmap functions)
# ---------------------------------------------------------------------------


def _bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct part count per ship month via Spark 4's bitmap
    aggregates: keys map to (bucket, bit position), per-(month, bucket)
    bitmaps OR the bits together map-side, and the month total is the
    sum of per-bucket popcounts. This is the two-level mergeable-
    bitmap distinct (the ClickHouse/Iceberg pattern): distinct STATE is
    compressed fixed-width bitmaps that partial-aggregate on every
    executor, never a hash set of raw keys — at 100 TB the shuffle
    carries one <=4 KB bitmap per (month, 32k-key bucket) instead of
    every distinct key occurrence, and incremental refresh can store
    the bitmaps and OR tomorrow's in (the HLL-sketch pattern of
    agg_hll_sketch_merge, but exact).

    The result is EXACT, so the oracle is a plain count(DISTINCT) —
    the strongest possible cross-engine check of the bitmap path."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.trunc("l_shipdate", "month").alias("ship_month"),
        F.col("l_partkey").alias("k"),
    )
    per_bucket = li.groupBy(
        "ship_month", F.bitmap_bucket_number("k").alias("bucket")
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("k")).alias("bm"))
    return (
        per_bucket.groupBy("ship_month")
        .agg(F.sum(F.bitmap_count("bm")).alias("n_distinct_parts"))
        .orderBy("ship_month")
    )


register(
    "agg_bitmap_distinct",
    _bitmap_distinct,
    """
    SELECT CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE)
               AS ship_month,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct_parts
    FROM lineitem
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# chi-square independence test (priority x status), integer-derived
# ---------------------------------------------------------------------------

_CHI2_CELLS_SQL = """
    obs AS (
        SELECT o_orderpriority AS pri, o_orderstatus AS st,
               count(*) AS n FROM orders GROUP BY 1, 2
    ),
    rt AS (SELECT pri, sum(n) AS row_tot FROM obs GROUP BY pri),
    ct AS (SELECT st, sum(n) AS col_tot FROM obs GROUP BY st),
    tot AS (SELECT sum(n) AS big_n FROM obs),
    cells AS (
        SELECT rt.pri, ct.st,
               CAST(COALESCE(o.n, 0) AS BIGINT) AS obs_n,
               CAST(rt.row_tot AS BIGINT) AS row_tot,
               CAST(ct.col_tot AS BIGINT) AS col_tot,
               CAST(tot.big_n AS BIGINT) AS big_n
        FROM rt CROSS JOIN ct CROSS JOIN tot
        LEFT JOIN obs o ON o.pri = rt.pri AND o.st = ct.st
    ),
    terms AS (
        SELECT pri, st, obs_n,
               CAST(row_tot * col_tot AS DOUBLE)
                   / CAST(big_n AS DOUBLE) AS expected_n,
               CAST(obs_n * big_n - row_tot * col_tot AS DOUBLE)
                 * CAST(obs_n * big_n - row_tot * col_tot AS DOUBLE)
                 / CAST(big_n AS DOUBLE)
                 / CAST(row_tot AS DOUBLE)
                 / CAST(col_tot AS DOUBLE) AS chi2_term
        FROM cells
    )
"""


def _chi2_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence scan of order priority x order status —
    the categorical complement to dq_drift_psi's numeric drift: a
    training-mixture gate asking whether two labelings are associated.

    Exactness: every cell term is derived from exact BIGINT contingency
    counts — expected = rt·ct/N and term = (obs·N - rt·ct)²/(N·rt·ct)
    are fixed chains of IEEE ops on identical integers, so both
    engines agree bit-for-bit with NO rounding policy (the diff
    obs·N - rt·ct stays < 2^53-exact through sf100). ZERO cells are
    materialized via the row-total x col-total cross (a 5x3 broadcast
    of two tiny aggregates): a missing combination contributes its
    full expected count, which a naive GROUP BY would silently drop.

    Scale: one fact pass builds the contingency table; everything
    after operates on O(categories²) rows broadcast-side."""
    orders = load_table(spark, sf_dir, "orders")
    obs = orders.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderstatus").alias("st"),
    ).agg(F.count(F.lit(1)).alias("n"))
    obs = stage(obs)  # 3 consumers, one fact pass
    rt = obs.groupBy("pri").agg(F.sum("n").alias("row_tot"))
    ct = obs.groupBy("st").agg(F.sum("n").alias("col_tot"))
    tot = obs.agg(F.sum("n").alias("big_n"))
    cells = (
        rt.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(obs), ["pri", "st"], "left")
        .select(
            "pri",
            "st",
            F.coalesce("n", F.lit(0)).alias("obs_n"),
            "row_tot",
            "col_tot",
            "big_n",
        )
    )
    d = F.col("obs_n") * F.col("big_n") - F.col("row_tot") * F.col("col_tot")
    return cells.select(
        "pri",
        "st",
        "obs_n",
        (
            (F.col("row_tot") * F.col("col_tot")).cast("double")
            / F.col("big_n").cast("double")
        ).alias("expected_n"),
        (
            d.cast("double")
            * d.cast("double")
            / F.col("big_n").cast("double")
            / F.col("row_tot").cast("double")
            / F.col("col_tot").cast("double")
        ).alias("chi2_term"),
    )


register(
    "stats_chi2_cells",
    _chi2_cells,
    f"""
    WITH {_CHI2_CELLS_SQL}
    SELECT pri, st, obs_n, expected_n, chi2_term FROM terms
    """,
)


def _chi2_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chi-square STATISTIC from the same contingency cells: a sum
    of 15 doubles, which a plain aggregate would add in partition-
    nondeterministic order — so the cells are collected into a sorted
    array and left-folded (the events_ewma_fold trick), making the
    total bit-reproducible across engines AND across reruns. Degrees
    of freedom (r-1)(c-1) from exact category counts."""
    cells = _chi2_cells(spark, sf_dir)
    arr = F.array_sort(
        F.collect_list(F.struct("pri", "st", "chi2_term"))
    )
    return cells.agg(
        F.aggregate(
            arr,
            F.lit(0.0),
            lambda acc, x: acc + x["chi2_term"],
        ).alias("chi2"),
        (
            (F.count_distinct("pri") - 1) * (F.count_distinct("st") - 1)
        ).alias("dof"),
    )


register(
    "stats_chi2_total",
    _chi2_total,
    f"""
    WITH {_CHI2_CELLS_SQL}
    SELECT list_reduce(
               list_prepend(0.0, list(chi2_term ORDER BY pri, st)),
               (acc, x) -> acc + x) AS chi2,
           CAST((count(DISTINCT pri) - 1) * (count(DISTINCT st) - 1)
                AS BIGINT) AS dof
    FROM terms
    """,
)


# ---------------------------------------------------------------------------
# one-pass correlation matrix over the lineitem measures
# ---------------------------------------------------------------------------


def _corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of every pair of the four lineitem measures
    in ONE partial-aggregable pass (six corr() aggregates share the
    same scan and shuffle) — the feature-profiling step before any
    model-based quality scoring. Correlations are genuinely irrational
    → round(,6) tolerance (float-policy exception c), as
    graph_assortativity establishes for cross-engine corr()."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = [
        ("l_quantity", "l_extendedprice", "qty_price"),
        ("l_quantity", "l_discount", "qty_disc"),
        ("l_quantity", "l_tax", "qty_tax"),
        ("l_extendedprice", "l_discount", "price_disc"),
        ("l_extendedprice", "l_tax", "price_tax"),
        ("l_discount", "l_tax", "disc_tax"),
    ]
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.round(F.corr(a, b), 6).alias(f"corr_{name}")
            for a, b, name in pairs
        ],
    )


register(
    "stats_corr_matrix",
    _corr_matrix,
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(corr(l_quantity, l_discount), 6) AS corr_qty_disc,
           round(corr(l_quantity, l_tax), 6) AS corr_qty_tax,
           round(corr(l_extendedprice, l_discount), 6) AS corr_price_disc,
           round(corr(l_extendedprice, l_tax), 6) AS corr_price_tax,
           round(corr(l_discount, l_tax), 6) AS corr_disc_tax
    FROM lineitem
    """,
)


# ---------------------------------------------------------------------------
# Welch two-sample t-test from exact DECIMAL moments
# ---------------------------------------------------------------------------


def _welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B difference-in-means test: users split deterministically by
    user_id parity (rerun/engine-stable, unlike rand()), Welch t
    statistic on purchase values. One conditional-aggregate fact pass
    accumulates BOTH arms' (n, Σx, Σx²) in EXACT DECIMAL (2-decimal
    values: sums and squares are exact — the agg_incremental_moments
    recipe, DECIMAL(19,2) squares forcing DuckDB's int128 path), so
    mean/variance/t/dof are fixed IEEE chains over bit-identical
    scalars: no rounding policy, no summation-order hazard. The
    variance numerators n·Q - S² stay below 2^53 through sf0.1
    (values <= ~500, so Q ~ 1e9·sf·100), keeping the DECIMAL->DOUBLE
    cast exact on both engines (past that, report on a grid as
    agg_incremental_moments does).

    Scale: ONE partial-aggregable pass, 1-row result. The classic
    telemetry experiment readout at any corpus size."""
    ev = read_events(spark, sf_dir)
    p = ev.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    x = F.col("value").cast("decimal(19,2)")
    arm_a = F.col("user_id") % 2 == 0
    agg = p.agg(
        F.sum(F.when(arm_a, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~arm_a, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(arm_a, x)).cast("decimal(18,2)").alias("s_a"),
        F.sum(F.when(~arm_a, x)).cast("decimal(18,2)").alias("s_b"),
        F.sum(F.when(arm_a, (x * x).cast("decimal(38,4)")))
        .cast("decimal(20,4)")
        .alias("q_a"),
        F.sum(F.when(~arm_a, (x * x).cast("decimal(38,4)")))
        .cast("decimal(20,4)")
        .alias("q_b"),
    )

    def var(n, s, q):
        num = (
            n.cast("decimal(10,0)") * q
            - (s * s).cast("decimal(38,4)")
        ).cast("decimal(38,4)")
        return num.cast("double") / (n * (n - F.lit(1))).cast("double")

    n_a, n_b = F.col("n_a"), F.col("n_b")
    s_a, s_b = F.col("s_a"), F.col("s_b")
    q_a, q_b = F.col("q_a"), F.col("q_b")
    with_stats = agg.select(
        n_a,
        n_b,
        (s_a.cast("double") / n_a.cast("double")).alias("mean_a"),
        (s_b.cast("double") / n_b.cast("double")).alias("mean_b"),
        var(n_a, s_a, q_a).alias("var_a"),
        var(n_b, s_b, q_b).alias("var_b"),
    )
    sea = F.col("var_a") / n_a.cast("double")
    seb = F.col("var_b") / n_b.cast("double")
    se2 = sea + seb
    return with_stats.select(
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        "var_a",
        "var_b",
        ((F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2)).alias("t_stat"),
        (
            se2
            * se2
            / (
                sea * sea / (n_a - F.lit(1)).cast("double")
                + seb * seb / (n_b - F.lit(1)).cast("double")
            )
        ).alias("welch_dof"),
    )


register(
    "stats_ab_welch_ttest",
    _welch_ttest,
    """
    WITH agg AS (
        SELECT
            CAST(count(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS n_a,
            CAST(count(*) FILTER (WHERE user_id % 2 <> 0) AS BIGINT) AS n_b,
            CAST(sum(CAST(value AS DECIMAL(19,2)))
                 FILTER (WHERE user_id % 2 = 0) AS DECIMAL(18,2)) AS s_a,
            CAST(sum(CAST(value AS DECIMAL(19,2)))
                 FILTER (WHERE user_id % 2 <> 0) AS DECIMAL(18,2)) AS s_b,
            CAST(sum(CAST(CAST(value AS DECIMAL(19,2))
                          * CAST(value AS DECIMAL(19,2))
                          AS DECIMAL(38,4)))
                 FILTER (WHERE user_id % 2 = 0) AS DECIMAL(20,4)) AS q_a,
            CAST(sum(CAST(CAST(value AS DECIMAL(19,2))
                          * CAST(value AS DECIMAL(19,2))
                          AS DECIMAL(38,4)))
                 FILTER (WHERE user_id % 2 <> 0) AS DECIMAL(20,4)) AS q_b
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    stats AS (
        SELECT n_a, n_b,
               CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
               CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
               CAST(CAST(CAST(n_a AS DECIMAL(10,0)) * q_a
                         - CAST(s_a * s_a AS DECIMAL(38,4))
                    AS DECIMAL(38,4)) AS DOUBLE)
                   / CAST(n_a * (n_a - 1) AS DOUBLE) AS var_a,
               CAST(CAST(CAST(n_b AS DECIMAL(10,0)) * q_b
                         - CAST(s_b * s_b AS DECIMAL(38,4))
                    AS DECIMAL(38,4)) AS DOUBLE)
                   / CAST(n_b * (n_b - 1) AS DOUBLE) AS var_b
        FROM agg
    )
    SELECT n_a, n_b, mean_a, mean_b, var_a, var_b,
           (mean_a - mean_b)
               / sqrt(var_a / CAST(n_a AS DOUBLE)
                      + var_b / CAST(n_b AS DOUBLE)) AS t_stat,
           (var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE))
             * (var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE))
             / ((var_a / CAST(n_a AS DOUBLE))
                  * (var_a / CAST(n_a AS DOUBLE))
                  / CAST(n_a - 1 AS DOUBLE)
                + (var_b / CAST(n_b AS DOUBLE))
                  * (var_b / CAST(n_b AS DOUBLE))
                  / CAST(n_b - 1 AS DOUBLE)) AS welch_dof
    FROM stats
    """,
)


# ---------------------------------------------------------------------------
# trimmed (winsorized-tail) mean per group via exact order statistics
# ---------------------------------------------------------------------------


def _trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean of order value per order status — the robust
    location estimate outlier-heavy money columns need (the mean a
    single fat-finger order can't move). Cutoffs are EXACT
    percentile_disc order statistics (both engines implement the ANSI
    smallest-cume_dist>=p rule — agg_median_percentiles probes this),
    broadcast back onto the scan as a [lo, hi] filter; kept rows
    re-aggregate in exact DECIMAL. Every compared value is an exact
    integer, an order statistic, or an exact-DECIMAL-sum quotient —
    no rounding policy.

    Scale: one pass for cutoffs (exact percentile buffers per group —
    bounded-cardinality groups; at unbounded cardinality swap in the
    histogram cutoffs of events_rfm_quantile_cutoffs), one filtered
    re-aggregate with the 3-row cutoff relation broadcast."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", F.col("o_totalprice").cast("decimal(18,2)").alias("x")
    )
    cuts = orders.groupBy("o_orderstatus").agg(
        F.expr(
            "percentile_disc(0.05) WITHIN GROUP (ORDER BY x)"
        ).alias("lo"),
        F.expr(
            "percentile_disc(0.95) WITHIN GROUP (ORDER BY x)"
        ).alias("hi"),
        F.count(F.lit(1)).alias("n_total"),
        F.sum("x").cast("decimal(38,2)").alias("s_all"),
    )
    kept = (
        orders.join(F.broadcast(cuts), "o_orderstatus")
        .where((F.col("x") >= F.col("lo")) & (F.col("x") <= F.col("hi")))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("x").cast("decimal(38,2)").alias("s_kept"),
            F.max("n_total").alias("n_total"),
            F.max("s_all").cast("decimal(18,2)").alias("s_all"),
        )
    )
    return kept.select(
        "o_orderstatus",
        "n_total",
        "n_kept",
        (F.col("s_all").cast("double") / F.col("n_total").cast("double"))
        .alias("mean_all"),
        (
            F.col("s_kept").cast("decimal(18,2)").cast("double")
            / F.col("n_kept").cast("double")
        ).alias("trimmed_mean"),
    )


register(
    "agg_trimmed_mean",
    _trimmed_mean,
    """
    WITH src AS (
        SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) AS x
        FROM orders
    ),
    cuts AS (
        SELECT o_orderstatus,
               percentile_disc(0.05) WITHIN GROUP (ORDER BY x) AS lo,
               percentile_disc(0.95) WITHIN GROUP (ORDER BY x) AS hi,
               CAST(count(*) AS BIGINT) AS n_total,
               CAST(sum(x) AS DECIMAL(18,2)) AS s_all
        FROM src GROUP BY o_orderstatus
    )
    SELECT s.o_orderstatus,
           max(c.n_total) AS n_total,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(max(c.s_all) AS DOUBLE)
               / CAST(max(c.n_total) AS DOUBLE) AS mean_all,
           CAST(CAST(sum(s.x) AS DECIMAL(18,2)) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS trimmed_mean
    FROM src s
    JOIN cuts c ON s.o_orderstatus = c.o_orderstatus
    WHERE s.x >= c.lo AND s.x <= c.hi
    GROUP BY s.o_orderstatus
    """,
)


# ---------------------------------------------------------------------------
# Gini coefficient of customer revenue per nation (exact)
# ---------------------------------------------------------------------------


def _gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration Gini per nation — the inequality measure
    behind "is this market whale-dominated?", and for corpora, "is
    this source dominated by a few documents?". Uses the sorted-rank
    identity G = Σᵢ(2i - n - 1)·xᵢ / (n·Σx): ranks come from a
    PARTITIONED window (per-nation, ordered by (revenue, custkey) — a
    total order, so ties can't flip ranks between engines and the
    identity is tie-invariant anyway since equal x contribute equal
    terms under any rank permutation). The numerator Σ(2i-n-1)·xᵢ
    accumulates in EXACT DECIMAL (integer rank factor x 2-decimal
    revenue), so the final quotient is one IEEE division of
    bit-identical operands: no rounding policy.

    Scale: one custkey aggregate (fact-sized
    shuffle); the customer-dimension join carries NO forced broadcast
    hint (the dimension is 150k·SF rows — linearly growing, the
    flagship class; threshold/AQE broadcast it while small, shuffle
    past that). The per-nation rank is a TWO-PHASE global ranking on
    (nation, x, custkey) — range partition + per-partition row_number +
    broadcast P-row offsets — re-based per nation by subtracting the
    nation's min global rank (a 25-row broadcast, nation-domain
    bounded). The former nation-partitioned window sorted each
    nation's whole customer population in ONE task (parallelism 25
    forever); no stage sorts more than a range partition now."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("x")
    )
    by_nation = rev.join(
        cust, rev.o_custkey == cust.c_custkey
    ).select("c_nationkey", "c_custkey", "x")
    granked = global_rank_two_phase(
        by_nation,
        [F.asc("c_nationkey"), F.asc("x"), F.asc("c_custkey")],
        rank_col="_g",
    )
    offsets = granked.groupBy(F.col("c_nationkey").alias("_nk")).agg(
        F.min("_g").alias("_g0"),
        F.count(F.lit(1)).alias("n"),
    )
    ranked = granked.join(
        F.broadcast(offsets), F.col("c_nationkey") == F.col("_nk")
    ).select(
        "c_nationkey",
        "x",
        (F.col("_g") - F.col("_g0") + F.lit(1)).alias("i"),
        "n",
    )
    terms = ranked.select(
        "c_nationkey",
        "x",
        "n",
        (
            (F.lit(2) * F.col("i") - F.col("n") - F.lit(1)).cast(
                "decimal(10,0)"
            )
            * F.col("x")
        ).cast("decimal(38,2)").alias("term"),
    )
    agg = terms.groupBy("c_nationkey").agg(
        F.max("n").alias("n_customers"),
        F.sum("x").cast("decimal(18,2)").alias("s"),
        F.sum("term").cast("decimal(38,2)").alias("num"),
    )
    return agg.select(
        "c_nationkey",
        "n_customers",
        F.col("s").cast("double").alias("total_revenue"),
        (
            F.col("num").cast("double")
            / (
                F.col("n_customers").cast("decimal(10,0)") * F.col("s")
            ).cast("double")
        ).alias("gini"),
    )


register(
    "agg_gini_revenue",
    _gini_revenue,
    """
    WITH rev AS (
        SELECT o_custkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS x
        FROM orders GROUP BY o_custkey
    ),
    by_nation AS (
        SELECT c.c_nationkey, c.c_custkey, r.x
        FROM rev r JOIN customer c ON r.o_custkey = c.c_custkey
    ),
    ranked AS (
        SELECT c_nationkey, x,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY x, c_custkey) AS i,
               count(*) OVER (PARTITION BY c_nationkey) AS n
        FROM by_nation
    ),
    agg AS (
        SELECT c_nationkey,
               CAST(max(n) AS BIGINT) AS n_customers,
               CAST(sum(x) AS DECIMAL(18,2)) AS s,
               CAST(sum(CAST(CAST(2 * i - n - 1 AS DECIMAL(10,0)) * x
                             AS DECIMAL(38,2))) AS DECIMAL(38,2)) AS num
        FROM ranked GROUP BY c_nationkey
    )
    SELECT c_nationkey, n_customers,
           CAST(s AS DOUBLE) AS total_revenue,
           CAST(num AS DOUBLE)
               / CAST(CAST(n_customers AS DECIMAL(10,0)) * s AS DOUBLE)
               AS gini
    FROM agg
    """,
)


# ---------------------------------------------------------------------------
# stored-sketch incremental maintenance: count-min merge, bitmap rollup
# ---------------------------------------------------------------------------


def _countmin_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental count-min maintenance: per-MONTH sketches (the
    relation a nightly job stores) merged at query time by summing
    cells — count-min is LINEAR, so the merged sketch is cell-for-cell
    IDENTICAL to a from-scratch global sketch, and the estimates this
    query emits are bit-equal to agg_countmin_sketch_estimate's while
    touching only O(months x 1024) stored rows at query time. The
    frequency twin of agg_hll_sketch_merge (approximate distinct) and
    agg_incremental_moments (exact moments): nightly cost O(batch),
    query cost O(partials), never O(history re-scan).

    The oracle recomputes the same arithmetic globally — equality
    PROVES the merge identity cross-engine."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.trunc("l_shipdate", "month").alias("m"),
        F.col("l_partkey").alias("k"),
    )
    rb = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"),
                    _cm_bucket(F.col("k"), a, b).alias("bucket"),
                )
                for r, (a, b) in enumerate(_CM_HASHES)
            ]
        )
    ).alias("rb")
    monthly = stage(  # the "stored" per-month partials
        li.select("m", rb)
        .select("m", "rb.r", "rb.bucket")
        .groupBy("m", "r", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    merged = monthly.groupBy("r", "bucket").agg(
        F.sum("cnt").alias("cnt"), F.count(F.lit(1)).alias("n_partials")
    )
    exact = li.groupBy("k").agg(F.count(F.lit(1)).alias("true_count"))
    cand = exact.orderBy(F.desc("true_count"), F.asc("k")).limit(10)
    probes = cand.select(
        "k",
        "true_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _cm_bucket(F.col("k"), a, b).alias("bucket"),
                    )
                    for r, (a, b) in enumerate(_CM_HASHES)
                ]
            )
        ).alias("rb"),
    ).select("k", "true_count", "rb.r", "rb.bucket")
    est = (
        probes.join(F.broadcast(merged), ["r", "bucket"])
        .groupBy("k", "true_count")
        .agg(
            F.min("cnt").alias("cm_estimate"),
            F.max("n_partials").alias("n_partials_merged"),
        )
    )
    return est.select(
        F.col("k").alias("part_key"),
        "true_count",
        "cm_estimate",
        "n_partials_merged",
        (F.col("cm_estimate") >= F.col("true_count")).alias("est_ge_true"),
    )


register(
    "agg_countmin_merge_incremental",
    _countmin_merge,
    """
    WITH li AS (
        SELECT CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE)
                   AS m,
               l_partkey AS k
        FROM lineitem
    ),
    hp AS (
        SELECT * FROM (VALUES (0, 131071, 8191), (1, 524287, 2047),
                              (2, 6700417, 97), (3, 999983, 523))
            AS t(r, a, b)
    ),
    monthly AS (
        SELECT li.m, hp.r,
               ((hp.a * (li.k % 2147483647) + hp.b) % 2147483647) % 256
                   AS bucket,
               count(*) AS cnt
        FROM li, hp GROUP BY 1, 2, 3
    ),
    merged AS (
        SELECT r, bucket, sum(cnt) AS cnt, count(*) AS n_partials
        FROM monthly GROUP BY r, bucket
    ),
    exact AS (SELECT k, count(*) AS true_count FROM li GROUP BY k),
    cand AS (
        SELECT k, true_count FROM exact
        ORDER BY true_count DESC, k LIMIT 10
    ),
    probes AS (
        SELECT c.k, c.true_count, hp.r,
               ((hp.a * (c.k % 2147483647) + hp.b) % 2147483647) % 256
                   AS bucket
        FROM cand c, hp
    )
    SELECT p.k AS part_key,
           CAST(p.true_count AS BIGINT) AS true_count,
           CAST(min(m.cnt) AS BIGINT) AS cm_estimate,
           CAST(max(m.n_partials) AS BIGINT) AS n_partials_merged,
           min(m.cnt) >= p.true_count AS est_ge_true
    FROM probes p JOIN merged m ON p.r = m.r AND p.bucket = m.bucket
    GROUP BY p.k, p.true_count
    """,
)


def _bitmap_rollup_quarters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct-part counts per QUARTER from stored per-MONTH
    bitmaps OR-merged at query time (``bitmap_or_agg``) — bitmaps are
    the exact mergeable distinct state (union = bitwise OR), so the
    quarterly rollup never re-scans raw data AND never approximates:
    the exact counterpart of agg_hll_sketch_merge's HLL path, and the
    coarser-grain consumption side of agg_bitmap_distinct's monthly
    store. Oracle = plain count(DISTINCT) per quarter: equality proves
    the OR-merge identity."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.trunc("l_shipdate", "month").alias("m"),
        F.col("l_partkey").alias("k"),
    )
    monthly = stage(  # the "stored" per-month bitmaps
        li.groupBy(
            "m", F.bitmap_bucket_number("k").alias("bucket")
        )
        .agg(F.bitmap_construct_agg(F.bitmap_bit_position("k")).alias("bm"))
    )
    quarterly = monthly.groupBy(
        F.trunc("m", "quarter").alias("ship_quarter"), "bucket"
    ).agg(F.bitmap_or_agg("bm").alias("bm"))
    return (
        quarterly.groupBy("ship_quarter")
        .agg(F.sum(F.bitmap_count("bm")).alias("n_distinct_parts"))
        .orderBy("ship_quarter")
    )


register(
    "agg_bitmap_rollup_quarters",
    _bitmap_rollup_quarters,
    """
    SELECT CAST(date_trunc('quarter', CAST(l_shipdate AS DATE)) AS DATE)
               AS ship_quarter,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct_parts
    FROM lineitem
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# market-basket association lift (top pairs)
# ---------------------------------------------------------------------------


def _basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over co-purchased parts: for the
    weight>=2 co-occurrence pairs, support w/N, directional
    confidences w/c_a and w/c_b, and lift = w·N / (c_a·c_b) — the
    related-products recommendation scorer that corrects raw
    co-occurrence for item popularity (lift > 1 = genuinely
    associated). Every statistic is a fixed IEEE quotient of exact
    BIGINTs (pair count w, per-part order counts c_x, order count N):
    bit-identical cross-engine, no rounding. Top-20 by (lift DESC,
    pair ASC) — a total order, rank-stable.

    Scale: pair counts come from the once-per-session co-purchase
    edge store (functions/graph.py derivation — never a self-join);
    per-part counts are one fact aggregate joined onto the edge-sized
    relation WITHOUT a forced broadcast hint (the
    part domain is 200k·SF — linearly growing; threshold/AQE broadcast
    it while small, shuffle past that); N is a 1-row broadcast
    (plan_audit SCALAR_BROADCAST_OK). Output is a TakeOrdered top-k,
    never a global sort."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = li.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    per_part = li.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).alias("c")
    )
    edges = cached_edges(spark, sf_dir, min_weight=2)
    ca = per_part.select(F.col("p").alias("part_a"), F.col("c").alias("c_a"))
    cb = per_part.select(F.col("p").alias("part_b"), F.col("c").alias("c_b"))
    scored = (
        edges.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            F.col("weight").alias("w"),
            "c_a",
            "c_b",
            (
                (F.col("weight") * F.col("n_orders")).cast("double")
                / (F.col("c_a") * F.col("c_b")).cast("double")
            ).alias("lift"),
            (
                F.col("weight").cast("double")
                / F.col("n_orders").cast("double")
            ).alias("support"),
            (
                F.col("weight").cast("double") / F.col("c_a").cast("double")
            ).alias("conf_a_to_b"),
        )
    )
    return scored.orderBy(
        F.desc("lift"), F.asc("part_a"), F.asc("part_b")
    ).limit(20)


register(
    "orders_basket_lift",
    _basket_lift,
    f"""
    WITH {EDGE_CTE},
    ew AS (SELECT part_a, part_b, weight FROM e WHERE weight >= 2),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem),
    per_part AS (
        SELECT l_partkey AS p, count(*) AS c
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        GROUP BY 1
    )
    SELECT ew.part_a, ew.part_b,
           CAST(ew.weight AS BIGINT) AS w,
           CAST(a.c AS BIGINT) AS c_a,
           CAST(b.c AS BIGINT) AS c_b,
           CAST(ew.weight * n.n_orders AS DOUBLE)
               / CAST(a.c * b.c AS DOUBLE) AS lift,
           CAST(ew.weight AS DOUBLE) / CAST(n.n_orders AS DOUBLE)
               AS support,
           CAST(ew.weight AS DOUBLE) / CAST(a.c AS DOUBLE)
               AS conf_a_to_b
    FROM ew
    JOIN per_part a ON ew.part_a = a.p
    JOIN per_part b ON ew.part_b = b.p, n
    ORDER BY lift DESC, ew.part_a ASC, ew.part_b ASC
    LIMIT 20
    """,
)


# ---------------------------------------------------------------------------
# stored-histogram quantile merge (approximate median from partials)
# ---------------------------------------------------------------------------

_HQ_BINS = 32


def _histogram_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median estimation from STORED per-month equi-width histograms —
    the quantile member of the stored-partials family (moments:
    agg_incremental_moments, distinct: agg_hll_sketch_merge /
    agg_bitmap_rollup_quarters, frequency: agg_countmin_merge_
    incremental): a nightly job appends 32 bin counts per month, and
    any later query merges bins instead of re-scanning raw prices.
    Histograms over a shared fixed grid merge by ADDITION, so the
    merged estimate is identical to a from-scratch global histogram's.

    The estimate's contract is explicit: the true median provably
    lies inside the selected bin, so the query emits the bin bounds,
    the midpoint estimate, the EXACT median (computed by the oracle
    path too), and the boolean `within_bin` — the error-bound form
    agg_approx_percentile_bounds established. Bin bounds derive from
    the exact-DECIMAL global min/max (one 1-row broadcast), so bucket
    assignment floor((x-lo)/w) is a fixed IEEE chain on identical
    operands — no boundary drift between engines."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.date_trunc("month", "o_orderdate").alias("m"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("x"),
    )
    bounds = orders.agg(
        F.min("x").alias("lo"), F.max("x").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    b = F.lit(_HQ_BINS)
    width = (F.col("hi") - F.col("lo")).cast("double") / b.cast("double")
    binned = orders.crossJoin(F.broadcast(bounds)).select(
        "m",
        F.least(
            F.floor(
                (F.col("x") - F.col("lo")).cast("double") / width
            ).cast("int"),
            b - F.lit(1),
        ).alias("bin"),
        "lo",
        "hi",
        "n",
    )
    monthly = stage(  # the "stored" per-month partials
        binned.groupBy("m", "bin")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.max("lo").alias("lo"),
            F.max("hi").alias("hi"),
            F.max("n").alias("n"),
        )
    )
    merged = monthly.groupBy("bin").agg(
        F.sum("cnt").alias("cnt"),
        F.max("lo").alias("lo"),
        F.max("hi").alias("hi"),
        F.max("n").alias("n"),
        F.count(F.lit(1)).alias("n_partials"),
    )
    w_cum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = merged.select(
        "bin",
        "cnt",
        "lo",
        "hi",
        "n",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("n_partials").over(
            Window.orderBy("bin").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("total_partials"),
    )
    med_bin = (
        cum.where(F.col("cum") * 2 >= F.col("n"))
        .orderBy("bin")
        .limit(1)
    )
    exact_med = orders.agg(
        F.expr(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY x)"
            " AS DOUBLE)"
        ).alias("exact_median")
    )
    wd = (F.col("hi") - F.col("lo")).cast("double") / b.cast("double")
    bin_lo = F.col("lo").cast("double") + F.col("bin").cast("double") * wd
    bin_hi = F.col("lo").cast("double") + (
        F.col("bin") + F.lit(1)
    ).cast("double") * wd
    return med_bin.crossJoin(F.broadcast(exact_med)).select(
        F.col("bin").alias("median_bin"),
        "total_partials",
        bin_lo.alias("bin_lo"),
        bin_hi.alias("bin_hi"),
        ((bin_lo + bin_hi) / F.lit(2.0)).alias("median_estimate"),
        "exact_median",
        (
            (F.col("exact_median") >= bin_lo)
            & (F.col("exact_median") <= bin_hi)
        ).alias("within_bin"),
    )


register(
    "agg_histogram_quantile_merge",
    _histogram_quantile_merge,
    f"""
    WITH src AS (
        SELECT date_trunc('month', o_orderdate) AS m,
               CAST(o_totalprice AS DECIMAL(18,2)) AS x
        FROM orders
    ),
    bounds AS (
        SELECT min(x) AS lo, max(x) AS hi,
               CAST(count(*) AS BIGINT) AS n
        FROM src
    ),
    binned AS (
        SELECT s.m,
               least(CAST(floor(CAST(s.x - b.lo AS DOUBLE)
                   / (CAST(b.hi - b.lo AS DOUBLE)
                      / CAST({_HQ_BINS} AS DOUBLE))) AS INTEGER),
                   {_HQ_BINS} - 1) AS bin,
               b.lo, b.hi, b.n
        FROM src s, bounds b
    ),
    monthly AS (
        SELECT m, bin, count(*) AS cnt,
               max(lo) AS lo, max(hi) AS hi, max(n) AS n
        FROM binned GROUP BY m, bin
    ),
    merged AS (
        SELECT bin, CAST(sum(cnt) AS BIGINT) AS cnt,
               max(lo) AS lo, max(hi) AS hi, max(n) AS n,
               CAST(count(*) AS BIGINT) AS n_partials
        FROM monthly GROUP BY bin
    ),
    cum AS (
        SELECT bin, lo, hi, n,
               CAST(sum(cnt) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
               CAST(sum(n_partials) OVER () AS BIGINT) AS total_partials
        FROM merged
    ),
    med_bin AS (
        SELECT * FROM cum WHERE cum * 2 >= n ORDER BY bin LIMIT 1
    ),
    exact AS (
        SELECT CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY x)
               AS DOUBLE) AS exact_median
        FROM src
    )
    SELECT m.bin AS median_bin,
           m.total_partials,
           CAST(m.lo AS DOUBLE) + CAST(m.bin AS DOUBLE)
               * (CAST(m.hi - m.lo AS DOUBLE)
                  / CAST({_HQ_BINS} AS DOUBLE)) AS bin_lo,
           CAST(m.lo AS DOUBLE) + CAST(m.bin + 1 AS DOUBLE)
               * (CAST(m.hi - m.lo AS DOUBLE)
                  / CAST({_HQ_BINS} AS DOUBLE)) AS bin_hi,
           (CAST(m.lo AS DOUBLE) + CAST(m.bin AS DOUBLE)
               * (CAST(m.hi - m.lo AS DOUBLE)
                  / CAST({_HQ_BINS} AS DOUBLE))
            + CAST(m.lo AS DOUBLE) + CAST(m.bin + 1 AS DOUBLE)
               * (CAST(m.hi - m.lo AS DOUBLE)
                  / CAST({_HQ_BINS} AS DOUBLE))) / 2.0
               AS median_estimate,
           e.exact_median,
           e.exact_median >= CAST(m.lo AS DOUBLE) + CAST(m.bin AS DOUBLE)
               * (CAST(m.hi - m.lo AS DOUBLE)
                  / CAST({_HQ_BINS} AS DOUBLE))
           AND e.exact_median <= CAST(m.lo AS DOUBLE)
               + CAST(m.bin + 1 AS DOUBLE)
               * (CAST(m.hi - m.lo AS DOUBLE)
                  / CAST({_HQ_BINS} AS DOUBLE)) AS within_bin
    FROM med_bin m, exact e
    """,
)


# ---------------------------------------------------------------------------
# sampling-based approximate query processing with a CI contract
# ---------------------------------------------------------------------------


def _sampled_revenue_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate total revenue from a DETERMINISTIC 10% sample with
    a 95% confidence interval — BlinkDB-style approximate query
    processing, made auditable: the query emits the estimate, the
    half-width, the exact total (which the oracle also computes), and
    the boolean `within_ci`. The sample predicate o_orderkey % 10 = 0
    evaluates in the scan stage (no shuffle, reproducible across
    engines/reruns — the train_split_assignment contract); moments
    accumulate in exact DECIMAL (the stats_ab_welch_ttest recipe), so
    estimate/se are fixed IEEE chains on bit-identical scalars.
    Estimator: SRS total N·x̄ with finite-population correction —
    se = N·sqrt(var_s/n_s·(1−n_s/N)).

    Scale: ONE conditional-aggregate pass computes sample moments AND
    the exact population total/count together (at 100 TB you would
    scan only the sample partition and keep the exact total as a
    stored aggregate — the point of AQP is skipping the full scan;
    here the single pass keeps the contract checkable)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(19,2)").alias("x")
    )
    in_s = F.col("o_orderkey") % 10 == 0
    agg = orders.agg(
        F.count(F.lit(1)).alias("n_pop"),
        F.sum("x").cast("decimal(18,2)").alias("s_pop"),
        F.sum(F.when(in_s, 1).otherwise(0)).alias("n_s"),
        F.sum(F.when(in_s, F.col("x"))).cast("decimal(18,2)").alias("s_s"),
        F.sum(F.when(in_s, (F.col("x") * F.col("x")).cast("decimal(38,4)")))
        .cast("decimal(20,4)")
        .alias("q_s"),
    )
    n_pop, s_pop = F.col("n_pop"), F.col("s_pop")
    n_s, s_s, q_s = F.col("n_s"), F.col("s_s"), F.col("q_s")
    var_num = (
        n_s.cast("decimal(10,0)") * q_s - (s_s * s_s).cast("decimal(38,4)")
    ).cast("decimal(38,4)")
    var_s = var_num.cast("double") / (n_s * (n_s - F.lit(1))).cast("double")
    mean_s = s_s.cast("double") / n_s.cast("double")
    est = n_pop.cast("double") * mean_s
    fpc = F.lit(1.0) - n_s.cast("double") / n_pop.cast("double")
    se = n_pop.cast("double") * F.sqrt(var_s / n_s.cast("double") * fpc)
    half = F.lit(1.96) * se
    true_total = s_pop.cast("double")
    return agg.select(
        "n_pop",
        "n_s",
        est.alias("est_total"),
        true_total.alias("true_total"),
        # the variance numerator exceeds 2^53 past sf0.01, and a
        # >2^53 DECIMAL->DOUBLE cast is the one conversion the engines
        # round differently (agg_incremental_moments hazard) — the
        # half-width is sqrt-derived (genuinely irrational), so
        # round(,4) is a pure tolerance 8+ orders above the ulp drift
        F.round(half, 4).alias("ci_half_width"),
        (F.abs(true_total - est) <= half).alias("within_ci"),
    )


register(
    "approx_sampled_revenue_ci",
    _sampled_revenue_ci,
    """
    WITH agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pop,
               CAST(sum(CAST(o_totalprice AS DECIMAL(19,2)))
                    AS DECIMAL(18,2)) AS s_pop,
               CAST(count(*) FILTER (WHERE o_orderkey % 10 = 0)
                    AS BIGINT) AS n_s,
               CAST(sum(CAST(o_totalprice AS DECIMAL(19,2)))
                    FILTER (WHERE o_orderkey % 10 = 0)
                    AS DECIMAL(18,2)) AS s_s,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(19,2))
                             * CAST(o_totalprice AS DECIMAL(19,2))
                             AS DECIMAL(38,4)))
                    FILTER (WHERE o_orderkey % 10 = 0)
                    AS DECIMAL(20,4)) AS q_s
        FROM orders
    )
    SELECT n_pop, n_s,
           CAST(n_pop AS DOUBLE)
               * (CAST(s_s AS DOUBLE) / CAST(n_s AS DOUBLE)) AS est_total,
           CAST(s_pop AS DOUBLE) AS true_total,
           round(1.96 * (CAST(n_pop AS DOUBLE)
               * sqrt(CAST(CAST(CAST(n_s AS DECIMAL(10,0)) * q_s
                                - CAST(CAST(s_s AS DECIMAL(19,2)) * CAST(s_s AS DECIMAL(19,2)) AS DECIMAL(38,4))
                           AS DECIMAL(38,4)) AS DOUBLE)
                      / CAST(n_s * (n_s - 1) AS DOUBLE)
                      / CAST(n_s AS DOUBLE)
                      * (1.0 - CAST(n_s AS DOUBLE)
                               / CAST(n_pop AS DOUBLE)))), 4)
               AS ci_half_width,
           abs(CAST(s_pop AS DOUBLE)
               - CAST(n_pop AS DOUBLE)
                 * (CAST(s_s AS DOUBLE) / CAST(n_s AS DOUBLE)))
           <= 1.96 * (CAST(n_pop AS DOUBLE)
               * sqrt(CAST(CAST(CAST(n_s AS DECIMAL(10,0)) * q_s
                                - CAST(CAST(s_s AS DECIMAL(19,2)) * CAST(s_s AS DECIMAL(19,2)) AS DECIMAL(38,4))
                           AS DECIMAL(38,4)) AS DOUBLE)
                      / CAST(n_s * (n_s - 1) AS DOUBLE)
                      / CAST(n_s AS DOUBLE)
                      * (1.0 - CAST(n_s AS DOUBLE)
                               / CAST(n_pop AS DOUBLE))))
               AS within_ci
    FROM agg
    """,
)
