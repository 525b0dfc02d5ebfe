"""Additional TPC-H-shaped SQL surface: Q10/Q14/Q18/Q19 adapted to the
driver's synthetic schema.

Gap-list coverage (the reference has no query language — SURVEY §3): these
four shapes exercise Catalyst rewrites that matter at 100 TB and that the
earlier SQL family (Q1/Q3/Q4/Q17) didn't cover yet:

- Q10: 3-way join + top-k on an aggregate — the partial-agg + single
  shuffle + driver-side LIMIT-k pattern (never a global sort of all groups
  on one node; TakeOrderedAndProject caps the transfer at k rows/partition).
- Q14: conditional aggregation ratio (promo share) — one pass, no
  self-join; the CASE-WHEN-inside-sum formulation is the scale-safe way to
  express "share of revenue where X".
- Q18: IN-subquery over a grouped HAVING — Catalyst turns the IN into a
  left-semi join against the pre-aggregated keys, so the 100 TB fact table
  is aggregated once, not re-scanned per row.
- Q19: disjunctive OR-of-ANDs join predicate — Catalyst extracts the
  common equi-key (p_partkey = l_partkey) out of the disjunction so this
  stays a hash join with a residual filter, never a cartesian product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orchestrated_etl_spark.registry import register
from orchestrated_etl_spark.sources.catalog import load_table


# ---------------------------------------------------------------------------
# Q10 shape — top returned-item customers by revenue
# ---------------------------------------------------------------------------


def _q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by revenue on returned line items. Both join
    dims are HINT-FREE (customer/orders grow with SF — r18 review, the
    r17 flagship-docstring class): they broadcast under the threshold
    at bench scale and degrade to key-partitioned shuffle joins past
    it. Lineitem aggregates with map-side partials after one shuffle;
    the final top-k is TakeOrderedAndProject (k rows per partition to
    the driver), not a global sort. Ties broken by custkey for
    cross-engine determinism."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    # exact DECIMAL accumulation (2-decimal factors, scale-4 product);
    # no round() on a cross-engine-compared double
    revenue = F.sum(
        F.col("l_extendedprice").cast("decimal(14,2)")
        * (1 - F.col("l_discount")).cast("decimal(4,2)")
    ).cast("double").alias("revenue")
    return (
        lineitem.where(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("mktsegment"),
        )
        .agg(revenue, F.count("*").alias("n_lines"))
        .orderBy(F.desc("revenue"), "custkey")
        .limit(20)
    )


register(
    "sql_q10_returned_revenue",
    _q10_returned_revenue,
    """
    SELECT c.c_custkey AS custkey, c.c_name AS name,
           c.c_mktsegment AS mktsegment,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(14,2))
                    * CAST(1 - l.l_discount AS DECIMAL(4,2))) AS DOUBLE)
               AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE l.l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, custkey
    LIMIT 20
    """,
)


# ---------------------------------------------------------------------------
# Q14 shape — monthly promo revenue share (conditional aggregation)
# ---------------------------------------------------------------------------


def _q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly share of revenue from PROMO-type parts. One scan, one
    hint-free join to part (broadcast under the threshold; part grows
    with SF, so past it the join degrades to a key-partitioned shuffle
    — r18 review wording fix), one aggregate — the conditional-sum
    ratio replaces the naive filtered-self-join formulation (two fact
    scans + an extra join) that would double the I/O at 100 TB."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(14,2)") * (
        1 - F.col("l_discount")
    ).cast("decimal(4,2)")
    promo_rev = F.sum(F.when(F.col("p_type") == "PROMO", rev)).cast("double")
    return (
        lineitem.join(
            part, F.col("l_partkey") == F.col("p_partkey")
        )
        # trunc()->DATE->NTZ stays wall-clock across session timezones
        .groupBy(
            F.trunc("l_shipdate", "month").cast("timestamp_ntz").alias("month")
        )
        .agg(
            (100.0 * promo_rev / F.sum(rev).cast("double")).alias(
                "promo_share"
            ),
            promo_rev.alias("promo_revenue"),
            F.count("*").alias("n_lines"),
        )
    )


register(
    "sql_q14_promo_share",
    _q14_promo_share,
    """
    SELECT CAST(date_trunc('month', l.l_shipdate) AS TIMESTAMP) AS month,
           100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                                  THEN CAST(l.l_extendedprice AS DECIMAL(14,2))
                                       * CAST(1 - l.l_discount AS DECIMAL(4,2))
                                  END) AS DOUBLE)
                 / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(14,2))
                            * CAST(1 - l.l_discount AS DECIMAL(4,2)))
                        AS DOUBLE)
               AS promo_share,
           CAST(sum(CASE WHEN p.p_type = 'PROMO'
                         THEN CAST(l.l_extendedprice AS DECIMAL(14,2))
                              * CAST(1 - l.l_discount AS DECIMAL(4,2))
                         END) AS DOUBLE) AS promo_revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# Q18 shape — large-quantity orders via IN over a grouped HAVING
# ---------------------------------------------------------------------------


def _q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers holding orders whose total quantity exceeds 300. The
    qualifying-keys subquery aggregates lineitem ONCE (partial aggs
    map-side), then semi-joins back — at scale this is two passes over
    lineitem and one shuffle each, with the second pass's join key list
    small enough that AQE usually converts it to a broadcast."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 300)
        .select("l_orderkey")
    )
    return (
        lineitem.join(big.withColumnRenamed("l_orderkey", "bigkey"),
                      F.col("l_orderkey") == F.col("bigkey"), "left_semi")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            F.col("c_name").alias("name"),
            F.col("c_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.round("o_totalprice", 2).alias("totalprice"),
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .orderBy("custkey", "orderkey")
    )


register(
    "sql_q18_large_orders",
    _q18_large_orders,
    """
    SELECT c.c_name AS name, c.c_custkey AS custkey,
           o.o_orderkey AS orderkey,
           round(o.o_totalprice, 2) AS totalprice,
           round(sum(l.l_quantity), 2) AS total_qty
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE l.l_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING sum(l_quantity) > 300
    )
    GROUP BY 1, 2, 3, 4
    ORDER BY custkey, orderkey
    """,
)


# ---------------------------------------------------------------------------
# Q19 shape — disjunctive OR-of-ANDs join predicate
# ---------------------------------------------------------------------------


def _q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue under an OR-of-ANDs predicate spanning both join sides.
    Catalyst factors the common p_partkey = l_partkey conjunct out of
    the disjunction, so the plan stays a HASH join with a residual
    filter (broadcast under the threshold, shuffle past it — the part
    side grows with SF; r18 review wording fix) — the naive reading
    (three separate joins unioned, or worse a cartesian product
    filtered late) never materialises."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = lineitem.join(
        part, F.col("l_partkey") == F.col("p_partkey")
    )
    q, s, t = F.col("l_quantity"), F.col("p_size"), F.col("p_type")
    cond = (
        ((t == "SMALL") & q.between(1, 11) & s.between(1, 5))
        | ((t == "MEDIUM") & q.between(10, 20) & s.between(1, 10))
        | ((t == "LARGE") & q.between(20, 30) & s.between(1, 15))
    )
    return j.where(cond).agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(14,2)")
            * (1 - F.col("l_discount")).cast("decimal(4,2)")
        ).cast("double").alias("revenue"),
        F.count("*").alias("n_lines"),
    )


register(
    "sql_q19_disjunctive",
    _q19_disjunctive,
    """
    SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(14,2))
                    * CAST(1 - l.l_discount AS DECIMAL(4,2))) AS DOUBLE)
               AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_type = 'SMALL' AND l.l_quantity BETWEEN 1 AND 11
           AND p.p_size BETWEEN 1 AND 5)
       OR (p.p_type = 'MEDIUM' AND l.l_quantity BETWEEN 10 AND 20
           AND p.p_size BETWEEN 1 AND 10)
       OR (p.p_type = 'LARGE' AND l.l_quantity BETWEEN 20 AND 30
           AND p.p_size BETWEEN 1 AND 15)
    """,
)
