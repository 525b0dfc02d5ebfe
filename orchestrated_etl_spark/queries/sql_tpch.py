"""TPC-H query shapes adapted to the driver's synthetic schema.

The reference has no query language (SURVEY §3). Every TPC-H shape has
a registered adaptation (Q1 lives in reference_surface, Q3 in
relational, Q4 and Q17 in sql_subqueries); each exercises a Catalyst
rewrite that matters at 100 TB:

- Q2: a CORRELATED scalar MIN subquery, decorrelated into an aggregate
  joined back on the correlation key.
- Q5: a 6-table join chain with a non-join equality (c_nationkey =
  s_nationkey) folded into the join graph.
- Q6: pure scan-filter-agg, the pushed-filter baseline.
- Q7: both sides' nations with a symmetric disjunctive pair filter that
  must not break the equi-join.
- Q8/Q14: conditional-sum ratios (market share, promo share) in one
  pass, no self-join.
- Q9: profit by (nation, year) over a LIKE-filtered part dimension.
- Q10: 3-way join + top-k on an aggregate (TakeOrderedAndProject caps
  the transfer at k rows per partition).
- Q11: a scalar aggregate in HAVING sharing its subtree with the outer
  aggregate.
- Q12: conditional counts per ship mode.
- Q13: outer join + an aggregate of an aggregate.
- Q15: a CTE reused twice (per-supplier revenue vs its max).
- Q16: count(DISTINCT) per group with a null-aware NOT IN anti-join.
- Q18/Q20: IN-subqueries over grouped HAVING, rewritten to left-semi
  joins (two deep in Q20).
- Q19: an OR-of-ANDs join predicate whose common equi-key Catalyst
  extracts, so it stays a hash join.
- Q21/Q22: EXISTS/NOT EXISTS and scalar-subquery filters turned into
  semi/anti joins.

Schema deltas vs real TPC-H (the driver data has no partsupp, no
l_commitdate/l_receiptdate/l_shipmode, no c_phone/o_comment/s_comment):
supply cost becomes the minimum observed unit price
``l_extendedprice / l_quantity`` per (part, supplier) and availability
the total shipped quantity; Q9 omits ps_supplycost; Q21's "kept
waiting" predicate becomes l_returnflag = 'R'; Q22's "no orders in 7
years" becomes "no orders since 1999-01-01" with the nation as the
country code; the "Customer Complaints" supplier exclusion becomes a
negative account balance.

FLOAT POLICY (registry.py): money sums accumulate in DECIMAL on both
engines; unit-cost quotients are raw IEEE operations on identical
inputs; no round() on compared doubles.
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
    dims are HINT-FREE (customer/orders grow with SF — the flagship-docstring
    class): they broadcast under the threshold
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
    with SF, so past it the join degrades to a key-partitioned
    shuffle), one aggregate — the conditional-sum ratio replaces the naive filtered-self-join formulation (two fact
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
    side grows with SF) — the naive reading
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


def _rev():
    # Built lazily: a module-level Column would need an active SparkContext
    # at import time, which tooling (QUERIES.md generation) doesn't have.
    # DECIMAL product of 2-decimal factors (scale 4, exact): sums of it are
    # order-independent, so compared doubles are engine-identical with no
    # round() needed.
    return F.col("l_extendedprice").cast("decimal(14,2)") * (
        1 - F.col("l_discount")
    ).cast("decimal(4,2)")


# ---------------------------------------------------------------------------
# Q5 shape — local supplier volume
# ---------------------------------------------------------------------------


def _q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from 1996 orders where the supplier and the customer sit in
    the same ASIA nation. nation+region and supplier/customer dims
    broadcast; lineitem->orders is the only big shuffle; the
    c_nationkey = s_nationkey equality is a post-join filter Catalyst
    keeps next to the join so mismatched rows die before the aggregate."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(
        F.year("o_orderdate") == 1996
    )
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            customer,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(_rev()).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .orderBy(F.desc("revenue"), "nation")
    )


register(
    "sql_q5_local_supplier_volume",
    _q5_local_supplier_volume,
    """
    SELECT n.n_name AS nation,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(14,2))
                    * CAST(1 - l.l_discount AS DECIMAL(4,2))) AS DOUBLE)
               AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN customer c ON o.o_custkey = c.c_custkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA' AND year(o.o_orderdate) = 1996
    GROUP BY 1
    ORDER BY revenue DESC, nation
    """,
)


# ---------------------------------------------------------------------------
# Q6 shape — forecast revenue change (scan-filter-agg baseline)
# ---------------------------------------------------------------------------


def _q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure filter + global aggregate on lineitem: the shipdate range and
    quantity bound reach the parquet scan as PushedFilters, the discount
    band prunes row-groups via min/max stats, and the whole plan is one
    WholeStageCodegen span with a single-row result — the cheapest
    possible shape at 100 TB (no shuffle at all beyond the final 1-row
    exchange)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.02, 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(14,2)")
                * F.col("l_discount").cast("decimal(4,2)")
            ).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


register(
    "sql_q6_forecast_revenue",
    _q6_forecast_revenue,
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
    """,
)


# ---------------------------------------------------------------------------
# Q7 shape — volume shipping between two nations
# ---------------------------------------------------------------------------


def _q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping volume between NATION_1 and NATION_2 in both directions,
    by ship year. Both nation dims broadcast under distinct aliases; the
    symmetric pair predicate is a residual filter on the joined row, not
    a join-condition disjunction, so the two big joins stay plain hash
    joins."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.sum(_rev()).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


register(
    "sql_q7_volume_shipping",
    _q7_volume_shipping,
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(14,2))
                    * CAST(1 - l.l_discount AS DECIMAL(4,2))) AS DOUBLE)
               AS revenue,
           count(*) AS n_lines
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """,
)


# ---------------------------------------------------------------------------
# Q8 shape — national market share (conditional-sum ratio over 7 tables)
# ---------------------------------------------------------------------------


def _q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_3's share of ECONOMY-part revenue sold into ASIA, by order
    year. The share is a conditional sum over one joined pass — never a
    second scan of lineitem. Customer nation restricts to the ASIA
    region (broadcast chain nation->region); the supplier nation only
    feeds the CASE, so it joins by key without filtering."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n_cust = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_rkey")
    )
    n_supp = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    # no .otherwise(0.0): a double ELSE would coerce the whole CASE to
    # double and lose the exact-decimal accumulation; sum skips NULLs.
    nation_rev = F.sum(F.when(F.col("supp_nation") == "NATION_3", _rev()))
    return (
        lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n_cust), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_rkey") == F.col("r_regionkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n_supp), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (nation_rev.cast("double") / F.sum(_rev()).cast("double")).alias(
                "mkt_share"
            ),
            F.sum(_rev()).cast("double").alias("total_revenue"),
        )
        .orderBy("o_year")
    )


register(
    "sql_q8_market_share",
    _q8_market_share,
    """
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           CAST(sum(CASE WHEN ns.n_name = 'NATION_3'
                         THEN CAST(l.l_extendedprice AS DECIMAL(14,2))
                              * CAST(1 - l.l_discount AS DECIMAL(4,2))
                         END) AS DOUBLE)
                 / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(14,2))
                            * CAST(1 - l.l_discount AS DECIMAL(4,2)))
                        AS DOUBLE)
               AS mkt_share,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(14,2))
                    * CAST(1 - l.l_discount AS DECIMAL(4,2))) AS DOUBLE)
               AS total_revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation nc ON c.c_nationkey = nc.n_nationkey
    JOIN region r ON nc.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    WHERE p.p_type = 'ECONOMY' AND r.r_name = 'ASIA'
    GROUP BY 1
    ORDER BY 1
    """,
)


# ---------------------------------------------------------------------------
# Q9 shape — product-type profit by nation and year
# ---------------------------------------------------------------------------


def _q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from parts whose name contains 'red', by supplier nation
    and order year. (Real Q9 subtracts ps_supplycost; the synthetic
    schema has no partsupp, so profit degrades to discounted revenue —
    the join/group shape is unchanged.) The LIKE filter prunes the part
    dim BEFORE broadcast, so the fact-side hash probe only carries
    matching partkeys."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part").where(F.col("p_name").contains("red"))
    return (
        lineitem.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            F.sum(_rev()).cast("double").alias("sum_profit"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("nation", F.desc("o_year"))
    )


register(
    "sql_q9_product_profit",
    _q9_product_profit,
    """
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(14,2))
                    * CAST(1 - l.l_discount AS DECIMAL(4,2))) AS DOUBLE)
               AS sum_profit,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    ORDER BY nation, o_year DESC
    """,
)


# ---------------------------------------------------------------------------
# Q13 shape — customer order-count distribution (aggregate of an aggregate)
# ---------------------------------------------------------------------------


def _q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of orders-per-customer, keeping zero-order customers via
    a left outer join. (The o_comment NOT LIKE filter of real Q13 becomes
    an o_orderpriority filter — same outer-join-with-filtered-right
    shape.) Two aggregations: the first shuffles on custkey, the second
    on the tiny count domain — AQE collapses the second into a handful
    of partitions."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "5-LOW"
    )
    per_cust = (
        customer.join(
            orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


register(
    "sql_q13_order_count_distribution",
    _q13_order_count_distribution,
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
        SELECT c.c_custkey,
               CAST(count(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c
        LEFT OUTER JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority <> '5-LOW'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)


# ---------------------------------------------------------------------------
# Q15 shape — top supplier(s) by quarterly revenue (CTE reused twice)
# ---------------------------------------------------------------------------


def _q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers whose 1996Q1 revenue equals the maximum. The revenue CTE
    is referenced twice (rows + its max); expressing it once lets Spark
    reuse the exchange instead of recomputing the aggregate. Revenue is
    rounded to 2dp BEFORE the max-equality so the comparison is exact
    across engines."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    revenue = (
        lineitem.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(_rev()).cast("double").alias("total_revenue"))
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("m"))
    return (
        revenue.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("m"))
        .join(
            supplier, F.col("supplier_no") == F.col("s_suppkey")
        )
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
            "total_revenue",
        )
        .orderBy("suppkey")
    )


register(
    "sql_q15_top_supplier",
    _q15_top_supplier,
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                        * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE)
                   AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY 1
    )
    SELECT s.s_suppkey AS suppkey, s.s_name AS name, r.total_revenue
    FROM revenue r
    JOIN supplier s ON r.supplier_no = s.s_suppkey
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY suppkey
    """,
)


# ---------------------------------------------------------------------------
# Q21 shape — suppliers who kept orders waiting (EXISTS + NOT EXISTS)
# ---------------------------------------------------------------------------


def _q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers solely responsible for a returned line in a
    multi-supplier order. (Real Q21's receipt>commit lateness predicate
    maps to l_returnflag = 'R' — the synthetic schema has no receipt or
    commit dates; the EXISTS/NOT-EXISTS plan shape is identical.) Both
    the EXISTS (another supplier touched the order) and the NOT EXISTS
    (no other supplier's line was returned) become semi/anti joins on
    l_orderkey, sharing the shuffle key with the outer scan, so the
    fact table shuffles once per branch and never nested-loops."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    supplier = load_table(spark, sf_dir, "supplier")
    l1 = lineitem.where(F.col("l_returnflag") == "R")
    other = lineitem.select(
        F.col("l_orderkey").alias("o2_orderkey"),
        F.col("l_suppkey").alias("o2_suppkey"),
    )
    other_returned = lineitem.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("r2_orderkey"),
        F.col("l_suppkey").alias("r2_suppkey"),
    )
    return (
        l1.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            other,
            (F.col("o2_orderkey") == F.col("l_orderkey"))
            & (F.col("o2_suppkey") != F.col("l_suppkey")),
            "left_semi",
        )
        .join(
            other_returned,
            (F.col("r2_orderkey") == F.col("l_orderkey"))
            & (F.col("r2_suppkey") != F.col("l_suppkey")),
            "left_anti",
        )
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("s_name").alias("name"))
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "name")
        .limit(20)
    )


register(
    "sql_q21_waiting_supplier",
    _q21_waiting_supplier,
    """
    SELECT s.s_name AS name, count(*) AS numwait
    FROM lineitem l1
    JOIN orders o ON l1.l_orderkey = o.o_orderkey
    JOIN supplier s ON l1.l_suppkey = s.s_suppkey
    WHERE l1.l_returnflag = 'R'
      AND o.o_orderstatus = 'F'
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_returnflag = 'R'
      )
    GROUP BY 1
    ORDER BY numwait DESC, name
    LIMIT 20
    """,
)


# ---------------------------------------------------------------------------
# Q22 shape — global sales opportunity (scalar subquery + anti-join)
# ---------------------------------------------------------------------------


def _q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wealthy-but-inactive customers per nation: account balance above
    the mean positive balance, and no order since 1999-01-01. Issued as
    SQL text so the uncorrelated average plans as a true ScalarSubquery
    (evaluated once, its 1-row result injected into the filter) rather
    than a nested-loop join; the NOT EXISTS decorrelates to an anti-join
    against a date-filtered orders projection — at 100 TB the orders side
    prunes to the recent partitions before the anti-join."""
    for t in ("customer", "orders", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"{t}_q22")
    return spark.sql(
        """
        SELECT n.n_name AS nation, count(*) AS numcust,
               CAST(sum(CAST(c.c_acctbal AS DECIMAL(14,2))) AS DOUBLE)
                   AS totacctbal
        FROM customer_q22 c
        JOIN nation_q22 n ON c.c_nationkey = n.n_nationkey
        WHERE c.c_acctbal > (
            SELECT avg(c_acctbal) FROM customer_q22 WHERE c_acctbal > 0.0
        )
        AND NOT EXISTS (
            SELECT 1 FROM orders_q22 o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_orderdate >= TIMESTAMP '1999-01-01'
        )
        GROUP BY 1
        ORDER BY nation
        """
    )


# ---------------------------------------------------------------------------
# Q12 shape — shipping classes and order priority
# ---------------------------------------------------------------------------


def _q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 adapted to the synthetic schema (no l_shipmode/l_commitdate/
    l_receiptdate — TPC-H Q12's late-shipment predicate and mode column
    don't exist): l_returnflag stands in as the shipping class and the
    date window runs on l_shipdate. The plan shape Q12 exercises is
    intact — one fact-fact equi-join (orders⋈lineitem on orderkey, the
    only non-broadcast join in the TPC-H set) feeding disjunctive
    conditional counts per class. The orderkey join carries the shuffle;
    the shipdate range predicate pushes into the lineitem scan."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


register(
    "sql_q12_shipmode_priority",
    _q12_shipmode_priority,
    """
    SELECT l_returnflag AS ship_class,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY 1 ORDER BY 1
    """,
)


register(
    "sql_q22_sales_opportunity",
    _q22_sales_opportunity,
    """
    SELECT n.n_name AS nation, count(*) AS numcust,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(14,2))) AS DOUBLE)
               AS totacctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_acctbal > (
        SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0
    )
    AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1999-01-01'
    )
    GROUP BY 1
    ORDER BY nation
    """,
)


def _views(spark: SparkSession, sf_dir: str, tag: str, *tables: str) -> None:
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"{t}_{tag}")


# ---------------------------------------------------------------------------
# Q2 shape — minimum-cost supplier per part within a region
# ---------------------------------------------------------------------------


def _q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For ECONOMY parts of size ≤ 10, the EUROPE-region supplier(s)
    offering the per-part minimum unit cost. The correlated
    ``cost = (SELECT min(cost) ... WHERE same part)`` is the load-bearing
    shape: Catalyst decorrelates it to an aggregate on the correlation
    key joined back to the outer relation — one extra shuffle on
    l_partkey, NOT a per-row subquery execution. At 100 TB the derived
    supply relation is a single partial-aggregated shuffle of lineitem on
    (l_partkey, l_suppkey); supplier/nation/region broadcast onto it.
    The unit-cost quotient is a raw IEEE division of identical inputs on
    both engines, so the min-equality filter decides identically."""
    _views(spark, sf_dir, "q2", "lineitem", "part", "supplier", "nation", "region")
    return spark.sql(
        """
        WITH supply AS (
            SELECT l_partkey AS partkey, l_suppkey AS suppkey,
                   min(l_extendedprice / l_quantity) AS unit_cost
            FROM lineitem_q2
            GROUP BY 1, 2
        ),
        eu_supply AS (
            SELECT supply.*, s_name, s_acctbal, n_name
            FROM supply
            JOIN supplier_q2 ON suppkey = s_suppkey
            JOIN nation_q2 ON s_nationkey = n_nationkey
            JOIN region_q2 ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        )
        SELECT s_acctbal, s_name, n_name,
               p_partkey, p_type, p_size, unit_cost
        FROM part_q2
        JOIN eu_supply ON p_partkey = partkey
        WHERE p_type = 'ECONOMY' AND p_size <= 10
          AND unit_cost = (
              SELECT min(unit_cost) FROM eu_supply e2
              WHERE e2.partkey = p_partkey
          )
        ORDER BY s_acctbal DESC, s_name, p_partkey
        LIMIT 100
        """
    )


register(
    "sql_q2_min_cost_supplier",
    _q2_min_cost_supplier,
    """
    WITH supply AS (
        SELECT l_partkey AS partkey, l_suppkey AS suppkey,
               min(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem
        GROUP BY 1, 2
    ),
    eu_supply AS (
        SELECT supply.*, s_name, s_acctbal, n_name
        FROM supply
        JOIN supplier ON suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'EUROPE'
    )
    SELECT s_acctbal, s_name, n_name,
           p_partkey, p_type, p_size, unit_cost
    FROM part
    JOIN eu_supply ON p_partkey = partkey
    WHERE p_type = 'ECONOMY' AND p_size <= 10
      AND unit_cost = (
          SELECT min(unit_cost) FROM eu_supply e2
          WHERE e2.partkey = p_partkey
      )
    ORDER BY s_acctbal DESC, s_name, p_partkey
    LIMIT 100
    """,
)


# ---------------------------------------------------------------------------
# Q11 shape — parts holding an outsized share of a nation's supply value
# ---------------------------------------------------------------------------


def _q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply value per part from NATION_7 suppliers, keeping parts whose
    value exceeds 0.0001 of that nation's total. The HAVING scalar
    subquery re-aggregates the SAME filtered join — Catalyst evaluates it
    once (1-row result broadcast into the filter), so the plan is: one
    lineitem⋈broadcast(supplier⋈nation) shuffle on l_partkey, plus a
    cheap global re-aggregation of the per-part partials. DECIMAL
    accumulation on both engines makes the threshold comparison exact —
    no group can flip sides from float ordering."""
    _views(spark, sf_dir, "q11", "lineitem", "supplier", "nation")
    return spark.sql(
        """
        WITH national AS (
            SELECT l_partkey,
                   CAST(l_extendedprice AS DECIMAL(14,2))
                     * CAST(1.0 - l_discount AS DECIMAL(4,2)) AS val
            FROM lineitem_q11
            JOIN supplier_q11 ON l_suppkey = s_suppkey
            JOIN nation_q11 ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_7'
        )
        SELECT l_partkey AS partkey,
               CAST(sum(val) AS DOUBLE) AS part_value
        FROM national
        GROUP BY 1
        HAVING sum(val) > (SELECT sum(val) * 0.0001 FROM national)
        ORDER BY part_value DESC, partkey
        """
    )


register(
    "sql_q11_important_stock",
    _q11_important_stock,
    """
    WITH national AS (
        SELECT l_partkey,
               CAST(l_extendedprice AS DECIMAL(14,2))
                 * CAST(1.0 - l_discount AS DECIMAL(4,2)) AS val
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_7'
    )
    SELECT l_partkey AS partkey,
           CAST(sum(val) AS DOUBLE) AS part_value
    FROM national
    GROUP BY 1
    HAVING sum(val) > (SELECT sum(val) * 0.0001 FROM national)
    ORDER BY part_value DESC, partkey
    """,
)


# ---------------------------------------------------------------------------
# Q16 shape — supplier diversity per part attribute, excluding flagged ones
# ---------------------------------------------------------------------------


def _q16_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct supplier count per (brand, type, size) over the observed
    part-supplier pairs, excluding Brand#1, PROMO types, off-list sizes,
    and suppliers in arrears (s_acctbal < 0 stands in for TPC-H's
    "Customer Complaints" comment — no s_comment column in the fixture).
    Two rewrites in one plan: count(DISTINCT l_suppkey) expands via a
    two-phase distinct aggregate (dedup shuffle then count), and the
    NOT IN becomes a null-aware anti-join (NAAJ). SCALE CAVEAT:
    Spark executes a NAAJ broadcast-side ONLY — there is no
    shuffle fallback for the null-aware form — and the flagged list is
    NOT construction-bounded: suppliers in arrears are a roughly
    constant FRACTION of the supplier table, so the build side grows
    with the data. The NOT IN spelling is kept because exercising the
    NAAJ rewrite IS this query's coverage point (both key columns are
    non-null here, so semantics match the anti-join); at 100 TB the
    scale-safe spelling of the same predicate is NOT EXISTS / a
    left_anti join, which Spark plans as a shuffle-capable regular
    anti-join — see j_anti_join for that form."""
    _views(spark, sf_dir, "q16", "lineitem", "part", "supplier")
    return spark.sql(
        """
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem_q16) pairs
        JOIN part_q16 ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#1'
          AND p_type NOT LIKE 'PROMO%'
          AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
          AND l_suppkey NOT IN (
              SELECT s_suppkey FROM supplier_q16 WHERE s_acctbal < 0.0
          )
        GROUP BY 1, 2, 3
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        """
    )


register(
    "sql_q16_supplier_diversity",
    _q16_supplier_diversity,
    """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0
      )
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)


# ---------------------------------------------------------------------------
# Q20 shape — suppliers whose recent shipments dominate their history
# ---------------------------------------------------------------------------


def _q20_excess_availability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_3 suppliers who, for some 'small %' part, shipped more than
    half of their all-time quantity for that part during 1996 (the
    fixture has no ps_availqty; "more than half of availability" becomes
    "1996 outweighs the rest of history"). The two-deep IN nesting is the
    point: the part-name IN becomes a broadcast semi-join pruning
    lineitem BEFORE its (suppkey, partkey) aggregation, and the outer
    suppkey IN becomes a semi-join onto the supplier dim — no distinct
    materialization, no correlated re-execution. Quantities accumulate in
    DECIMAL so the half-share comparison is exact on both engines."""
    _views(spark, sf_dir, "q20", "lineitem", "part", "supplier", "nation")
    return spark.sql(
        """
        SELECT s_name, s_acctbal
        FROM supplier_q20
        JOIN nation_q20 ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_3'
          AND s_suppkey IN (
              SELECT l_suppkey
              FROM lineitem_q20
              WHERE l_partkey IN (
                  SELECT p_partkey FROM part_q20 WHERE p_name LIKE 'small %'
              )
              GROUP BY l_suppkey, l_partkey
              HAVING sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                               AND l_shipdate < TIMESTAMP '1997-01-01'
                              THEN CAST(l_quantity AS DECIMAL(12,2))
                              ELSE CAST(0 AS DECIMAL(12,2)) END)
                     > 0.5 * sum(CAST(l_quantity AS DECIMAL(12,2)))
          )
        ORDER BY s_name
        """
    )


register(
    "sql_q20_excess_availability",
    _q20_excess_availability,
    """
    SELECT s_name, s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3'
      AND s_suppkey IN (
          SELECT l_suppkey
          FROM lineitem
          WHERE l_partkey IN (
              SELECT p_partkey FROM part WHERE p_name LIKE 'small %'
          )
          GROUP BY l_suppkey, l_partkey
          HAVING sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
                           AND l_shipdate < TIMESTAMP '1997-01-01'
                          THEN CAST(l_quantity AS DECIMAL(12,2))
                          ELSE CAST(0 AS DECIMAL(12,2)) END)
                 > 0.5 * sum(CAST(l_quantity AS DECIMAL(12,2)))
      )
    ORDER BY s_name
    """,
)
