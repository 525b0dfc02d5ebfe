"""SQL subquery surface: correlated EXISTS, correlated scalar subqueries,
CTEs with uncorrelated scalar subqueries, and array higher-order functions.

The reference has no query language at all (SURVEY §3 — its "queries" are
eager pandas statements, dags/dag.py:125-184), so this whole family is
gap-list coverage: a user of a SQL engine expects subqueries to work, and
at 100 TB the thing that matters is that Catalyst DECORRELATES them —
a correlated EXISTS must become a left-semi hash join and a correlated
scalar aggregate must become a groupBy + join, never a per-row re-scan.
tests/test_scale_ops.py asserts those plan shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orchestrated_etl_spark.registry import register
from orchestrated_etl_spark.sources.catalog import load_table


# ---------------------------------------------------------------------------
# Correlated EXISTS (TPC-H Q4 shape) — decorrelates to a left-semi join
# ---------------------------------------------------------------------------


def _q4_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority census over orders that have at least one returned
    line item (correlated EXISTS). Catalyst rewrites the EXISTS into a
    left-semi hash join on o_orderkey = l_orderkey: one shuffle each side,
    no per-row subquery execution — the rewrite that makes this shape
    viable on a 100 TB fact table."""
    return spark.sql(
        """
        SELECT o.o_orderpriority AS orderpriority,
               count(*) AS order_count
        FROM {orders} o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND EXISTS (
              SELECT 1 FROM {lineitem} l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
          )
        GROUP BY o.o_orderpriority
        ORDER BY orderpriority
        """,
        orders=load_table(spark, sf_dir, "orders"),
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


register(
    "sql_q4_priority_exists",
    _q4_exists,
    """
    SELECT o.o_orderpriority AS orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R'
      )
    GROUP BY o.o_orderpriority
    ORDER BY orderpriority
    """,
)


# ---------------------------------------------------------------------------
# Correlated scalar subquery (TPC-H Q17 shape) — decorrelates to agg + join
# ---------------------------------------------------------------------------


def _q17_below_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from small-quantity line items: rows whose quantity is
    below 50% of the average quantity FOR THAT PART (correlated scalar
    aggregate). Catalyst decorrelates to: per-part aggregate of lineitem,
    joined back on l_partkey — two scans + one join, not one subquery per
    row. Brand filter prunes the part side before the join."""
    return spark.sql(
        """
        SELECT p.p_brand AS brand,
               count(*) AS n_small,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
               AS small_qty_revenue
        FROM {lineitem} l
        JOIN {part} p ON p.p_partkey = l.l_partkey
        WHERE p.p_size <= 10
          AND l.l_quantity < (
              SELECT 0.5 * avg(l2.l_quantity)
              FROM {lineitem} l2
              WHERE l2.l_partkey = l.l_partkey
          )
        GROUP BY p.p_brand
        ORDER BY brand
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
        part=load_table(spark, sf_dir, "part"),
    )


register(
    "sql_q17_below_avg_qty",
    _q17_below_avg,
    """
    SELECT p.p_brand AS brand,
           count(*) AS n_small,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
               AS small_qty_revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size <= 10
      AND l.l_quantity < (
          SELECT 0.5 * avg(l2.l_quantity)
          FROM lineitem l2
          WHERE l2.l_partkey = l.l_partkey
      )
    GROUP BY p.p_brand
    ORDER BY brand
    """,
)


# ---------------------------------------------------------------------------
# CTE + uncorrelated scalar subquery — nations above global average balance
# ---------------------------------------------------------------------------


def _cte_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH-clause pipeline: per-nation supplier account-balance profile,
    kept only where the nation average exceeds the global average
    (uncorrelated scalar subquery — computed once, broadcast as a
    literal-like single-row plan)."""
    return spark.sql(
        """
        WITH per_nation AS (
            SELECT s_nationkey,
                   count(*) AS n_suppliers,
                   CAST(sum(CAST(s_acctbal AS DECIMAL(14,2))) AS DOUBLE) / count(*)
                   AS avg_bal
            FROM {supplier}
            GROUP BY s_nationkey
        )
        SELECT n.n_name AS nation,
               p.n_suppliers,
               p.avg_bal
        FROM per_nation p
        JOIN {nation} n ON n.n_nationkey = p.s_nationkey
        WHERE p.avg_bal > (SELECT avg(s_acctbal) FROM {supplier})
        ORDER BY nation
        """,
        supplier=load_table(spark, sf_dir, "supplier"),
        nation=load_table(spark, sf_dir, "nation"),
    )


register(
    "sql_cte_above_avg_balance",
    _cte_above_avg,
    """
    WITH per_nation AS (
        SELECT s_nationkey,
               count(*) AS n_suppliers,
               CAST(sum(CAST(s_acctbal AS DECIMAL(14,2))) AS DOUBLE) / count(*)
                   AS avg_bal
        FROM supplier
        GROUP BY s_nationkey
    )
    SELECT n.n_name AS nation, p.n_suppliers, p.avg_bal
    FROM per_nation p
    JOIN nation n ON n.n_nationkey = p.s_nationkey
    WHERE p.avg_bal > (SELECT avg(s_acctbal) FROM supplier)
    ORDER BY nation
    """,
)


# ---------------------------------------------------------------------------
# Array higher-order functions — per-vector profile without exploding
# ---------------------------------------------------------------------------


def _array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector component profile via higher-order functions
    (filter/exists/array_max) — everything stays one row per vector
    inside whole-stage codegen; no explode, no shuffle, no UDF. At scale
    this is the difference between a map-only stage and a 64× row blowup
    through an exchange."""
    emb = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform("embedding", lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.size(F.filter(dbl, lambda x: x > 0)).alias("n_pos"),
        F.round(F.array_max(dbl), 4).alias("max_comp"),
        F.round(F.array_min(dbl), 4).alias("min_comp"),
        F.exists(dbl, lambda x: F.abs(x) > 2.5).alias("has_outlier"),
    )


register(
    "array_hof_profile",
    _array_hof,
    """
    SELECT vec_id,
           CAST(len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0))
                AS INTEGER) AS n_pos,
           round(list_max(CAST(embedding AS DOUBLE[])), 4) AS max_comp,
           round(list_min(CAST(embedding AS DOUBLE[])), 4) AS min_comp,
           len(list_filter(CAST(embedding AS DOUBLE[]), x -> abs(x) > 2.5)) > 0
               AS has_outlier
    FROM embeddings
    """,
)
