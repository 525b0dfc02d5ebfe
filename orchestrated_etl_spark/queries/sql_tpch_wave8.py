"""Fourth TPC-H wave: the four shapes (Q2/Q11/Q16/Q20) that real TPC-H
expresses over ``partsupp`` — a table the driver fixture doesn't have —
re-derived with lineitem's (l_partkey, l_suppkey) pairs as the
part-supplier bridge. With these, every TPC-H query shape is represented:
Q1, Q3-Q22 all have a registered adaptation (Q2/Q11/Q16/Q20 here,
Q12 in sql_tpch_wave3).

Gap-list coverage (the reference — a pandas/Airflow DAG, dags/dag.py —
has no query language; SURVEY §3): each query exercises a distinct
Catalyst rewrite the earlier waves didn't:

- Q2: CORRELATED scalar MIN subquery ("the supplier whose cost equals the
  per-part minimum") — Catalyst decorrelates it into an aggregate joined
  back on the correlation key; the earlier waves only had uncorrelated
  scalar subqueries (Q22) and EXISTS forms (Q4/Q21).
- Q11: scalar aggregate in HAVING sharing its subtree with the outer
  aggregate — the "group share of global total" pattern, evaluated as one
  reused relation + a 1-row broadcast, not a recompute per group.
- Q16: count(DISTINCT) per group combined with a null-aware NOT IN
  anti-join — the distinct-agg expansion (expand node) and NOT IN
  rewrite in one plan.
- Q20: IN-subquery whose body is itself a grouped HAVING over another
  IN-subquery — a two-deep semi-join chain; both INs become left-semi
  hash joins, the inner one after partial aggregation.

Schema adaptations (documented per query): supply cost becomes the
minimum observed unit price ``l_extendedprice / l_quantity`` per
(part, supplier); availability becomes total shipped quantity; the
"Customer Complaints" supplier exclusion (no s_comment column) becomes
a negative account balance.

FLOAT POLICY (registry.py): money sums accumulate in DECIMAL on both
engines; unit-cost quotients are raw IEEE operations on identical
inputs (bit-identical across engines); no round() on compared doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from orchestrated_etl_spark.registry import register
from orchestrated_etl_spark.sources.catalog import load_table


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
    NOT IN becomes a null-aware anti-join (NAAJ). SCALE CAVEAT (r18
    review): Spark executes a NAAJ broadcast-side ONLY — there is no
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
