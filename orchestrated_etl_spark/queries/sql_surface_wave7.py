"""Wave-7 SQL surface: the Spark 4 session/language features a user of a
SQL-first engine reaches for daily — session variables, GROUP/ORDER BY
ALL, case-insensitive collations, the IDENTIFIER clause, and lateral
column aliases. Each is exercised through ``spark.sql`` text (the API the
feature lives in), with a DuckDB oracle computing the same relation
through the portable equivalent.

These extend the reference's SQL-less surface the same way earlier waves
did (the reference is a pandas pipeline — SURVEY §3): the gap-list
mandate is a complete query language, so the language-surface features
are coverage, not decoration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from orchestrated_etl_spark.registry import register
from orchestrated_etl_spark.sources.catalog import load_table


def _session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (Spark 4 DECLARE/SET VAR): thresholds live
    in the session, not string-interpolated into query text — the
    injection-safe parameterization for interactive sessions (the
    per-call analogue is parameterized sql(), see sql_pipe_syntax).
    Variables constant-fold into the plan: the filter still pushes to
    the scan."""
    spark.sql("DECLARE OR REPLACE VARIABLE price_floor DOUBLE DEFAULT 0.0")
    spark.sql("DECLARE OR REPLACE VARIABLE status_var STRING DEFAULT 'F'")
    spark.sql("SET VAR price_floor = 150000.0")
    spark.sql("SET VAR status_var = 'O'")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_w7"
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM orders_w7
        WHERE o_totalprice > price_floor AND o_orderstatus = status_var
        GROUP BY o_orderpriority
        """
    )


register(
    "sql_session_variables",
    _session_variables,
    """
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE o_totalprice > 150000.0 AND o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)


def _group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL: every non-aggregate select item
    becomes a grouping key — the analyst shorthand both engines support
    natively, so the SAME query text runs on Spark and DuckDB."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_w7"
    )
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_qty
        FROM lineitem_w7
        GROUP BY ALL
        ORDER BY ALL
        """
    )


register(
    "sql_group_by_all",
    _group_by_all,
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ALL
    ORDER BY ALL
    """,
)


def _collation_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive collation (Spark 4 COLLATE UTF8_LCASE): distinct
    counts and per-key aggregation under a collation instead of manual
    lower() normalization. Emitted values are deterministic (counts and a
    min, never a collation-arbitrary representative); the oracle
    normalizes with lower(), which UTF8_LCASE matches for ASCII data."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView(
        "part_w7"
    )
    return spark.sql(
        """
        SELECT count(DISTINCT collate(p_type, 'UTF8_LCASE')) AS n_types_ci,
               count(DISTINCT p_type) AS n_types_cs,
               count(DISTINCT collate(p_brand, 'UTF8_LCASE'))
                   AS n_brands_ci,
               min(p_type) AS first_type
        FROM part_w7
        """
    )


register(
    "sql_collation_ci",
    _collation_ci,
    """
    SELECT count(DISTINCT lower(p_type)) AS n_types_ci,
           count(DISTINCT p_type) AS n_types_cs,
           count(DISTINCT lower(p_brand)) AS n_brands_ci,
           min(p_type) AS first_type
    FROM part
    """,
)


def _identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDENTIFIER(:param) clause: table/column names as bind parameters —
    the safe form of dynamic SQL over a table chosen at runtime (dashboard
    table-pickers, per-tenant table routing) that string concatenation
    gets wrong. The name binds at analysis, so Catalyst still prunes and
    pushes down as if the name were literal."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_w7"
    )
    return spark.sql(
        """
        SELECT c_mktsegment, count(*) AS n_customers,
               CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_balance
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:grp)
        """,
        args={"tbl": "customer_w7", "grp": "c_mktsegment"},
    )


register(
    "sql_identifier_clause",
    _identifier_clause,
    """
    SELECT c_mktsegment, count(*) AS n_customers,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               AS total_balance
    FROM customer GROUP BY c_mktsegment
    """,
)


def _lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column aliases: later select items reference earlier ones
    in the SAME select list — chained derived metrics stay one projection,
    and the whole chain constant-folds into a single codegen'd Project.
    The outer DOUBLE-normalizing projection exists only for the oracle
    dtype contract (DuckDB DECIMAL → pandas float64 vs Spark Decimal)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_w7b"
    )
    return spark.sql(
        """
        SELECT l_orderkey, l_linenumber,
               CAST(base_price_d AS DOUBLE) AS base_price,
               CAST(disc_price_d AS DOUBLE) AS disc_price,
               CAST(charged_d AS DOUBLE) AS charged
        FROM (
            -- lateral column aliases: disc_price_d references base_price_d,
            -- charged_d references disc_price_d, all in ONE select list.
            -- The outer projection only normalizes the DECIMAL chain to
            -- DOUBLE (pandas coerces DuckDB DECIMAL to float64 while Spark
            -- collects decimal.Decimal — DOUBLE pins a comparable dtype).
            SELECT l_orderkey, l_linenumber,
                   CAST(l_extendedprice AS DECIMAL(18,2)) AS base_price_d,
                   CAST(base_price_d * CAST(1 - l_discount AS DECIMAL(8,2))
                        AS DECIMAL(28,6)) AS disc_price_d,
                   CAST(disc_price_d * CAST(1 + l_tax AS DECIMAL(8,2))
                        AS DECIMAL(38,8)) AS charged_d
            FROM lineitem_w7b
            WHERE l_orderkey < 100
        )
        """
    )


register(
    "sql_lateral_alias",
    _lateral_alias,
    """
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE)
               AS base_price,
           CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                     * CAST(1 - l_discount AS DECIMAL(8,2))
                     AS DECIMAL(28,6)) AS DOUBLE) AS disc_price,
           CAST(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(1 - l_discount AS DECIMAL(8,2))
                          AS DECIMAL(28,6))
                     * CAST(1 + l_tax AS DECIMAL(8,2))
                     AS DECIMAL(38,8)) AS DOUBLE) AS charged
    FROM lineitem
    WHERE l_orderkey < 100
    """,
)


def _try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-mode error-handling surface: Spark 4 runs with ANSI semantics
    ON, so the dirty-data paths every ingest hits (div-by-zero, numeric
    overflow, out-of-range subscripts, unparseable numbers) must go
    through try_* functions — NULL out, never crash the job. The oracle
    reproduces each NULL contract with explicit CASE guards (DuckDB's
    double division yields inf rather than erroring, so the guard IS the
    portable semantics)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_w7c"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               count(try_divide(l_extendedprice, l_quantity - 10.0))
                   AS n_div_ok,
               count(try_element_at(array('a','b','c'),
                                    CAST(l_linenumber AS INT)))
                   AS n_subscript_ok,
               count(try_multiply(l_orderkey, 9223372036854775807L))
                   AS n_mult_ok,
               count(try_to_number(l_returnflag, '99')) AS n_parse_ok,
               count(*) AS n
        FROM lineitem_w7c
        GROUP BY l_returnflag
        """
    )


register(
    "sql_try_functions",
    _try_functions,
    """
    SELECT l_returnflag,
           count(CASE WHEN l_quantity = 10.0 THEN NULL
                      ELSE l_extendedprice / (l_quantity - 10.0) END)
               AS n_div_ok,
           count((['a','b','c'])[l_linenumber]) AS n_subscript_ok,
           count(CASE WHEN l_orderkey > 1 THEN NULL
                      ELSE l_orderkey * 9223372036854775807 END)
               AS n_mult_ok,
           count(try_cast(l_returnflag AS INTEGER)) AS n_parse_ok,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
