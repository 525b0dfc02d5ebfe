"""SQL language surface, exercised through ``spark.sql`` text.

The queries cover the language features a user of a SQL-first engine
reaches for: recursive CTEs, session variables, GROUP/ORDER BY ALL,
case-insensitive collations, the IDENTIFIER clause, lateral column
aliases, try_* functions, pipe syntax, named parameters, named windows
over NULL keys, LATERAL correlated top-k, OFFSET pagination,
regexp_count/instr, and Python scalar and table UDFs. Each DuckDB oracle
computes the same relation through the portable equivalent.

The reference is a pandas pipeline with no query language (SURVEY §3);
the gap list asks for a complete one, so these features are coverage,
not decoration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orchestrated_etl_spark.registry import register
from orchestrated_etl_spark.sources.catalog import load_table


# ---------------------------------------------------------------------------
# SQL UDFs (catalog functions) + parameterized SQL
# ---------------------------------------------------------------------------


def _sql_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog-registered SQL scalar UDF + parameterized SQL: the
    business expression lives as a named function (shareable, catalogued,
    still a pure Catalyst expression after inlining — NOT a Python UDF,
    so whole-stage codegen is preserved), and the literal arrives via a
    named ``:param`` binding instead of string interpolation."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE) "
        "RETURNS DECIMAL(18,4) "
        "RETURN CAST(p AS DECIMAL(14,2)) * CAST(1.0 - d AS DECIMAL(4,2))"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(sum(disc_price(l_extendedprice, l_discount))
                    AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM {lineitem}
        WHERE l_quantity < :maxqty
        GROUP BY l_returnflag
        """,
        args={"maxqty": 30.0},
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )


register(
    "sql_scalar_udf_revenue",
    _sql_scalar_udf,
    """
    SELECT l_returnflag,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                    * CAST(1.0 - l_discount AS DECIMAL(4,2))) AS DOUBLE)
               AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_quantity < 30.0
    GROUP BY l_returnflag
    """,
)


def _sql_table_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL table-valued function: a catalog-registered date-spine
    generator (RETURNS TABLE) outer-joined against daily order counts —
    the calendar densification pattern with the spine as a reusable
    catalog object instead of per-query boilerplate. The spine is
    generated (sequence + explode), never a scanned calendar table."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION date_spine(d0 DATE, d1 DATE) "
        "RETURNS TABLE(day DATE) "
        "RETURN SELECT explode(sequence(d0, d1, interval 1 day))"
    )
    return spark.sql(
        """
        SELECT s.day, coalesce(c.n_orders, 0) AS n_orders
        FROM date_spine(DATE'1995-03-01', DATE'1995-03-31') s
        LEFT JOIN (
            SELECT CAST(o_orderdate AS DATE) AS day,
                   count(*) AS n_orders
            FROM {orders} GROUP BY CAST(o_orderdate AS DATE)
        ) c ON s.day = c.day
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


register(
    "sql_table_udf_spine",
    _sql_table_udf,
    """
    WITH s AS (
        SELECT CAST(unnest(generate_series(DATE '1995-03-01',
                                           DATE '1995-03-31',
                                           INTERVAL 1 DAY)) AS DATE) AS day
    ),
    c AS (
        SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    )
    SELECT s.day, CAST(coalesce(c.n_orders, 0) AS BIGINT) AS n_orders
    FROM s LEFT JOIN c ON s.day = c.day
    """,
)


# Both engines run the SAME recursive SQL text: a lead()-derived edge
# list links each nation to the next key in its region; the recursion
# seeds at each region's root and walks the chain carrying the depth.
# Depth varies per region, so termination is data-dependent — the
# property that distinguishes true recursion from a fixed UNION chain.
# (Spark's WITH RECURSIVE rejects correlated scalar subqueries in the
# recursive join condition, so the "next node" is precomputed as an
# edge table — also the right shape at scale: the recursion's join is
# then a plain equi-join, one shuffle per step, no per-row subquery.)
_RECURSIVE_WALK_SQL = """
    WITH RECURSIVE
    edges AS (
        SELECT n_regionkey, n_nationkey,
               lead(n_nationkey) OVER (
                   PARTITION BY n_regionkey ORDER BY n_nationkey
               ) AS next_key
        FROM {nation}
    ),
    roots AS (
        SELECT n_regionkey, min(n_nationkey) AS root
        FROM {nation} GROUP BY n_regionkey
    ),
    walk(n_nationkey, n_regionkey, depth) AS (
        SELECT root, n_regionkey, 0 FROM roots
        UNION ALL
        SELECT e.next_key, w.n_regionkey, w.depth + 1
        FROM walk w JOIN edges e
          ON e.n_regionkey = w.n_regionkey
         AND e.n_nationkey = w.n_nationkey
        WHERE e.next_key IS NOT NULL
    )
    SELECT n_nationkey, n_regionkey, CAST(depth AS INTEGER) AS depth
    FROM walk
"""


def _recursive_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE chain walk: each region's nations form a linked
    list ordered by key; the recursion starts at the region's root and
    steps until exhaustion, emitting the depth — per-region depths
    differ, so the recursion terminates data-dependently (the property
    that distinguishes true recursion from a fixed-length UNION chain).
    Dimension-sized input; each recursion step is a small join Catalyst
    plans independently."""
    return spark.sql(
        _RECURSIVE_WALK_SQL, nation=load_table(spark, sf_dir, "nation")
    )


register(
    "sql_recursive_region_walk",
    _recursive_walk,
    _RECURSIVE_WALK_SQL.format(nation="nation"),
)


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
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM {orders}
        WHERE o_totalprice > price_floor AND o_orderstatus = status_var
        GROUP BY o_orderpriority
        """,
        orders=load_table(spark, sf_dir, "orders"),
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
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   AS sum_qty
        FROM {lineitem}
        GROUP BY ALL
        ORDER BY ALL
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
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
    return spark.sql(
        """
        SELECT count(DISTINCT collate(p_type, 'UTF8_LCASE')) AS n_types_ci,
               count(DISTINCT p_type) AS n_types_cs,
               count(DISTINCT collate(p_brand, 'UTF8_LCASE'))
                   AS n_brands_ci,
               min(p_type) AS first_type
        FROM {part}
        """,
        part=load_table(spark, sf_dir, "part"),
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
    """IDENTIFIER(:param) clause: a column name as a bind parameter —
    the safe form of dynamic SQL over a column chosen at runtime
    (dashboard group-by pickers, per-tenant routing) that string
    concatenation gets wrong; the table chosen at runtime arrives as a
    bound frame. The name binds at analysis, so Catalyst still prunes
    and pushes down as if the name were literal."""
    return spark.sql(
        """
        SELECT c_mktsegment, count(*) AS n_customers,
               CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_balance
        FROM {customer}
        GROUP BY IDENTIFIER(:grp)
        """,
        args={"grp": "c_mktsegment"},
        customer=load_table(spark, sf_dir, "customer"),
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
            FROM {lineitem}
            WHERE l_orderkey < 100
        )
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
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
        FROM {lineitem}
        GROUP BY l_returnflag
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
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
    return spark.sql(
        """
        SELECT n_regionkey, n_name
        FROM {nation}
        ORDER BY ALL
        LIMIT 5 OFFSET 10
        """,
        nation=load_table(spark, sf_dir, "nation"),
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


# ---------------------------------------------------------------------------
# SQL pipe syntax (Spark 4 |> operators)
# ---------------------------------------------------------------------------


def _pipe_syntax_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's SQL pipe syntax (|> operators — the linear FROM-first
    query form): filter -> aggregate -> order as a pipeline. Parses to
    exactly the same logical plan as the nested SELECT the oracle runs
    (one scan, one partial+final aggregate), so this is an API-surface
    query: the engine accepts BOTH spellings of the same plan. DECIMAL
    accumulation cast to double per the registry float policy."""
    return spark.sql(
        """
        FROM {orders}
        |> WHERE o_orderstatus = 'O'
        |> AGGREGATE count(*) AS n_orders,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                          AS DOUBLE) AS total_price
           GROUP BY o_orderpriority
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


register(
    "sql_pipe_syntax_rollup",
    _pipe_syntax_rollup,
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)


# ---------------------------------------------------------------------------
# correlated LATERAL subquery (top-k per key without a window)
# ---------------------------------------------------------------------------


def _lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation top-2 suppliers by account balance via a correlated
    LATERAL subquery — the SQL-standard alternative to the row_number()
    window (window_topk_per_group). Catalyst rewrites the correlated
    LATERAL LIMIT into a window partitioned by the correlation key —
    which is the 25-value nation key over the GROWING supplier table,
    the parallelism-ceiling class of window over a bounded key. Fix: a
    salted phase-1 top-2 per (nation, s_suppkey%32) — pure SQL, every
    window partition ~1/32 of a nation, and the per-salt top-2
    provably contains every global top-2 member — bounds the LATERAL's
    input to ≤ 2·32 survivors per nation, so the rewrite window sorts
    ≤ 64 rows per nation BY CONSTRUCTION at any corpus size while the
    LATERAL surface (the thing this query demonstrates) is unchanged.
    Deterministic tie-break on s_suppkey; DuckDB runs the single-pass
    statement (identical result: same total order both phases)."""
    return spark.sql(
        """
        WITH cand AS (
            SELECT s_nationkey, s_suppkey, s_acctbal
            FROM (SELECT s_nationkey, s_suppkey, s_acctbal,
                         row_number() OVER (
                             PARTITION BY s_nationkey, s_suppkey % 32
                             ORDER BY s_acctbal DESC, s_suppkey) AS rn
                  FROM {supplier})
            WHERE rn <= 2
        )
        SELECT n.s_nationkey, t.s_suppkey, t.s_acctbal
        FROM (SELECT DISTINCT s_nationkey FROM cand) n,
        LATERAL (SELECT s_suppkey, s_acctbal FROM cand s
                 WHERE s.s_nationkey = n.s_nationkey
                 ORDER BY s_acctbal DESC, s_suppkey LIMIT 2) t
        """,
        supplier=load_table(spark, sf_dir, "supplier"),
    )


register(
    "sql_lateral_correlated_topk",
    _lateral_topk,
    """
    SELECT n.s_nationkey, t.s_suppkey, t.s_acctbal
    FROM (SELECT DISTINCT s_nationkey FROM supplier) n,
    LATERAL (SELECT s_suppkey, s_acctbal FROM supplier s
             WHERE s.s_nationkey = n.s_nationkey
             ORDER BY s_acctbal DESC, s_suppkey LIMIT 2) t
    """,
)


# ---------------------------------------------------------------------------
# parameterized SQL (named parameter markers)
# ---------------------------------------------------------------------------


def _parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (spark.sql(query, args=...) with :marker
    binding) — the injection-safe query API: parameters bind as typed
    literals in the parser, never string-spliced, and Catalyst
    constant-folds them so pushdown/pruning see real literals (the
    filter reaches the parquet scan exactly as if written inline).
    The oracle inlines the same values."""
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_price
        FROM {orders}
        WHERE o_orderstatus = :status AND o_totalprice > :floor
        GROUP BY o_orderpriority
        """,
        args={"status": "F", "floor": 50000.0},
        orders=load_table(spark, sf_dir, "orders"),
    )


register(
    "sql_parameterized_args",
    _parameterized_sql,
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice > 50000.0
    GROUP BY o_orderpriority
    """,
)


# ---------------------------------------------------------------------------
# named WINDOW clause + explicit NULLS ordering (shared SQL text)
# ---------------------------------------------------------------------------

# Values below 25 are nulled to simulate failed price capture: the
# explicit NULLS LAST is then genuinely load-bearing (Spark's DESC
# default is NULLS LAST but DuckDB's is NULLS FIRST-configurable — the
# explicit clause pins both engines to the same total order, with
# event_id as the unconditional tie-break).
_NAMED_WINDOW_SQL = """
    WITH src AS (
        SELECT user_id, event_id,
               CASE WHEN value < 25 THEN NULL ELSE value END AS v
        FROM {events}
        WHERE event_type = 'purchase' AND user_id IS NOT NULL
    ),
    ranked AS (
        SELECT user_id, event_id, v,
               row_number() OVER w AS rn,
               count(*) OVER (PARTITION BY user_id) AS n_purch
        FROM src
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY v DESC NULLS LAST, event_id)
    )
    SELECT user_id, event_id, v AS top_value,
           CAST(n_purch AS BIGINT) AS n_purch
    FROM ranked WHERE rn = 1
"""


def _named_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI named-WINDOW clause (one definition, many windowed
    expressions) + explicit NULLS LAST ordering, both engines running
    the IDENTICAL SQL text. Per user: the top-priced purchase (nulled
    "failed captures" forced below every real price), plus the user's
    purchase count from a second window sharing the shuffle. The plan
    is ONE user-partitioned exchange feeding both window functions —
    the named clause isn't sugar only: it guarantees frame/partition
    identity, which is what lets Catalyst compute both in one Window
    operator."""
    return spark.sql(
        _NAMED_WINDOW_SQL, events=load_table(spark, sf_dir, "events")
    )


register(
    "sql_named_window_nulls",
    _named_window,
    _NAMED_WINDOW_SQL.format(events="events"),
)
