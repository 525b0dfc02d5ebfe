"""Wave-6 SQL surface: recursive CTEs and XML extraction.

- Spark 4 ships WITH RECURSIVE (SPARK-24497): the genuinely-recursive
  query shape (variable-depth graph walks) that previously required a
  driver-side iteration loop (see `dedup_cluster_components`, whose
  DuckDB oracle has always been a recursive CTE — now both engines can
  express it the same way).
- ``from_xml`` is the reference's HTML-field-extraction semantics
  (S2, dags/dag.py:83-92) on Spark's native XML support: markup in, a
  typed struct out, malformed input nulled not crashed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orchestrated_etl_spark.registry import register
from orchestrated_etl_spark.sources.catalog import load_table, read_events

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
    load_table(spark, sf_dir, "nation").createOrReplaceTempView(
        "v_nation_w6"
    )
    return spark.sql(_RECURSIVE_WALK_SQL.format(nation="v_nation_w6"))


register(
    "sql_recursive_region_walk",
    _recursive_walk,
    _RECURSIVE_WALK_SQL.format(nation="nation"),
)


def _xml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2's markup-extraction semantics on native XML: frame event
    fields as XML fragments, recover a typed struct with ``from_xml``
    (declared schema — no inference pass), and aggregate on the
    extracted fields. Map-only until the final small aggregate; a
    regex-miss/malformed fragment yields NULL fields, never a crash —
    the completeness filter (S3) then drops them explicitly."""
    ev = read_events(spark, sf_dir).where(F.col("user_id").isNotNull())
    framed = ev.select(
        F.concat(
            F.lit("<e><u>"),
            F.col("user_id").cast("string"),
            F.lit("</u><t>"),
            "event_type",
            F.lit("</t></e>"),
        ).alias("xml")
    )
    parsed = framed.select(
        F.from_xml("xml", "u BIGINT, t STRING").alias("s")
    ).select(F.col("s.u").alias("user_id"), F.col("s.t").alias("event_type"))
    return (
        parsed.where(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


register(
    "src_xml_extract",
    _xml_extract,
    """
    SELECT event_type, count(*) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    GROUP BY event_type
    """,
)
