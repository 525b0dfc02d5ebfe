"""Data quality, sources and sinks.

- Quality: a declarative constraint audit (uniqueness, referential
  integrity, ranges, nulls) that emits one row per rule, population
  drift as PSI, and quarantine routing with per-rule reasons. All
  within-row rules for a table fold into ONE conditional aggregate over
  ONE scan; only the cross-table rules pay a shuffle, of key columns
  only.
- Sources: unstructured text logs parsed with regexp_extract, XML
  extraction with from_xml, parquet batches whose schema evolves, and
  per-file lineage read through the ``_metadata`` hidden column.
- Sinks: at 100 TB the dominant read cost is decided at WRITE time.
  Compaction rewrites a many-small-file shard set into a few right-sized
  files; clustered and z-ordered writes make parquet row-group min/max
  stats disjoint so range predicates prune whole files; dynamic
  partition overwrite replaces only the partitions a batch touches.

Every query returns engine-comparable AGGREGATES over the round-tripped
data (exact integer/decimal), so the DuckDB oracle checks end-to-end
preservation. File-count and footer-stat assertions, which DuckDB cannot
see, are pinned in tests/test_quality_io.py.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orchestrated_etl_spark.compat import stage
from orchestrated_etl_spark.functions.quality import (
    QUARANTINE_SQL,
    quarantine_route,
)
from orchestrated_etl_spark.registry import register
from orchestrated_etl_spark.sources.catalog import load_table
from orchestrated_etl_spark.sources.scratch import scratch_path


# ---------------------------------------------------------------------------
# text-file source + regex log parse
# ---------------------------------------------------------------------------


def _text_logparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unstructured-text ingestion: materialize documents as pipe-framed
    log lines, read them back with ``spark.read.text`` (one string column,
    no schema), and recover typed fields with regexp_extract + try_cast —
    the reference's scrape-then-extract shape (dags/dag.py:83-106) done on
    a text source. The parse is a map-only projection; malformed lines
    regex-miss to NULL and are counted, not crashed on.

    Robustness (vs the naive concat_ws framing): every field is framed
    through coalesce(·, '\\N') so a NULL can never shift later fields
    into the wrong position, the lang capture accepts any non-delimiter
    bytes (not just lowercase ASCII), and '\\N' un-maps to NULL after
    extraction. The materialized lines are rewritten on every call —
    documents is dimension-sized, and an always-fresh write can never
    serve lines from a stale fixture generation."""
    docs = load_table(spark, sf_dir, "documents")
    path = scratch_path("doc_log_lines", sf_dir)
    nul = F.lit(r"\N")
    docs.select(
        F.concat_ws(
            "|",
            F.coalesce(F.col("doc_id").cast("string"), nul),
            F.coalesce(F.col("lang"), nul),
            F.coalesce(F.col("n_chars").cast("string"), nul),
            F.coalesce(F.col("source"), nul),
        ).alias("value")
    ).write.mode("overwrite").text(path)
    lines = spark.read.text(path)
    raw_lang = F.regexp_extract("value", r"^[^|]*\|([^|]*)\|", 1)
    parsed = lines.select(
        F.regexp_extract("value", r"^(\d+)\|", 1)
        .try_cast("long")
        .alias("doc_id"),
        F.when(raw_lang == r"\N", F.lit(None)).otherwise(raw_lang).alias("lang"),
        F.regexp_extract("value", r"^[^|]*\|[^|]*\|(\d+)\|", 1)
        .try_cast("long")
        .alias("n_chars"),
    )
    return parsed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count("doc_id").alias("n_parsed_ids"),
        F.sum("n_chars").alias("total_chars"),
    )


register(
    "src_text_logparse",
    _text_logparse,
    """
    SELECT lang, count(*) AS n_lines,
           count(doc_id) AS n_parsed_ids,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang
    """,
)


def _xml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2's markup-extraction semantics on native XML: frame event
    fields as XML fragments, recover a typed struct with ``from_xml``
    (declared schema — no inference pass), and aggregate on the
    extracted fields. Map-only until the final small aggregate; a
    regex-miss/malformed fragment yields NULL fields, never a crash —
    the completeness filter (S3) then drops them explicitly."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
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


def _src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two parquet batches written months apart with different schemas —
    the 1996 batch predates the ``o_orderpriority`` column, the 1997
    batch carries it — read back as ONE relation with
    ``mergeSchema=true``: the union schema is reconstructed from the file
    footers and the missing column null-fills for old files. The
    aggregate shows both the evolution seam (priority NULL ⇔ old batch)
    and that money sums stay exact across it (DECIMAL accumulation).

    Scale posture: schema merging is a FOOTER operation (one per file,
    driver-side listing + parallel footer reads) — data pages are never
    touched to reconcile schemas, so the merged read costs the same scan
    as a uniform one. The batch directories are rewritten on every call
    (always-fresh, like src_text_logparse) so a regenerated fixture can
    never serve stale batches."""
    base = scratch_path("schema_evolution", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders")
    y = F.year("o_orderdate")
    # old writer: no priority column yet
    orders.where(y == 1996).select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    ).write.mode("overwrite").parquet(os.path.join(base, "batch_1996"))
    # new writer: schema gained o_orderpriority
    orders.where(y == 1997).select(
        "o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority"
    ).write.mode("overwrite").parquet(os.path.join(base, "batch_1997"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "batch_1996"), os.path.join(base, "batch_1997")
    )
    return (
        merged.groupBy(
            F.coalesce("o_orderpriority", F.lit("<pre-evolution>")).alias(
                "priority"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("priority")
    )


register(
    "src_schema_evolution",
    _src_schema_evolution,
    """
    SELECT coalesce(CASE WHEN year(o_orderdate) = 1997
                         THEN o_orderpriority END,
                    '<pre-evolution>') AS priority,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE year(o_orderdate) IN (1996, 1997)
    GROUP BY 1
    ORDER BY 1
    """,
)


# ---------------------------------------------------------------------------
# data-quality constraint audit
# ---------------------------------------------------------------------------


def _dq_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint audit over lineitem/orders/customer.

    ONE pass per audited table: the within-row rules (ranges, nulls)
    AND that table's FK-containment probe ride the same scan — the
    child is left-joined to the referenced DISTINCT key projection
    (broadcast when dimension-sized, shuffle otherwise — Catalyst
    picks), and every rule is a conditional sum in the single aggregate
    over the joined relation. Adding a rule adds a column, never a
    scan; adding an FK adds a join leg, never a second pass over the
    child (the previous formulation ran rules and FK audits as
    separate subtrees — 2 scans per fact table; local bench time is
    unchanged at ~1.3 s since the dims broadcast, but at 100 TB the
    audit's cost IS the fact scans and this halves them). Key uniqueness is a
    count-distinct vs count comparison in the same aggregate. Output:
    (rule, n_rows, n_violations), exact integers, one row per rule."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    def viol(cond):
        return F.sum(F.when(cond, 1).otherwise(0))

    def fkeys(parent: DataFrame, pkey: str) -> DataFrame:
        return parent.select(F.col(pkey).alias("_pk")).distinct()

    li_audit = li.join(
        fkeys(orders, "o_orderkey"), li.l_orderkey == F.col("_pk"), "left"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        viol(~F.col("l_quantity").between(1, 50)).alias("qty_range"),
        viol(~F.col("l_discount").between(0.0, 0.1)).alias("disc_range"),
        viol(F.col("l_extendedprice") <= 0).alias("price_positive"),
        viol(F.col("l_shipdate").isNull()).alias("shipdate_notnull"),
        viol(F.col("_pk").isNull()).alias("fk_orders"),
    )
    ord_audit = orders.join(
        fkeys(cust, "c_custkey"), orders.o_custkey == F.col("_pk"), "left"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        viol(F.col("o_totalprice") <= 0).alias("totalprice_positive"),
        viol(F.col("o_orderdate").isNull()).alias("orderdate_notnull"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias(
            "orderkey_unique"
        ),
        viol(F.col("_pk").isNull()).alias("fk_customer"),
    )
    cust_audit = cust.join(
        fkeys(nation, "n_nationkey"), cust.c_nationkey == F.col("_pk"), "left"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        viol(F.col("_pk").isNull()).alias("fk_nation"),
    )

    def unpivot(agg_df: DataFrame, table: str, rules: list[str]) -> DataFrame:
        stack = ", ".join(f"'{table}.{r}', {r}" for r in rules)
        return agg_df.selectExpr(
            f"stack({len(rules)}, {stack}) as (rule, n_violations)",
            "n as n_rows",
        ).select("rule", "n_rows", F.col("n_violations").cast("long"))

    return (
        unpivot(
            li_audit,
            "lineitem",
            [
                "qty_range",
                "disc_range",
                "price_positive",
                "shipdate_notnull",
                "fk_orders",
            ],
        )
        .unionAll(
            unpivot(
                ord_audit,
                "orders",
                [
                    "totalprice_positive",
                    "orderdate_notnull",
                    "orderkey_unique",
                    "fk_customer",
                ],
            )
        )
        .unionAll(unpivot(cust_audit, "customer", ["fk_nation"]))
    )


register(
    "dq_constraint_audit",
    _dq_constraint_audit,
    """
    WITH li AS (
        SELECT count(*) AS n,
               sum(CASE WHEN l_quantity NOT BETWEEN 1 AND 50
                        THEN 1 ELSE 0 END) AS qty_range,
               sum(CASE WHEN l_discount NOT BETWEEN 0.0 AND 0.1
                        THEN 1 ELSE 0 END) AS disc_range,
               sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END)
                   AS price_positive,
               sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
                   AS shipdate_notnull
        FROM lineitem
    ),
    o AS (
        SELECT count(*) AS n,
               sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                   AS totalprice_positive,
               sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
                   AS orderdate_notnull,
               count(*) - count(DISTINCT o_orderkey) AS orderkey_unique
        FROM orders
    )
    SELECT 'lineitem.qty_range' AS rule, n AS n_rows,
           CAST(qty_range AS BIGINT) AS n_violations FROM li
    UNION ALL SELECT 'lineitem.disc_range', n,
           CAST(disc_range AS BIGINT) FROM li
    UNION ALL SELECT 'lineitem.price_positive', n,
           CAST(price_positive AS BIGINT) FROM li
    UNION ALL SELECT 'lineitem.shipdate_notnull', n,
           CAST(shipdate_notnull AS BIGINT) FROM li
    UNION ALL SELECT 'orders.totalprice_positive', n,
           CAST(totalprice_positive AS BIGINT) FROM o
    UNION ALL SELECT 'orders.orderdate_notnull', n,
           CAST(orderdate_notnull AS BIGINT) FROM o
    UNION ALL SELECT 'orders.orderkey_unique', n,
           CAST(orderkey_unique AS BIGINT) FROM o
    UNION ALL
    SELECT 'lineitem.fk_orders', (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'orders.fk_customer', (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o2
            WHERE NOT EXISTS (SELECT 1 FROM customer
                              WHERE c_custkey = o2.o_custkey))
    UNION ALL
    SELECT 'customer.fk_nation', (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation
                              WHERE n_nationkey = c.c_nationkey))
    """,
)


# ---------------------------------------------------------------------------
# small-file compaction
# ---------------------------------------------------------------------------


def _sink_compacted_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: lineitem is first written as a deliberately
    over-sharded 64-file set (the nightly-ingest pathology: one file per
    micro-batch task), then compacted with a single ``repartition(4)``
    rewrite. The returned aggregate is computed from the COMPACTED copy,
    so the oracle proves bit-level row preservation across both rewrites;
    the 64→4 file-count contract itself is pinned in tests.

    Scale posture: compaction is a pure shuffle-write job — no
    driver-side file stitching — so it parallelises to any cluster
    width; target file count = total_bytes / desired_file_size (here a
    fixed 4 keeps the test deterministic). Row-group-aligned rewrite
    preserves column stats for later pruning."""
    base = scratch_path("compaction", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag"
    )
    li.repartition(64).write.mode("overwrite").parquet(f"{base}/sharded")
    sharded = spark.read.parquet(f"{base}/sharded")
    sharded.repartition(4).write.mode("overwrite").parquet(f"{base}/compacted")
    compacted = spark.read.parquet(f"{base}/compacted")
    return compacted.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_price"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_qty"),
    )


register(
    "sink_compacted_roundtrip",
    _sink_compacted_roundtrip,
    """
    SELECT l_returnflag, count(*) AS n_rows,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)


# ---------------------------------------------------------------------------
# range-clustered write (1-D Z-order)
# ---------------------------------------------------------------------------


def _sink_clustered_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered layout: orders are repartitionByRange'd on
    ``o_orderdate`` and sorted within partitions before writing, so each
    output file covers a DISJOINT date range and its parquet footer
    min/max stats let a date predicate skip every non-overlapping file
    (verified against the footers in tests). The returned relation is a
    month-rollup read back through a range filter over the clustered
    copy — the oracle checks the filtered read end to end.

    Scale posture: this is the 1-dimension special case of Z-order
    clustering; the range exchange samples key quantiles so files stay
    size-balanced even under date skew. At 100 TB the same two-line
    recipe (repartitionByRange + sortWithinPartitions) is how a daily
    compaction job lays out scan-dominant tables."""
    base = scratch_path("clustered", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    (
        orders.repartitionByRange(8, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite")
        .parquet(f"{base}/orders_clustered")
    )
    clustered = spark.read.parquet(f"{base}/orders_clustered")
    return (
        clustered.where(
            (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1996-07-01")
        )
        # trunc()->DATE->NTZ stays wall-clock; date_trunc on DATE converts
        # through the session timezone (see tests/test_timezone.py)
        .groupBy(
            F.trunc("o_orderdate", "month").cast("timestamp_ntz").alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


register(
    "sink_clustered_write",
    _sink_clustered_write,
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1996-07-01'
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# 2-D Z-order clustered write
# ---------------------------------------------------------------------------


def _zvalue(a, b, bits: int = 4):
    """Bit-interleave two ``bits``-wide bucket ids into a Z-order curve
    value — pure shift/mask integer expressions, whole-stage-codegen'd
    in the scan projection."""
    z = F.lit(0)
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i)
        )
    return z


def _sink_zorder_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (2-D) clustered layout: orders are laid out along a
    Morton curve over (o_custkey, o_orderdate) — each dimension is
    bucketed into 16 bins positioned by the observed min/max (one
    scalar aggregate, broadcast into the scan projection; no collect),
    the two 4-bit bucket ids are bit-interleaved into a z-value, and the
    table is range-partitioned + sorted on that z-value before writing.

    Why this beats 1-D clustering (`sink_clustered_write`) at 100 TB:
    sorting on date alone makes every file span the FULL custkey range —
    a (customer-range AND date-range) box query prunes on one dimension
    only. Z-order interleaving keeps each file's footer min/max box
    narrow in BOTH dimensions, so box queries skip files on either
    predicate (tests assert at least one file is excluded by the
    custkey bounds alone and one by the date bounds alone). The recipe
    is still two lines at write time (repartitionByRange +
    sortWithinPartitions on the z-value) — the curve math is a scan
    projection, and the z-value column itself is dropped from the
    written schema.

    The returned relation is a box-query rollup read back through the
    clustered copy — the oracle checks the filtered read end to end
    against the original table."""
    base = scratch_path("zorder", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    stats = orders.agg(
        F.min("o_custkey").alias("_ck_min"),
        F.max("o_custkey").alias("_ck_max"),
        F.min("o_orderdate").alias("_d_min"),
        F.max("o_orderdate").alias("_d_max"),
    )

    def bucket(value, lo, hi):
        # floor(16 * (v-lo)/(hi-lo+1)) in pure integer arithmetic —
        # deterministic, scan-stage, clamp-free (v <= hi < hi+1).
        return (value - lo) * 16 / (hi - lo + F.lit(1))

    ck_bin = F.floor(
        bucket(F.col("o_custkey"), F.col("_ck_min"), F.col("_ck_max"))
    ).cast("int")
    d_bin = F.floor(
        bucket(
            F.datediff(F.col("o_orderdate"), F.col("_d_min")),
            F.lit(0),
            F.datediff(F.col("_d_max"), F.col("_d_min")),
        )
    ).cast("int")
    (
        orders.crossJoin(F.broadcast(stats))
        .withColumn("_z", _zvalue(ck_bin, d_bin))
        .repartitionByRange(8, "_z")
        .sortWithinPartitions("_z")
        .drop("_z", "_ck_min", "_ck_max", "_d_min", "_d_max")
        .write.mode("overwrite")
        .parquet(f"{base}/orders_zorder")
    )
    clustered = spark.read.parquet(f"{base}/orders_zorder")
    return (
        clustered.where(
            (F.col("o_custkey") < 40)
            & (F.col("o_orderdate") >= "1996-01-01")
            & (F.col("o_orderdate") < "1997-01-01")
        )
        .groupBy(
            F.trunc("o_orderdate", "month").cast("timestamp_ntz").alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count_distinct("o_custkey").alias("n_customers"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


register(
    "sink_zorder_write",
    _sink_zorder_write,
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
           count(*) AS n_orders,
           count(DISTINCT o_custkey) AS n_customers,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders
    WHERE o_custkey < 40
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1997-01-01'
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# per-file provenance via _metadata
# ---------------------------------------------------------------------------

# Staging-write fan-out knob: files per order_year directory. Pinned at 8
# because the oracle computes the expected file count as
# count(DISTINCT o_orderkey % _LINEAGE_SHARDS); raise ≈ cores/years on a
# real cluster (see _src_file_lineage docstring).
_LINEAGE_SHARDS = 8


def _src_file_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file provenance accounting through the ``_metadata`` hidden
    column: orders are hive-partitioned by (order year, lineage shard),
    read back, and counted BY SOURCE FILE via ``_metadata.file_path``.
    The partition value is recovered from the file path itself — the
    lineage a debugging session needs when one bad shard poisons a
    corpus ("which file did these rows come from?") — with zero
    bookkeeping tables.

    Scale posture (fix of a bounded-key Exchange finding): the
    original staging write repartitioned on
    ``order_year`` ALONE — a ~7-value key, so the full fact-table
    rewrite ran as ~7 tasks each writing O(fact/7). The write now
    clusters on (order_year, lineage_shard) where ``lineage_shard =
    o_orderkey % _LINEAGE_SHARDS`` — every (year, shard) pair lands in
    exactly ONE task, so each leaf directory still holds exactly one
    file (pinned in tests: read-back file accounting stays
    deterministic and oracle-expressible as count(DISTINCT o_orderkey %
    S) per year) while write parallelism is years × S. _LINEAGE_SHARDS
    is the fan-out KNOB: fixture-pinned at 8 because the DuckDB oracle
    must name the same constant; on a 1000-executor cluster set it
    ≈ cores/years so the rewrite saturates the cluster. The staging
    repartition is allowlisted in plan_audit.SOURCE_REPARTITION_OK with
    this reason — the bounded-key-repartition rule (which this query's
    pre-rework form red-baselined) still flags any NEW site.

    ``_metadata`` is populated from the scan's own split info (no extra
    I/O), and the per-file aggregate shuffles one small row per (file,
    year) — audit cost stays proportional to file count, not data
    volume."""
    base = scratch_path("lineage", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    orders = (
        load_table(spark, sf_dir, "orders")
        .withColumn("order_year", F.year("o_orderdate"))
        .withColumn(
            "lineage_shard", F.col("o_orderkey") % F.lit(_LINEAGE_SHARDS)
        )
    )
    (
        orders.repartition("order_year", "lineage_shard")
        .write.mode("overwrite")
        .partitionBy("order_year", "lineage_shard")
        .parquet(f"{base}/orders_by_year")
    )
    back = spark.read.parquet(f"{base}/orders_by_year")
    return (
        back.select(
            F.regexp_extract(
                F.col("_metadata.file_path"), r"order_year=(\d+)", 1
            )
            .cast("int")
            .alias("order_year"),
            F.col("_metadata.file_path").alias("file_path"),
            "o_totalprice",
        )
        .groupBy("order_year")
        .agg(
            F.count_distinct("file_path").alias("n_files"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


register(
    "src_file_lineage",
    _src_file_lineage,
    f"""
    SELECT year(o_orderdate) AS order_year,
           CAST(count(DISTINCT o_orderkey % {_LINEAGE_SHARDS}) AS BIGINT)
               AS n_files,
           count(*) AS n_rows,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# distribution drift (PSI) between time-split batches
# ---------------------------------------------------------------------------


def _dq_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift audit: the `value` distribution
    of the first half-month of events vs the second, over 10 fixed-width
    bins, with add-one (Laplace) smoothing so empty bins contribute a
    finite penalty instead of a division by zero. PSI ≥ 0.2 per the
    usual rule of thumb flags actionable drift; the per-bin rows are
    the drill-down a DQ dashboard renders.

    The whole audit is ONE conditional aggregate over one scan (each
    bin-batch cell is a filtered count — adding bins adds columns, not
    passes), then arithmetic on the 10-row result. Shares are exact
    integer ratios evaluated identically cross-engine; only ln() is
    irrational, so the contribution is rounded to 6 (registry float
    policy)."""

    ev = load_table(spark, sf_dir, "events")
    binned = ev.select(
        F.least(F.floor(F.col("value") / 50).cast("int"), F.lit(9)).alias(
            "bin"
        ),
        (F.col("ts") < F.lit("2024-01-16").cast("timestamp")).alias("_early"),
    )
    cells = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("_early"), 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~F.col("_early"), 1).otherwise(0)).alias("n_b"),
    )
    totals = cells.agg(
        F.sum("n_a").alias("_ta"), F.sum("n_b").alias("_tb")
    )
    p = (F.col("n_a") + 1) / (F.col("_ta") + 10)
    q = (F.col("n_b") + 1) / (F.col("_tb") + 10)
    return (
        cells.crossJoin(F.broadcast(totals))
        .select(
            "bin",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round((p - q) * F.log(p / q), 6).alias("psi_contrib"),
        )
    )


register(
    "dq_drift_psi",
    _dq_drift_psi,
    """
    WITH binned AS (
        SELECT least(CAST(floor(value / 50) AS INTEGER), 9) AS bin,
               ts < TIMESTAMP '2024-01-16' AS early
        FROM events
    ),
    cells AS (
        SELECT bin,
               sum(CASE WHEN early THEN 1 ELSE 0 END) AS n_a,
               sum(CASE WHEN NOT early THEN 1 ELSE 0 END) AS n_b
        FROM binned GROUP BY bin
    ),
    t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM cells)
    SELECT bin,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           round(((n_a + 1) * 1.0 / (ta + 10) - (n_b + 1) * 1.0 / (tb + 10))
                 * ln(((n_a + 1) * 1.0 / (ta + 10))
                      / ((n_b + 1) * 1.0 / (tb + 10))), 6) AS psi_contrib
    FROM cells, t
    """,
)


# ---------------------------------------------------------------------------
# dynamic partition overwrite (nightly partition refresh)
# ---------------------------------------------------------------------------


def _sink_dynamic_partition_overwrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition overwrite — the nightly refresh op for
    directory-partitioned tables: with
    ``partitionOverwriteMode=dynamic``, an overwrite write replaces
    ONLY the partitions present in the incoming frame and leaves every
    other partition's files untouched (static mode would truncate the
    whole table — the classic data-loss footgun this mode exists to
    avoid). Here: orders land partitioned by o_orderstatus; a
    corrected copy of JUST the 'P' partition (prices re-cast, a +1.00
    adjustment) is overwritten in; the read-back aggregate proves 'P'
    carries the adjustment while 'O'/'F' bytes were never rewritten.

    Scale posture: the rewrite cost is proportional to the refreshed
    partitions, not the table — the property that makes per-day or
    per-status reprocessing O(day) on a 100 TB table. The conf is set
    per-write via the DataFrameWriter option (no session-wide state)."""
    base = scratch_path("dyn_overwrite", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    path = f"{base}/orders_by_status"
    orders.write.partitionBy("o_orderstatus").mode("overwrite").parquet(path)
    # Materialize the corrected slice BEFORE the overwrite: the write
    # targets the same path the plan reads from, and while Spark 4's
    # dynamic-overwrite staging handles self-read-overwrite, the pattern
    # has historically raised "Cannot overwrite a path that is also
    # being read from" and is fragile across commit protocols. Staging
    # decouples read and write lineage.
    corrected = stage(
        spark.read.parquet(path)
        .where(F.col("o_orderstatus") == "P")
        .select(
            "o_orderkey",
            # decimal addition widens to (19,2); cast back so the
            # refreshed partition's parquet physical type matches the
            # untouched partitions' (mixed INT64/FLBA encodings would
            # break the unified read schema)
            (F.col("price") + F.lit(1).cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .alias("price"),
            "o_orderstatus",
        )
    )
    (
        corrected.write.partitionBy("o_orderstatus")
        .mode("overwrite")
        # "DYNAMIC" (pre-uppercased), not "dynamic": observed on PySpark
        # 4.1.2 under a Turkish default JVM locale
        # (-Duser.language=tr -Duser.country=TR), lowercase "dynamic"
        # makes this write die with NoSuchElementException — consistent
        # with a locale-sensitive uppercase being applied somewhere in
        # option resolution ("dynamic" → "DYNAMİC", dotted capital I).
        # Uppercase ASCII is a fixed point of every locale's case
        # mapping, so the pre-uppercased value is safe under all
        # locales. Found by a tr-TR JVM-locale sweep.
        .option("partitionOverwriteMode", "DYNAMIC")
        .parquet(path)
    )
    final = spark.read.parquet(path)
    return final.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("price").cast("double").alias("total_price"),
    )


register(
    "sink_dynamic_partition_overwrite",
    _sink_dynamic_partition_overwrite,
    """
    SELECT o_orderstatus, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))
                    + CASE WHEN o_orderstatus = 'P'
                           THEN CAST(1 AS DECIMAL(18,2))
                           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               AS total_price
    FROM orders GROUP BY o_orderstatus
    """,
)


def _quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations-style quarantine routing (the Delta Live Tables /
    Great Expectations shape): a declarative rule set evaluates
    MAP-SIDE over the scan, and rows failing ANY rule are routed to
    quarantine carrying machine-readable reasons — the complement to
    dq_constraint_audit's aggregate violation COUNTS: this emits the
    rows themselves, ready to write to a quarantine sink while clean
    rows continue down the pipeline (one pass, two filtered sinks —
    never two scans).

    Reasons are a deterministically-ordered (rule-declaration order)
    joined string, so the relation is engine- and partitioning-
    stable. Business rules chosen to genuinely fire on real data:
    purchase price cap, a props range contract, and an ingest-SLA
    hour window. `stream_quarantine_split` runs the SAME rule
    expressions over a multi-micro-batch stream."""
    return quarantine_route(load_table(spark, sf_dir, "events"))


register(
    "dq_quarantine_split",
    _quarantine_split,
    QUARANTINE_SQL,
)
