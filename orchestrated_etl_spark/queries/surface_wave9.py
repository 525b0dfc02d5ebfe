"""Round-2 source-surface additions: schema evolution across parquet
batches — the ingestion reality the reference's fixed-schema DAG
(dags/dag.py:40-57 hard-codes its column list) never has to face, and a
first-class capability for any long-lived corpus store: yesterday's
files lack the columns tomorrow's writer adds.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from orchestrated_etl_spark.registry import register
from orchestrated_etl_spark.queries.scale_ops import _scratch
from orchestrated_etl_spark.sources.catalog import load_table


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
    base = _scratch("schema_evolution", sf_dir)
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
# unigram LM document scoring (CCNet-style quality signal)
# ---------------------------------------------------------------------------


def _text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram distribution — the cheap stand-in for CCNet's LM-perplexity
    quality filter: documents of common words score high (less negative),
    documents of rare words score low. Plan: one (term) aggregate builds
    the LM, one explode+join+aggregate scores every document; both
    aggregates partial-combine map-side.

    The LM join-back carries NO broadcast hint (round-17 review — the
    r16 text_tfidf_keywords finding's SQL-hint sibling, which the F.
    broadcast() grep missed): the RAW-token vocabulary grows by Heaps'
    law with the corpus, not the language — a forced hint never falls
    back past the threshold and OOMs executors at 100 TB. Below the
    threshold Catalyst still picks broadcast on its own (same local
    plan); past it the score pass degrades to a term-keyed shuffle
    join, which partial-combines map-side either way. Issued as SQL
    text so the corpus token total plans as a ScalarSubquery literal
    rather than a 1-row nested-loop join (plan-audit clean). The
    log-prob is genuinely irrational → round(…,6) is the cross-engine
    tolerance (registry.py float policy), and ordering ties break on
    doc_id."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "docs_ulm"
    )
    return spark.sql(
        """
        WITH toks AS (
            SELECT doc_id, explode(split(text, ' ')) AS term FROM docs_ulm
        ),
        lm AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1)
        SELECT doc_id,
               round(avg(ln(CAST(cnt AS DOUBLE)
                            / (SELECT sum(cnt) FROM lm))), 6)
                   AS mean_logprob,
               count(*) AS n_tokens
        FROM toks JOIN lm USING (term)
        GROUP BY doc_id
        ORDER BY doc_id
        """
    )


register(
    "text_unigram_logprob",
    _text_unigram_logprob,
    """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    lm AS (SELECT term, count(*) AS cnt FROM toks GROUP BY 1),
    tot AS (SELECT sum(cnt) AS total FROM lm)
    SELECT doc_id,
           round(avg(ln(CAST(cnt AS DOUBLE) / total)), 6) AS mean_logprob,
           count(*) AS n_tokens
    FROM toks JOIN lm USING (term) CROSS JOIN tot
    GROUP BY doc_id
    ORDER BY doc_id
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
    base = _scratch("incremental_rollup", sf_dir)
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
    base = _scratch("incremental_join_view", sf_dir)
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
