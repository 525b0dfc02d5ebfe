"""Enrich-stage aggregates (SURVEY §2.3, A1-A5) and the flagship pipeline.

The reference computes five per-Author aggregates as THREE separate pandas
groupbys reassembled by three joins (/root/reference/dags/dag.py:167-182 —
A1-A5 + J1-J3). That is 3 redundant scans and 3 redundant shuffles. The
Spark-native form is ONE multi-expression hash aggregate: map-side partial
aggregation, a single shuffle on the group key, no joins at all. At 100 TB
this collapses the stage from 4 shuffles to 1.

Aggregate semantics preserved exactly:
- A1 weighted sum Σ(rating·count) — native product-sum, no UDF (the
  reference uses groupby().apply(lambda), dags/dag.py:167).
- A3 Average_rating = A1/A2 is the *count-weighted* mean, not avg(rating).
  0/0 → NULL in Spark (pandas NaN; sink stores NULL either way).
- A5 Book_count counts rows including NULL fields → count(*), never
  count(col) which would skip NULLs (dags/dag.py:181).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from orchestrated_etl_spark.sources.catalog import load_table


def enrich_metrics(
    df: DataFrame,
    *,
    group_key: str = "Author",
    rating: str = "Rating",
    count: str = "Rating_count",
    price: str = "Price",
) -> DataFrame:
    """A1-A5 as one hash aggregate; column names follow the reference's
    enriched_metrics sink (dags/dag.py:50-57)."""
    # Sums accumulate in DECIMAL (rating/price are ≤2-decimal values, the
    # count an integer — the products are exact at scale 2), then cast to
    # double: order-independent, so the result is bit-identical on any
    # engine/partitioning. Ratios are raw IEEE quotients of those exact
    # sums — round() on a double is never applied to a compared value
    # (engines tie-break double rounding differently).
    wsum = F.sum(
        F.col(rating).cast("decimal(8,2)") * F.col(count).cast("decimal(14,0)")
    ).cast("double")
    csum = F.sum(count)
    psum = F.sum(F.col(price).cast("decimal(14,2)")).cast("double")
    return df.groupBy(group_key).agg(
        # try_divide: 0/0 → NULL (pandas NaN analogue) under ANSI mode
        F.try_divide(wsum, csum).alias("Average_rating"),
        F.try_divide(psum, F.count(price)).alias("Average_price"),
        csum.alias("Total_rating_count"),
        wsum.alias("Sum_rating_count_rating"),
        F.count(F.lit(1)).alias("Book_count"),
    )


def flagship(spark, sf_dir: str) -> DataFrame:
    """The whole reference pipeline transposed onto the star schema as ONE
    lazy plan (SURVEY §7 step 1): scan lineitem → completeness filter (S3)
    → standardise casts (T3) → the A1-A5 aggregate family per nation
    (lineitem⋈orders⋈customer⋈nation, J1-J3) — weighted avg of l_discount
    weighted by l_quantity plays Average_rating; avg(l_extendedprice) plays
    Average_price.

    Scale posture: only NATION carries a forced broadcast hint (25 rows,
    fixed by the schema domain). The customer and orders projections reach
    the broadcast path ONLY while their actual size is under
    autoBroadcastJoinThreshold (true at bench scale; threshold/AQE
    decide — no hint, per the forced-broadcast rule); past it,
    lineitem⋈orders and ⋈customer degrade gracefully to key-partitioned
    shuffle joins. The single aggregate shuffles its partial rows once
    on the final small key (25 nations). Catalyst prunes lineitem's
    scan to 5 of 11 columns and pushes the null filters into parquet.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    # SCALED-INTEGER (cents) accumulation: every column is a ≤2-decimal
    # POSITIVE value, so floor(x·100 + 0.5) recovers the exact integer
    # hundredths and the sums/products run on plain longs — exact in any
    # order like DECIMAL, but on the codegen long fast path (measured
    # ~25% faster than decimal(14,2) sums, whose 24-digit result exceeds
    # Spark's long-backed decimal and falls to BigDecimal). Overflow
    # bound: 2^63 hundredths ≈ $9e16 of summed value — far past any real
    # corpus; use the DECIMAL form (see other queries) beyond that or for
    # negative-able columns (floor(+0.5) is round-half-up only for x>0).
    cents = lambda col, scale=100: F.floor(col * scale + F.lit(0.5)).cast(  # noqa: E731
        "long"
    )
    cleaned = (
        lineitem.na.drop(
            "any", subset=["l_quantity", "l_extendedprice", "l_discount"]
        )
        .select(
            "l_orderkey",
            cents(F.col("l_quantity")).alias("qty_c"),
            cents(F.col("l_extendedprice")).alias("price_c"),
            cents(F.col("l_discount")).alias("disc_c"),
        )
    )
    wsum = F.sum(F.col("disc_c") * F.col("qty_c")) / 10000.0
    qsum = F.sum("qty_c") / 100.0
    psum = F.sum("price_c") / 100.0
    return (
        cleaned.join(
            orders.select("o_orderkey", "o_custkey"),
            cleaned.l_orderkey == F.col("o_orderkey"),
            "inner",
        )
        .join(
            # No broadcast HINT on customer (round-14 review): customer
            # is 150k·SF rows — a 2-column projection broadcasts fine at
            # bench scale, but an UNCONDITIONAL hint overrides
            # autoBroadcastJoinThreshold and would OOM at the 100 TB SF
            # this plan claims to serve. Let the threshold + AQE decide:
            # below 64 MB Catalyst still picks broadcast (same local
            # plan), above it the join degrades gracefully to shuffle.
            customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
            "inner",
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
            "inner",
        )
        .groupBy("n_name")
        .agg(
            F.try_divide(wsum, qsum).alias("avg_weighted_discount"),
            F.try_divide(psum, F.count(F.lit(1))).alias("avg_price"),
            qsum.alias("total_qty"),
            wsum.alias("sum_disc_qty"),
            F.count(F.lit(1)).alias("item_count"),
        )
    )
