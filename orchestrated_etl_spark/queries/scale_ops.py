"""Scale-posture operators: deterministic sampling, exact percentiles,
sketch aggregates, as-of / range joins, source roundtrips, partitioned sink.

None of these exist in the reference (its whole surface is SURVEY §2); they
are the operations the 100 TB design target demands on top of it:

- Sampling must be *deterministic per key* (reruns and engines agree) and
  pushdown-friendly — an arithmetic hash predicate evaluated inside the
  scan, never ``rand()`` (non-reproducible) or ``LIMIT`` (order-dependent).
- As-of / range joins are shuffle-on-the-equi-key only: the temporal
  predicate rides along as a join condition or a window, so the plan is one
  exchange on ``user_id`` regardless of data volume.
- The CSV/JSON roundtrips exercise the declared-schema readers
  (sources/catalog.py) the way the reference's scrape stage fed its frame
  (dags/dag.py:65-119) — files in, declared StructType, no inference job.
- The partitioned parquet sink is K1-K4 (dags/dag.py:189-227) done the way
  a 100 TB table needs: directory-partitioned on a low-cardinality key so
  downstream scans prune.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from orchestrated_etl_spark import schemas
from orchestrated_etl_spark.functions.sampling import (
    HASH_MOD,
    HASH_MULT,
    hash_bucket,
    hash_bucket_sql,
)
from orchestrated_etl_spark.registry import register
from orchestrated_etl_spark.sources import sinks
from orchestrated_etl_spark.sources.catalog import (
    load_table,
    read_csv,
    read_json,
    read_orc,
)
from orchestrated_etl_spark.sources.scratch import (
    nation_blob_files,
    scratch_path,
)

# ---------------------------------------------------------------------------
# deterministic sampling
# ---------------------------------------------------------------------------


def _sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% Bernoulli sample of orders, deterministic per o_orderkey.

    The predicate is pure arithmetic on the key → evaluated pre-shuffle in
    the scan stage; a rerun (or a different engine) selects the same rows,
    which ``df.sample()`` cannot guarantee.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.where(hash_bucket("o_orderkey") < int(HASH_MOD * 0.10))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


register(
    "sample_hash_deterministic",
    _sample_hash,
    f"""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE {hash_bucket_sql('o_orderkey')} < {int(HASH_MOD * 0.10)}
    """,
)


_STRAT_K = 200
_STRAT_SALTS = 32


def _sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size stratified sample: 200 orders per o_orderstatus, chosen
    by deterministic hash order (not arrival order).

    TWO-PHASE per-stratum top-K (round-15 review: the original single
    window partitioned by the 3-value stratum key alone, collapsing the
    sort of each stratum — a third of the corpus — into one task; the
    docstring's 'O(1) memory' claim hid a parallelism-of-3 plan):

    1. local top-K per (stratum, salt): the salt is the deterministic
       key hash mod 32, so every window partition holds ~1/32 of a
       stratum and the per-salt top-200 provably contains every global
       top-200 member of that stratum;
    2. final top-K per stratum over the ≤ 200·32 survivors — a window
       whose partitions are bounded at 6400 rows BY CONSTRUCTION,
       independent of corpus size.

    Identical output to the one-window form (same total order: hash,
    then key); both windows are partitioned, both bounded."""
    orders = load_table(spark, sf_dir, "orders")
    order = [hash_bucket("o_orderkey").asc(), F.col("o_orderkey").asc()]
    salted = orders.select("o_orderkey", "o_orderstatus").withColumn(
        "_salt", hash_bucket("o_orderkey") % F.lit(_STRAT_SALTS)
    )
    w_local = Window.partitionBy("o_orderstatus", "_salt").orderBy(*order)
    cands = (
        salted.withColumn("_rn", F.row_number().over(w_local))
        .where(F.col("_rn") <= _STRAT_K)
        .drop("_rn", "_salt")
    )
    w_final = Window.partitionBy("o_orderstatus").orderBy(*order)
    return (
        cands.withColumn("_rn", F.row_number().over(w_final))
        .where(F.col("_rn") <= _STRAT_K)
        .drop("_rn")
    )


register(
    "sample_stratified_fixed",
    _sample_stratified,
    f"""
    SELECT o_orderkey, o_orderstatus FROM orders
    QUALIFY row_number() OVER (
        PARTITION BY o_orderstatus
        ORDER BY {hash_bucket_sql('o_orderkey')}, o_orderkey) <= 200
    """,
)


# ---------------------------------------------------------------------------
# exact percentiles + approximate sketches
# ---------------------------------------------------------------------------


def _percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quartiles of o_totalprice per status. Exact
    percentile sorts within each group — fine at dashboard-grouping
    cardinality; the 100 TB path is percentile_approx (see sketches)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(o_totalprice, 0.50)"), 4).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 4).alias("p75"),
        F.count(F.lit(1)).alias("n"),
    )


register(
    "agg_exact_percentiles",
    _percentiles,
    """
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
           round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
           count(*) AS n
    FROM orders GROUP BY o_orderstatus
    """,
)


def _sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates — the mergeable-sketch path that replaces
    exact distinct/percentile at 100 TB (HLL++ and KLL/GK are partial-
    aggregable, so they combine map-side and never materialise the group).

    The raw estimates are implementation-specific, so the oracle checks
    the estimators' DOCUMENTED ERROR BOUNDS instead of the estimates:
    Spark emits per-group booleans — HLL++ estimate within 3·rsd of the
    exact distinct count; percentile_approx(accuracy=10000) result
    between the exact DISCRETE quantiles at rank 0.5 ± 3/accuracy —
    alongside the exact count. The DuckDB oracle computes the same group
    keys and counts and asserts the booleans are all true, making
    "sketches meet their contract" a driver-hash-verified claim rather
    than a rows-only smoke check.

    The rank bounds use percentile_disc (order statistics), NOT the
    interpolating percentile(): the GK sketch's guarantee is that the
    returned value is an ACTUAL ELEMENT whose rank is within ε·n of the
    target, while cont-interpolation at 0.5±ε collapses to a hair-thin
    interval strictly between the two middle order statistics at small
    even n — the returned (discrete) median then sits legitimately
    outside it. Found by the round-10 sf0.001 sweep (group O, n=514:
    pmed 256060.74 < interpolated qlo 256258.53 while the rank
    guarantee held); green at the driver's sf0.01 only because larger
    groups put interpolated neighbors inside the widened interval."""
    orders = load_table(spark, sf_dir, "orders")
    eps = 3.0 / 10000  # 3× the documented rank-error bound
    return orders.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("_hll"),
        F.count_distinct("o_custkey").alias("_exact_d"),
        F.expr("percentile_approx(o_totalprice, 0.5, 10000)").alias("_pmed"),
        F.expr(
            f"percentile_disc({0.5 - eps}) WITHIN GROUP "
            "(ORDER BY o_totalprice)"
        ).alias("_qlo"),
        F.expr(
            f"percentile_disc({0.5 + eps}) WITHIN GROUP "
            "(ORDER BY o_totalprice)"
        ).alias("_qhi"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        "o_orderstatus",
        "n",
        (
            F.abs(F.col("_hll") - F.col("_exact_d"))
            <= 3 * 0.02 * F.col("_exact_d")
        ).alias("hll_within_bounds"),
        (
            (F.col("_pmed") >= F.col("_qlo")) & (F.col("_pmed") <= F.col("_qhi"))
        ).alias("median_within_bounds"),
    )


register(
    "agg_approx_sketches",
    _sketches,
    """
    SELECT o_orderstatus, count(*) AS n,
           TRUE AS hll_within_bounds,
           TRUE AS median_within_bounds
    FROM orders GROUP BY o_orderstatus
    """,
)


# ---------------------------------------------------------------------------
# as-of join / range join (events)
# ---------------------------------------------------------------------------


def asof_core(ev: DataFrame) -> DataFrame:
    """As-of join core over an events frame with (event_id, user_id, ts,
    event_type): for every purchase, the most recent click at or before it
    by the same user. Union-tag trick — interleave both sides, sort within
    user by (ts, kind) with clicks before same-ts purchases, carry the
    last click ts forward with a running-max window. ONE shuffle on
    user_id; assumes one user's history fits a partition (see
    asof_salted_core for the skew-safe variant)."""
    tagged = ev.where(F.col("event_type").isin("click", "purchase")).withColumn(
        "kind", F.when(F.col("event_type") == "click", F.lit(0)).otherwise(F.lit(1))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("kind").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tagged.withColumn(
            "last_click_ts",
            F.max(F.when(F.col("kind") == 0, F.col("ts"))).over(w),
        )
        .where(F.col("kind") == 1)
        .select("event_id", "user_id", "ts", "last_click_ts")
    )


def _asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: the point-in-time join feature stores and backtests
    need, which Spark has no native operator for. See asof_core."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    return asof_core(ev)


register(
    "asof_join_purchase_click",
    _asof,
    """
    SELECT p.event_id, p.user_id, p.ts,
           (SELECT max(c.ts) FROM events c
            WHERE c.user_id = p.user_id AND c.event_type = 'click'
              AND c.ts <= p.ts) AS last_click_ts
    FROM events p WHERE p.event_type = 'purchase'
    """,
)


def _asof_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range-SALTED as-of join — the skew-safe variant of
    asof_join_purchase_click. The plain form partitions by user_id alone,
    which assumes one user's whole history fits a partition; a hot key
    (bot account, service user) breaks that at 100 TB. Here the window
    key is (user_id, day-bucket), bounding any partition to one user-day:

    1. bucket-local pass: running max of click ts within (user_id, day),
       ordered (ts, kind) with clicks sorting before same-ts purchases —
       identical tie semantics to the unsalted form;
    2. carry-in pass: per (user_id, day) the bucket's final last-click is
       aggregated (one row per user-day — the tiny relation), and the
       previous buckets' running max comes from a lag-exclusive window
       over THAT summary, not over raw events;
    3. final answer = greatest(bucket-local running max, carry-in).
       Every click in an earlier bucket precedes every ts in this bucket,
       so the carry-in is exactly the cross-bucket part of the as-of max.

    Shuffle ledger: one exchange of events on (user_id, day) shared by
    the bucket window AND the summary aggregate (same keys), one exchange
    of the user-day summary on user_id for the carry window, and a join
    back on (user_id, day) that re-exchanges only the summary side — the
    bucketed events are already hash-partitioned on exactly those keys,
    and the summary is NOT broadcast (|users|·|days| rows is itself a
    big relation at 100 TB; only its per-key slices are small)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    return asof_salted_core(ev)


def asof_salted_core(ev: DataFrame) -> DataFrame:
    """Salted as-of core over an events frame — see _asof_salted."""
    tagged = (
        ev.where(F.col("event_type").isin("click", "purchase"))
        .withColumn(
            "kind",
            F.when(F.col("event_type") == "click", F.lit(0)).otherwise(F.lit(1)),
        )
        # cast-to-date (not date_trunc) keeps the bucket key wall-clock:
        # date_trunc on NTZ round-trips through the session timezone and
        # would shift as-of bucket boundaries under non-UTC sessions.
        .withColumn("day", F.col("ts").cast("date"))
    )
    w_local = (
        Window.partitionBy("user_id", "day")
        .orderBy(F.col("ts").asc(), F.col("kind").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = tagged.withColumn(
        "local_last_click",
        F.max(F.when(F.col("kind") == 0, F.col("ts"))).over(w_local),
    )
    # per-(user, day) summary: the bucket's final click ts (NULL if none)
    day_summary = local.groupBy("user_id", "day").agg(
        F.max(F.when(F.col("kind") == 0, F.col("ts"))).alias("day_last_click")
    )
    w_carry = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)  # strictly earlier days
    )
    carry = day_summary.select(
        "user_id",
        "day",
        F.max("day_last_click").over(w_carry).alias("carry_in"),
    )
    return (
        local.where(F.col("kind") == 1)
        .join(carry, ["user_id", "day"])
        .select(
            "event_id",
            "user_id",
            "ts",
            F.greatest("local_last_click", "carry_in").alias("last_click_ts"),
        )
    )


register(
    "asof_join_salted",
    _asof_salted,
    # identical semantics to asof_join_purchase_click — the oracle is the
    # same correlated max; only the Spark-side partitioning differs.
    """
    SELECT p.event_id, p.user_id, p.ts,
           (SELECT max(c.ts) FROM events c
            WHERE c.user_id = p.user_id AND c.event_type = 'click'
              AND c.ts <= p.ts) AS last_click_ts
    FROM events p WHERE p.event_type = 'purchase'
    """,
)


def _range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: clicks in the hour before each purchase, per user.
    Equi-key (user_id) carries the shuffle; the interval predicate is a
    post-join condition inside the same sort-merge/hash join — no
    cross-product stage."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    p = ev.where(F.col("event_type") == "purchase").alias("p")
    c = ev.where(F.col("event_type") == "click").alias("c")
    joined = p.join(
        c,
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("c.ts") <= F.col("p.ts"))
        & (F.col("c.ts") > F.col("p.ts") - F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    return joined.groupBy(
        F.col("p.event_id").alias("event_id"),
        F.col("p.user_id").alias("user_id"),
        F.col("p.ts").alias("ts"),
    ).agg(F.count(F.col("c.event_id")).alias("clicks_1h"))


register(
    "range_join_clicks_before_purchase",
    _range_join,
    """
    SELECT p.event_id, p.user_id, p.ts, count(c.event_id) AS clicks_1h
    FROM events p
    LEFT JOIN events c
      ON c.user_id = p.user_id AND c.event_type = 'click'
     AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id, p.user_id, p.ts
    """,
)


def _range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BINNED range join — the scale path for wide windows and hot
    users: identical semantics to `range_join_clicks_before_purchase`,
    but the join equi-key is (user_id, hour_bin) instead of bare
    user_id. Each purchase probes its own hour bin and the previous one
    (explode of 2 bins — any click within the trailing hour lives in
    one of those), and the exact interval predicate filters residually.

    Why it matters at 100 TB: the bare-user_id join co-partitions each
    user's ENTIRE history into one task — a hot user with a year of
    clicks serializes there. Binning bounds every partition's state by
    the window width regardless of per-user volume (the same
    bound-by-construction idea as the salted as-of join; this is what
    a range-join "bin hint" does in engines that have one). Cost: each
    probe row duplicates into 2 bins — a fixed 2x on the (small)
    purchase side, never on the click side.

    Plan-asserted in tests: the exchange key contains the bin. The
    oracle is the SAME relation as the plain range join."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    return range_join_binned_core(ev)


def range_join_binned_core(ev: DataFrame) -> DataFrame:
    """Binned range-join core over an events frame — see
    `_range_join_binned`."""
    # Wall-clock hour bin: days-since-epoch*24 + hour — pure field
    # reads on DATE/NTZ, manifestly session-tz invariant and monotone
    # with slope 1 bin/hour, so any trailing 1-hour interval spans at
    # most 2 consecutive bins. The round-15 review replaced
    # floor(unix_timestamp(ts)/3600) here: that form is ALSO safe in
    # Spark 4.1 (unix_timestamp anchors NTZ wall-clock to UTC, ignoring
    # the session zone — probed empirically; unlike date_trunc, which
    # routes NTZ through the session zone, tests/test_timezone.py
    # canary), but the safety rests on that subtle NTZ-vs-LTZ API
    # asymmetry; this form's correctness is visible on its face. DST
    # invariance of the whole join is pinned by
    # test_binned_range_join_dst_session_tz_invariant.
    binf = lambda col: (  # noqa: E731
        F.unix_date(col.cast("date")) * F.lit(24) + F.hour(col)
    ).cast("long")
    c = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            binf(F.col("ts")).alias("c_bin"),
        )
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.explode(
                F.array(
                    binf(F.col("ts")) - F.lit(1), binf(F.col("ts"))
                )
            ).alias("probe_bin"),
        )
    )
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("probe_bin") == F.col("c_bin"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    # A click can match from only ONE of the two probe bins (its own),
    # so summing per-probe counts over both bins is exact; the left
    # join keeps zero-click purchases (count of NULL c_ts = 0).
    return joined.groupBy(
        "event_id",
        F.col("p_user").alias("user_id"),
        F.col("p_ts").alias("ts"),
    ).agg(F.count(F.col("c_ts")).alias("clicks_1h"))


register(
    "range_join_binned",
    _range_join_binned,
    """
    SELECT p.event_id, p.user_id, p.ts, count(c.event_id) AS clicks_1h
    FROM events p
    LEFT JOIN events c
      ON c.user_id = p.user_id AND c.event_type = 'click'
     AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id, p.user_id, p.ts
    """,
)


# ---------------------------------------------------------------------------
# source roundtrips (declared-schema CSV / JSON readers)
# ---------------------------------------------------------------------------


def _csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → CSV → declared-schema read (catalog.read_csv). The engine's
    file-source analogue of the reference's scrape ingest (S1/S2/S6,
    dags/dag.py:65-119): external text in, explicit StructType, no
    inference pass over the data."""
    path = scratch_path("csv_nation", sf_dir)
    nation = load_table(spark, sf_dir, "nation")
    nation.write.mode("overwrite").option("header", "true").csv(path)
    return read_csv(spark, path, schemas.NATION)


register(
    "src_csv_roundtrip",
    _csv_roundtrip,
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
)


def _json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → JSON lines → declared-schema read → aggregate. Doubles
    survive because Spark writes shortest-roundtrip representations;
    the aggregate is rounded on both sides regardless."""
    path = scratch_path("json_orders", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    orders.write.mode("overwrite").json(path)
    back = read_json(spark, path, schemas.ORDERS)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        # exact DECIMAL accumulation: round(sum(double),2) can flip a cent
        # once group sums reach ~1e9 (observed at sf0.1)
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


register(
    "src_json_roundtrip",
    _json_roundtrip,
    """
    SELECT o_orderstatus, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders GROUP BY o_orderstatus
    """,
)


# ---------------------------------------------------------------------------
# partitioned parquet sink
# ---------------------------------------------------------------------------


def _partitioned_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1-K4 (dags/dag.py:189-227) at scale: directory-partition the sink
    on a low-cardinality key so downstream scans prune whole directories,
    then verify by reading back through the partition column."""
    path = scratch_path("orders_by_status", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    sinks.write_parquet(
        orders, path, mode="overwrite", partition_by=["o_orderstatus"]
    )
    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        # exact DECIMAL accumulation: round(sum(double),2) can flip a cent
        # once group sums reach ~1e9 (observed at sf0.1)
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


register(
    "sink_partitioned_parquet",
    _partitioned_sink,
    """
    SELECT o_orderstatus, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders GROUP BY o_orderstatus
    """,
)


# ---------------------------------------------------------------------------
# bucketed tables: shuffle-free co-located join
# ---------------------------------------------------------------------------


def _bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write orders + lineitem bucketed on the join key, then join the two
    bucketed tables: matching bucket layouts satisfy the join's
    distribution requirement, so the plan has NO pre-join Exchange (the
    only shuffle left is the final aggregate). This is the pre-partitioned
    fact-fact join strategy at 100 TB — pay the shuffle once at write time,
    reuse it every query. tests/test_scale_ops.py asserts the Exchange
    count."""
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    ob, lb = f"orders_b_{tag}", f"lineitem_b_{tag}"

    def _ensure(table: str, src: str, key: str) -> None:
        if spark.catalog.tableExists(table):
            return
        # The in-memory catalog starts empty each session, but the
        # warehouse directory persists — clear a stale location first.
        import shutil
        from urllib.parse import urlparse

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        shutil.rmtree(os.path.join(wh, table.lower()), ignore_errors=True)
        df = load_table(spark, sf_dir, src)
        df.write.bucketBy(8, key).sortBy(key).mode("overwrite").saveAsTable(table)

    _ensure(ob, "orders", "o_orderkey")
    _ensure(lb, "lineitem", "l_orderkey")
    o, l = spark.table(ob), spark.table(lb)
    joined = l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(
            F.col("l_extendedprice").cast("decimal(14,2)")
            * (1 - F.col("l_discount")).cast("decimal(4,2)")
        ).cast("double").alias("revenue"),
    )


register(
    "join_bucketed_colocated",
    _bucketed_join,
    """
    SELECT o_orderpriority, count(*) AS n_items,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                    * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE)
               AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)


# ---------------------------------------------------------------------------
# batch sessionization (gap-based session ids)
# ---------------------------------------------------------------------------


def _sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization in batch: a new session starts when a user
    is idle > 30 minutes. lag → new-session flag → running sum = session
    id; one shuffle on user_id for both windows (same partitioning is
    reused), then the aggregate rides the same key. The batch twin of the
    streaming session_window query."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    flagged = ev.withColumn(
        "new_s",
        F.when(
            F.lag("ts").over(w).isNull()
            # Interval comparison, not cast-to-double: works for both
            # TIMESTAMP and TIMESTAMP_NTZ inputs (fixture parquet has
            # shipped both) and is timezone-agnostic.
            | (
                F.col("ts") - F.lag("ts").over(w)
                > F.expr("INTERVAL 30 MINUTES")
            ),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long"),
    )
    sess = flagged.withColumn(
        "session_id",
        F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


register(
    "sessionize_events_30m",
    _sessionize,
    """
    WITH x AS (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts,
               -- CAST: DuckDB integer sum() yields HUGEINT, which pandas
               -- coerces to float64 in the driver's hasher; BIGINT keeps
               -- the compared dtype int64 on both engines.
               CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS session_id
        FROM x
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end
    FROM s GROUP BY user_id, session_id
    """,
)


def _session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization through Spark's NATIVE session_window
    aggregate — the API twin of `sessionize_events_30m` (which builds
    sessions manually via lag + running sum). The built-in form is one
    groupBy(user, session_window(ts, gap)) — no window functions at
    all — and is the same operator Structured Streaming uses for
    streaming session windows, so batch and stream share semantics.
    session_window's `end` is last-event + gap (not last event), so
    the comparable last-activity timestamp is max(ts), emitted
    alongside window.start (which equals the session's min(ts)).
    Oracle: the lag/cumsum formulation — both engines must carve
    identical session boundaries (new session iff gap > 30 min)."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "last_ts",
        )
    )


register(
    "window_session_builtin",
    _session_window_builtin,
    """
    WITH x AS (
        SELECT user_id, event_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts,
               -- CAST: DuckDB integer sum() yields HUGEINT, which pandas
               -- coerces to float64 in the driver's hasher; BIGINT keeps
               -- the compared dtype int64 on both engines.
               CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS session_id
        FROM x
    )
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
           max(ts) AS last_ts
    FROM s GROUP BY user_id, session_id
    """,
)


def _binary_file_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The binaryFile source — Spark's whole-file ingest format for
    opaque media (images/audio/model shards): each file becomes one row
    of (path, modificationTime, length, content BINARY). Fixture files
    are one small .bin per nation (driver-side prep, always rewritten —
    dimension-sized); the QUERY path is pure Spark: binaryFile scan →
    per-file digest/length → deterministic projection keyed by file
    stem. The oracle recomputes digests from the nation table itself,
    so the files' round-trip through the filesystem is end-to-end
    verified.

    Scale posture: binaryFile parallelizes by file and pushes a path
    glob + maxBytesPerTrigger-style batching in streaming; content is
    ONE column — project it away after feature extraction so only
    digests/metadata shuffle (here: nothing shuffles at all; the
    aggregate-free plan is map-only)."""
    base = nation_blob_files(spark, sf_dir)
    raw = spark.read.format("binaryFile").load(f"{base}/*.bin")
    return raw.select(
        F.regexp_extract(
            F.col("path"), r"/(\d+)\.bin$", 1
        ).cast("int").alias("n_nationkey"),
        F.col("length").cast("long").alias("byte_len"),
        F.md5("content").alias("digest"),
    )


register(
    "src_binary_file_source",
    _binary_file_source,
    """
    SELECT n_nationkey,
           CAST(strlen(n_name) AS BIGINT) AS byte_len,
           md5(n_name) AS digest
    FROM nation
    """,
)


# ---------------------------------------------------------------------------
# salted two-phase aggregation (skew mitigation)
# ---------------------------------------------------------------------------


def _salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation via explicit salting: events has only 5
    event_type values, so a direct groupBy sends each key's entire volume
    to one reducer. Phase 1 groups on (key, salt) — 16-way fan-out of the
    hot keys; phase 2 merges the 5×16 partials. Same result as the direct
    aggregate (oracle is the plain GROUP BY); the salt is deterministic
    (event_id mod 16) so reruns agree. Spark's map-side partial
    aggregation makes this unnecessary for sums — the pattern matters for
    distinct/collect-style aggs and skewed JOIN keys, and this query is
    the executable documentation of it."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    phase1 = (
        ev.withColumn("_salt", F.pmod(F.col("event_id"), F.lit(16)))
        .groupBy("event_type", "_salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast("decimal(25,10)")).alias("psum"),
        )
    )
    return phase1.groupBy("event_type").agg(
        F.sum("pn").alias("n_events"),
        F.sum("psum").cast("double").alias("sum_value"),
    )


register(
    "agg_salted_twophase",
    _salted_agg,
    """
    SELECT event_type, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(25,10))) AS DOUBLE)
               AS sum_value
    FROM events GROUP BY event_type
    """,
)


# ---------------------------------------------------------------------------
# upsert / MERGE emulation on a parquet sink
# ---------------------------------------------------------------------------


def _merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent upsert the reference never had (its sinks only append —
    K4, dags/dag.py:198-204): a deterministic 'updates' batch (every 20th
    order, price +10%) merged into the base table as
    updates ∪ (base ANTI-JOIN updates) — the MERGE emulation for plain
    parquet. One shuffle on the key; with Delta/Iceberg this becomes
    MERGE INTO with file-level pruning, same logical shape."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    # +10% computed in DECIMAL: round(double*1.1, 2) tie-breaks differently
    # across engines (a one-cent flip at sf0.1); exact decimal multiply +
    # decimal round is HALF_UP on both.
    updates = orders.where(F.col("o_orderkey") % 20 == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        F.expr(
            "CAST(round(CAST(o_totalprice AS DECIMAL(18,2))"
            " * CAST(1.10 AS DECIMAL(3,2)), 2) AS DOUBLE)"
        ).alias("o_totalprice"),
    )
    merged = updates.unionByName(
        orders.join(updates.select("o_orderkey"), "o_orderkey", "left_anti")
    )
    path = scratch_path("orders_merged", sf_dir)
    sinks.write_parquet(merged, path, mode="overwrite")
    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        # exact DECIMAL accumulation: round(sum(double),2) can flip a cent
        # once group sums reach ~1e9 (observed at sf0.1)
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


register(
    "sink_merge_upsert",
    _merge_upsert,
    """
    WITH updates AS (
        SELECT o_orderkey, 'U' AS o_orderstatus,
               CAST(round(CAST(o_totalprice AS DECIMAL(18,2))
                          * CAST(1.10 AS DECIMAL(3,2)), 2) AS DOUBLE)
                   AS o_totalprice
        FROM orders WHERE o_orderkey % 20 = 0
    ),
    merged AS (
        SELECT * FROM updates
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
    )
    SELECT o_orderstatus, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM merged GROUP BY o_orderstatus
    """,
)


# ---------------------------------------------------------------------------
# S1 proper: the scraper stage as a Spark 4 Python Data Source
# ---------------------------------------------------------------------------

_BOOKS_N, _BOOKS_PAGE = 1000, 100


def _src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's paginated HTTP extract (S1, dags/dag.py:65-119) as
    a first-class partition-parallel Python Data Source: each scrape
    'page' is an input partition, read concurrently by executors instead
    of a driver-side loop. The raw string records then flow through the
    reference's own standardise casts (T3/T4/T5) into the A-family
    aggregate — extract → transform → enrich as ONE lazy plan over a
    custom source."""
    from orchestrated_etl_spark.operators import standardise as S
    from orchestrated_etl_spark.sources.books_source import (
        register_books_source,
    )

    register_books_source(spark)
    raw = (
        spark.read.format("books")
        .option("n", _BOOKS_N)
        .option("page_size", _BOOKS_PAGE)
        .load()
    )
    std = raw.select(
        "author",
        S.to_number("price").alias("price"),
        S.extract_number("rating").alias("rating"),
        S.strip_separators_to_long("rating_count").alias("rating_count"),
    )
    wsum = F.sum(F.col("rating") * F.col("rating_count"))
    csum = F.sum("rating_count")
    return std.groupBy("author").agg(
        F.round(F.try_divide(wsum, csum), 6).alias("avg_rating"),
        F.round(F.avg("price"), 4).alias("avg_price"),
        csum.alias("total_rating_count"),
        F.count(F.lit(1)).alias("n_books"),
    )


def _src_python_datasource_oracle() -> str:
    from orchestrated_etl_spark.sources.books_source import books_oracle_cte

    return f"""
    WITH {books_oracle_cte(_BOOKS_N)}
    SELECT author,
           round(sum(TRY_CAST(regexp_extract(rating, '(\\d\\.\\d)', 1) AS DOUBLE)
                     * TRY_CAST(replace(rating_count, ',', '') AS BIGINT))
                 / sum(TRY_CAST(replace(rating_count, ',', '') AS BIGINT)), 6)
               AS avg_rating,
           round(avg(TRY_CAST(price AS DOUBLE)), 4) AS avg_price,
           CAST(sum(TRY_CAST(replace(rating_count, ',', '') AS BIGINT)) AS BIGINT)
               AS total_rating_count,
           count(*) AS n_books
    FROM raw
    GROUP BY author
    """


register(
    "src_python_datasource",
    _src_python_datasource,
    _src_python_datasource_oracle(),
)


# ---------------------------------------------------------------------------
# SCD2 dimension history — the versioned form of the upsert sink (K2-K4)
# ---------------------------------------------------------------------------


def _scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 merge: an update batch against the
    customer dimension closes the superseded row (valid_to = effective
    date) and opens the new version, while touched-but-unchanged and
    untouched rows pass through. Everything is one plan. The update
    batch joins WITHOUT a forced broadcast hint (round-15 review: this
    fixture's synthetic batch is every-10th-customer — |dim|/10, a
    linearly growing relation, the same class the r14 flagship fix
    removed): when a real update batch is small the auto-broadcast
    threshold/AQE broadcasts it and the history rewrite is map-side;
    when it grows with the dimension the join correctly shuffles on the
    key instead of OOMing the executors. The reference's sinks could
    only append (K4, dags/dag.py:198-204); this is the versioned
    correction path its near-duplicate accumulation actually needed."""
    eff = F.to_date(F.lit("1996-06-01"))
    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.to_date(F.lit("1995-01-01")).alias("valid_from"),
    )
    # deterministic synthetic update batch: every 10th customer moves to
    # MACHINERY (a no-op for those already there — SCD2 must not version
    # unchanged rows)
    updates = base.where(F.col("c_custkey") % 10 == 0).select(
        "c_custkey", F.lit("MACHINERY").alias("new_segment")
    )
    joined = base.join(updates, "c_custkey", "left")
    changed = F.col("new_segment").isNotNull() & (
        F.col("new_segment") != F.col("c_mktsegment")
    )
    closed = joined.select(
        "c_custkey",
        "c_mktsegment",
        "valid_from",
        F.when(changed, eff).alias("valid_to"),
        (~F.coalesce(changed, F.lit(False))).alias("is_current"),
    )
    opened = joined.where(changed).select(
        "c_custkey",
        F.col("new_segment").alias("c_mktsegment"),
        eff.alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return closed.unionByName(opened)


register(
    "sink_scd2_history",
    _scd2_history,
    """
    WITH base AS (
        SELECT c_custkey, c_mktsegment,
               DATE '1995-01-01' AS valid_from
        FROM customer
    ),
    updates AS (
        SELECT c_custkey, 'MACHINERY' AS new_segment
        FROM base WHERE c_custkey % 10 = 0
    ),
    joined AS (
        SELECT b.*, u.new_segment,
               u.new_segment IS NOT NULL
                   AND u.new_segment != b.c_mktsegment AS changed
        FROM base b LEFT JOIN updates u USING (c_custkey)
    )
    SELECT c_custkey, c_mktsegment, valid_from,
           CASE WHEN changed THEN DATE '1996-06-01' END AS valid_to,
           NOT coalesce(changed, false) AS is_current
    FROM joined
    UNION ALL
    SELECT c_custkey, new_segment, DATE '1996-06-01', NULL, true
    FROM joined WHERE changed
    """,
)


# ---------------------------------------------------------------------------
# ORC source roundtrip (columnar format breadth beyond parquet)
# ---------------------------------------------------------------------------


def _orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → ORC → declared-schema read → per-nation aggregate. Same
    contract as the CSV/JSON roundtrips but through the second columnar
    format Spark ships natively — column pruning and predicate pushdown
    apply to the ORC scan exactly as to parquet, so a 100 TB ORC lake
    needs no conversion pass to be queried by this engine."""
    path = scratch_path("orc_supplier", sf_dir)
    supplier = load_table(spark, sf_dir, "supplier")
    supplier.write.mode("overwrite").orc(path)
    back = read_orc(spark, path, schemas.SUPPLIER)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.col("s_acctbal").cast("decimal(14,2)"))
        .cast("double").alias("total_acctbal"),
    )


register(
    "src_orc_roundtrip",
    _orc_roundtrip,
    """
    SELECT s_nationkey, count(*) AS n_suppliers,
           CAST(sum(CAST(s_acctbal AS DECIMAL(14,2))) AS DOUBLE)
               AS total_acctbal
    FROM supplier GROUP BY s_nationkey
    """,
)


# ---------------------------------------------------------------------------
# dynamic partition pruning: dim filter prunes fact DIRECTORIES at runtime
# ---------------------------------------------------------------------------


def _dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join a directory-partitioned fact to a filtered dimension ON THE
    PARTITION COLUMN: dynamic partition pruning turns the dim's filter
    into a runtime partition filter on the fact scan (the broadcast that
    feeds the join is reused as the pruning subquery), so only the
    surviving status directories are read at all. At 100 TB this is the
    canonical date-dimension pattern — the fact scan reads the partitions
    the dim filter selects, never the whole table. Plan assertion in
    tests: the fact scan carries a ``dynamicpruning`` expression."""
    path = scratch_path("orders_part_status", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    # one-time layout: directory-partition the fact on the join key
    sinks.write_parquet(
        orders, path, mode="overwrite", partition_by=["o_orderstatus"]
    )
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("F", "closed"), ("O", "open"), ("P", "pending")],
        "status string, label string",
    )
    return (
        fact.join(
            F.broadcast(dim.where(F.col("label") == "closed")),
            F.col("o_orderstatus") == F.col("status"),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


register(
    "join_dpp_partition_pruned",
    _dpp_join,
    """
    WITH dim AS (
        SELECT * FROM (VALUES ('F', 'closed'), ('O', 'open'), ('P', 'pending'))
            AS t(status, label)
    )
    SELECT o_orderstatus, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders JOIN dim ON o_orderstatus = status
    WHERE label = 'closed'
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# SQL DDL surface: CREATE TABLE AS SELECT + INSERT INTO on the catalog
# ---------------------------------------------------------------------------


def _ctas_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1's DDL surface (dags/dag.py:32-62: CREATE TABLE IF NOT EXISTS +
    INSERT loops) through the engine catalog as SQL text: CTAS creates a
    managed parquet table from one query, INSERT INTO appends a second
    source's rows — both land as parallel parquet writes, not row
    round-trips. Idempotent per run: the table is dropped and its
    (session-persistent) warehouse directory cleared first."""
    import shutil
    from urllib.parse import urlparse

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    tbl = f"region_profile_{tag}"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    shutil.rmtree(os.path.join(wh, tbl.lower()), ignore_errors=True)
    nation = load_table(spark, sf_dir, "nation")
    spark.sql(
        f"""
        CREATE TABLE {tbl} USING PARQUET AS
        SELECT 'nation' AS source, n_regionkey AS regionkey,
               count(*) AS n_rows
        FROM {{nation}} GROUP BY 2
        """,
        nation=nation,
    )
    spark.sql(
        f"""
        INSERT INTO {tbl}
        SELECT 'supplier', n.n_regionkey, count(*)
        FROM {{supplier}} s
        JOIN {{nation}} n ON s.s_nationkey = n.n_nationkey
        GROUP BY 2
        """,
        supplier=load_table(spark, sf_dir, "supplier"),
        nation=nation,
    )
    return spark.table(tbl)


register(
    "sink_ctas_insert",
    _ctas_insert,
    """
    SELECT 'nation' AS source, n_regionkey AS regionkey, count(*) AS n_rows
    FROM nation GROUP BY 2
    UNION ALL
    SELECT 'supplier', n.n_regionkey, count(*)
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY 2
    """,
)


# ---------------------------------------------------------------------------
# observe(): pipeline data-quality metrics without a second pass
# ---------------------------------------------------------------------------


def _observed_standardise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality observability: the standardise-style cast/filter pass
    over orders carries an ``observe`` node that accumulates row counts
    and a null-cast counter AS THE QUERY RUNS — at 100 TB the metrics
    come for free with the one pass instead of a second validation scan
    (the reference validated by raising on empty frames only,
    dags/dag.py:129-130,160-161). The observation is registered under a
    fixed name; callers fetch it from the QueryExecution listener or the
    Observation object — tests assert the captured values."""
    orders = load_table(spark, sf_dir, "orders")
    cleaned = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("string").try_cast("double").alias(
            "price"
        ),
    )
    observed = cleaned.observe(
        "standardise_metrics",
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.col("price").isNull().cast("long")).alias("null_prices"),
    )
    return observed.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("price").cast("decimal(18,2)"))
        .cast("double").alias("total_price"),
    )


register(
    "obs_standardise_metrics",
    _observed_standardise,
    """
    SELECT o_orderstatus, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS total_price
    FROM orders GROUP BY 1
    """,
)


def _hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STORED-sketch incremental distinct counting — the pattern that
    replaces nightly full recounts at 100 TB: per-month HLL sketches
    (the binary column a real pipeline would persist alongside each
    partition) are merged at query time with hll_union_agg and estimated
    without touching row data. Merging is register-wise max, so the
    merged estimate tracks the direct single-pass sketch — but NOT
    exactly: DataSketches invalidates its HIP estimator on union
    (measured 1437 vs 1443 vs exact 1444 on this fixture), so the
    oracle asserts both estimates against the DOCUMENTED bound
    (3 x 1.04/sqrt(2^12) ≈ 4.9% of exact) rather than against each
    other — same booleans-against-contract pattern as
    agg_approx_sketches."""
    # NULL order dates are excluded on BOTH sides up front: Spark's
    # per-month grouping would otherwise emit a NULL-month sketch row
    # that the oracle's count(DISTINCT month) skips — a divergence the
    # current fixture never triggers but a regenerated one could.
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate").isNotNull()
    )
    monthly = orders.groupBy(
        # trunc()->DATE is wall-clock (tz-invariant sketch partitioning)
        "o_orderstatus", F.trunc("o_orderdate", "month").alias("_m")
    ).agg(F.hll_sketch_agg("o_custkey").alias("_sk"))
    merged = monthly.groupBy("o_orderstatus").agg(
        F.hll_sketch_estimate(F.hll_union_agg("_sk")).alias("_est_merged"),
        F.count(F.lit(1)).alias("n_month_sketches"),
    )
    direct = orders.groupBy("o_orderstatus").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias(
            "_est_direct"
        ),
        F.count_distinct("o_custkey").alias("exact_distinct"),
    )
    rsd3 = 3 * 1.04 / (2**12) ** 0.5
    return (
        merged.join(direct, "o_orderstatus")
        .select(
            "o_orderstatus",
            "n_month_sketches",
            "exact_distinct",
            (
                F.abs(F.col("_est_merged") - F.col("exact_distinct"))
                <= F.lit(rsd3) * F.col("exact_distinct")
            ).alias("merged_within_bounds"),
            (
                F.abs(F.col("_est_direct") - F.col("exact_distinct"))
                <= F.lit(rsd3) * F.col("exact_distinct")
            ).alias("direct_within_bounds"),
        )
    )


register(
    "agg_hll_sketch_merge",
    _hll_sketch_merge,
    """
    SELECT o_orderstatus,
           count(DISTINCT date_trunc('month', o_orderdate))
               AS n_month_sketches,
           count(DISTINCT o_custkey) AS exact_distinct,
           TRUE AS merged_within_bounds,
           TRUE AS direct_within_bounds
    FROM orders WHERE o_orderdate IS NOT NULL
    GROUP BY o_orderstatus
    """,
)


# ---------------------------------------------------------------------------
# deterministic WEIGHTED sampling (Efraimidis–Spirakis order statistics)
# ---------------------------------------------------------------------------

_WS_K = 50


def _sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, DETERMINISTIC: the
    Efraimidis–Spirakis order-statistic trick — each document draws a
    uniform u from its own id (the same multiplicative hash every
    deterministic sampler here uses, mapped to (0,1)), and the k kept
    items are the top-k by key = ln(u)/w with weight w = n_chars. Long
    documents are proportionally likelier to survive, a rerun or another
    engine selects the IDENTICAL sample (df.sample() cannot promise
    either), and the key is rounded to 9 decimals before ranking so a
    last-ulp libm ln() difference can never flip an ordering (ties then
    break on doc_id). One map-side key projection + one top-k — the
    mixture-sampling shape for corpus construction at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    u = (hash_bucket("doc_id") + 0.5) / float(HASH_MOD)
    key = F.round(F.log(u) / F.col("n_chars").cast("double"), 9)
    keyed = docs.select("doc_id", "n_chars", key.alias("ws_key"))
    # Top-k FIRST via orderBy().limit() → TakeOrderedAndProject (per-
    # partition heap top-k, no single-partition corpus sort); only the K
    # survivors then get ranked by a window whose domain is bounded at K
    # rows regardless of corpus size (round-4 verdict fix).
    # ONE order-key list feeds both the top-k and the rank window so
    # membership and rank can never silently diverge (round-5 advice).
    order = [F.col("ws_key").desc(), F.col("doc_id")]
    topk = keyed.orderBy(*order).limit(_WS_K)
    w = Window.orderBy(*order)
    return topk.select(
        "doc_id",
        "n_chars",
        "ws_key",
        F.row_number().over(w).cast("int").alias("rank"),
    )


register(
    "sample_weighted_deterministic",
    _sample_weighted,
    f"""
    WITH keyed AS (
        SELECT doc_id, n_chars,
               round(ln((({{m}} * doc_id) % {{p}} + 0.5) / {{p}}.0)
                     / CAST(n_chars AS DOUBLE), 9) AS ws_key
        FROM documents
    )
    SELECT doc_id, n_chars, ws_key,
           CAST(row_number() OVER (ORDER BY ws_key DESC, doc_id) AS INTEGER)
               AS rank
    FROM keyed
    QUALIFY rank <= {_WS_K}
    """.replace("{m}", str(HASH_MULT)).replace("{p}", str(HASH_MOD)),
)
