"""Wave-15 (round 4, continued): per-node graph structure, drift
detection on time series, and frequency sketches.

Four operator families extending the engine's analytics surface past
what rounds 1-4 registered (reference dags/dag.py never leaves flat
tabular aggregation — these are north-star additions):

- Local clustering coefficient (`graph_clustering_coefficient`): the
  per-node community-density measure (2·T(v) / deg(v)·(deg(v)-1)) —
  recommendation-quality and spam-node signal. Integer triangle counts
  and degrees make the quotient a raw IEEE division of identical
  integers on both engines: bit-exact, no rounding policy.
- HITS hubs/authorities (`graph_hits_2iter`): two synchronous
  unnormalized HITS iterations over the canonically-directed
  co-purchase graph. Unnormalized keeps every score a pure BIGINT
  (auth¹ = in-degree, hub¹ = Σ auth¹ over out-edges, auth² = Σ hub¹
  over in-edges) — the iterative power-iteration shape with an exact
  oracle, complementing graph_pagerank's ε-guarded rational ranks.
- CUSUM changepoint scan (`events_cusum_changepoint`): cumulative-sum
  drift detection over the daily event-volume series. The classic
  statistic cumsum(c_d - mean) is scaled by N (the day count) so every
  compared value is a BIGINT: cusum_t = Σ_{d≤t} (N·c_d - S). Exact on
  both engines; the argmax |cusum| day is the changepoint estimate.
- Autocorrelation function (`events_acf_lags`): Pearson ACF of the
  daily revenue series at lags 1..7 — the periodicity detector that
  justifies seasonal models (events_seasonal_decompose's day-of-week
  term). Correlations are genuinely irrational, so round(,6) acts as a
  tolerance (registry float-policy exception c).

Scale posture: the graph queries run over the thresholded co-purchase
edge relation (orders of magnitude smaller than the fact table; see
functions/graph.py for the no-self-join derivation) and use the same
broadcast-at-bench-scale / orient-and-sort-merge-past-it layout as
graph_triangle_orient. The time-series queries aggregate the fact table
to the O(date-domain) daily relation FIRST; the only ordered windows in
their plans see O(domain) rows, never O(fact) — the rolling-median
argument (wave13_round4.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from orchestrated_etl_spark.compat import default_parallelism
from orchestrated_etl_spark.functions.graph import cached_edges, degrees
from orchestrated_etl_spark.operators.relational import global_rank_two_phase
from orchestrated_etl_spark.queries.graph_wave10 import _EDGE_CTE
from orchestrated_etl_spark.registry import register
from orchestrated_etl_spark.sources.catalog import load_table, read_events

# ---------------------------------------------------------------------------
# local clustering coefficient
# ---------------------------------------------------------------------------


def _clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the weight>=2
    co-purchase graph: cc(v) = 2·T(v) / (deg(v)·(deg(v)-1)), cc = 0 for
    degree-1 nodes. T(v) comes from the canonical a<b<c wedge join
    (functions/graph.py triangle_count) with each closed triangle
    exploded to its three corners; degrees from the undirected
    expansion. Both factors are exact BIGINTs, so the quotient is one
    IEEE division of identical operands on both engines — bit-exact.

    Scale: the edge relation is the thresholded co-purchase graph
    (broadcastable at bench scale; past the broadcast threshold,
    re-orient by degree and sort-merge exactly as
    graph_triangle_orient does — T(v) per corner falls out of the same
    oriented closure by exploding [u,v,w] instead of counting)."""
    edges = cached_edges(spark, sf_dir, min_weight=2)
    e1 = edges.select(F.col("part_a").alias("a"), F.col("part_b").alias("b"))
    e2 = edges.select(F.col("part_a").alias("b2"), F.col("part_b").alias("c"))
    e3 = edges.select(F.col("part_a").alias("a3"), F.col("part_b").alias("c3"))
    tri = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .join(e3, (F.col("a") == F.col("a3")) & (F.col("c") == F.col("c3")))
        .select("a", "b", "c")
    )
    per_node_t = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("tri_count"))
    )
    deg = degrees(edges)
    joined = deg.join(per_node_t, "node", "left").select(
        "node",
        "degree",
        F.coalesce("tri_count", F.lit(0)).alias("tri_count"),
    )
    cc = F.when(F.col("degree") < 2, F.lit(0.0)).otherwise(
        (F.lit(2) * F.col("tri_count")).cast("double")
        / (F.col("degree") * (F.col("degree") - 1)).cast("double")
    )
    return joined.select("node", "degree", "tri_count", cc.alias("cc"))


register(
    "graph_clustering_coefficient",
    _clustering_coefficient,
    f"""
    WITH {_EDGE_CTE},
    ew AS (SELECT part_a, part_b FROM e WHERE weight >= 2),
    tri AS (
        SELECT e1.part_a AS a, e1.part_b AS b, e2.part_b AS c
        FROM ew e1
        JOIN ew e2 ON e1.part_b = e2.part_a
        JOIN ew e3 ON e3.part_a = e1.part_a AND e3.part_b = e2.part_b
    ),
    corners AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    ),
    per_node_t AS (
        SELECT node, count(*) AS tri_count FROM corners GROUP BY node
    ),
    deg AS (
        SELECT node, count(*) AS degree FROM (
            SELECT part_a AS node FROM ew
            UNION ALL SELECT part_b FROM ew
        ) GROUP BY node
    )
    SELECT d.node,
           CAST(d.degree AS BIGINT) AS degree,
           CAST(COALESCE(t.tri_count, 0) AS BIGINT) AS tri_count,
           CASE WHEN d.degree < 2 THEN 0.0
                ELSE CAST(2 * COALESCE(t.tri_count, 0) AS DOUBLE)
                     / CAST(d.degree * (d.degree - 1) AS DOUBLE)
           END AS cc
    FROM deg d LEFT JOIN per_node_t t ON d.node = t.node
    """,
)


# ---------------------------------------------------------------------------
# HITS hubs & authorities, two unnormalized iterations
# ---------------------------------------------------------------------------


def _hits_2iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synchronous HITS iterations over the co-purchase graph
    directed by its canonical (low id → high id) orientation. h⁰ ≡ 1,
    then auth¹(v) = Σ_{u→v} h⁰(u) = in-degree, hub¹(u) = Σ_{u→v}
    auth¹(v), auth²(v) = Σ_{u→v} hub¹(u). Skipping the usual L2
    normalization keeps every score a BIGINT — the ranking (the thing
    HITS is used for) is normalization-invariant, and the oracle is
    exact instead of ε-guarded like graph_pagerank's.

    Scale: each iteration is one equi-join of the edge list against the
    previous O(V) score vector plus one aggregate. The score side
    carries NO forced broadcast hint (round-15 review: it is node-sized
    — linearly growing — and a hint never falls back past the
    threshold): at bench scale the threshold/AQE broadcast it anyway;
    at billions of nodes the join goes shuffle-hash on the edge layout,
    exactly as bfs_distances does. The edge list is never broadcast and
    never re-derived (cached_edges materializes it once per session)."""
    edges = cached_edges(spark, sf_dir, min_weight=2).select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst")
    )
    auth1 = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("auth_1"))
    hub1 = (
        edges.join(auth1, "dst")
        .groupBy("src")
        .agg(F.sum("auth_1").alias("hub_1"))
    )
    auth2 = (
        edges.join(hub1, "src")
        .groupBy("dst")
        .agg(F.sum("hub_1").alias("auth_2"))
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select("dst"))
        .distinct()
    )
    return (
        nodes.join(auth1.withColumnRenamed("dst", "node"), "node", "left")
        .join(hub1.withColumnRenamed("src", "node"), "node", "left")
        .join(auth2.withColumnRenamed("dst", "node"), "node", "left")
        .select(
            "node",
            F.coalesce("auth_1", F.lit(0)).cast("long").alias("auth_1"),
            F.coalesce("hub_1", F.lit(0)).cast("long").alias("hub_1"),
            F.coalesce("auth_2", F.lit(0)).cast("long").alias("auth_2"),
        )
    )


register(
    "graph_hits_2iter",
    _hits_2iter,
    f"""
    WITH {_EDGE_CTE},
    d AS (SELECT part_a AS src, part_b AS dst FROM e WHERE weight >= 2),
    auth1 AS (SELECT dst, count(*) AS auth_1 FROM d GROUP BY dst),
    hub1 AS (
        SELECT d.src, sum(a.auth_1) AS hub_1
        FROM d JOIN auth1 a ON d.dst = a.dst GROUP BY d.src
    ),
    auth2 AS (
        SELECT d.dst, sum(h.hub_1) AS auth_2
        FROM d JOIN hub1 h ON d.src = h.src GROUP BY d.dst
    ),
    nodes AS (
        SELECT DISTINCT src AS node FROM d
        UNION SELECT DISTINCT dst FROM d
    )
    SELECT n.node,
           CAST(COALESCE(a1.auth_1, 0) AS BIGINT) AS auth_1,
           CAST(COALESCE(h1.hub_1, 0) AS BIGINT) AS hub_1,
           CAST(COALESCE(a2.auth_2, 0) AS BIGINT) AS auth_2
    FROM nodes n
    LEFT JOIN auth1 a1 ON n.node = a1.dst
    LEFT JOIN hub1 h1 ON n.node = h1.src
    LEFT JOIN auth2 a2 ON n.node = a2.dst
    """,
)


# ---------------------------------------------------------------------------
# CUSUM changepoint scan (integer-exact)
# ---------------------------------------------------------------------------


def _cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift scan over daily event volume. The textbook statistic
    cumsum_t(c_d - c̄) is rescaled by N = #days so every compared value
    stays a BIGINT: cusum_scaled_t = Σ_{d≤t} (N·c_d - S) = N·cusum_t.
    The day maximizing |cusum_scaled| is the level-shift changepoint
    estimate (flagged is_peak; scaling by N>0 preserves the argmax).

    Exactness: integer counts, integer window sums — no float anywhere,
    both engines bit-agree with no rounding policy. The one-row global
    (N, S, max|cusum|) relation is broadcast back onto the O(domain)
    daily series (plan_audit SCALAR_BROADCAST_OK); the ordered window
    runs over that same O(domain) relation, never the fact table."""
    ev = read_events(spark, sf_dir)
    # Materialized once: the O(domain) daily series feeds the totals
    # aggregate, the window, and the peak scan — without this each
    # consumer replays the fact-table aggregate (4 fact scans).
    daily = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .localCheckpoint(eager=True)
    )
    totals = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("n_events").alias("total_events"),
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_cusum = daily.crossJoin(F.broadcast(totals)).select(
        "day",
        "n_events",
        F.sum(
            F.col("n_days") * F.col("n_events") - F.col("total_events")
        )
        .over(w)
        .alias("cusum_scaled"),
    )
    peak = with_cusum.agg(
        F.max(F.abs(F.col("cusum_scaled"))).alias("max_abs")
    )
    return with_cusum.crossJoin(F.broadcast(peak)).select(
        "day",
        "n_events",
        "cusum_scaled",
        (F.abs(F.col("cusum_scaled")) == F.col("max_abs")).alias("is_peak"),
    )


register(
    "events_cusum_changepoint",
    _cusum_changepoint,
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, count(*) AS n_events
        FROM events GROUP BY 1
    ),
    totals AS (
        SELECT count(*) AS n_days, sum(n_events) AS total_events
        FROM daily
    ),
    cus AS (
        SELECT day, n_events,
               CAST(sum(n_days * n_events - total_events) OVER (
                   ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cusum_scaled
        FROM daily, totals
    )
    SELECT day, CAST(n_events AS BIGINT) AS n_events, cusum_scaled,
           abs(cusum_scaled) = (SELECT max(abs(cusum_scaled)) FROM cus)
               AS is_peak
    FROM cus
    """,
)


# ---------------------------------------------------------------------------
# autocorrelation of the daily revenue series, lags 1..7
# ---------------------------------------------------------------------------


def _acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson autocorrelation of daily purchase revenue at lags 1..7
    — the periodicity detector behind seasonal modeling choices. The
    series is the exact-DECIMAL daily revenue over the OBSERVED date
    spine (sequence(min_day, max_day), zero-filled) so a lag of L days
    is L positions. Lagged pairs come from ONE equi-self-join of the
    spine against (day + L) fanned across the 7 lags — no per-lag
    window pass. corr() is computed by both engines from co-moment
    sums whose accumulation order differs, and the value is genuinely
    irrational — round(,6) is the float-policy tolerance exception (c),
    same as graph_assortativity.

    Scale: the fact table collapses to the O(domain) daily relation
    first; the lag fan-out is 7×O(domain) rows into one equi-join and
    one 7-group aggregate. Nothing ordered ever sees O(fact)."""
    ev = read_events(spark, sf_dir)
    purch = ev.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    # Materialized once: bounds, the spine join, and the lag fan-out
    # all consume the O(domain) daily series — checkpointing caps the
    # plan at ONE fact-table aggregate pass.
    daily = (
        purch.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("rev")
        )
        .localCheckpoint(eager=True)
    )
    bounds = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
    )
    series = spine.join(daily, "day", "left").select(
        "day", F.coalesce("rev", F.lit(0.0)).alias("rev")
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    fanned = series.crossJoin(F.broadcast(lags)).select(
        F.date_add(F.col("day"), F.col("lag")).alias("join_day"),
        "lag",
        F.col("rev").alias("rev_lagged"),
    )
    pairs = series.join(
        fanned, series.day == fanned.join_day
    ).select("lag", "rev", "rev_lagged")
    return (
        pairs.groupBy("lag")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.corr("rev", "rev_lagged"), 6).alias("acf_r"),
        )
        .orderBy("lag")
    )


register(
    "events_acf_lags",
    _acf_lags,
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rev
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
        GROUP BY 1
    ),
    bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
    spine AS (
        SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE
                   AS day
        FROM bounds
    ),
    series AS (
        SELECT s.day, COALESCE(d.rev, 0.0) AS rev
        FROM spine s LEFT JOIN daily d ON s.day = d.day
    ),
    lags AS (SELECT CAST(unnest(range(1, 8)) AS INTEGER) AS lag),
    fanned AS (
        SELECT s.day + CAST(l.lag AS INTEGER) AS join_day, l.lag,
               s.rev AS rev_lagged
        FROM series s, lags l
    )
    SELECT f.lag,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(corr(s.rev, f.rev_lagged), 6) AS acf_r
    FROM series s JOIN fanned f ON s.day = f.join_day
    GROUP BY f.lag
    """,
)


# ---------------------------------------------------------------------------
# count-min sketch frequency estimation (exact cross-engine replica)
# ---------------------------------------------------------------------------

_CM_P = 2147483647  # Mersenne prime 2^31-1
_CM_W = 256  # sketch width (buckets per hash row)
_CM_HASHES = [(131071, 8191), (524287, 2047), (6700417, 97), (999983, 523)]


def _cm_bucket(k, a: int, b: int):
    """Universal-family bucket h_{a,b}(k) = ((a·(k mod p) + b) mod p)
    mod w, p = 2^31-1. The inner mod keeps a·k inside BIGINT for any
    key; constants < 2^31 make every intermediate < 2^62."""
    return (
        (F.lit(a) * (k % F.lit(_CM_P)) + F.lit(b)) % F.lit(_CM_P)
    ) % F.lit(_CM_W)


def _countmin_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over part frequencies in ``lineitem``, probed
    for the top-10 exact heavy hitters: per key the sketch's min-over-
    rows estimate, the exact count, and the (always >= 0) overcount.

    The sketch is hand-rolled from JVM integer expressions instead of
    Spark's ``count_min_sketch`` aggregate because (a) the binary
    sketch Spark produces cannot be PROBED from SQL, and (b) an
    explicit polynomial hash is computable identically in DuckDB, so
    the estimates themselves are oracle-checked exactly — stronger
    than a bounds-contract oracle. depth=4, width=256: the classic
    eps = e/w, delta = e^-4 point estimate.

    Scale shape: the build is ONE pass — each fact row expands to 4
    (row, bucket) pairs map-side and partial-aggregates into a <= 1024
    -row sketch (the whole point: frequency state is O(w·d), not
    O(keys); the stored-sketch pattern of agg_hll_sketch_merge applied
    to frequencies). The probe side is a top-k (TakeOrdered, no global
    sort) fanned x4 and hash-joined against the tiny sketch."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("k")
    )
    rb = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"),
                    _cm_bucket(F.col("k"), a, b).alias("bucket"),
                )
                for r, (a, b) in enumerate(_CM_HASHES)
            ]
        )
    ).alias("rb")
    sketch = (
        li.select(rb)
        .select("rb.r", "rb.bucket")
        .groupBy("r", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    exact = li.groupBy("k").agg(F.count(F.lit(1)).alias("true_count"))
    cand = exact.orderBy(F.desc("true_count"), F.asc("k")).limit(10)
    probes = cand.select(
        "k",
        "true_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _cm_bucket(F.col("k"), a, b).alias("bucket"),
                    )
                    for r, (a, b) in enumerate(_CM_HASHES)
                ]
            )
        ).alias("rb"),
    ).select("k", "true_count", "rb.r", "rb.bucket")
    est = (
        probes.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("k", "true_count")
        .agg(F.min("cnt").alias("cm_estimate"))
    )
    return est.select(
        F.col("k").alias("part_key"),
        "true_count",
        "cm_estimate",
        (F.col("cm_estimate") - F.col("true_count")).alias("overcount"),
        (F.col("cm_estimate") >= F.col("true_count")).alias("est_ge_true"),
    )


register(
    "agg_countmin_sketch_estimate",
    _countmin_estimate,
    """
    WITH li AS (SELECT l_partkey AS k FROM lineitem),
    hp AS (
        SELECT * FROM (VALUES (0, 131071, 8191), (1, 524287, 2047),
                              (2, 6700417, 97), (3, 999983, 523))
            AS t(r, a, b)
    ),
    sketch AS (
        SELECT hp.r,
               ((hp.a * (li.k % 2147483647) + hp.b) % 2147483647) % 256
                   AS bucket,
               count(*) AS cnt
        FROM li, hp GROUP BY 1, 2
    ),
    exact AS (SELECT k, count(*) AS true_count FROM li GROUP BY k),
    cand AS (
        SELECT k, true_count FROM exact
        ORDER BY true_count DESC, k LIMIT 10
    ),
    probes AS (
        SELECT c.k, c.true_count, hp.r,
               ((hp.a * (c.k % 2147483647) + hp.b) % 2147483647) % 256
                   AS bucket
        FROM cand c, hp
    ),
    est AS (
        SELECT p.k, p.true_count, min(s.cnt) AS cm_estimate
        FROM probes p JOIN sketch s ON p.r = s.r AND p.bucket = s.bucket
        GROUP BY 1, 2
    )
    SELECT k AS part_key,
           CAST(true_count AS BIGINT) AS true_count,
           CAST(cm_estimate AS BIGINT) AS cm_estimate,
           CAST(cm_estimate - true_count AS BIGINT) AS overcount,
           cm_estimate >= true_count AS est_ge_true
    FROM est
    """,
)


# ---------------------------------------------------------------------------
# content-defined chunking dedup (FastCDC-style, exact substring level)
# ---------------------------------------------------------------------------

_CDC_POWS = [31**e for e in range(7, -1, -1)]  # 31^7 .. 31^0
_CDC_MOD = 32  # expected chunk length ~= 32 chars


def _cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup via content-defined chunking — the
    rsync / dedup-storage / incremental-sync primitive, and the exact
    complement to MinHash's document-level near-dup: it finds SHARED
    PASSAGES between otherwise-different documents.

    Each document is cut where the 8-gram polynomial hash
    Σ ord(c_{i+j})·31^(7-j) satisfies H % 32 == 0 — boundaries are
    CONTENT-defined, so a shared passage chunks identically regardless
    of its offset in either document (the property fixed-size blocking
    lacks; cf. FastCDC, USENIX ATC'16). Chunks are md5'd; a chunk seen
    in >= 2 DISTINCT documents is shared content. Per doc: chunk count,
    shared-chunk count, shared chars, total chars — all exact integers.

    The hashing kernel is a vectorized-numpy ``mapInPandas`` stage, a
    DELIBERATE exception to the JVM-first rule: Spark evaluates
    higher-order-function lambdas interpreted (never whole-stage
    codegen), and the multiply-referenced cut array gets inlined by
    CollapseProject into one hash re-scan PER CHUNK — the pure-
    expression form measured 150x slower than this Arrow-batched
    kernel at sf0.01. The per-row kernel is one O(n) sliding-window
    dot product (utf-32 codepoints ⊗ the power vector), so parity with
    the DuckDB oracle's integer arithmetic is exact.

    Production variants enforce min/max chunk sizes inside the same
    kernel; the unclamped cut rule keeps the oracle expressible as
    DuckDB list comprehensions.

    Scale shape: hashing/chunking is MAP-ONLY inside the scan stage,
    and the emitted stream carries (doc_id, md5, chunk_len) — 40-ish
    bytes per chunk, never text. It is checkpointed ONCE (two
    consumers; re-running the kernel would re-hash the corpus), then
    one groupBy(md5) + one broadcast-eligible join back + one
    groupBy(doc_id): two narrow shuffles over chunk-count rows
    regardless of corpus size."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )

    def chunker(batches):
        import hashlib

        import numpy as np

        pows = np.array(_CDC_POWS, dtype=np.int64)
        for pdf in batches:
            recs = {"doc_id": [], "n": [], "h": [], "len": []}
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                t = text or ""
                nn = len(t)
                starts = [1]
                if nn >= 9:
                    codes = np.frombuffer(
                        t.encode("utf-32-le"), dtype=np.uint32
                    ).astype(np.int64)
                    win = np.lib.stride_tricks.sliding_window_view(codes, 8)
                    hashes = win @ pows  # H at 0-based start index
                    cut_pos = np.nonzero(hashes % _CDC_MOD == 0)[0] + 1
                    starts += [int(i) for i in cut_pos if i >= 2]
                for ki, s in enumerate(starts):
                    e = starts[ki + 1] if ki + 1 < len(starts) else nn + 1
                    chunk = t[s - 1 : e - 1]
                    recs["doc_id"].append(doc_id)
                    recs["n"].append(nn)
                    recs["h"].append(
                        hashlib.md5(chunk.encode("utf-8")).hexdigest()
                    )
                    recs["len"].append(e - s)
            yield pd.DataFrame(recs)

    chunk_stream = docs.mapInPandas(
        chunker, "doc_id long, n long, h string, len long"
    ).localCheckpoint(eager=True)
    shared = (
        chunk_stream.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("h")
    )
    # No forced broadcast (round-15 review): `shared` is the set of
    # chunk hashes seen in >=2 docs — corpus-proportional, not bounded.
    # The threshold/AQE broadcast it while it is small; at 100 TB the
    # join correctly shuffles on the hash.
    marked = chunk_stream.join(
        shared.withColumn("_s", F.lit(1)), "h", "left"
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("_s").isNotNull(), 1).otherwise(0)).alias(
            "n_shared_chunks"
        ),
        F.sum(
            F.when(F.col("_s").isNotNull(), F.col("len")).otherwise(0)
        ).alias("shared_chars"),
        F.max("n").alias("total_chars"),
    )


register(
    "dedup_cdc_chunks",
    _cdc_chunks,
    """
    WITH d AS (
        SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n
        FROM documents
    ),
    cutl AS (
        SELECT doc_id, text, n,
               CASE WHEN n >= 9 THEN list_filter(
                   range(2, CAST(n - 6 AS BIGINT)),
                   i ->
                     (  CAST(ord(text[CAST(i AS INTEGER)]) AS BIGINT)
                          * 27512614111
                      + CAST(ord(text[CAST(i + 1 AS INTEGER)]) AS BIGINT)
                          * 887503681
                      + CAST(ord(text[CAST(i + 2 AS INTEGER)]) AS BIGINT)
                          * 28629151
                      + CAST(ord(text[CAST(i + 3 AS INTEGER)]) AS BIGINT)
                          * 923521
                      + CAST(ord(text[CAST(i + 4 AS INTEGER)]) AS BIGINT)
                          * 29791
                      + CAST(ord(text[CAST(i + 5 AS INTEGER)]) AS BIGINT)
                          * 961
                      + CAST(ord(text[CAST(i + 6 AS INTEGER)]) AS BIGINT)
                          * 31
                      + CAST(ord(text[CAST(i + 7 AS INTEGER)]) AS BIGINT)
                     ) % 32 = 0)
               ELSE [] END AS cuts
        FROM d
    ),
    st AS (
        SELECT doc_id, text, n,
               list_prepend(CAST(1 AS BIGINT), cuts) AS starts
        FROM cutl
    ),
    chunks AS (
        SELECT doc_id, n,
               unnest(list_transform(
                   range(1, CAST(len(starts) + 1 AS BIGINT)),
                   k -> struct_pack(
                       h := md5(substr(text,
                                CAST(starts[CAST(k AS INTEGER)] AS INTEGER),
                                CAST(COALESCE(
                                      starts[CAST(k + 1 AS INTEGER)], n + 1)
                                   - starts[CAST(k AS INTEGER)]
                                   AS INTEGER))),
                       l := COALESCE(starts[CAST(k + 1 AS INTEGER)], n + 1)
                            - starts[CAST(k AS INTEGER)]))) AS c
        FROM st
    ),
    stream AS (SELECT doc_id, n, c.h AS h, c.l AS len FROM chunks),
    shared AS (
        SELECT h FROM stream GROUP BY h
        HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN sh.h IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shared_chunks,
           CAST(sum(CASE WHEN sh.h IS NOT NULL THEN s.len ELSE 0 END)
                AS BIGINT) AS shared_chars,
           CAST(max(s.n) AS BIGINT) AS total_chars
    FROM stream s LEFT JOIN shared sh ON s.h = sh.h
    GROUP BY s.doc_id
    """,
)


# ---------------------------------------------------------------------------
# bitmap-aggregate exact distinct (Spark 4 bitmap functions)
# ---------------------------------------------------------------------------


def _bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct part count per ship month via Spark 4's bitmap
    aggregates: keys map to (bucket, bit position), per-(month, bucket)
    bitmaps OR the bits together map-side, and the month total is the
    sum of per-bucket popcounts. This is the two-level mergeable-
    bitmap distinct (the ClickHouse/Iceberg pattern): distinct STATE is
    compressed fixed-width bitmaps that partial-aggregate on every
    executor, never a hash set of raw keys — at 100 TB the shuffle
    carries one <=4 KB bitmap per (month, 32k-key bucket) instead of
    every distinct key occurrence, and incremental refresh can store
    the bitmaps and OR tomorrow's in (the HLL-sketch pattern of
    agg_hll_sketch_merge, but exact).

    The result is EXACT, so the oracle is a plain count(DISTINCT) —
    the strongest possible cross-engine check of the bitmap path."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.trunc("l_shipdate", "month").alias("ship_month"),
        F.col("l_partkey").alias("k"),
    )
    per_bucket = li.groupBy(
        "ship_month", F.bitmap_bucket_number("k").alias("bucket")
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("k")).alias("bm"))
    return (
        per_bucket.groupBy("ship_month")
        .agg(F.sum(F.bitmap_count("bm")).alias("n_distinct_parts"))
        .orderBy("ship_month")
    )


register(
    "agg_bitmap_distinct",
    _bitmap_distinct,
    """
    SELECT CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE)
               AS ship_month,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct_parts
    FROM lineitem
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# chi-square independence test (priority x status), integer-derived
# ---------------------------------------------------------------------------

_CHI2_CELLS_SQL = """
    obs AS (
        SELECT o_orderpriority AS pri, o_orderstatus AS st,
               count(*) AS n FROM orders GROUP BY 1, 2
    ),
    rt AS (SELECT pri, sum(n) AS row_tot FROM obs GROUP BY pri),
    ct AS (SELECT st, sum(n) AS col_tot FROM obs GROUP BY st),
    tot AS (SELECT sum(n) AS big_n FROM obs),
    cells AS (
        SELECT rt.pri, ct.st,
               CAST(COALESCE(o.n, 0) AS BIGINT) AS obs_n,
               CAST(rt.row_tot AS BIGINT) AS row_tot,
               CAST(ct.col_tot AS BIGINT) AS col_tot,
               CAST(tot.big_n AS BIGINT) AS big_n
        FROM rt CROSS JOIN ct CROSS JOIN tot
        LEFT JOIN obs o ON o.pri = rt.pri AND o.st = ct.st
    ),
    terms AS (
        SELECT pri, st, obs_n,
               CAST(row_tot * col_tot AS DOUBLE)
                   / CAST(big_n AS DOUBLE) AS expected_n,
               CAST(obs_n * big_n - row_tot * col_tot AS DOUBLE)
                 * CAST(obs_n * big_n - row_tot * col_tot AS DOUBLE)
                 / CAST(big_n AS DOUBLE)
                 / CAST(row_tot AS DOUBLE)
                 / CAST(col_tot AS DOUBLE) AS chi2_term
        FROM cells
    )
"""


def _chi2_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence scan of order priority x order status —
    the categorical complement to dq_drift_psi's numeric drift: a
    training-mixture gate asking whether two labelings are associated.

    Exactness: every cell term is derived from exact BIGINT contingency
    counts — expected = rt·ct/N and term = (obs·N - rt·ct)²/(N·rt·ct)
    are fixed chains of IEEE ops on identical integers, so both
    engines agree bit-for-bit with NO rounding policy (the diff
    obs·N - rt·ct stays < 2^53-exact through sf100). ZERO cells are
    materialized via the row-total x col-total cross (a 5x3 broadcast
    of two tiny aggregates): a missing combination contributes its
    full expected count, which a naive GROUP BY would silently drop.

    Scale: one fact pass builds the contingency table; everything
    after operates on O(categories²) rows broadcast-side."""
    orders = load_table(spark, sf_dir, "orders")
    obs = orders.groupBy(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderstatus").alias("st"),
    ).agg(F.count(F.lit(1)).alias("n"))
    obs = obs.localCheckpoint(eager=True)  # 3 consumers, one fact pass
    rt = obs.groupBy("pri").agg(F.sum("n").alias("row_tot"))
    ct = obs.groupBy("st").agg(F.sum("n").alias("col_tot"))
    tot = obs.agg(F.sum("n").alias("big_n"))
    cells = (
        rt.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(obs), ["pri", "st"], "left")
        .select(
            "pri",
            "st",
            F.coalesce("n", F.lit(0)).alias("obs_n"),
            "row_tot",
            "col_tot",
            "big_n",
        )
    )
    d = F.col("obs_n") * F.col("big_n") - F.col("row_tot") * F.col("col_tot")
    return cells.select(
        "pri",
        "st",
        "obs_n",
        (
            (F.col("row_tot") * F.col("col_tot")).cast("double")
            / F.col("big_n").cast("double")
        ).alias("expected_n"),
        (
            d.cast("double")
            * d.cast("double")
            / F.col("big_n").cast("double")
            / F.col("row_tot").cast("double")
            / F.col("col_tot").cast("double")
        ).alias("chi2_term"),
    )


register(
    "stats_chi2_cells",
    _chi2_cells,
    f"""
    WITH {_CHI2_CELLS_SQL}
    SELECT pri, st, obs_n, expected_n, chi2_term FROM terms
    """,
)


def _chi2_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chi-square STATISTIC from the same contingency cells: a sum
    of 15 doubles, which a plain aggregate would add in partition-
    nondeterministic order — so the cells are collected into a sorted
    array and left-folded (the events_ewma_fold trick), making the
    total bit-reproducible across engines AND across reruns. Degrees
    of freedom (r-1)(c-1) from exact category counts."""
    cells = _chi2_cells(spark, sf_dir)
    arr = F.array_sort(
        F.collect_list(F.struct("pri", "st", "chi2_term"))
    )
    return cells.agg(
        F.aggregate(
            arr,
            F.lit(0.0),
            lambda acc, x: acc + x["chi2_term"],
        ).alias("chi2"),
        (
            (F.count_distinct("pri") - 1) * (F.count_distinct("st") - 1)
        ).alias("dof"),
    )


register(
    "stats_chi2_total",
    _chi2_total,
    f"""
    WITH {_CHI2_CELLS_SQL}
    SELECT list_reduce(
               list_prepend(0.0, list(chi2_term ORDER BY pri, st)),
               (acc, x) -> acc + x) AS chi2,
           CAST((count(DISTINCT pri) - 1) * (count(DISTINCT st) - 1)
                AS BIGINT) AS dof
    FROM terms
    """,
)


# ---------------------------------------------------------------------------
# one-pass correlation matrix over the lineitem measures
# ---------------------------------------------------------------------------


def _corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation of every pair of the four lineitem measures
    in ONE partial-aggregable pass (six corr() aggregates share the
    same scan and shuffle) — the feature-profiling step before any
    model-based quality scoring. Correlations are genuinely irrational
    → round(,6) tolerance (float-policy exception c), as
    graph_assortativity establishes for cross-engine corr()."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = [
        ("l_quantity", "l_extendedprice", "qty_price"),
        ("l_quantity", "l_discount", "qty_disc"),
        ("l_quantity", "l_tax", "qty_tax"),
        ("l_extendedprice", "l_discount", "price_disc"),
        ("l_extendedprice", "l_tax", "price_tax"),
        ("l_discount", "l_tax", "disc_tax"),
    ]
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.round(F.corr(a, b), 6).alias(f"corr_{name}")
            for a, b, name in pairs
        ],
    )


register(
    "stats_corr_matrix",
    _corr_matrix,
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(corr(l_quantity, l_discount), 6) AS corr_qty_disc,
           round(corr(l_quantity, l_tax), 6) AS corr_qty_tax,
           round(corr(l_extendedprice, l_discount), 6) AS corr_price_disc,
           round(corr(l_extendedprice, l_tax), 6) AS corr_price_tax,
           round(corr(l_discount, l_tax), 6) AS corr_disc_tax
    FROM lineitem
    """,
)


# ---------------------------------------------------------------------------
# Kaplan-Meier survival (click -> purchase conversion), exact folds
# ---------------------------------------------------------------------------


def _km_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Kaplan-Meier estimator of time-to-conversion: for
    each user with a click, the duration (days) to their first
    subsequent purchase, right-CENSORED at the corpus horizon for
    users who never convert — the survival-analysis shape behind
    retention curves and time-to-event product questions, which naive
    "average days to convert" gets wrong by silently dropping
    non-converters.

    Per distinct duration d: events d_i, leavers c_i (events +
    censored), risk set n_i = Σ_{e>=d} c_e (a DESC-ordered window over
    the O(duration-domain) relation), factor (n_i - d_i)/n_i — an
    exact BIGINT quotient. S(d) = Π_{e<=d} factor_e is an ORDERED LEFT
    FOLD over the duration-sorted factor array (events_ewma_fold
    trick): a cumulative PRODUCT is not partial-aggregable and
    exp(sum(log)) is not bit-stable, but the fold is — both engines
    run the identical IEEE multiply sequence, so S(d) needs NO
    rounding policy.

    Scale: two user-keyed fact aggregates (clicks, conditional first
    purchase) + one broadcast 1-row horizon; everything ordered
    operates on O(distinct durations) rows — date-domain, never
    fact-sized. The packed-array fold sees one row."""
    ev = read_events(spark, sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min(F.to_date("ts")).alias("fc"))
    )
    horizon = ev.agg(F.max(F.to_date("ts")).alias("hz"))
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.to_date("ts").alias("pd")
    )
    firstp = (
        clicks.join(purch, "user_id")
        .where(F.col("pd") >= F.col("fc"))
        .groupBy("user_id")
        .agg(F.min("pd").alias("fp"))
    )
    cohort = (
        clicks.join(firstp, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(
                F.col("fp").isNotNull(), F.datediff("fp", "fc")
            )
            .otherwise(F.datediff("hz", "fc"))
            .alias("duration"),
            F.when(F.col("fp").isNotNull(), 1).otherwise(0).alias("event"),
        )
    )
    at_dur = cohort.groupBy("duration").agg(
        F.sum("event").alias("d_i"), F.count(F.lit(1)).alias("c_i")
    )
    w = Window.orderBy(F.desc("duration")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    terms = at_dur.select(
        "duration",
        "d_i",
        "c_i",
        F.sum("c_i").over(w).alias("n_i"),
    ).select(
        "duration",
        "d_i",
        "c_i",
        "n_i",
        (
            (F.col("n_i") - F.col("d_i")).cast("double")
            / F.col("n_i").cast("double")
        ).alias("term"),
    )
    packed = terms.agg(
        F.array_sort(
            F.collect_list(
                F.struct("duration", "d_i", "c_i", "n_i", "term")
            )
        ).alias("arr")
    )
    arr = F.col("arr")
    out = packed.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(arr)),
                lambda k: F.struct(
                    F.try_element_at(arr, k)["duration"].alias("duration"),
                    F.try_element_at(arr, k)["d_i"].alias("d_i"),
                    F.try_element_at(arr, k)["c_i"].alias("c_i"),
                    F.try_element_at(arr, k)["n_i"].alias("n_i"),
                    F.aggregate(
                        F.slice(arr, 1, k),
                        F.lit(1.0),
                        lambda acc, x: acc * x["term"],
                    ).alias("km_survival"),
                ),
            )
        ).alias("r")
    )
    return out.select("r.*")


register(
    "events_km_survival",
    _km_survival,
    """
    WITH clicks AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS fc
        FROM events WHERE event_type = 'click' GROUP BY user_id
    ),
    hz AS (SELECT max(CAST(ts AS DATE)) AS hz FROM events),
    firstp AS (
        SELECT c.user_id, min(CAST(p.ts AS DATE)) AS fp
        FROM clicks c
        JOIN events p ON p.user_id = c.user_id
             AND p.event_type = 'purchase'
             AND CAST(p.ts AS DATE) >= c.fc
        GROUP BY c.user_id
    ),
    cohort AS (
        SELECT CAST(CASE WHEN f.fp IS NOT NULL THEN f.fp - c.fc
                         ELSE h.hz - c.fc END AS INTEGER) AS duration,
               CASE WHEN f.fp IS NOT NULL THEN 1 ELSE 0 END AS event
        FROM clicks c LEFT JOIN firstp f USING (user_id), hz h
    ),
    at_dur AS (
        SELECT duration, CAST(sum(event) AS BIGINT) AS d_i,
               CAST(count(*) AS BIGINT) AS c_i
        FROM cohort GROUP BY duration
    ),
    risk AS (
        SELECT duration, d_i, c_i,
               CAST(sum(c_i) OVER (ORDER BY duration DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_i
        FROM at_dur
    ),
    terms AS (
        SELECT duration, d_i, c_i, n_i,
               CAST(n_i - d_i AS DOUBLE) / CAST(n_i AS DOUBLE) AS term
        FROM risk
    ),
    packed AS (
        SELECT list(struct_pack(
                   duration := duration, d_i := d_i, c_i := c_i,
                   n_i := n_i, term := term) ORDER BY duration) AS arr
        FROM terms
    ),
    unrolled AS (
        SELECT unnest(list_transform(
            range(1, CAST(len(arr) + 1 AS BIGINT)),
            k -> struct_pack(
                duration := arr[CAST(k AS INTEGER)]['duration'],
                d_i := arr[CAST(k AS INTEGER)]['d_i'],
                c_i := arr[CAST(k AS INTEGER)]['c_i'],
                n_i := arr[CAST(k AS INTEGER)]['n_i'],
                km := list_reduce(
                    list_prepend(CAST(1.0 AS DOUBLE),
                        list_transform(arr[1:CAST(k AS INTEGER)],
                                       x -> x['term'])),
                    (a, b) -> a * b)))) AS r
        FROM packed
    )
    SELECT r['duration'] AS duration, r['d_i'] AS d_i,
           r['c_i'] AS c_i, r['n_i'] AS n_i,
           r['km'] AS km_survival
    FROM unrolled
    """,
)


# ---------------------------------------------------------------------------
# Welch two-sample t-test from exact DECIMAL moments
# ---------------------------------------------------------------------------


def _welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B difference-in-means test: users split deterministically by
    user_id parity (rerun/engine-stable, unlike rand()), Welch t
    statistic on purchase values. One conditional-aggregate fact pass
    accumulates BOTH arms' (n, Σx, Σx²) in EXACT DECIMAL (2-decimal
    values: sums and squares are exact — the agg_incremental_moments
    recipe, DECIMAL(19,2) squares forcing DuckDB's int128 path), so
    mean/variance/t/dof are fixed IEEE chains over bit-identical
    scalars: no rounding policy, no summation-order hazard. The
    variance numerators n·Q - S² stay below 2^53 through sf0.1
    (values <= ~500, so Q ~ 1e9·sf·100), keeping the DECIMAL->DOUBLE
    cast exact on both engines (past that, report on a grid as
    agg_incremental_moments does).

    Scale: ONE partial-aggregable pass, 1-row result. The classic
    telemetry experiment readout at any corpus size."""
    ev = read_events(spark, sf_dir)
    p = ev.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    x = F.col("value").cast("decimal(19,2)")
    arm_a = F.col("user_id") % 2 == 0
    agg = p.agg(
        F.sum(F.when(arm_a, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(~arm_a, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(arm_a, x)).cast("decimal(18,2)").alias("s_a"),
        F.sum(F.when(~arm_a, x)).cast("decimal(18,2)").alias("s_b"),
        F.sum(F.when(arm_a, (x * x).cast("decimal(38,4)")))
        .cast("decimal(20,4)")
        .alias("q_a"),
        F.sum(F.when(~arm_a, (x * x).cast("decimal(38,4)")))
        .cast("decimal(20,4)")
        .alias("q_b"),
    )

    def var(n, s, q):
        num = (
            n.cast("decimal(10,0)") * q
            - (s * s).cast("decimal(38,4)")
        ).cast("decimal(38,4)")
        return num.cast("double") / (n * (n - F.lit(1))).cast("double")

    n_a, n_b = F.col("n_a"), F.col("n_b")
    s_a, s_b = F.col("s_a"), F.col("s_b")
    q_a, q_b = F.col("q_a"), F.col("q_b")
    with_stats = agg.select(
        n_a,
        n_b,
        (s_a.cast("double") / n_a.cast("double")).alias("mean_a"),
        (s_b.cast("double") / n_b.cast("double")).alias("mean_b"),
        var(n_a, s_a, q_a).alias("var_a"),
        var(n_b, s_b, q_b).alias("var_b"),
    )
    sea = F.col("var_a") / n_a.cast("double")
    seb = F.col("var_b") / n_b.cast("double")
    se2 = sea + seb
    return with_stats.select(
        "n_a",
        "n_b",
        "mean_a",
        "mean_b",
        "var_a",
        "var_b",
        ((F.col("mean_a") - F.col("mean_b")) / F.sqrt(se2)).alias("t_stat"),
        (
            se2
            * se2
            / (
                sea * sea / (n_a - F.lit(1)).cast("double")
                + seb * seb / (n_b - F.lit(1)).cast("double")
            )
        ).alias("welch_dof"),
    )


register(
    "stats_ab_welch_ttest",
    _welch_ttest,
    """
    WITH agg AS (
        SELECT
            CAST(count(*) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS n_a,
            CAST(count(*) FILTER (WHERE user_id % 2 <> 0) AS BIGINT) AS n_b,
            CAST(sum(CAST(value AS DECIMAL(19,2)))
                 FILTER (WHERE user_id % 2 = 0) AS DECIMAL(18,2)) AS s_a,
            CAST(sum(CAST(value AS DECIMAL(19,2)))
                 FILTER (WHERE user_id % 2 <> 0) AS DECIMAL(18,2)) AS s_b,
            CAST(sum(CAST(CAST(value AS DECIMAL(19,2))
                          * CAST(value AS DECIMAL(19,2))
                          AS DECIMAL(38,4)))
                 FILTER (WHERE user_id % 2 = 0) AS DECIMAL(20,4)) AS q_a,
            CAST(sum(CAST(CAST(value AS DECIMAL(19,2))
                          * CAST(value AS DECIMAL(19,2))
                          AS DECIMAL(38,4)))
                 FILTER (WHERE user_id % 2 <> 0) AS DECIMAL(20,4)) AS q_b
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    stats AS (
        SELECT n_a, n_b,
               CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS mean_a,
               CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mean_b,
               CAST(CAST(CAST(n_a AS DECIMAL(10,0)) * q_a
                         - CAST(s_a * s_a AS DECIMAL(38,4))
                    AS DECIMAL(38,4)) AS DOUBLE)
                   / CAST(n_a * (n_a - 1) AS DOUBLE) AS var_a,
               CAST(CAST(CAST(n_b AS DECIMAL(10,0)) * q_b
                         - CAST(s_b * s_b AS DECIMAL(38,4))
                    AS DECIMAL(38,4)) AS DOUBLE)
                   / CAST(n_b * (n_b - 1) AS DOUBLE) AS var_b
        FROM agg
    )
    SELECT n_a, n_b, mean_a, mean_b, var_a, var_b,
           (mean_a - mean_b)
               / sqrt(var_a / CAST(n_a AS DOUBLE)
                      + var_b / CAST(n_b AS DOUBLE)) AS t_stat,
           (var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE))
             * (var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE))
             / ((var_a / CAST(n_a AS DOUBLE))
                  * (var_a / CAST(n_a AS DOUBLE))
                  / CAST(n_a - 1 AS DOUBLE)
                + (var_b / CAST(n_b AS DOUBLE))
                  * (var_b / CAST(n_b AS DOUBLE))
                  / CAST(n_b - 1 AS DOUBLE)) AS welch_dof
    FROM stats
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
    load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "v_events_w15"
    )
    return spark.sql(_NAMED_WINDOW_SQL.format(events="v_events_w15"))


register(
    "sql_named_window_nulls",
    _named_window,
    _NAMED_WINDOW_SQL.format(events="events"),
)


# ---------------------------------------------------------------------------
# Holt linear-trend smoothing via ordered struct fold (forecasting)
# ---------------------------------------------------------------------------


def _holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + linear trend) over
    the daily purchase-revenue series, with a 3-day-ahead forecast —
    the trend-aware upgrade of events_ewma_fold's flat EWMA. The
    recurrence l' = α·x + (1-α)(l+b), b' = γ(l'-l) + (1-γ)b carries
    TWO accumulators, so the fold state is a STRUCT: the day-sorted
    series becomes an array of {l: x_d, b: 0} structs and the left
    fold starts from its first element — which IS the standard init
    (l₁=x₁, b₁=0) — making Spark's F.aggregate and DuckDB's
    list_reduce (no initial-value overload in 1.0) traverse the
    identical sequence. α=1/2 and γ=1/4 are exact binary fractions,
    every input is an exact-DECIMAL daily sum, so the whole recurrence
    is bit-reproducible with NO rounding policy.

    Scale: the fact table collapses to the O(date-domain) daily
    relation; the fold sees one array on one row. Per-key series would
    fold per group (the EWMA contract)."""
    ev = read_events(spark, sf_dir)
    purch = ev.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    daily = purch.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("double")
        .alias("rev")
    )
    packed = daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("day", "rev"))),
            lambda s: F.struct(
                s["rev"].alias("l"), F.lit(0.0).alias("b")
            ),
        ).alias("arr"),
    )
    a, g = F.lit(0.5), F.lit(0.25)
    one = F.lit(1.0)

    def merge(acc, x):
        new_l = a * x["l"] + (one - a) * (acc["l"] + acc["b"])
        return F.struct(
            new_l.alias("l"),
            (g * (new_l - acc["l"]) + (one - g) * acc["b"]).alias("b"),
        )

    state = F.aggregate(
        F.slice(F.col("arr"), 2, F.greatest(F.size("arr") - 1, F.lit(0))),
        F.try_element_at(F.col("arr"), F.lit(1)),
        merge,
    )
    return packed.select(
        "n_days",
        state["l"].alias("level"),
        state["b"].alias("trend"),
        (state["l"] + F.lit(1.0) * state["b"]).alias("forecast_1d"),
        (state["l"] + F.lit(2.0) * state["b"]).alias("forecast_2d"),
        (state["l"] + F.lit(3.0) * state["b"]).alias("forecast_3d"),
    )


# Oracle note: the natural DuckDB form — list_reduce with a STRUCT
# accumulator — is nondeterministic in DuckDB 1.0 (the same fold
# returned three different states depending on slicing context;
# double-typed accumulators like events_ewma_fold's are fine). The
# recurrence is therefore unrolled as a data-dependent recursive CTE,
# which matches the pure-Python replica bit-for-bit.
register(
    "events_holt_linear",
    _holt_linear,
    """
    WITH RECURSIVE daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rev
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
        GROUP BY 1
    ),
    seq AS (
        SELECT CAST(row_number() OVER (ORDER BY day) AS INTEGER) AS i,
               rev
        FROM daily
    ),
    walk(i, l, b) AS (
        SELECT 1, rev, CAST(0.0 AS DOUBLE) FROM seq WHERE i = 1
        UNION ALL
        SELECT s.i,
               CAST(0.5 AS DOUBLE) * s.rev
                   + CAST(0.5 AS DOUBLE) * (w.l + w.b),
               CAST(0.25 AS DOUBLE)
                   * (CAST(0.5 AS DOUBLE) * s.rev
                      + CAST(0.5 AS DOUBLE) * (w.l + w.b) - w.l)
                 + CAST(0.75 AS DOUBLE) * w.b
        FROM walk w JOIN seq s ON s.i = w.i + 1
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM seq) AS n_days,
           l AS level,
           b AS trend,
           l + CAST(1.0 AS DOUBLE) * b AS forecast_1d,
           l + CAST(2.0 AS DOUBLE) * b AS forecast_2d,
           l + CAST(3.0 AS DOUBLE) * b AS forecast_3d
    FROM walk WHERE i = (SELECT max(i) FROM walk)
    """,
)


# ---------------------------------------------------------------------------
# trimmed (winsorized-tail) mean per group via exact order statistics
# ---------------------------------------------------------------------------


def _trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean of order value per order status — the robust
    location estimate outlier-heavy money columns need (the mean a
    single fat-finger order can't move). Cutoffs are EXACT
    percentile_disc order statistics (both engines implement the ANSI
    smallest-cume_dist>=p rule — agg_median_percentiles probes this),
    broadcast back onto the scan as a [lo, hi] filter; kept rows
    re-aggregate in exact DECIMAL. Every compared value is an exact
    integer, an order statistic, or an exact-DECIMAL-sum quotient —
    no rounding policy.

    Scale: one pass for cutoffs (exact percentile buffers per group —
    bounded-cardinality groups; at unbounded cardinality swap in the
    histogram cutoffs of events_rfm_quantile_cutoffs), one filtered
    re-aggregate with the 3-row cutoff relation broadcast."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", F.col("o_totalprice").cast("decimal(18,2)").alias("x")
    )
    cuts = orders.groupBy("o_orderstatus").agg(
        F.expr(
            "percentile_disc(0.05) WITHIN GROUP (ORDER BY x)"
        ).alias("lo"),
        F.expr(
            "percentile_disc(0.95) WITHIN GROUP (ORDER BY x)"
        ).alias("hi"),
        F.count(F.lit(1)).alias("n_total"),
        F.sum("x").cast("decimal(38,2)").alias("s_all"),
    )
    kept = (
        orders.join(F.broadcast(cuts), "o_orderstatus")
        .where((F.col("x") >= F.col("lo")) & (F.col("x") <= F.col("hi")))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("x").cast("decimal(38,2)").alias("s_kept"),
            F.max("n_total").alias("n_total"),
            F.max("s_all").cast("decimal(18,2)").alias("s_all"),
        )
    )
    return kept.select(
        "o_orderstatus",
        "n_total",
        "n_kept",
        (F.col("s_all").cast("double") / F.col("n_total").cast("double"))
        .alias("mean_all"),
        (
            F.col("s_kept").cast("decimal(18,2)").cast("double")
            / F.col("n_kept").cast("double")
        ).alias("trimmed_mean"),
    )


register(
    "agg_trimmed_mean",
    _trimmed_mean,
    """
    WITH src AS (
        SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) AS x
        FROM orders
    ),
    cuts AS (
        SELECT o_orderstatus,
               percentile_disc(0.05) WITHIN GROUP (ORDER BY x) AS lo,
               percentile_disc(0.95) WITHIN GROUP (ORDER BY x) AS hi,
               CAST(count(*) AS BIGINT) AS n_total,
               CAST(sum(x) AS DECIMAL(18,2)) AS s_all
        FROM src GROUP BY o_orderstatus
    )
    SELECT s.o_orderstatus,
           max(c.n_total) AS n_total,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(max(c.s_all) AS DOUBLE)
               / CAST(max(c.n_total) AS DOUBLE) AS mean_all,
           CAST(CAST(sum(s.x) AS DECIMAL(18,2)) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS trimmed_mean
    FROM src s
    JOIN cuts c ON s.o_orderstatus = c.o_orderstatus
    WHERE s.x >= c.lo AND s.x <= c.hi
    GROUP BY s.o_orderstatus
    """,
)


# ---------------------------------------------------------------------------
# Gini coefficient of customer revenue per nation (exact)
# ---------------------------------------------------------------------------


def _gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration Gini per nation — the inequality measure
    behind "is this market whale-dominated?", and for corpora, "is
    this source dominated by a few documents?". Uses the sorted-rank
    identity G = Σᵢ(2i - n - 1)·xᵢ / (n·Σx): ranks come from a
    PARTITIONED window (per-nation, ordered by (revenue, custkey) — a
    total order, so ties can't flip ranks between engines and the
    identity is tie-invariant anyway since equal x contribute equal
    terms under any rank permutation). The numerator Σ(2i-n-1)·xᵢ
    accumulates in EXACT DECIMAL (integer rank factor x 2-decimal
    revenue), so the final quotient is one IEEE division of
    bit-identical operands: no rounding policy.

    Scale (round-15 review rework): one custkey aggregate (fact-sized
    shuffle); the customer-dimension join carries NO forced broadcast
    hint (the dimension is 150k·SF rows — linearly growing, the r14
    flagship class; threshold/AQE broadcast it while small, shuffle
    past that). The per-nation rank is a TWO-PHASE global ranking on
    (nation, x, custkey) — range partition + per-partition row_number +
    broadcast P-row offsets — re-based per nation by subtracting the
    nation's min global rank (a 25-row broadcast, nation-domain
    bounded). The former nation-partitioned window sorted each
    nation's whole customer population in ONE task (parallelism 25
    forever); no stage sorts more than a range partition now."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("x")
    )
    by_nation = rev.join(
        cust, rev.o_custkey == cust.c_custkey
    ).select("c_nationkey", "c_custkey", "x")
    granked = global_rank_two_phase(
        by_nation,
        [F.asc("c_nationkey"), F.asc("x"), F.asc("c_custkey")],
        rank_col="_g",
    )
    offsets = granked.groupBy(F.col("c_nationkey").alias("_nk")).agg(
        F.min("_g").alias("_g0"),
        F.count(F.lit(1)).alias("n"),
    )
    ranked = granked.join(
        F.broadcast(offsets), F.col("c_nationkey") == F.col("_nk")
    ).select(
        "c_nationkey",
        "x",
        (F.col("_g") - F.col("_g0") + F.lit(1)).alias("i"),
        "n",
    )
    terms = ranked.select(
        "c_nationkey",
        "x",
        "n",
        (
            (F.lit(2) * F.col("i") - F.col("n") - F.lit(1)).cast(
                "decimal(10,0)"
            )
            * F.col("x")
        ).cast("decimal(38,2)").alias("term"),
    )
    agg = terms.groupBy("c_nationkey").agg(
        F.max("n").alias("n_customers"),
        F.sum("x").cast("decimal(18,2)").alias("s"),
        F.sum("term").cast("decimal(38,2)").alias("num"),
    )
    return agg.select(
        "c_nationkey",
        "n_customers",
        F.col("s").cast("double").alias("total_revenue"),
        (
            F.col("num").cast("double")
            / (
                F.col("n_customers").cast("decimal(10,0)") * F.col("s")
            ).cast("double")
        ).alias("gini"),
    )


register(
    "agg_gini_revenue",
    _gini_revenue,
    """
    WITH rev AS (
        SELECT o_custkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS x
        FROM orders GROUP BY o_custkey
    ),
    by_nation AS (
        SELECT c.c_nationkey, c.c_custkey, r.x
        FROM rev r JOIN customer c ON r.o_custkey = c.c_custkey
    ),
    ranked AS (
        SELECT c_nationkey, x,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY x, c_custkey) AS i,
               count(*) OVER (PARTITION BY c_nationkey) AS n
        FROM by_nation
    ),
    agg AS (
        SELECT c_nationkey,
               CAST(max(n) AS BIGINT) AS n_customers,
               CAST(sum(x) AS DECIMAL(18,2)) AS s,
               CAST(sum(CAST(CAST(2 * i - n - 1 AS DECIMAL(10,0)) * x
                             AS DECIMAL(38,2))) AS DECIMAL(38,2)) AS num
        FROM ranked GROUP BY c_nationkey
    )
    SELECT c_nationkey, n_customers,
           CAST(s AS DOUBLE) AS total_revenue,
           CAST(num AS DOUBLE)
               / CAST(CAST(n_customers AS DECIMAL(10,0)) * s AS DOUBLE)
               AS gini
    FROM agg
    """,
)


# ---------------------------------------------------------------------------
# top event-path trigrams (funnel discovery)
# ---------------------------------------------------------------------------


def _trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-step behavioral paths (event-type trigrams per
    user, time-ordered) — the funnel-DISCOVERY complement to
    funnel_view_click_purchase's fixed funnel: it surfaces which
    3-step sequences actually dominate, ranked by exact counts with a
    total (count DESC, path ASC) tie-break.

    Scale: one user-partitioned window (two lag()s share the same
    sort), one path aggregate, and a global top-10 that plans as
    TakeOrderedAndProject — never a full sort. The (ts, event_id)
    window order is a total order, so ranks can't flip between
    engines or reruns."""
    ev = read_events(spark, sf_dir).where(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = ev.select(
        F.concat_ws(
            ">",
            F.lag("event_type", 2).over(w),
            F.lag("event_type", 1).over(w),
            F.col("event_type"),
        ).alias("path"),
        F.lag("event_type", 2).over(w).alias("_t2"),
    ).where(F.col("_t2").isNotNull())
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.desc("n_paths"), F.asc("path"))
        .limit(10)
    )


register(
    "events_trigram_paths",
    _trigram_paths,
    """
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type, 2) OVER w AS t2,
               lag(event_type, 1) OVER w AS t1
        FROM events
        WHERE user_id IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT t2 || '>' || t1 || '>' || event_type AS path,
           CAST(count(*) AS BIGINT) AS n_paths
    FROM seq WHERE t2 IS NOT NULL
    GROUP BY 1
    ORDER BY n_paths DESC, path ASC
    LIMIT 10
    """,
)


# ---------------------------------------------------------------------------
# maximum drawdown of the daily revenue series (exact)
# ---------------------------------------------------------------------------


def _max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-peak drawdown of daily purchase revenue — the
    worst-decline-from-peak measure (finance's max drawdown, ops'
    worst regression-from-best). Peak is a running MAX window (an
    exact pick, no arithmetic), drawdown = rev/peak - 1 is a fixed
    IEEE chain on exact-DECIMAL-derived doubles, and the deepest day
    is flagged via a broadcast 1-row minimum — every compared value
    either exact or an identical-operand IEEE result: no rounding.

    Scale: the fact table collapses to the O(date-domain) daily
    relation first (the rolling-median argument); the ordered window
    and the 1-row broadcast both operate on date-domain rows."""
    ev = read_events(spark, sf_dir)
    purch = ev.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    daily = (
        purch.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("rev")
        )
        .localCheckpoint(eager=True)  # window + min consumer, 1 fact pass
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    with_dd = daily.select(
        "day",
        "rev",
        F.max("rev").over(w).alias("peak"),
    ).select(
        "day",
        "rev",
        "peak",
        (F.col("rev") / F.col("peak") - F.lit(1.0)).alias("drawdown"),
    )
    worst = with_dd.agg(F.min("drawdown").alias("worst"))
    return with_dd.crossJoin(F.broadcast(worst)).select(
        "day",
        "rev",
        "peak",
        "drawdown",
        (F.col("drawdown") == F.col("worst")).alias("is_max_drawdown"),
    )


register(
    "events_max_drawdown",
    _max_drawdown,
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rev
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
        GROUP BY 1
    ),
    dd AS (
        SELECT day, rev,
               max(rev) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS peak
        FROM daily
    ),
    dd2 AS (
        SELECT day, rev, peak, rev / peak - 1.0 AS drawdown FROM dd
    )
    SELECT day, rev, peak, drawdown,
           drawdown = (SELECT min(drawdown) FROM dd2) AS is_max_drawdown
    FROM dd2
    """,
)


# ---------------------------------------------------------------------------
# quality-gate quarantine routing (expectations with reasons)
# ---------------------------------------------------------------------------


_QUARANTINE_SQL = """
    SELECT event_id, event_type, user_id,
           concat_ws(',',
               CASE WHEN event_type = 'purchase' AND value > 400.0
                    THEN 'purchase_over_cap' END,
               CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER)
                         >= 95
                    THEN 'props_k_out_of_range' END,
               CASE WHEN hour(ts) < 2 OR hour(ts) >= 23
                    THEN 'outside_sla_hours' END) AS reasons
    FROM events
    WHERE (event_type = 'purchase' AND value > 400.0)
       OR CAST(json_extract_string(props, '$.k') AS INTEGER) >= 95
       OR hour(ts) < 2 OR hour(ts) >= 23
"""


def quarantine_route(ev: DataFrame) -> DataFrame:
    """Apply the declarative quarantine rule set to an events relation
    (batch OR streaming — the expressions are stateless row maps, so
    the same code serves both): rows failing ANY rule, with a
    deterministically-ordered (rule-declaration order) reason
    string."""
    k = F.get_json_object("props", "$.k").cast("int")
    rules = [
        (
            "purchase_over_cap",
            (F.col("event_type") == "purchase") & (F.col("value") > 400.0),
        ),
        ("props_k_out_of_range", k >= 95),
        (
            "outside_sla_hours",
            (F.hour("ts") < 2) | (F.hour("ts") >= 23),
        ),
    ]
    reasons = F.concat_ws(
        ",",
        F.filter(
            F.array(
                *[
                    F.when(cond, F.lit(name)).otherwise(F.lit(None))
                    for name, cond in rules
                ]
            ),
            lambda x: x.isNotNull(),
        ),
    )
    return (
        ev.select(
            "event_id",
            "event_type",
            "user_id",
            reasons.alias("reasons"),
        )
        .where(F.col("reasons") != "")
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
    return quarantine_route(read_events(spark, sf_dir))


register(
    "dq_quarantine_split",
    _quarantine_split,
    _QUARANTINE_SQL,
)


def _stream_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming expectations routing: the SAME quarantine rule set as
    dq_quarantine_split evaluated over a file stream consumed 2 files
    per trigger (6 feed files → 3 micro-batches), append mode. The
    rules are stateless row maps, so the final quarantine table is
    batch-equal regardless of micro-batch boundaries — which is why
    this streaming query carries the FULL batch oracle (the
    stream_binary_files determinism argument). This is the live half
    of the DLT-expectations pattern: bad rows divert to a quarantine
    sink as they ARRIVE, instead of being found by tomorrow's audit."""
    import tempfile

    work = tempfile.mkdtemp(prefix="quarantine_stream_")
    src = f"{work}/feed"
    ev = read_events(spark, sf_dir)
    ev.repartition(6).write.parquet(src)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    from orchestrated_etl_spark.streaming.events_stream import (
        run_available_now,
    )

    return run_available_now(quarantine_route(stream), output_mode="append")


register(
    "stream_quarantine_split",
    _stream_quarantine_split,
    _QUARANTINE_SQL,
)


# ---------------------------------------------------------------------------
# label-centroid cosine similarity matrix
# ---------------------------------------------------------------------------


def _label_centroid_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding
    centroids — the class-confusability / cluster-quality readout
    (labels whose centroids nearly coincide are candidates for
    merging; for corpora, sources whose centroid similarity is high
    carry redundant content). Centroids are per-(label, dim) means
    from ONE posexplode pass; the pair join is dim-keyed over the
    K·d-sized centroid relation, never the corpus. Mean/dot/norm
    summation order differs between engines, and cosines are
    genuinely irrational → round(,6) tolerance (float-policy
    exception c).

    Scale: corpus-sized work is the single explode+aggregate; the
    K²·d pair stage is centroid-sized (K labels, d dims). The exact
    same shape serves source-vs-source redundancy at any corpus
    size."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.avg("v").alias("c"))
        .localCheckpoint(eager=True)  # feeds norms AND the pair join
    )
    norms = cent.groupBy("label").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "dim", F.col("c").alias("ca")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "dim", F.col("c").alias("cb")
    )
    dots = (
        a.join(b, "dim")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    na = norms.select(
        F.col("label").alias("label_a"), F.col("nrm").alias("na")
    )
    nb = norms.select(
        F.col("label").alias("label_b"), F.col("nrm").alias("nb")
    )
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            "label_a",
            "label_b",
            F.round(
                F.col("dot") / (F.col("na") * F.col("nb")), 6
            ).alias("cos_sim"),
        )
    )


register(
    "sim_label_centroid_matrix",
    _label_centroid_matrix,
    """
    WITH cent AS (
        SELECT label, CAST(t.i - 1 AS INTEGER) AS dim,
               avg(embedding[CAST(t.i AS INTEGER)]) AS c
        FROM embeddings, range(1, 4097) AS t(i)
        WHERE t.i <= len(embedding)
        GROUP BY 1, 2
    ),
    norms AS (
        SELECT label, sqrt(sum(c * c)) AS nrm FROM cent GROUP BY label
    ),
    dots AS (
        SELECT a.label AS label_a, b.label AS label_b,
               sum(a.c * b.c) AS dot
        FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
        GROUP BY 1, 2
    )
    SELECT d.label_a, d.label_b,
           round(d.dot / (na.nrm * nb.nrm), 6) AS cos_sim
    FROM dots d
    JOIN norms na ON d.label_a = na.label
    JOIN norms nb ON d.label_b = nb.label
    """,
)


# ---------------------------------------------------------------------------
# SCD2 point-in-time join (as-of dimension attribution)
# ---------------------------------------------------------------------------


def _scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against a versioned (SCD2) dimension: each
    order joins the customer-segment version VALID AT ITS ORDER DATE —
    the consumption side of sink_scd2_history (scale_ops.py), and the
    correctness difference between "revenue by segment today" and
    "revenue by the segment the customer was in when they ordered"
    (the error class behind most dashboard restatements).

    The history is the same deterministic two-version construction as
    sink_scd2_history (every 10th customer moves to MACHINERY on
    1996-06-01). The join is an EQUI-join on custkey with the validity
    predicate as a post-filter — at most #versions rows per key (2
    here), so there is no range-join blow-up and no binning needed;
    per-key version counts are what keep SCD2 joins tractable at any
    scale. Revenue accumulates in exact DECIMAL.

    Scale: dimension versions are dimension-sized — linearly growing,
    so the join carries NO forced broadcast hint (round-15 review; a
    hint never falls back past the threshold): threshold/AQE broadcast
    the small fixture history, shuffle-hash takes over at scale; the
    fact table shuffles once on the join key at most."""
    eff = F.to_date(F.lit("1996-06-01"))
    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    changed = base.where(F.col("c_custkey") % 10 == 0) \
        .where(F.col("c_mktsegment") != "MACHINERY")
    v1 = base.select(
        "c_custkey",
        "c_mktsegment",
        F.to_date(F.lit("1992-01-01")).alias("valid_from"),
        F.when(
            (F.col("c_custkey") % 10 == 0)
            & (F.col("c_mktsegment") != "MACHINERY"),
            eff,
        ).alias("valid_to"),
    )
    v2 = changed.select(
        "c_custkey",
        F.lit("MACHINERY").alias("c_mktsegment"),
        eff.alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    dim = v1.unionByName(v2)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("od"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    joined = orders.join(
        dim, orders.o_custkey == dim.c_custkey
    ).where(
        (F.col("od") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("od") < F.col("valid_to")))
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("price").cast("decimal(18,2)").cast("double").alias("revenue"),
    )


register(
    "join_scd2_point_in_time",
    _scd2_point_in_time,
    """
    WITH base AS (SELECT c_custkey, c_mktsegment FROM customer),
    dim AS (
        SELECT c_custkey, c_mktsegment,
               DATE '1992-01-01' AS valid_from,
               CASE WHEN c_custkey % 10 = 0
                         AND c_mktsegment <> 'MACHINERY'
                    THEN DATE '1996-06-01' END AS valid_to
        FROM base
        UNION ALL
        SELECT c_custkey, 'MACHINERY', DATE '1996-06-01', NULL
        FROM base
        WHERE c_custkey % 10 = 0 AND c_mktsegment <> 'MACHINERY'
    )
    SELECT d.c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)))
                     AS DECIMAL(18,2)) AS DOUBLE) AS revenue
    FROM orders o
    JOIN dim d ON o.o_custkey = d.c_custkey
    WHERE CAST(o.o_orderdate AS DATE) >= d.valid_from
      AND (d.valid_to IS NULL
           OR CAST(o.o_orderdate AS DATE) < d.valid_to)
    GROUP BY d.c_mktsegment
    """,
)


# ---------------------------------------------------------------------------
# dataset card (per-source corpus profile for dataset publishing)
# ---------------------------------------------------------------------------


def _dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card — the publish-time summary a dataset
    release ships (HuggingFace dataset-card statistics section): doc
    counts, size, language spread, length distribution (exact
    percentile_disc order statistics), and a whitespace token
    estimate, all from ONE grouped pass over the corpus. Every value
    is an exact integer, an order statistic, or an exact-integer-sum
    quotient — no rounding policy.

    Scale: one partial-aggregable groupBy(source); the exact
    percentile buffers one source's lengths (bounded by per-source doc
    counts; swap in histogram cutoffs past that)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        "lang",
        F.length("text").alias("n_chars_m"),
        (F.size(F.split(F.col("text"), r"\s+"))).alias("n_tokens_ws"),
    )
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum("n_chars_m").alias("total_chars"),
        F.sum("n_tokens_ws").alias("total_tokens_ws"),
        F.min("n_chars_m").alias("min_chars"),
        F.expr(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars_m)"
            " AS BIGINT)"
        ).alias("p50_chars"),
        F.max("n_chars_m").alias("max_chars"),
        (
            F.sum("n_chars_m").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_chars"),
    )


register(
    "train_dataset_card",
    _dataset_card,
    """
    WITH src AS (
        SELECT source, lang,
               CAST(length(text) AS BIGINT) AS n_chars_m,
               CAST(len(regexp_split_to_array(text, '\\s+')) AS BIGINT)
                   AS n_tokens_ws
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum(n_chars_m) AS BIGINT) AS total_chars,
           CAST(sum(n_tokens_ws) AS BIGINT) AS total_tokens_ws,
           CAST(min(n_chars_m) AS BIGINT) AS min_chars,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars_m)
                AS BIGINT) AS p50_chars,
           CAST(max(n_chars_m) AS BIGINT) AS max_chars,
           CAST(sum(n_chars_m) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               AS avg_chars
    FROM src
    GROUP BY source
    """,
)


# ---------------------------------------------------------------------------
# one distributed BPE merge step (tokenizer training primitive)
# ---------------------------------------------------------------------------


def _bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE iteration of byte-pair-encoding tokenizer training,
    distributed: count every adjacent character pair across the
    whitespace-pre-tokenized corpus, pick the argmax merge (count
    DESC, pair ASC — a total order, so the winner is engine- and
    rerun-stable), and report its blast radius (distinct words
    containing it). Looping this step IS BPE training; one step keeps
    the relation oracle-able while exercising the full plan shape:
    corpus explode → pair explode → count → 1-row argmax broadcast →
    membership re-probe. Pair occurrences are positional (overlaps
    count — "aaa" contributes "aa" twice), identical arithmetic on
    both engines.

    Scale: two map-side explodes feeding one partial-aggregable
    count; the argmax is a 1-row TakeOrdered broadcast back onto the
    word relation (plan_audit SCALAR_BROADCAST_OK). Real BPE training
    runs this loop on the WORD-FREQUENCY table (words pre-aggregated
    with counts — corpus-sized work once, vocabulary-sized work per
    merge), which is exactly the staged shape here: `words` is the
    distinct-word relation with frequencies."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.lower("text"), r"\s+")).alias("w")
        )
        .where(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .localCheckpoint(eager=True)  # pair count + re-probe, one pass
    )
    pairs = words.select(
        "freq",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
    )
    counts = pairs.groupBy("pair").agg(
        F.sum("freq").alias("n_occurrences")
    )
    best = counts.orderBy(
        F.desc("n_occurrences"), F.asc("pair")
    ).limit(1)
    probe = words.crossJoin(F.broadcast(best)).where(
        F.col("w").contains(F.col("pair"))
    )
    return probe.agg(
        F.max("pair").alias("merge_pair"),
        F.max("n_occurrences").alias("n_occurrences"),
        F.count(F.lit(1)).alias("n_distinct_words_affected"),
        F.sum("freq").alias("n_word_instances_affected"),
    )


register(
    "train_bpe_merge_step",
    _bpe_merge_step,
    """
    WITH words AS (
        SELECT w, CAST(count(*) AS BIGINT) AS freq
        FROM (
            SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
            FROM documents
        )
        WHERE length(w) >= 2
        GROUP BY w
    ),
    pairs AS (
        SELECT freq, substr(w, CAST(i AS INTEGER), 2) AS pair
        FROM words, range(1, 4096) AS t(i)
        WHERE i <= length(w) - 1
    ),
    counts AS (
        SELECT pair, CAST(sum(freq) AS BIGINT) AS n_occurrences
        FROM pairs GROUP BY pair
    ),
    best AS (
        SELECT pair, n_occurrences FROM counts
        ORDER BY n_occurrences DESC, pair ASC LIMIT 1
    )
    SELECT max(b.pair) AS merge_pair,
           max(b.n_occurrences) AS n_occurrences,
           CAST(count(*) AS BIGINT) AS n_distinct_words_affected,
           CAST(sum(w.freq) AS BIGINT) AS n_word_instances_affected
    FROM words w, best b
    WHERE contains(w.w, b.pair)
    """,
)


# ---------------------------------------------------------------------------
# behavioral anomaly heuristics (bot detection from event cadence)
# ---------------------------------------------------------------------------


def _bot_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-cadence anomaly profile — the abuse-filtering /
    traffic-quality stage of a telemetry pipeline: inter-arrival-time
    order statistics (exact percentile_disc on BIGINT microseconds)
    plus the max burst (events inside any trailing 60 s window, an
    exact RANGE-frame count over a microsecond offset key). The offset
    key is timestampdiff(MICROSECOND) from a fixed NTZ anchor —
    wall-clock arithmetic, immune to session timezone, and at
    microsecond granularity DuckDB's epoch_us difference computes the
    identical BIGINT. Every output is an exact integer or boolean:
    no rounding policy.

    Scale: one user-partitioned sort shared by the lag and the RANGE
    window, one grouped aggregate. The flag threshold (>= 2 events in
    60 s) is where this fixture's organic traffic thins out; real
    deployments tune it per surface.

    The lag window orders by (us, event_id) — a TOTAL order (round-15
    review): on bare `us`, two same-microsecond events for one user
    would make the inter-arrival multiset tie-ORDER-dependent and the
    engines could legally disagree; the current fixture has no per-user
    microsecond ties, but a regenerated one may. The RANGE burst frame
    keys on `us` alone by construction (range frames include all ties
    regardless of sort position)."""
    ev = read_events(spark, sf_dir).where(F.col("user_id").isNotNull())
    us = F.expr(
        "timestampdiff(MICROSECOND,"
        " TIMESTAMP_NTZ '2024-01-01 00:00:00', ts)"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    wr = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-59_999_999, Window.currentRow)
    )
    seq = ev.select("user_id", "event_id", us.alias("us")).select(
        "user_id",
        "us",
        (F.col("us") - F.lag("us").over(w)).alias("iat_us"),
        F.count(F.lit(1)).over(wr).alias("burst_60s"),
    )
    return seq.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("iat_us").alias("min_iat_us"),
        F.expr(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY iat_us)"
            " AS BIGINT)"
        ).alias("p50_iat_us"),
        F.max("burst_60s").alias("max_burst_60s"),
        (F.max("burst_60s") >= F.lit(2)).alias("is_burst_anomaly"),
    )


register(
    "events_bot_cadence",
    _bot_cadence,
    """
    WITH seq AS (
        SELECT user_id, event_id,
               epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00')
                   AS us
        FROM events WHERE user_id IS NOT NULL
    ),
    iat AS (
        SELECT user_id, us,
               us - lag(us) OVER (PARTITION BY user_id
                                  ORDER BY us, event_id)
                   AS iat_us,
               CAST(count(*) OVER (PARTITION BY user_id ORDER BY us
                   RANGE BETWEEN 59999999 PRECEDING AND CURRENT ROW)
               AS BIGINT) AS burst_60s
        FROM seq
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           min(iat_us) AS min_iat_us,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY iat_us)
                AS BIGINT) AS p50_iat_us,
           max(burst_60s) AS max_burst_60s,
           max(burst_60s) >= 2 AS is_burst_anomaly
    FROM iat
    GROUP BY user_id
    """,
)


# ---------------------------------------------------------------------------
# stored-sketch incremental maintenance: count-min merge, bitmap rollup
# ---------------------------------------------------------------------------


def _countmin_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental count-min maintenance: per-MONTH sketches (the
    relation a nightly job stores) merged at query time by summing
    cells — count-min is LINEAR, so the merged sketch is cell-for-cell
    IDENTICAL to a from-scratch global sketch, and the estimates this
    query emits are bit-equal to agg_countmin_sketch_estimate's while
    touching only O(months x 1024) stored rows at query time. The
    frequency twin of agg_hll_sketch_merge (approximate distinct) and
    agg_incremental_moments (exact moments): nightly cost O(batch),
    query cost O(partials), never O(history re-scan).

    The oracle recomputes the same arithmetic globally — equality
    PROVES the merge identity cross-engine."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.trunc("l_shipdate", "month").alias("m"),
        F.col("l_partkey").alias("k"),
    )
    rb = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).alias("r"),
                    _cm_bucket(F.col("k"), a, b).alias("bucket"),
                )
                for r, (a, b) in enumerate(_CM_HASHES)
            ]
        )
    ).alias("rb")
    monthly = (
        li.select("m", rb)
        .select("m", "rb.r", "rb.bucket")
        .groupBy("m", "r", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)  # the "stored" per-month partials
    )
    merged = monthly.groupBy("r", "bucket").agg(
        F.sum("cnt").alias("cnt"), F.count(F.lit(1)).alias("n_partials")
    )
    exact = li.groupBy("k").agg(F.count(F.lit(1)).alias("true_count"))
    cand = exact.orderBy(F.desc("true_count"), F.asc("k")).limit(10)
    probes = cand.select(
        "k",
        "true_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _cm_bucket(F.col("k"), a, b).alias("bucket"),
                    )
                    for r, (a, b) in enumerate(_CM_HASHES)
                ]
            )
        ).alias("rb"),
    ).select("k", "true_count", "rb.r", "rb.bucket")
    est = (
        probes.join(F.broadcast(merged), ["r", "bucket"])
        .groupBy("k", "true_count")
        .agg(
            F.min("cnt").alias("cm_estimate"),
            F.max("n_partials").alias("n_partials_merged"),
        )
    )
    return est.select(
        F.col("k").alias("part_key"),
        "true_count",
        "cm_estimate",
        "n_partials_merged",
        (F.col("cm_estimate") >= F.col("true_count")).alias("est_ge_true"),
    )


register(
    "agg_countmin_merge_incremental",
    _countmin_merge,
    """
    WITH li AS (
        SELECT CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE)
                   AS m,
               l_partkey AS k
        FROM lineitem
    ),
    hp AS (
        SELECT * FROM (VALUES (0, 131071, 8191), (1, 524287, 2047),
                              (2, 6700417, 97), (3, 999983, 523))
            AS t(r, a, b)
    ),
    monthly AS (
        SELECT li.m, hp.r,
               ((hp.a * (li.k % 2147483647) + hp.b) % 2147483647) % 256
                   AS bucket,
               count(*) AS cnt
        FROM li, hp GROUP BY 1, 2, 3
    ),
    merged AS (
        SELECT r, bucket, sum(cnt) AS cnt, count(*) AS n_partials
        FROM monthly GROUP BY r, bucket
    ),
    exact AS (SELECT k, count(*) AS true_count FROM li GROUP BY k),
    cand AS (
        SELECT k, true_count FROM exact
        ORDER BY true_count DESC, k LIMIT 10
    ),
    probes AS (
        SELECT c.k, c.true_count, hp.r,
               ((hp.a * (c.k % 2147483647) + hp.b) % 2147483647) % 256
                   AS bucket
        FROM cand c, hp
    )
    SELECT p.k AS part_key,
           CAST(p.true_count AS BIGINT) AS true_count,
           CAST(min(m.cnt) AS BIGINT) AS cm_estimate,
           CAST(max(m.n_partials) AS BIGINT) AS n_partials_merged,
           min(m.cnt) >= p.true_count AS est_ge_true
    FROM probes p JOIN merged m ON p.r = m.r AND p.bucket = m.bucket
    GROUP BY p.k, p.true_count
    """,
)


def _bitmap_rollup_quarters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct-part counts per QUARTER from stored per-MONTH
    bitmaps OR-merged at query time (``bitmap_or_agg``) — bitmaps are
    the exact mergeable distinct state (union = bitwise OR), so the
    quarterly rollup never re-scans raw data AND never approximates:
    the exact counterpart of agg_hll_sketch_merge's HLL path, and the
    coarser-grain consumption side of agg_bitmap_distinct's monthly
    store. Oracle = plain count(DISTINCT) per quarter: equality proves
    the OR-merge identity."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.trunc("l_shipdate", "month").alias("m"),
        F.col("l_partkey").alias("k"),
    )
    monthly = (
        li.groupBy(
            "m", F.bitmap_bucket_number("k").alias("bucket")
        )
        .agg(F.bitmap_construct_agg(F.bitmap_bit_position("k")).alias("bm"))
        .localCheckpoint(eager=True)  # the "stored" per-month bitmaps
    )
    quarterly = monthly.groupBy(
        F.trunc("m", "quarter").alias("ship_quarter"), "bucket"
    ).agg(F.bitmap_or_agg("bm").alias("bm"))
    return (
        quarterly.groupBy("ship_quarter")
        .agg(F.sum(F.bitmap_count("bm")).alias("n_distinct_parts"))
        .orderBy("ship_quarter")
    )


register(
    "agg_bitmap_rollup_quarters",
    _bitmap_rollup_quarters,
    """
    SELECT CAST(date_trunc('quarter', CAST(l_shipdate AS DATE)) AS DATE)
               AS ship_quarter,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct_parts
    FROM lineitem
    GROUP BY 1
    """,
)


# ---------------------------------------------------------------------------
# whole-document bin packing (next-fit-decreasing, no doc splitting)
# ---------------------------------------------------------------------------

_NFD_CAP = 512  # context-window token budget per bin


def _pack_nfd_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document context-window packing per source via NEXT-FIT-
    DECREASING: documents sorted by (tokens DESC, doc_id), each either
    joins the currently-open bin or opens a new one — the packing
    variant where documents are NEVER split across windows (the
    complement of train_token_packing's prefix-sum splitter, which is
    optimal for token throughput but slices documents). Emitted per
    source: bins used vs the ceil(total/cap) lower bound and the fill
    efficiency — the packing-quality readout a data-loader build
    reports.

    The fold carries a (bins, last_load) STRUCT accumulator over the
    sorted token array — sequential by nature (bin state depends on
    every prior document). Seeded with last_load = cap so the first
    document provably opens bin 1. All outputs are exact integers or
    quotients of exact integers; the oracle unrolls the same
    recurrence as a recursive CTE (the DuckDB struct-fold hazard
    events_holt_linear documents).

    Scale honesty (round-16 review — the old text claimed the
    per-source array was "shard-bounded"; a source is a crawl dump,
    i.e. O(corpus/#sources), NOT bounded like events_ewma_fold's
    per-user arrays): exact NFD over a whole source is inherently
    sequential, so this exact form buffers one source per aggregate
    group and is only safe up to sources that fit an executor. The
    100 TB path keeps the SAME code shape but packs per
    (source, hash(doc_id) % n_shards) — each shard's fold is bounded
    by construction and the packing quality loss is at most one
    partially-filled bin per shard (amortised to nothing at
    shard ≫ cap), with per-source metrics recovered by summing shard
    rows. The oracle pins the exact per-source form at fixture
    scale."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("t"),
    )
    packed = toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("t").alias("total_tokens"),
        F.array_sort(
            F.collect_list(F.struct((-F.col("t")).alias("neg"),
                                    F.col("doc_id").alias("d"),
                                    F.col("t").alias("t")))
        ).alias("arr"),
    )
    cap = F.lit(_NFD_CAP).cast("long")
    state = F.aggregate(
        F.col("arr"),
        F.struct(
            F.lit(0).cast("long").alias("bins"),
            cap.alias("last"),
        ),
        lambda acc, x: F.struct(
            F.when(acc["last"] + x["t"] <= cap, acc["bins"])
            .otherwise(acc["bins"] + 1)
            .alias("bins"),
            F.when(acc["last"] + x["t"] <= cap, acc["last"] + x["t"])
            .otherwise(x["t"])
            .alias("last"),
        ),
    )
    lower = F.ceil(
        F.col("total_tokens").cast("double") / cap.cast("double")
    ).cast("long")
    return packed.select(
        "source",
        "n_docs",
        "total_tokens",
        state["bins"].alias("bins_used"),
        lower.alias("bins_lower_bound"),
        (
            F.col("total_tokens").cast("double")
            / (state["bins"] * cap).cast("double")
        ).alias("fill_efficiency"),
    )


register(
    "train_pack_nfd_bins",
    _pack_nfd_bins,
    f"""
    WITH RECURSIVE toks AS (
        SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS t
        FROM documents
    ),
    seq AS (
        SELECT source, t,
               CAST(row_number() OVER (PARTITION BY source
                   ORDER BY t DESC, doc_id) AS INTEGER) AS i
        FROM toks
    ),
    walk(source, i, bins, last) AS (
        SELECT source, 1, CAST(1 AS BIGINT), t FROM seq WHERE i = 1
        UNION ALL
        SELECT s.source, s.i,
               CASE WHEN w.last + s.t <= {_NFD_CAP} THEN w.bins
                    ELSE w.bins + 1 END,
               CASE WHEN w.last + s.t <= {_NFD_CAP} THEN w.last + s.t
                    ELSE s.t END
        FROM walk w JOIN seq s ON s.source = w.source AND s.i = w.i + 1
    ),
    final AS (
        SELECT source, bins
        FROM walk w
        WHERE i = (SELECT max(i) FROM walk x WHERE x.source = w.source)
    ),
    totals AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(t) AS BIGINT) AS total_tokens
        FROM toks GROUP BY source
    )
    SELECT t.source, t.n_docs, t.total_tokens,
           f.bins AS bins_used,
           CAST(ceil(CAST(t.total_tokens AS DOUBLE)
                     / CAST({_NFD_CAP} AS DOUBLE)) AS BIGINT)
               AS bins_lower_bound,
           CAST(t.total_tokens AS DOUBLE)
               / CAST(f.bins * {_NFD_CAP} AS DOUBLE) AS fill_efficiency
    FROM totals t JOIN final f ON t.source = f.source
    """,
)


# ---------------------------------------------------------------------------
# market-basket association lift (top pairs)
# ---------------------------------------------------------------------------


def _basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over co-purchased parts: for the
    weight>=2 co-occurrence pairs, support w/N, directional
    confidences w/c_a and w/c_b, and lift = w·N / (c_a·c_b) — the
    related-products recommendation scorer that corrects raw
    co-occurrence for item popularity (lift > 1 = genuinely
    associated). Every statistic is a fixed IEEE quotient of exact
    BIGINTs (pair count w, per-part order counts c_x, order count N):
    bit-identical cross-engine, no rounding. Top-20 by (lift DESC,
    pair ASC) — a total order, rank-stable.

    Scale: pair counts come from the once-per-session co-purchase
    edge store (functions/graph.py derivation — never a self-join);
    per-part counts are one fact aggregate joined onto the edge-sized
    relation WITHOUT a forced broadcast hint (round-15 review: the
    part domain is 200k·SF — linearly growing; threshold/AQE broadcast
    it while small, shuffle past that); N is a 1-row broadcast
    (plan_audit SCALAR_BROADCAST_OK). Output is a TakeOrdered top-k,
    never a global sort."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = li.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    per_part = li.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).alias("c")
    )
    edges = cached_edges(spark, sf_dir, min_weight=2)
    ca = per_part.select(F.col("p").alias("part_a"), F.col("c").alias("c_a"))
    cb = per_part.select(F.col("p").alias("part_b"), F.col("c").alias("c_b"))
    scored = (
        edges.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            F.col("weight").alias("w"),
            "c_a",
            "c_b",
            (
                (F.col("weight") * F.col("n_orders")).cast("double")
                / (F.col("c_a") * F.col("c_b")).cast("double")
            ).alias("lift"),
            (
                F.col("weight").cast("double")
                / F.col("n_orders").cast("double")
            ).alias("support"),
            (
                F.col("weight").cast("double") / F.col("c_a").cast("double")
            ).alias("conf_a_to_b"),
        )
    )
    return scored.orderBy(
        F.desc("lift"), F.asc("part_a"), F.asc("part_b")
    ).limit(20)


register(
    "orders_basket_lift",
    _basket_lift,
    f"""
    WITH {_EDGE_CTE},
    ew AS (SELECT part_a, part_b, weight FROM e WHERE weight >= 2),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem),
    per_part AS (
        SELECT l_partkey AS p, count(*) AS c
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        GROUP BY 1
    )
    SELECT ew.part_a, ew.part_b,
           CAST(ew.weight AS BIGINT) AS w,
           CAST(a.c AS BIGINT) AS c_a,
           CAST(b.c AS BIGINT) AS c_b,
           CAST(ew.weight * n.n_orders AS DOUBLE)
               / CAST(a.c * b.c AS DOUBLE) AS lift,
           CAST(ew.weight AS DOUBLE) / CAST(n.n_orders AS DOUBLE)
               AS support,
           CAST(ew.weight AS DOUBLE) / CAST(a.c AS DOUBLE)
               AS conf_a_to_b
    FROM ew
    JOIN per_part a ON ew.part_a = a.p
    JOIN per_part b ON ew.part_b = b.p, n
    ORDER BY lift DESC, ew.part_a ASC, ew.part_b ASC
    LIMIT 20
    """,
)


# ---------------------------------------------------------------------------
# cohort lifetime value (cumulative revenue by cohort age)
# ---------------------------------------------------------------------------


def _cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV: users grouped by first-active month, purchase
    revenue accumulated by cohort AGE in weeks — the
    revenue-over-lifetime companion to events_retention_cohorts'
    activity counts (the curve a growth team reads payback periods
    off). Week age is pure integer day arithmetic from a fixed anchor
    (no months_between floats, no timezone exposure);
    revenue sums in exact DECIMAL; the cumulative curve is an ordered
    window over the O(cohorts x ages) relation. Everything compared
    is an exact integer or exact-DECIMAL-derived double.

    Scale: one user aggregate (first activity), one broadcast-back
    join, one grouped aggregate; the only ordered window runs over
    the month-domain rollup, never the fact table."""
    ev = read_events(spark, sf_dir).where(F.col("user_id").isNotNull())
    # integer WEEK index from a fixed anchor: exact, timezone-free, and
    # fine-grained enough that a month-long fixture still yields a
    # cohort x age grid (months would collapse it to one cell)
    week_idx = F.floor(
        F.datediff(F.to_date("ts"), F.to_date(F.lit("2024-01-01")))
        / F.lit(7)
    ).cast("long")
    cohorts = ev.groupBy("user_id").agg(
        F.min(week_idx).alias("cohort_idx")
    )
    purch = ev.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        "user_id",
        week_idx.alias("m_idx"),
        F.col("value").cast("decimal(18,2)").alias("v"),
    )
    cells = (
        purch.join(cohorts, "user_id")
        .groupBy(
            "cohort_idx",
            (F.col("m_idx") - F.col("cohort_idx")).alias("age_weeks"),
        )
        .agg(
            F.sum("v").cast("decimal(18,2)").alias("revenue_d"),
            F.count_distinct("user_id").alias("n_buyers"),
        )
    )
    w = (
        Window.partitionBy("cohort_idx")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cells.select(
        "cohort_idx",
        "age_weeks",
        F.col("revenue_d").cast("double").alias("revenue"),
        F.sum("revenue_d")
        .over(w)
        .cast("decimal(18,2)")
        .cast("double")
        .alias("cum_revenue"),
        "n_buyers",
    )


register(
    "events_cohort_ltv",
    _cohort_ltv,
    """
    WITH cohorts AS (
        SELECT user_id,
               min(CAST(floor((CAST(ts AS DATE) - DATE '2024-01-01') / 7)
                   AS BIGINT)) AS cohort_idx
        FROM events WHERE user_id IS NOT NULL
        GROUP BY user_id
    ),
    purch AS (
        SELECT e.user_id,
               CAST(floor((CAST(e.ts AS DATE) - DATE '2024-01-01') / 7)
                   AS BIGINT) AS m_idx,
               CAST(e.value AS DECIMAL(18,2)) AS v
        FROM events e
        WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
              AND e.user_id IS NOT NULL
    ),
    cells AS (
        SELECT c.cohort_idx,
               p.m_idx - c.cohort_idx AS age_weeks,
               CAST(sum(p.v) AS DECIMAL(18,2)) AS revenue_d,
               CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_buyers
        FROM purch p JOIN cohorts c ON p.user_id = c.user_id
        GROUP BY 1, 2
    )
    SELECT CAST(cohort_idx AS BIGINT) AS cohort_idx,
           CAST(age_weeks AS BIGINT) AS age_weeks,
           CAST(revenue_d AS DOUBLE) AS revenue,
           CAST(CAST(sum(revenue_d) OVER (PARTITION BY cohort_idx
                   ORDER BY age_weeks
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DECIMAL(18,2)) AS DOUBLE) AS cum_revenue,
           n_buyers
    FROM cells
    """,
)


# ---------------------------------------------------------------------------
# PMI collocations (corpus co-occurrence statistics)
# ---------------------------------------------------------------------------


def _pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of word pairs at DOCUMENT
    co-occurrence granularity — collocation/phrase mining for
    tokenizer vocabularies and topic audits: PMI = ln(n_ab·N /
    (n_a·n_b)) corrects raw co-occurrence for word frequency (the
    text twin of orders_basket_lift's lift). Pairs are generated
    MAP-SIDE from each document's sorted distinct-word array via
    nested TRANSFORM (the copurchase_edges idiom — no self-join, no
    second corpus scan); the corpus is repartitioned by doc before
    the quadratic-per-doc expansion so the kernel parallelizes off
    the fixture's single row group. Counts are exact BIGINTs; ln is
    applied to an exact rational, so round(,6) is a pure tolerance
    (float-policy exception c, the text_unigram_logprob precedent).
    Top-50 by (n_ab DESC, pair ASC) — total order, rank-stable.

    Scale: one doc-grouped aggregate + one pair aggregate (both
    partial-aggregable); per-doc fan-out is |vocab_doc|², bounded by
    document length — the same contract as shingling. N and the
    unigram doc-frequencies are vocabulary-sized broadcasts."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    words = docs.repartition(
        default_parallelism(spark), "doc_id"
    ).select(
        "doc_id",
        F.array_sort(
            F.array_distinct(
                F.filter(
                    F.split(F.lower("text"), r"\s+"),
                    lambda w: F.length(w) >= 2,
                )
            )
        ).alias("ws"),
    ).localCheckpoint(eager=True)  # pair counts + unigram df, one pass
    n_docs = words.agg(F.count(F.lit(1)).alias("n"))
    uni = words.select(F.explode("ws").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("df")
    )
    pairs = words.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ws",
                    lambda x, i: F.transform(
                        F.slice(F.col("ws"), i + F.lit(2), F.size("ws")),
                        lambda y: F.struct(
                            x.alias("word_a"), y.alias("word_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.word_a", "p.word_b")
    co = pairs.groupBy("word_a", "word_b").agg(
        F.count(F.lit(1)).alias("n_ab")
    )
    da = uni.select(F.col("w").alias("word_a"), F.col("df").alias("n_a"))
    db = uni.select(F.col("w").alias("word_b"), F.col("df").alias("n_b"))
    # No forced broadcast on the unigram tables (round-15 review): the
    # vocabulary grows with the corpus. Threshold/AQE broadcast them
    # while small; the co-occurrence join shuffles on the word past it.
    scored = (
        co.join(da, "word_a")
        .join(db, "word_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "word_a",
            "word_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                F.log(
                    (F.col("n_ab") * F.col("n")).cast("double")
                    / (F.col("n_a") * F.col("n_b")).cast("double")
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.desc("n_ab"), F.asc("word_a"), F.asc("word_b")
    ).limit(50)


register(
    "text_pmi_collocations",
    _pmi_collocations,
    """
    WITH words AS (
        SELECT doc_id,
               list_sort(list_distinct(list_filter(
                   regexp_split_to_array(lower(text), '\\s+'),
                   w -> length(w) >= 2))) AS ws
        FROM documents
    ),
    n_docs AS (SELECT count(*) AS n FROM words),
    uni AS (
        SELECT unnest(ws) AS w, doc_id FROM words
    ),
    df AS (SELECT w, count(*) AS df FROM uni GROUP BY w),
    pairs AS (
        SELECT ws[CAST(i AS INTEGER)] AS word_a,
               ws[CAST(j AS INTEGER)] AS word_b
        FROM words,
             range(1, 4096) AS t1(i),
             range(1, 4096) AS t2(j)
        WHERE i < j AND j <= len(ws)
    ),
    co AS (
        SELECT word_a, word_b, count(*) AS n_ab
        FROM pairs GROUP BY 1, 2
    )
    SELECT c.word_a, c.word_b,
           CAST(c.n_ab AS BIGINT) AS n_ab,
           CAST(a.df AS BIGINT) AS n_a,
           CAST(b.df AS BIGINT) AS n_b,
           round(ln(CAST(c.n_ab * n.n AS DOUBLE)
                    / CAST(a.df * b.df AS DOUBLE)), 6) AS pmi
    FROM co c
    JOIN df a ON c.word_a = a.w
    JOIN df b ON c.word_b = b.w, n_docs n
    ORDER BY n_ab DESC, c.word_a ASC, c.word_b ASC
    LIMIT 50
    """,
)


# ---------------------------------------------------------------------------
# Pareto 80/20 concentration readout
# ---------------------------------------------------------------------------


def _pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pareto question answered exactly: how many top-spending
    users cover 80% of purchase revenue? Users are ranked by exact-
    DECIMAL revenue (total order: revenue DESC, user_id), the running
    total accumulates in DECIMAL over the user-domain window, and the
    answer is the first rank whose cumulative share reaches 0.8 — a
    comparison of exact decimals (cum·10 >= total·8 in integer-exact
    DECIMAL arithmetic, so the 0.8 threshold never touches floats).
    Complements agg_gini_revenue's summary coefficient with the
    operational cut-off number.

    Scale (re-plumbed round 6): one fact aggregate to the user-domain
    relation, then rank + running sum via the two-phase
    ``global_rank_two_phase`` operator — range-partition on
    (rev DESC, user_id), per-partition local window, broadcast P-row
    cumulative offsets. Users grow with the corpus, so the former
    unpartitioned ``Window.orderBy(desc(rev))`` (single-executor sort
    at 100x) is gone; the only unpartitioned window left is the
    exclusive-preceding offset scan over <=32 per-partition aggregate
    rows. Output is one row."""
    ev = read_events(spark, sf_dir)
    purch = ev.where(
        (F.col("event_type") == "purchase")
        & F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
    )
    per_user = purch.groupBy("user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("rev")
    )
    order = [F.desc("rev"), F.asc("user_id")]
    ranked = global_rank_two_phase(
        per_user,
        order,
        rank_col="rnk",
        running_sum_expr=F.col("rev"),
        running_sum_col="_cum",
    ).select(
        "user_id",
        "rev",
        "rnk",
        F.col("_cum").cast("decimal(28,2)").alias("cum"),
    )
    totals = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("rev").cast("decimal(28,2)").alias("total"),
    )
    hit = (
        ranked.crossJoin(F.broadcast(totals))
        .where(
            F.col("cum") * F.lit(10) >= F.col("total") * F.lit(8)
        )
        .agg(F.min("rnk").alias("users_for_80pct"), F.max("n_users").alias("n_users"))
    )
    return hit.select(
        "users_for_80pct",
        "n_users",
        (
            F.col("users_for_80pct").cast("double")
            / F.col("n_users").cast("double")
        ).alias("user_share_for_80pct"),
    )


register(
    "events_pareto_8020",
    _pareto_8020,
    """
    WITH per_user AS (
        SELECT user_id,
               CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
                   AS rev
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL
              AND user_id IS NOT NULL
        GROUP BY user_id
    ),
    ranked AS (
        SELECT user_id, rev,
               row_number() OVER (ORDER BY rev DESC, user_id) AS rnk,
               CAST(sum(rev) OVER (ORDER BY rev DESC, user_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DECIMAL(28,2)) AS cum
        FROM per_user
    ),
    totals AS (
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(rev) AS DECIMAL(28,2)) AS total
        FROM per_user
    )
    SELECT CAST(min(r.rnk) AS BIGINT) AS users_for_80pct,
           max(t.n_users) AS n_users,
           CAST(min(r.rnk) AS DOUBLE) / CAST(max(t.n_users) AS DOUBLE)
               AS user_share_for_80pct
    FROM ranked r, totals t
    WHERE r.cum * 10 >= t.total * 8
    """,
)


# ---------------------------------------------------------------------------
# Zipf-law fit of the corpus word-frequency distribution
# ---------------------------------------------------------------------------


def _zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law diagnostic of the corpus vocabulary: OLS slope of
    ln(freq) against ln(rank) — natural language sits near -1;
    strong deviation flags templated/boilerplate or synthetic text
    (a corpus-quality gate cousin of text_unigram_logprob). Ranks are
    a total order (freq DESC, word), the regression runs as ONE
    regr_slope/regr_intercept/regr_r2 aggregate pass over the
    vocabulary-sized rank relation (agg_regression_funcs establishes
    cross-engine regr_* parity), and log/ratio outputs are genuinely
    irrational → round(,6) tolerance (float-policy exception c).

    Scale (re-plumbed round 6): the corpus collapses to the vocabulary
    relation in one explode+aggregate, but the vocabulary itself is
    UNBOUNDED in corpus size (Heaps' law), so ranking runs through the
    two-phase ``global_rank_two_phase`` operator — range-partition on
    (freq DESC, w), per-partition row_number, broadcast P-row count
    offsets — instead of the former unpartitioned rank window (a
    single-executor vocabulary sort at 100x). The regression is one
    distributed regr_* aggregate pass over the ranked relation."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower("text"), r"\s+"),
                    lambda w: F.length(w) >= 2,
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = global_rank_two_phase(
        freq, [F.desc("freq"), F.asc("w")], rank_col="rnk"
    ).select("freq", "rnk")
    return ranked.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.round(
            F.expr(
                "regr_slope(ln(CAST(freq AS DOUBLE)),"
                " ln(CAST(rnk AS DOUBLE)))"
            ),
            6,
        ).alias("zipf_slope"),
        F.round(
            F.expr(
                "regr_intercept(ln(CAST(freq AS DOUBLE)),"
                " ln(CAST(rnk AS DOUBLE)))"
            ),
            6,
        ).alias("zipf_intercept"),
        F.round(
            F.expr(
                "regr_r2(ln(CAST(freq AS DOUBLE)),"
                " ln(CAST(rnk AS DOUBLE)))"
            ),
            6,
        ).alias("fit_r2"),
    )


register(
    "text_zipf_slope",
    _zipf_slope,
    """
    WITH freq AS (
        SELECT w, count(*) AS freq
        FROM (
            SELECT unnest(list_filter(
                regexp_split_to_array(lower(text), '\\s+'),
                x -> length(x) >= 2)) AS w
            FROM documents
        )
        GROUP BY w
    ),
    ranked AS (
        SELECT freq,
               row_number() OVER (ORDER BY freq DESC, w) AS rnk
        FROM freq
    )
    SELECT CAST(count(*) AS BIGINT) AS vocab_size,
           round(regr_slope(ln(CAST(freq AS DOUBLE)),
                            ln(CAST(rnk AS DOUBLE))), 6) AS zipf_slope,
           round(regr_intercept(ln(CAST(freq AS DOUBLE)),
                                ln(CAST(rnk AS DOUBLE))), 6)
               AS zipf_intercept,
           round(regr_r2(ln(CAST(freq AS DOUBLE)),
                         ln(CAST(rnk AS DOUBLE))), 6) AS fit_r2
    FROM ranked
    """,
)


# ---------------------------------------------------------------------------
# stored-histogram quantile merge (approximate median from partials)
# ---------------------------------------------------------------------------

_HQ_BINS = 32


def _histogram_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median estimation from STORED per-month equi-width histograms —
    the quantile member of the stored-partials family (moments:
    agg_incremental_moments, distinct: agg_hll_sketch_merge /
    agg_bitmap_rollup_quarters, frequency: agg_countmin_merge_
    incremental): a nightly job appends 32 bin counts per month, and
    any later query merges bins instead of re-scanning raw prices.
    Histograms over a shared fixed grid merge by ADDITION, so the
    merged estimate is identical to a from-scratch global histogram's.

    The estimate's contract is explicit: the true median provably
    lies inside the selected bin, so the query emits the bin bounds,
    the midpoint estimate, the EXACT median (computed by the oracle
    path too), and the boolean `within_bin` — the error-bound form
    agg_approx_percentile_bounds established. Bin bounds derive from
    the exact-DECIMAL global min/max (one 1-row broadcast), so bucket
    assignment floor((x-lo)/w) is a fixed IEEE chain on identical
    operands — no boundary drift between engines."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.date_trunc("month", "o_orderdate").alias("m"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("x"),
    )
    bounds = orders.agg(
        F.min("x").alias("lo"), F.max("x").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    )
    b = F.lit(_HQ_BINS)
    width = (F.col("hi") - F.col("lo")).cast("double") / b.cast("double")
    binned = orders.crossJoin(F.broadcast(bounds)).select(
        "m",
        F.least(
            F.floor(
                (F.col("x") - F.col("lo")).cast("double") / width
            ).cast("int"),
            b - F.lit(1),
        ).alias("bin"),
        "lo",
        "hi",
        "n",
    )
    monthly = (
        binned.groupBy("m", "bin")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.max("lo").alias("lo"),
            F.max("hi").alias("hi"),
            F.max("n").alias("n"),
        )
        .localCheckpoint(eager=True)  # the "stored" per-month partials
    )
    merged = monthly.groupBy("bin").agg(
        F.sum("cnt").alias("cnt"),
        F.max("lo").alias("lo"),
        F.max("hi").alias("hi"),
        F.max("n").alias("n"),
        F.count(F.lit(1)).alias("n_partials"),
    )
    w_cum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = merged.select(
        "bin",
        "cnt",
        "lo",
        "hi",
        "n",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("n_partials").over(
            Window.orderBy("bin").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("total_partials"),
    )
    med_bin = (
        cum.where(F.col("cum") * 2 >= F.col("n"))
        .orderBy("bin")
        .limit(1)
    )
    exact_med = orders.agg(
        F.expr(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY x)"
            " AS DOUBLE)"
        ).alias("exact_median")
    )
    wd = (F.col("hi") - F.col("lo")).cast("double") / b.cast("double")
    bin_lo = F.col("lo").cast("double") + F.col("bin").cast("double") * wd
    bin_hi = F.col("lo").cast("double") + (
        F.col("bin") + F.lit(1)
    ).cast("double") * wd
    return med_bin.crossJoin(F.broadcast(exact_med)).select(
        F.col("bin").alias("median_bin"),
        "total_partials",
        bin_lo.alias("bin_lo"),
        bin_hi.alias("bin_hi"),
        ((bin_lo + bin_hi) / F.lit(2.0)).alias("median_estimate"),
        "exact_median",
        (
            (F.col("exact_median") >= bin_lo)
            & (F.col("exact_median") <= bin_hi)
        ).alias("within_bin"),
    )


register(
    "agg_histogram_quantile_merge",
    _histogram_quantile_merge,
    f"""
    WITH src AS (
        SELECT date_trunc('month', o_orderdate) AS m,
               CAST(o_totalprice AS DECIMAL(18,2)) AS x
        FROM orders
    ),
    bounds AS (
        SELECT min(x) AS lo, max(x) AS hi,
               CAST(count(*) AS BIGINT) AS n
        FROM src
    ),
    binned AS (
        SELECT s.m,
               least(CAST(floor(CAST(s.x - b.lo AS DOUBLE)
                   / (CAST(b.hi - b.lo AS DOUBLE)
                      / CAST({_HQ_BINS} AS DOUBLE))) AS INTEGER),
                   {_HQ_BINS} - 1) AS bin,
               b.lo, b.hi, b.n
        FROM src s, bounds b
    ),
    monthly AS (
        SELECT m, bin, count(*) AS cnt,
               max(lo) AS lo, max(hi) AS hi, max(n) AS n
        FROM binned GROUP BY m, bin
    ),
    merged AS (
        SELECT bin, CAST(sum(cnt) AS BIGINT) AS cnt,
               max(lo) AS lo, max(hi) AS hi, max(n) AS n,
               CAST(count(*) AS BIGINT) AS n_partials
        FROM monthly GROUP BY bin
    ),
    cum AS (
        SELECT bin, lo, hi, n,
               CAST(sum(cnt) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum,
               CAST(sum(n_partials) OVER () AS BIGINT) AS total_partials
        FROM merged
    ),
    med_bin AS (
        SELECT * FROM cum WHERE cum * 2 >= n ORDER BY bin LIMIT 1
    ),
    exact AS (
        SELECT CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY x)
               AS DOUBLE) AS exact_median
        FROM src
    )
    SELECT m.bin AS median_bin,
           m.total_partials,
           CAST(m.lo AS DOUBLE) + CAST(m.bin AS DOUBLE)
               * (CAST(m.hi - m.lo AS DOUBLE)
                  / CAST({_HQ_BINS} AS DOUBLE)) AS bin_lo,
           CAST(m.lo AS DOUBLE) + CAST(m.bin + 1 AS DOUBLE)
               * (CAST(m.hi - m.lo AS DOUBLE)
                  / CAST({_HQ_BINS} AS DOUBLE)) AS bin_hi,
           (CAST(m.lo AS DOUBLE) + CAST(m.bin AS DOUBLE)
               * (CAST(m.hi - m.lo AS DOUBLE)
                  / CAST({_HQ_BINS} AS DOUBLE))
            + CAST(m.lo AS DOUBLE) + CAST(m.bin + 1 AS DOUBLE)
               * (CAST(m.hi - m.lo AS DOUBLE)
                  / CAST({_HQ_BINS} AS DOUBLE))) / 2.0
               AS median_estimate,
           e.exact_median,
           e.exact_median >= CAST(m.lo AS DOUBLE) + CAST(m.bin AS DOUBLE)
               * (CAST(m.hi - m.lo AS DOUBLE)
                  / CAST({_HQ_BINS} AS DOUBLE))
           AND e.exact_median <= CAST(m.lo AS DOUBLE)
               + CAST(m.bin + 1 AS DOUBLE)
               * (CAST(m.hi - m.lo AS DOUBLE)
                  / CAST({_HQ_BINS} AS DOUBLE)) AS within_bin
    FROM med_bin m, exact e
    """,
)


# ---------------------------------------------------------------------------
# modularity of the LPA communities (exact integer identity)
# ---------------------------------------------------------------------------


def _graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the LPA community assignment — the
    quality score that says whether the detected communities are real
    structure (Q near 0 = no better than random wiring). Computed via
    the integer identity Q = (4m·E_in − Σ_c d_c²) / 4m²: every
    aggregate (intra-community edge count E_in, per-community degree
    sums squared, edge count m) is a pure BIGINT — community terms are
    NEVER summed as floats (a per-community float Σ would be
    partition-order-dependent) — and Q is ONE division of identical
    integers on both engines. Bit-exact, no rounding policy.

    Scale: labels come from the same deterministic synchronous LPA as
    graph_label_propagation (node-sized, broadcast onto the edge
    relation); the rest is three partial-aggregable counts."""
    from orchestrated_etl_spark.functions.graph import (
        label_propagation,
    )

    edges = cached_edges(spark, sf_dir, min_weight=2)
    labels = label_propagation(edges, iterations=3)
    la = labels.select(
        F.col("node").alias("part_a"), F.col("community").alias("ca")
    )
    lb = labels.select(
        F.col("node").alias("part_b"), F.col("community").alias("cb")
    )
    # No forced broadcast on the label vector (round-15 review): it is
    # O(V) — node-sized, linearly growing. Threshold/AQE broadcast it
    # at bench scale; the joins shuffle on the node id past that.
    intra = (
        edges.join(la, "part_a")
        .join(lb, "part_b")
        .where(F.col("ca") == F.col("cb"))
        .agg(F.count(F.lit(1)).alias("e_in"))
    )
    m = edges.agg(F.count(F.lit(1)).alias("m"))
    d2 = (
        degrees(edges)
        .join(
            labels.withColumnRenamed("community", "c"), "node"
        )
        .groupBy("c")
        .agg(F.sum("degree").alias("d_c"))
        .agg(
            F.sum(F.col("d_c") * F.col("d_c")).alias("sum_d_sq"),
            F.count(F.lit(1)).alias("n_communities"),
        )
    )
    return (
        intra.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(d2))
        .select(
            "m",
            "e_in",
            "n_communities",
            "sum_d_sq",
            (
                (
                    F.lit(4) * F.col("m") * F.col("e_in")
                    - F.col("sum_d_sq")
                ).cast("double")
                / (F.lit(4) * F.col("m") * F.col("m")).cast("double")
            ).alias("modularity"),
        )
    )


def _modularity_oracle() -> str:
    from orchestrated_etl_spark.queries.graph_wave10 import (
        _LPA_ROUNDS_CTE,
    )

    return f"""
    WITH {_EDGE_CTE},
    {_LPA_ROUNDS_CTE},
    ew AS (SELECT part_a, part_b FROM e WHERE weight >= 2),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ew),
    intra AS (
        SELECT CAST(count(*) AS BIGINT) AS e_in
        FROM ew
        JOIN l3 a ON ew.part_a = a.node
        JOIN l3 b ON ew.part_b = b.node
        WHERE a.label = b.label
    ),
    deg AS (
        SELECT node, count(*) AS degree FROM (
            SELECT part_a AS node FROM ew
            UNION ALL SELECT part_b FROM ew
        ) GROUP BY node
    ),
    dc AS (
        SELECT l.label AS c, CAST(sum(d.degree) AS BIGINT) AS d_c
        FROM deg d JOIN l3 l ON d.node = l.node
        GROUP BY l.label
    ),
    d2 AS (
        SELECT CAST(sum(d_c * d_c) AS BIGINT) AS sum_d_sq,
               CAST(count(*) AS BIGINT) AS n_communities
        FROM dc
    )
    SELECT m.m, i.e_in, d2.n_communities, d2.sum_d_sq,
           CAST(4 * m.m * i.e_in - d2.sum_d_sq AS DOUBLE)
               / CAST(4 * m.m * m.m AS DOUBLE) AS modularity
    FROM intra i, m, d2
    """


register("graph_modularity", _graph_modularity, _modularity_oracle())


# ---------------------------------------------------------------------------
# sampling-based approximate query processing with a CI contract
# ---------------------------------------------------------------------------


def _sampled_revenue_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate total revenue from a DETERMINISTIC 10% sample with
    a 95% confidence interval — BlinkDB-style approximate query
    processing, made auditable: the query emits the estimate, the
    half-width, the exact total (which the oracle also computes), and
    the boolean `within_ci`. The sample predicate o_orderkey % 10 = 0
    evaluates in the scan stage (no shuffle, reproducible across
    engines/reruns — the train_split_assignment contract); moments
    accumulate in exact DECIMAL (the stats_ab_welch_ttest recipe), so
    estimate/se are fixed IEEE chains on bit-identical scalars.
    Estimator: SRS total N·x̄ with finite-population correction —
    se = N·sqrt(var_s/n_s·(1−n_s/N)).

    Scale: ONE conditional-aggregate pass computes sample moments AND
    the exact population total/count together (at 100 TB you would
    scan only the sample partition and keep the exact total as a
    stored aggregate — the point of AQP is skipping the full scan;
    here the single pass keeps the contract checkable)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(19,2)").alias("x")
    )
    in_s = F.col("o_orderkey") % 10 == 0
    agg = orders.agg(
        F.count(F.lit(1)).alias("n_pop"),
        F.sum("x").cast("decimal(18,2)").alias("s_pop"),
        F.sum(F.when(in_s, 1).otherwise(0)).alias("n_s"),
        F.sum(F.when(in_s, F.col("x"))).cast("decimal(18,2)").alias("s_s"),
        F.sum(F.when(in_s, (F.col("x") * F.col("x")).cast("decimal(38,4)")))
        .cast("decimal(20,4)")
        .alias("q_s"),
    )
    n_pop, s_pop = F.col("n_pop"), F.col("s_pop")
    n_s, s_s, q_s = F.col("n_s"), F.col("s_s"), F.col("q_s")
    var_num = (
        n_s.cast("decimal(10,0)") * q_s - (s_s * s_s).cast("decimal(38,4)")
    ).cast("decimal(38,4)")
    var_s = var_num.cast("double") / (n_s * (n_s - F.lit(1))).cast("double")
    mean_s = s_s.cast("double") / n_s.cast("double")
    est = n_pop.cast("double") * mean_s
    fpc = F.lit(1.0) - n_s.cast("double") / n_pop.cast("double")
    se = n_pop.cast("double") * F.sqrt(var_s / n_s.cast("double") * fpc)
    half = F.lit(1.96) * se
    true_total = s_pop.cast("double")
    return agg.select(
        "n_pop",
        "n_s",
        est.alias("est_total"),
        true_total.alias("true_total"),
        # the variance numerator exceeds 2^53 past sf0.01, and a
        # >2^53 DECIMAL->DOUBLE cast is the one conversion the engines
        # round differently (agg_incremental_moments hazard) — the
        # half-width is sqrt-derived (genuinely irrational), so
        # round(,4) is a pure tolerance 8+ orders above the ulp drift
        F.round(half, 4).alias("ci_half_width"),
        (F.abs(true_total - est) <= half).alias("within_ci"),
    )


register(
    "approx_sampled_revenue_ci",
    _sampled_revenue_ci,
    """
    WITH agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pop,
               CAST(sum(CAST(o_totalprice AS DECIMAL(19,2)))
                    AS DECIMAL(18,2)) AS s_pop,
               CAST(count(*) FILTER (WHERE o_orderkey % 10 = 0)
                    AS BIGINT) AS n_s,
               CAST(sum(CAST(o_totalprice AS DECIMAL(19,2)))
                    FILTER (WHERE o_orderkey % 10 = 0)
                    AS DECIMAL(18,2)) AS s_s,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(19,2))
                             * CAST(o_totalprice AS DECIMAL(19,2))
                             AS DECIMAL(38,4)))
                    FILTER (WHERE o_orderkey % 10 = 0)
                    AS DECIMAL(20,4)) AS q_s
        FROM orders
    )
    SELECT n_pop, n_s,
           CAST(n_pop AS DOUBLE)
               * (CAST(s_s AS DOUBLE) / CAST(n_s AS DOUBLE)) AS est_total,
           CAST(s_pop AS DOUBLE) AS true_total,
           round(1.96 * (CAST(n_pop AS DOUBLE)
               * sqrt(CAST(CAST(CAST(n_s AS DECIMAL(10,0)) * q_s
                                - CAST(CAST(s_s AS DECIMAL(19,2)) * CAST(s_s AS DECIMAL(19,2)) AS DECIMAL(38,4))
                           AS DECIMAL(38,4)) AS DOUBLE)
                      / CAST(n_s * (n_s - 1) AS DOUBLE)
                      / CAST(n_s AS DOUBLE)
                      * (1.0 - CAST(n_s AS DOUBLE)
                               / CAST(n_pop AS DOUBLE)))), 4)
               AS ci_half_width,
           abs(CAST(s_pop AS DOUBLE)
               - CAST(n_pop AS DOUBLE)
                 * (CAST(s_s AS DOUBLE) / CAST(n_s AS DOUBLE)))
           <= 1.96 * (CAST(n_pop AS DOUBLE)
               * sqrt(CAST(CAST(CAST(n_s AS DECIMAL(10,0)) * q_s
                                - CAST(CAST(s_s AS DECIMAL(19,2)) * CAST(s_s AS DECIMAL(19,2)) AS DECIMAL(38,4))
                           AS DECIMAL(38,4)) AS DOUBLE)
                      / CAST(n_s * (n_s - 1) AS DOUBLE)
                      / CAST(n_s AS DOUBLE)
                      * (1.0 - CAST(n_s AS DOUBLE)
                               / CAST(n_pop AS DOUBLE))))
               AS within_ci
    FROM agg
    """,
)
