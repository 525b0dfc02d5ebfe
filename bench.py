"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints the
driver-parseable headline as the LAST stdout line (kept ≤1.5 KB so a tail
capture still round-trips through json.loads): {"metric": ..., "value":
total_sec, "unit": "sec", "queries": {name: sec}, "repeats": n, "sf": ...}.
A preceding line carries the detail object (queries_spread, queries_cold,
codegen_compiles, plus load-average/CPU/SPARK_GRAFT_* telemetry at start
and end so cross-session drift verdicts adjudicate themselves from the
record).

Each query is timed end-to-end (plan + execute + count-style materialise).
A warmup first absorbs JVM start, first-touch file metadata and the Python
worker start; it compiles only its own queries' generated classes, so the
cold pass still compiles the headline queries' classes. Warm passes skip
compilation only while the session's codegen cache holds every class the
suite generates: "codegen_compiles" counts the classes compiled in the
warmup, the cold pass and each warm pass, and a warm count above 0 means
the warm timings include recompilation.

Warm numbers come from $SPARK_GRAFT_BENCH_REPEATS (default 3) INTERLEAVED
full-suite passes — pass 1 runs every query, then pass 2, then pass 3 —
so slow environment drift (GC pressure, page cache, CPU contention) lands
in every query's sample rather than biasing whichever query ran last.
Per query the JSON reports the MEDIAN ("queries", summed into "value")
and the max-min SPREAD ("queries_spread"): a cross-round mover whose
delta sits inside its own spread is session noise, not a regression —
the attribution protocol the round-4/5 verdicts asked for.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.host import cpu_probe_ms, mt_probe_ms  # noqa: E402

DEFAULT_SF_DIR = "/root/testdata/sf0.1"

# Headline set: one per operator family — scan+agg, star join, window,
# rollup, dedup, json/datetime, temporal joins, sessionization, and the
# LLM-extension paths (fuzzy dedup, similarity, chunking).
HEADLINE = [
    "flagship",
    "q1_pricing_summary",
    "j1_star_join_revenue",
    "j_left_join",
    "window_topk_per_group",
    "window_rank_lag_lead",
    "rollup_flag_status",
    "datetime_daily_rollup",
    "json_field_agg",
    "t2_dedup_by_key",
    "asof_join_purchase_click",
    "sessionize_events_30m",
    "sample_hash_deterministic",
    "dedup_minhash_lsh",
    "sim_ivf_topk",
    "train_chunk_documents",
    # round 2: retrieval + corpus gating
    "search_bm25_topk",
    "train_quality_gopher_gate",
    # round 2: graph + data quality
    "graph_pagerank",
    "dq_constraint_audit",
    # round 2: quantized ANN + attribution
    "sim_sq8_topk",
    "events_attribution_linear",
    # round 3: scale-path RFM + no-broadcast triangle layout
    "events_rfm_quantile_cutoffs",
    "graph_triangle_orient",
    # round 4: iterative traversal, runtime bloom filter, CEP sequences
    "graph_bfs_frontier",
    "join_bloom_prefilter",
    "events_cep_conversion",
    # round 4b: chunk-level dedup kernel + mergeable-bitmap distinct
    "dedup_cdc_chunks",
    "agg_bitmap_distinct",
]


def _env_telemetry() -> dict:
    """Session conditions for cross-run noise adjudication (round-9 item:
    a +12% cross-session drift should adjudicate itself from the recorded
    load/env, not from a human remembering session state)."""
    try:
        load1, load5, load15 = os.getloadavg()
    except OSError:  # pragma: no cover - getloadavg unsupported
        load1 = load5 = load15 = -1.0
    # Both CPU probes: loadavg cannot see host-level throughput variance,
    # and a slow single core (frequency scaling) reads apart from cores
    # that contend under sustained all-core load (mt_probe_ms only).
    return {
        "loadavg": [round(load1, 2), round(load5, 2), round(load15, 2)],
        "cpus": os.cpu_count(),
        "cpu_probe_ms": round(cpu_probe_ms(), 2),
        "mt_probe_ms": round(mt_probe_ms(), 2),
        "env": {
            k: v for k, v in sorted(os.environ.items())
            if k.startswith("SPARK_GRAFT_")
        },
    }


def _compiles(spark) -> int:
    """Generated classes compiled so far in the JVM (driver and, in local
    mode, executor tasks): the sample count of Spark's codegen
    compilation-time metric."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def suite(qs: dict) -> list[str]:
    """The timed query names: HEADLINE, plus any bench-tagged extension
    query (those register later)."""
    names = [n for n in HEADLINE if n in qs]
    return names + [n for n in qs if n.startswith("bench_") and n not in names]


def action(name: str, df) -> int:
    """The timed action: row count, or a full collect for flagship."""
    return len(df.collect()) if name == "flagship" else df.count()


def warmup(spark, qs: dict, sf_dir: str) -> None:
    """File-index listings + footer reads for every table, plus real
    queries for codegen/JIT — so per-query timings measure the query,
    not first-touch filesystem metadata."""
    import glob

    for p in glob.glob(f"{sf_dir}/*.parquet"):
        if "events" in p:
            continue  # TIMESTAMP(NANOS) needs the legacy conf set first
        spark.read.parquet(p).count()
    qs["datetime_daily_rollup"](spark, sf_dir).count()  # events path + conf
    qs["q1_pricing_summary"](spark, sf_dir).collect()
    # Start the Python-worker daemons + Arrow serializers once (first
    # pandas-UDF query otherwise pays ~1 s of process fork/import), and
    # JIT the interpreted higher-order-function expression paths.
    qs["sim_normalize_embeddings"](spark, sf_dir).count()
    qs["sim_vector_norms"](spark, sf_dir).count()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    telemetry_start = _env_telemetry()

    from orchestrated_etl_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("bench")
    compiled = _compiles(spark)
    qs = entrymod.queries()
    names = suite(qs)
    warmup(spark, qs, sf_dir)

    # Two timed passes per query. COLD = the first execution, which pays
    # whole-stage-codegen compilation (hundreds of ms for wide plans) —
    # what a single-shot run of the query costs after session start.
    # WARM = the later executions, which pay no compilation only while the
    # codegen cache holds every class the suite generates (the counts in
    # codegen_compiles say whether it did). Reporting both makes
    # driver-vs-local bench deltas explainable: a driver bench that times
    # first executions should land near the cold column, not the warm one.
    warmup_compiles = _compiles(spark) - compiled
    compiled = _compiles(spark)
    cold: dict[str, float] = {}
    for name in names:
        t0 = time.perf_counter()
        action(name, qs[name](spark, sf_dir))
        cold[name] = round(time.perf_counter() - t0, 3)
    cold_compiles = _compiles(spark) - compiled

    # Warm: n interleaved full-suite passes -> per-query median + spread.
    import statistics

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    samples: dict[str, list[float]] = {name: [] for name in names}
    warm_compiles: list[int] = []
    for _ in range(reps):
        compiled = _compiles(spark)
        for name in names:
            t0 = time.perf_counter()
            n = action(name, qs[name](spark, sf_dir))
            samples[name].append(time.perf_counter() - t0)
            if n < 0:  # consumes n without assert (compiled out under -O)
                raise RuntimeError(f"negative row count for {name}")
        warm_compiles.append(_compiles(spark) - compiled)
    timings = {n: round(statistics.median(s), 3) for n, s in samples.items()}
    spread = {n: round(max(s) - min(s), 3) for n, s in samples.items()}
    total = round(sum(timings.values()), 3)
    # The consumer captures only a ~2 KB stdout TAIL and json-parses the
    # last line, so the detail object (spreads + cold timings, ~3 KB at 29
    # queries) goes on an EARLIER line and the headline object — kept
    # compact, ≤ ~1.5 KB — is printed LAST. Round 6 had them merged on one
    # line and the driver recorded "parsed": null.
    print(
        json.dumps(
            {
                "detail": "bench_spread_and_cold",
                "queries_spread": spread,
                "cold_value": round(sum(cold.values()), 3),
                "queries_cold": cold,
                "codegen_compiles": {
                    "warmup": warmup_compiles,
                    "cold": cold_compiles,
                    "warm": warm_compiles,
                },
                "telemetry_start": telemetry_start,
                "telemetry_end": _env_telemetry(),
            }
        )
    )
    sys.stdout.flush()
    headline = json.dumps(
        {
            "metric": "headline_queries_total_runtime",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "repeats": reps,
            "sf": sf,
        }
    )
    # Explicit raise, NOT assert: the driver contract (last stdout line
    # must fit its ~2 KB tail capture) has to survive `python -O`, which
    # compiles asserts out.
    if len(headline) > 1536:
        raise RuntimeError(f"headline line too long: {len(headline)} bytes")
    print(headline)


if __name__ == "__main__":
    main()
