"""Wave-15 planted-fixture semantics tests: hand-computed expectations
for the per-node graph measures and the time-series detectors, on
fixtures small enough to verify on paper (the oracle gate then checks
the same operators against DuckDB at sf0.01)."""

from __future__ import annotations

import datetime

# Planted co-purchase lineitem: orders {1,2,3}x2 and {1,4}x2 give the
# weight>=2 edge set {(1,2),(1,3),(2,3),(1,4)} — a triangle 1-2-3 with
# pendant 4 hanging off node 1.
_LINEITEM_ROWS = [
    (1, 1), (1, 2), (1, 3),
    (2, 1), (2, 2), (2, 3),
    (3, 1), (3, 4),
    (4, 1), (4, 4),
]


def _write_lineitem(spark, tmp_path) -> str:
    df = spark.createDataFrame(
        _LINEITEM_ROWS, "l_orderkey long, l_partkey long"
    )
    sf_dir = str(tmp_path)
    df.write.parquet(f"{sf_dir}/lineitem.parquet")
    return sf_dir


def test_clustering_coefficient_planted(spark, tmp_path):
    from orchestrated_etl_spark.queries.graph import _clustering_coefficient

    sf_dir = _write_lineitem(spark, tmp_path)
    out = {
        r["node"]: (r["degree"], r["tri_count"], r["cc"])
        for r in _clustering_coefficient(spark, sf_dir).collect()
    }
    # node 1: degree 3 (2,3,4), 1 triangle -> 2*1/(3*2) = 1/3
    assert out[1] == (3, 1, 2.0 / 6.0)
    # nodes 2,3: degree 2, 1 triangle -> fully clustered
    assert out[2] == (2, 1, 1.0)
    assert out[3] == (2, 1, 1.0)
    # pendant node 4: degree 1 -> cc pinned to 0.0, not 0/0
    assert out[4] == (1, 0, 0.0)
    assert len(out) == 4


def test_hits_2iter_planted(spark, tmp_path):
    from orchestrated_etl_spark.queries.graph import _hits_2iter

    sf_dir = _write_lineitem(spark, tmp_path)
    out = {
        r["node"]: (r["auth_1"], r["hub_1"], r["auth_2"])
        for r in _hits_2iter(spark, sf_dir).collect()
    }
    # directed edges (low->high): 1->2, 1->3, 2->3, 1->4
    # auth1 = in-degree; hub1(u) = sum auth1 over u's out-neighbors;
    # auth2(v) = sum hub1 over v's in-neighbors.
    assert out[1] == (0, 1 + 2 + 1, 0)
    assert out[2] == (1, 2, 4)
    assert out[3] == (2, 0, 4 + 2)
    assert out[4] == (1, 0, 4)
    assert len(out) == 4


def _event(eid, day, etype="view", value=None, user=1):
    return (
        eid,
        # UTC-aware: a naive datetime is interpreted in the PROCESS TZ
        # by createDataFrame; under TZ=Pacific/Kiritimati (+14) noon
        # lands on the previous UTC day and day-bucketed assertions
        # shift (zone-free-fixture rule, round-13 Kiritimati pytest).
        datetime.datetime(2024, 1, day, 12, 0, 0,
                          tzinfo=datetime.timezone.utc),
        user,
        etype,
        value,
        "{}",
    )


_EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def test_cusum_changepoint_planted_level_shift(spark, tmp_path):
    """1 event/day on days 1-4, then 3/day on days 5-8: N=8, S=16, so
    N*c-S is -8 before and +8 after the shift; the scaled CUSUM walks
    -8,-16,-24,-32 then recovers to 0, peaking exactly at the last
    pre-shift day."""
    from orchestrated_etl_spark.queries.events import _cusum_changepoint

    rows, eid = [], 0
    for day in range(1, 5):
        eid += 1
        rows.append(_event(eid, day))
    for day in range(5, 9):
        for _ in range(3):
            eid += 1
            rows.append(_event(eid, day))
    spark.createDataFrame(rows, _EVENT_SCHEMA).write.parquet(
        f"{tmp_path}/events.parquet"
    )
    out = {
        r["day"].day: (r["n_events"], r["cusum_scaled"], r["is_peak"])
        for r in _cusum_changepoint(spark, str(tmp_path)).collect()
    }
    assert out[1] == (1, -8, False)
    assert out[4] == (1, -32, True)
    assert out[5] == (3, -24, False)
    assert out[8] == (3, 0, False)
    assert sum(1 for _, _, p in out.values() if p) == 1


def test_acf_planted_period2_series(spark, tmp_path):
    """Alternating 10/20 daily revenue: every lag-1 pair lies exactly
    on y = 30 - x (r = -1) and every lag-2 pair on y = x (r = +1)."""
    from orchestrated_etl_spark.queries.events import _acf_lags

    rows = [
        _event(d, d, "purchase", 10.0 if d % 2 else 20.0)
        for d in range(1, 9)
    ]
    spark.createDataFrame(rows, _EVENT_SCHEMA).write.parquet(
        f"{tmp_path}/events.parquet"
    )
    out = {
        r["lag"]: (r["n_pairs"], r["acf_r"])
        for r in _acf_lags(spark, str(tmp_path)).collect()
    }
    assert out[1] == (7, -1.0)
    assert out[2] == (6, 1.0)
    assert out[3] == (5, -1.0)
    assert out[7] == (1, None)  # single pair: zero variance -> NULL corr


# ---------------------------------------------------------------------------
# count-min sketch: estimates recomputed by a pure-Python replica
# ---------------------------------------------------------------------------


def test_countmin_estimate_matches_python_replica(spark, tmp_path):
    """Plant a skewed key distribution, recompute the sketch in pure
    Python with the same hash family, and require the operator's
    estimates to equal the replica's EXACTLY (collision-agnostic: if
    keys collide in a bucket the replica overcounts identically)."""
    from orchestrated_etl_spark.queries.aggregates import (
        _CM_HASHES,
        _CM_P,
        _CM_W,
        _countmin_estimate,
    )

    freqs = {1: 40, 2: 30, 3: 30, 4: 5, 5: 4, 6: 3, 7: 3, 8: 2,
             9: 2, 10: 2, 11: 1, 12: 1}
    rows = []
    oid = 0
    for k, c in freqs.items():
        for _ in range(c):
            oid += 1
            rows.append((oid, k))
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.parquet(f"{tmp_path}/lineitem.parquet")

    def bucket(k, a, b):
        return ((a * (k % _CM_P) + b) % _CM_P) % _CM_W

    sketch = {}
    for k, c in freqs.items():
        for r, (a, b) in enumerate(_CM_HASHES):
            key = (r, bucket(k, a, b))
            sketch[key] = sketch.get(key, 0) + c

    # top-10 by (count desc, key asc): ties at count 2 and 3 resolved
    # by key — keys 11,12 (count 1) fall out.
    expect_keys = sorted(freqs, key=lambda k: (-freqs[k], k))[:10]

    out = {
        r["part_key"]: (
            r["true_count"], r["cm_estimate"],
            r["overcount"], r["est_ge_true"],
        )
        for r in _countmin_estimate(spark, str(tmp_path)).collect()
    }
    assert sorted(out) == sorted(expect_keys)
    for k in expect_keys:
        est = min(
            sketch[(r, bucket(k, a, b))]
            for r, (a, b) in enumerate(_CM_HASHES)
        )
        assert out[k] == (freqs[k], est, est - freqs[k], True)


# ---------------------------------------------------------------------------
# content-defined chunking: full pure-Python mini-oracle
# ---------------------------------------------------------------------------

_POWS = [31 ** e for e in range(7, -1, -1)]


def _py_chunks(text: str) -> list[str]:
    n = len(text)
    cuts = []
    if n >= 9:
        for i in range(2, n - 6):  # 1-based start positions 2..n-7
            h = sum(
                ord(text[i - 1 + j]) * p for j, p in enumerate(_POWS)
            )
            if h % 32 == 0:
                cuts.append(i)
    starts = [1] + cuts
    out = []
    for idx, s in enumerate(starts):
        end = starts[idx + 1] if idx + 1 < len(starts) else n + 1
        out.append(text[s - 1:end - 1])
    return out


def test_cdc_chunks_matches_python_replica(spark, tmp_path):
    """Two documents embed the SAME 240-char passage at different
    offsets; a third is disjoint. The mini-oracle recomputes chunking
    and sharing in Python; the operator must agree exactly, and the
    content-defined property must surface the shared passage."""
    from orchestrated_etl_spark.queries.llm_dedup import _cdc_chunks

    shared = "the quick brown fox jumps over the lazy dog again and " * 5
    doc_a = "PREFIX-ALPHA " * 4 + shared + " SUFFIX-OMEGA" * 3
    doc_b = "zz" + shared + "qq"  # different offset, different margins
    doc_c = "0123456789" * 30  # disjoint content
    doc_d = "tiny"  # < 9 chars: single chunk, no cuts
    docs = {1: doc_a, 2: doc_b, 3: doc_c, 4: doc_d}

    # precondition: the planted passage must actually chunk into at
    # least one interior chunk present in both docs
    from collections import Counter

    owner = {}
    for did, t in docs.items():
        for c in set(_py_chunks(t)):
            owner.setdefault(c, set()).add(did)
    shared_chunks = {c for c, o in owner.items() if len(o) >= 2}
    assert any(
        docs_ == {1, 2} for c, docs_ in owner.items() if c in shared_chunks
    )

    spark.createDataFrame(
        [(i, t, "en", "test", len(t)) for i, t in docs.items()],
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.parquet(f"{tmp_path}/documents.parquet")

    out = {
        r["doc_id"]: (
            r["n_chunks"], r["n_shared_chunks"],
            r["shared_chars"], r["total_chars"],
        )
        for r in _cdc_chunks(spark, str(tmp_path)).collect()
    }
    for did, t in docs.items():
        cs = _py_chunks(t)
        n_shared = sum(1 for c in cs if c in shared_chunks)
        sh_chars = sum(len(c) for c in cs if c in shared_chunks)
        assert out[did] == (len(cs), n_shared, sh_chars, len(t)), did
    # the shared passage was found, the disjoint docs stayed clean
    assert out[1][1] >= 1 and out[2][1] >= 1
    assert out[3][1] == 0 and out[4] == (1, 0, 0, 4)


def test_chi2_materializes_zero_cells(spark, tmp_path):
    """2x2 contingency with one EMPTY combination: the zero cell must
    appear with its full expected count (a naive GROUP BY drops it and
    understates chi2); the folded total must equal the same IEEE
    left-fold in Python."""
    from orchestrated_etl_spark.queries.aggregates import (
        _chi2_cells,
        _chi2_total,
    )

    rows = (
        [("A", "X")] * 4 + [("B", "X")] * 2 + [("B", "Y")] * 2
    )
    spark.createDataFrame(
        rows, "o_orderpriority string, o_orderstatus string"
    ).write.parquet(f"{tmp_path}/orders.parquet")

    cells = {
        (r["pri"], r["st"]): (r["obs_n"], r["expected_n"], r["chi2_term"])
        for r in _chi2_cells(spark, str(tmp_path)).collect()
    }
    # N=8, rt A=4 B=4, ct X=6 Y=2
    assert cells[("A", "X")] == (4, 3.0, 64.0 / 8.0 / 4.0 / 6.0)
    assert cells[("A", "Y")] == (0, 1.0, 64.0 / 8.0 / 4.0 / 2.0)  # zero cell
    assert cells[("B", "X")] == (2, 3.0, 64.0 / 8.0 / 4.0 / 6.0)
    assert cells[("B", "Y")] == (2, 1.0, 64.0 / 8.0 / 4.0 / 2.0)
    assert len(cells) == 4

    acc = 0.0
    for key in sorted(cells):
        acc = acc + cells[key][2]
    total = _chi2_total(spark, str(tmp_path)).collect()[0]
    assert total["chi2"] == acc
    assert total["dof"] == 1


def test_km_survival_planted_censoring(spark, tmp_path):
    """Four-user cohort covering every KM edge: same-day conversion
    (duration 0), a delayed conversion, a never-converter censored at
    the horizon, and a user whose only purchase PRECEDES their click
    (must count as censored, not converted)."""
    from orchestrated_etl_spark.queries.events import _km_survival

    rows = [
        _event(1, 1, "click", user=1),
        _event(2, 3, "purchase", 10.0, user=1),  # u1: d=2, event
        _event(3, 1, "click", user=2),
        _event(4, 1, "purchase", 10.0, user=2),  # u2: d=0, event
        _event(5, 2, "click", user=3),  # u3: censored at horizon
        _event(6, 1, "purchase", 10.0, user=4),  # before u4's click
        _event(7, 2, "click", user=4),  # u4: censored (no post-click buy)
        _event(8, 6, "view", user=99),  # horizon = day 6; 99 not in cohort
    ]
    spark.createDataFrame(rows, _EVENT_SCHEMA).write.parquet(
        f"{tmp_path}/events.parquet"
    )
    out = {
        r["duration"]: (
            r["d_i"], r["c_i"], r["n_i"], r["km_survival"]
        )
        for r in _km_survival(spark, str(tmp_path)).collect()
    }
    # durations: u1=2(event), u2=0(event), u3=4(censored), u4=4(censored)
    assert out[0] == (1, 1, 4, 3.0 / 4.0)
    assert out[2] == (1, 1, 3, (3.0 / 4.0) * (2.0 / 3.0))
    assert out[4] == (0, 2, 2, (3.0 / 4.0) * (2.0 / 3.0) * 1.0)
    assert len(out) == 3


def test_holt_linear_matches_python_recurrence(spark, tmp_path):
    """Spark's struct-accumulator fold must replay the exact Holt
    recurrence (alpha=1/2, gamma=1/4, init l=x1, b=0) bit-for-bit."""
    from orchestrated_etl_spark.queries.events import _holt_linear

    xs = [100.0, 110.0, 90.0, 130.0, 120.0]
    rows = [
        _event(d, d, "purchase", xs[d - 1]) for d in range(1, len(xs) + 1)
    ]
    spark.createDataFrame(rows, _EVENT_SCHEMA).write.parquet(
        f"{tmp_path}/events.parquet"
    )
    l, b = xs[0], 0.0
    for x in xs[1:]:
        nl = 0.5 * x + 0.5 * (l + b)
        b = 0.25 * (nl - l) + 0.75 * b
        l = nl
    out = _holt_linear(spark, str(tmp_path)).collect()[0]
    assert out["n_days"] == len(xs)
    assert out["level"] == l
    assert out["trend"] == b
    assert out["forecast_3d"] == l + 3.0 * b


def test_countmin_merge_identity(spark, tmp_path):
    """Count-min is linear: per-month partials summed cell-wise must
    give the SAME estimates as the global sketch (and the quarterly
    bitmap OR-merge the same counts as direct distinct)."""
    import datetime as dt

    from orchestrated_etl_spark.queries.aggregates import (
        _bitmap_distinct,
        _bitmap_rollup_quarters,
        _countmin_estimate,
        _countmin_merge,
    )

    rows = []
    oid = 0
    for month in (1, 2, 4):  # spans two quarters
        for k in range(1, 15):
            for _ in range(k):  # skewed: key k appears k times/month
                oid += 1
                rows.append(
                    (oid, k, dt.date(2024, month, 1 + (k % 27)))
                )
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_shipdate date"
    ).write.parquet(f"{tmp_path}/lineitem.parquet")
    sf = str(tmp_path)

    global_est = {
        r["part_key"]: (r["true_count"], r["cm_estimate"])
        for r in _countmin_estimate(spark, sf).collect()
    }
    merged_est = {
        r["part_key"]: (r["true_count"], r["cm_estimate"])
        for r in _countmin_merge(spark, sf).collect()
    }
    assert merged_est == global_est and len(merged_est) == 10

    monthly = {
        r["ship_month"]: r["n_distinct_parts"]
        for r in _bitmap_distinct(spark, sf).collect()
    }
    quarterly = {
        r["ship_quarter"]: r["n_distinct_parts"]
        for r in _bitmap_rollup_quarters(spark, sf).collect()
    }
    assert monthly[dt.date(2024, 1, 1)] == 14
    assert quarterly[dt.date(2024, 1, 1)] == 14  # Jan+Feb same keys
    assert quarterly[dt.date(2024, 4, 1)] == 14


def test_nfd_packing_planted(spark, tmp_path):
    """Hand-computed next-fit-decreasing: tokens [300,300,200,100,12]
    into cap-512 bins -> 3 bins (300 | 300+200 | 100+12), lower bound
    2 (total 912)."""
    from orchestrated_etl_spark.queries.training_pipeline import (
        _NFD_CAP,
        _pack_nfd_bins,
    )

    assert _NFD_CAP == 512
    sizes = [300, 300, 200, 100, 12]
    rows = [
        (i, " ".join(["w"] * n), "en", "s1", n)
        for i, n in enumerate(sizes)
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.parquet(f"{tmp_path}/documents.parquet")
    out = _pack_nfd_bins(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_docs"], r["total_tokens"]) == (5, 912)
    assert r["bins_used"] == 3
    assert r["bins_lower_bound"] == 2
    assert r["fill_efficiency"] == 912.0 / (3 * 512)


def test_growing_relation_joins_not_force_broadcast(spark, sf_dir):
    """Round-15 review: seven wave-15 queries force-broadcast linearly
    growing relations (O(V) HITS score vectors, corpus-proportional
    shared CDC hashes, the customer dimension twice, |parts| counts,
    vocabulary tables, O(V) community labels) while their docstrings
    promised 'shuffle past the threshold' — a forced hint never falls
    back. With auto-broadcast disabled, each plan must contain exactly
    its BOUNDED-hint broadcast joins and nothing more (gini keeps
    three in the PRINTED initial plan: the 25-row nation offsets plus
    the 32-row two-phase-rank offsets join, which appears twice
    because the lazy localCheckpoint subtree prints under both of its
    consumers; scalar crossJoin broadcasts surface as
    BroadcastNestedLoopJoin, which this check deliberately ignores)."""
    from orchestrated_etl_spark.queries.aggregates import (
        _basket_lift,
        _gini_revenue,
    )
    from orchestrated_etl_spark.queries.graph import (
        _graph_modularity,
        _hits_2iter,
    )
    from orchestrated_etl_spark.queries.llm_dedup import _cdc_chunks
    from orchestrated_etl_spark.queries.llm_text import _pmi_collocations
    from orchestrated_etl_spark.queries.relational import _scd2_point_in_time

    expected = [
        (_hits_2iter, 0),
        (_cdc_chunks, 0),
        (_scd2_point_in_time, 0),
        (_basket_lift, 0),
        (_pmi_collocations, 0),
        (_graph_modularity, 0),
        (_gini_revenue, 3),
    ]
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for fn, n_bounded in expected:
            plan = (
                fn(spark, sf_dir)
                ._jdf.queryExecution().executedPlan().toString()
            )
            got = plan.count("BroadcastHashJoin")
            assert got == n_bounded, (fn.__name__, got, plan[:4000])
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
