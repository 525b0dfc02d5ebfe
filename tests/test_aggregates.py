"""Aggregate operators on planted fixtures small enough to verify on
paper: streaming moments, count-min sketches and contingency tables."""

from __future__ import annotations


def test_incremental_moments_match_varsamp(spark, sf_dir):
    """Merged stored-moment variance must agree with Spark's own
    var_samp over the raw data (same N, mean; variance within the
    1000-unit reporting grid)."""
    from pyspark.sql import functions as F  # noqa: F811

    from orchestrated_etl_spark.queries.aggregates import _incremental_moments

    got = {
        r["o_orderstatus"]: (r["n_rows"], r["mean_price"], r["var_price_k"])
        for r in _incremental_moments(spark, sf_dir).collect()
    }
    raw = {
        r["o_orderstatus"]: (r["n"], r["mean"], r["var"])
        for r in (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.avg("o_totalprice").alias("mean"),
                F.var_samp("o_totalprice").alias("var"),
            )
        ).collect()
    }
    assert set(got) == set(raw)
    for k, (n, mean, var_k) in got.items():
        rn, rmean, rvar = raw[k]
        assert n == rn
        assert abs(mean - rmean) < 1e-6
        assert abs(var_k - rvar / 1000.0) <= 1.0  # grid floor


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
