"""Checkpoint-resume semantics: the property that makes AvailableNow the
honest replacement for the reference's 5-minute cron (dags/dag.py
schedule_interval) — each run processes exactly the files not yet
committed to the checkpoint, so re-runs never double-count and new data
is picked up incrementally with no bookkeeping in user code.

Sink is a parquet FILE sink (the memory sink cannot recover from a
checkpoint): output accumulates across runs exactly like the reference's
append-per-run Postgres table (K4), and the exactly-once file-source
contract shows up as cumulative counts that never double-count.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _run_stream(spark, src_dir, ckpt, out_dir):
    sdf = spark.readStream.schema("id long, v double").parquet(src_dir)
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir)


def test_available_now_resumes_from_checkpoint(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out" / "data")

    spark.range(0, 100).select(
        F.col("id"), (F.col("id") * 1.0).alias("v")
    ).coalesce(1).write.mode("append").parquet(src)

    assert _run_stream(spark, src, ckpt, out).count() == 100

    # second file arrives; SAME checkpoint → only the new file processes,
    # so the accumulated output is exactly 130 rows (no double-count)
    spark.range(100, 130).select(
        F.col("id"), (F.col("id") * 1.0).alias("v")
    ).coalesce(1).write.mode("append").parquet(src)

    out2 = _run_stream(spark, src, ckpt, out)
    assert out2.count() == 130
    ids = sorted(r["id"] for r in out2.collect())
    assert ids == list(range(130)), "every id exactly once"

    # a third run with nothing new appends nothing
    assert _run_stream(spark, src, ckpt, out).count() == 130

    # fresh checkpoint + fresh sink → full reprocess (the checkpoint, not
    # the source, carries the progress)
    ckpt2 = str(tmp_path / "ckpt2")
    out_b = str(tmp_path / "out2" / "data")
    assert _run_stream(spark, src, ckpt2, out_b).count() == 130
