"""Streaming source + sink helpers for the events table.

`read_events_stream` exposes events.parquet as a file stream with the
declared ``schemas.EVENTS`` columns, ``ts`` declared LTZ for watermarks.
`drain` is the one stream drain: every registered streaming query runs
its stream with ``Trigger.AvailableNow`` through it — deterministic
micro-batches over a fixed input — which is also the production pattern
for "run every N minutes over whatever arrived" (the reference's cron
semantics) without keeping a cluster hot: each run processes exactly the
input not yet committed to the checkpoint. `run_available_now` is its
in-memory-table case.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from orchestrated_etl_spark import schemas
from orchestrated_etl_spark.compat import stage

# ``schemas.EVENTS`` with ``ts`` declared LTZ: withWatermark rejects the
# batch schema's TIMESTAMP_NTZ.
EVENTS_STREAM = T.StructType(
    [
        T.StructField("ts", T.TimestampType(), f.nullable) if f.name == "ts" else f
        for f in schemas.EVENTS
    ]
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file-source stream with the ``EVENTS_STREAM``
    schema. File streams need a declared schema — inference would require
    a listing job per trigger.

    The file stores wall-clock micros (TIMESTAMP_NTZ) but ``ts`` is
    declared LTZ, so the stored micros are read as UTC instants. Window
    boundaries match the batch reader's NTZ semantics ONLY when the
    session renders instants in UTC.

    SESSION-WIDE SIDE EFFECT (deliberate): this sets
    ``spark.sql.session.timeZone=UTC`` on the session and does NOT
    restore it — the pin must still be in force when the stream EXECUTES
    (window boundaries and the Arrow rendering of the LTZ ``ts`` evaluate
    at trigger time, not at plan-build time), so a scoped save/restore
    would silently break the stream it just built. It is set here rather
    than relied on from the session.py default, since a caller may bring
    its own vanilla session. A caller running non-UTC batch queries in
    the same session should use a separate session for them."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The [p] glob makes the path a pattern, so the file source accepts a
    # single file (basePath = parent dir) instead of demanding a directory.
    return spark.readStream.schema(EVENTS_STREAM).parquet(
        f"{sf_dir}/events.[p]arquet"
    )


def drain(
    sdf: DataFrame,
    checkpoint: str,
    *,
    output_mode: str = "append",
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    memory_table: str | None = None,
) -> None:
    """Run the stream ``sdf`` over every input available now, then stop:
    the one place the engine drains a stream. The micro-batches go to
    ``foreach_batch`` when it is given, to the in-memory table
    ``memory_table`` when that is, and otherwise to the noop sink (a run
    kept for the state and offsets it leaves in ``checkpoint``). The wait
    has no timeout, so a failed query raises here instead of returning
    a partial result."""
    writer = sdf.writeStream.outputMode(output_mode)
    if foreach_batch is not None:
        writer = writer.foreachBatch(foreach_batch)
    elif memory_table is not None:
        writer = writer.format("memory").queryName(memory_table)
    else:
        writer = writer.format("noop")
    (
        writer.option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def run_available_now(
    sdf: DataFrame, *, output_mode: str = "append"
) -> DataFrame:
    """Drain a streaming DataFrame into an in-memory table and return the
    result as a batch DataFrame. The memory sink is a test/dev harness —
    production sinks are parquet via ``writeStream`` or ``foreachBatch``
    (see plans/pipeline.py). The result is materialized before the
    memory table is dropped and the checkpoint removed, so the run
    leaves neither behind, failed or not."""
    spark = sdf.sparkSession
    table = f"q_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    try:
        drain(sdf, ckpt, output_mode=output_mode, memory_table=table)
        return stage(spark.table(table))
    finally:
        spark.catalog.dropTempView(table)
        shutil.rmtree(ckpt, ignore_errors=True)
