"""Streaming source + sink helpers for the events table.

`read_events_stream` exposes events.parquet as a file stream with the same
nanos→micros normalization the batch reader applies (sources/catalog.py).
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
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orchestrated_etl_spark import schemas
from orchestrated_etl_spark.compat import stage
from orchestrated_etl_spark.sources.catalog import (
    events_ts_type,
    nanos_to_micros_ts,
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file-source stream with proper TimestampType
    ``ts``. File streams need a declared schema — inference would require
    a listing job per trigger.

    The column list is ``schemas.EVENTS`` and the footer probe is the
    batch reader's (``events_ts_type``); ``ts`` is always declared LTZ
    (or LongType for a nanos file), because withWatermark rejects the
    batch reader's TIMESTAMP_NTZ.

    SESSION-WIDE SIDE EFFECT (deliberate, round-14 review made it
    signature-level doc): this sets ``spark.sql.session.timeZone=UTC``
    (and, for a TIMESTAMP(NANOS) file,
    ``spark.sql.legacy.parquet.nanosAsLong=true``) on the session and
    does NOT restore them — the timezone pin must still be in force when
    the stream EXECUTES (window boundaries and the Arrow rendering of
    the LTZ ``ts`` evaluate at trigger time, not at plan-build time), so
    a scoped save/restore would silently break the stream it just built.
    A caller running non-UTC batch queries in the same session should
    use a separate session for them."""
    nanos = isinstance(events_ts_type(sf_dir), T.LongType)
    if nanos:
        # TIMESTAMP(NANOS) is read as its physical INT64 and converted
        # below, exactly as the batch reader does.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The µs/ms file stores NTZ wall-clock values but is declared LTZ
    # (withWatermark rejects NTZ): the stored micros are read as UTC
    # instants. Window boundaries match the batch reader's NTZ semantics
    # ONLY when the session renders instants in UTC — force it here rather
    # than relying on the session.py default, since a caller may bring its
    # own vanilla session.
    schema = schemas.events_schema(T.LongType() if nanos else T.TimestampType())
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The [p] glob makes the path a pattern, so the file source accepts a
    # single file (basePath = parent dir) instead of demanding a directory.
    raw = (
        spark.readStream.schema(schema)
        .parquet(f"{sf_dir}/events.[p]arquet")
    )
    if nanos:
        raw = raw.withColumn("ts", nanos_to_micros_ts("ts"))
    return raw


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
