"""Streaming source + sink helpers for the events table.

`read_events_stream` exposes events.parquet as a file stream with the same
nanos→micros normalization the batch reader applies (sources/catalog.py).
Tests and the rows-only streaming queries drive it with
``Trigger.AvailableNow`` — deterministic micro-batches over a fixed
directory — which is also the production pattern for "run every N minutes
over whatever arrived" (the reference's cron semantics) without keeping a
cluster hot: each run processes exactly the files not yet committed to the
checkpoint.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orchestrated_etl_spark import schemas
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


def run_available_now(
    sdf: DataFrame, *, output_mode: str = "append", name: str | None = None
) -> DataFrame:
    """Execute a streaming DataFrame to completion with AvailableNow into
    an in-memory table; return the materialized result as a batch
    DataFrame. The memory sink is a test/dev harness — production sinks
    are parquet/Delta via ``writeStream`` or ``foreachBatch`` (see
    plans/pipeline.py for the JDBC-batch pattern)."""
    qname = name or f"q_{uuid.uuid4().hex[:12]}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    query = (
        sdf.writeStream.format("memory")
        .queryName(qname)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    spark = sdf.sparkSession
    # Detach the result from the run's scaffolding, then clean up: every
    # registered stream query calls this per bench/oracle run, and
    # without cleanup each run leaked a ckpt_* state-store dir in /tmp
    # and a q_<uuid> memory table held in driver memory for the session
    # lifetime (round-14 review). localCheckpoint materializes the small
    # result so dropping the memory-sink view cannot invalidate it.
    out = spark.table(qname).localCheckpoint(eager=True)
    spark.catalog.dropTempView(qname)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out
