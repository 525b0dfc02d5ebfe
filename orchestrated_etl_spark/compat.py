"""Spark-Connect-safe accessors for the two ``SparkContext`` reads the
engine needs, and the engine's one staging primitive, ``stage``.

A Spark Connect client has no ``SparkSession.sparkContext`` — the
attribute raises ``PySparkAttributeError`` — so any operator touching it
breaks the moment a user points the package at a Connect endpoint (the
deployment shape a 1000-executor shared cluster actually serves).
Everything else the engine uses is Connect-clean in Spark 4
(``DataFrame.localCheckpoint`` included, added to Connect in 4.0); the
two classic-only reads are wrapped here with documented fallbacks
instead of being sprinkled across operators:

- ``default_parallelism``: sizes ``repartition(n, key)`` calls that
  co-locate a join or spread a skewed build side. On classic this is
  ``sc.defaultParallelism`` (cluster core count — the established
  behavior everywhere the engine already runs); on Connect it falls
  back to ``spark.sql.shuffle.partitions``, the knob that already sizes
  every other shuffle in the same plans, so the fallback degrades to
  "no worse than the neighboring exchanges".
- ``application_id``: used only as the per-application part of
  staged.py's session-index key (graph edges, BM25 index). On
  Connect, ``spark.app.id`` is a plain runtime conf read; the final
  fallback keys on the session object identity, which over-invalidates
  (new key per session) but never under-invalidates.

Every relation the engine stages (materializes once to read several
times) goes through ``stage``; ``staged_checkpoint`` is its
``keep_partitioning`` path.

The grep contract in tests/test_plan_audit.py pins ``sparkContext`` to
exactly this module plus session.py's log-level call in our own
non-Connect builder, so a new classic-only touch anywhere else fails the
suite; another guard there pins every staging call to this module.
"""

from __future__ import annotations

import threading

from pyspark.errors import PySparkAttributeError
from pyspark.sql import DataFrame, SparkSession

# Serialises staged_checkpoint's session-wide AQE flip: two overlapping
# flips would otherwise save each other's "false" and leave it set.
_AQE_FLIP = threading.Lock()


def default_parallelism(spark: SparkSession) -> int:
    """Classic ``sc.defaultParallelism``; on Connect (no sparkContext)
    fall back to ``spark.sql.shuffle.partitions`` — the width every
    neighboring exchange in the same plan already uses."""
    try:
        return spark.sparkContext.defaultParallelism
    except PySparkAttributeError:
        # The Connect signature EXACTLY — not bare AttributeError: a
        # STOPPED classic SparkContext raises plain AttributeError too
        # (SparkContext.stop() sets _jsc=None, so defaultParallelism
        # dereferences None — verified against pyspark 4.1.2 source),
        # and that is a real classic-session error which must
        # propagate, not silently resize the repartition.
        return int(spark.conf.get("spark.sql.shuffle.partitions", "200"))


def stage(
    df: DataFrame, *, eager: bool = True, keep_partitioning: bool = False
) -> DataFrame:
    """Materialize ``df`` once on the executors and return a relation that
    reads the stored rows, so each later consumer skips ``df``'s lineage.
    The engine stages a relation that several consumers read, or that an
    iterative loop would otherwise re-derive each round.

    - Eager (the default) runs the staging job here, during query
      construction. Each eager boundary is a finished stage whose real
      size AQE plans the consumers from; measured on the minhash
      pipeline, the lazy variant was slower. ``eager=False`` launches no
      job here: the first action that reads the relation stores it as
      part of its own job, and every later read reuses what it stored.
    - ``keep_partitioning=True`` (always eager) keeps the staged plan's
      hash partitioning visible to Catalyst. Under AQE a plain
      ``localCheckpoint`` snapshots the not-yet-finalized adaptive plan,
      which reports ``UnknownPartitioning``, so every later shuffle join
      re-exchanges both sides; ``staged_checkpoint`` plans this one
      statement without AQE instead.
    - Staging is ``DataFrame.localCheckpoint``, called through the class
      attribute (tools and the tracer patch it there), which Spark
      Connect serves since 4.0; no classic-only API is used.
    - The stored blocks live on executors: on executor loss Spark
      recomputes them from the lineage. For a multi-hour 100 TB run
      prefer a staged parquet write, which has the same shape and is
      durable.
    """
    if keep_partitioning:
        if not eager:
            raise ValueError("keep_partitioning stages eagerly")
        return staged_checkpoint(df)
    return df.localCheckpoint(eager=eager)


def staged_checkpoint(df: DataFrame) -> DataFrame:
    """``stage(df, keep_partitioning=True)``: an eager ``localCheckpoint``
    that keeps the plan's hash partitioning visible to Catalyst.

    Under AQE, ``Dataset.checkpoint`` snapshots
    ``executedPlan.outputPartitioning`` from the not-yet-finalized
    ``AdaptiveSparkPlanExec``, which reports ``UnknownPartitioning``
    (measured: a repartition(8, id) → localCheckpoint → self-join
    planned 2 exchanges; through this helper, 0 on the staged side, and
    the probe side's exchange adopts the staged partition count). The
    fix is to plan the ONE checkpoint statement non-adaptively: the
    static plan's ``outputPartitioning`` is the real
    ``hashpartitioning(key, n)``, which ``LogicalRDD`` then preserves
    for every later consumer (those consumers still plan under AQE).
    The staging job itself is a deterministic repartition/aggregate —
    nothing AQE would improve.

    The flip is session-wide. A module lock serialises overlapping
    calls, so each restores the value it found and the session ends as
    it began; a query planned on another thread during the flip may
    still get a plan made without AQE, with correct results."""
    spark = df.sparkSession
    key = "spark.sql.adaptive.enabled"
    with _AQE_FLIP:
        prev = spark.conf.get(key, "true")
        spark.conf.set(key, "false")
        try:
            return df.localCheckpoint(eager=True)
        finally:
            spark.conf.set(key, prev)


def application_id(spark: SparkSession) -> str:
    """Classic ``sc.applicationId``; on Connect read the ``spark.app.id``
    conf, else key on session identity (over-invalidates, never
    under-invalidates)."""
    try:
        return spark.sparkContext.applicationId
    except PySparkAttributeError:
        # Connect-only shape (see default_parallelism). A missing
        # spark.app.id conf on the Connect side is tolerated — the
        # session-identity key over-invalidates, never under-invalidates
        # — but a classic-session failure propagates.
        try:
            app_id = spark.conf.get("spark.app.id", None)
        except Exception:
            app_id = None
        return app_id or f"session-{id(spark)}"
