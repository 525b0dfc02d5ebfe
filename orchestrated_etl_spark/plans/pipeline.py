"""Declarative pipeline: the engine's replacement for the reference's
Airflow DAG machinery (SURVEY §2.6, O1-O4).

The reference wires 5 Celery tasks that materialise the whole dataset
through the Airflow metadata DB at every edge (dags/dag.py:229-233; XCom
handoff §3.1). Here a pipeline is just composed pure
``DataFrame → DataFrame`` functions — the dataflow graph IS Spark's lazy
plan, stage boundaries cost nothing, and the only materialisation is the
sink. What remains of "orchestration" is exactly what Spark doesn't do:
sequencing multiple sinks (O3's fan-out), input validation (T1), retries
(O1's retry budget), and the run cadence (O1's cron → batch run-once,
``availableNow``, or a processing-time trigger).

At 100 TB the fan-out pattern matters: a pipeline writing the same
transformed frame to two sinks should compute it once — ``cache_before_
fanout`` persists the pre-sink frame (MEMORY_AND_DISK) before the
validators run, so the validators and every sink reuse it instead of
recomputing the whole lineage.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Transform = Callable[[DataFrame], DataFrame]
Sink = Callable[[DataFrame], None]


class PipelineError(RuntimeError):
    """A pipeline stage failed after exhausting its retry budget."""


@dataclass
class Stage:
    name: str
    transform: Transform
    # T1-style validation guard run on the stage output (raises to abort).
    validate: Callable[[DataFrame], None] | None = None


@dataclass
class Pipeline:
    """source → [stages] → {named sinks}, with O1-style retry.

    ``retries``/``retry_delay_s`` mirror the reference's
    ``retries=1, retry_delay=60s`` (dags/dag.py:17-18) at pipeline scope —
    per-task retry inside a run is Spark's ``spark.task.maxFailures``.
    """

    name: str
    source: Callable[[SparkSession], DataFrame]
    stages: list[Stage] = field(default_factory=list)
    sinks: dict[str, Sink] = field(default_factory=dict)
    retries: int = 1
    retry_delay_s: float = 60.0
    cache_before_fanout: bool = True

    def build(self, spark: SparkSession) -> DataFrame:
        """Compose the lazy plan (no execution)."""
        df = self.source(spark)
        for stage in self.stages:
            df = stage.transform(df)
        return df

    def _run_once(
        self, spark: SparkSession, done_sinks: set[str]
    ) -> DataFrame:
        df = self.source(spark)
        checks = []
        for stage in self.stages:
            df = stage.transform(df)
            if stage.validate is not None:
                checks.append((stage.validate, df))
        todo = {k: s for k, s in self.sinks.items() if k not in done_sinks}
        fan_out = len(todo) > 1 and self.cache_before_fanout
        if fan_out:
            # Persist BEFORE validating: the last stage's validator then
            # reads through the cache the sinks reuse, so the source and
            # the stages run once, not once for the validator and again for
            # the first sink. persist() returns the frame itself, so the
            # pair recorded for the last stage already names it.
            df = df.persist()
        try:
            for validate, checked in checks:
                validate(checked)
            for name, sink in todo.items():
                sink(df)
                # A retry must not re-run a sink that already succeeded:
                # write_parquet defaults to append, so re-executing it
                # duplicates every row the first attempt landed
                # (round-14 review). Completed sinks are skipped on the
                # next attempt; only the failed-and-after ones re-run.
                done_sinks.add(name)
        finally:
            if fan_out:
                df.unpersist()
        return df

    def run(self, spark: SparkSession) -> DataFrame:
        """Run to all sinks with the retry budget; returns the final frame
        (lazy — sinks have executed, the frame itself can be reused).
        Sinks that succeeded before a failure are NOT re-executed by the
        retry (append sinks would double their rows); the source+stages
        ARE re-evaluated, so sinks of one pipeline see the same lazy
        plan but possibly re-read inputs — the usual Spark contract."""
        attempt = 0
        done_sinks: set[str] = set()
        while True:
            try:
                return self._run_once(spark, done_sinks)
            except Exception as exc:  # noqa: BLE001 — retry any failure
                attempt += 1
                if attempt > self.retries:
                    # chain the cause: `from None` buried the actual
                    # stage/sink error (round-14 review)
                    raise PipelineError(
                        f"pipeline {self.name!r} failed after "
                        f"{attempt} attempt(s)"
                    ) from exc
                time.sleep(self.retry_delay_s)

    def run_streaming(
        self,
        spark: SparkSession,
        stream_source: Callable[[SparkSession], DataFrame],
        sink_path: str,
        checkpoint: str,
        *,
        processing_time: str | None = None,
    ):
        """The O1 cadence, Spark-native: transforms applied to a streaming
        source, written to a parquet sink. ``processing_time='5 minutes'``
        reproduces the reference's cron; None → AvailableNow (run-once
        over pending input, then stop — the idempotent batch-cron hybrid).
        Returns the StreamingQuery handle."""
        guarded = [s.name for s in self.stages if s.validate is not None]
        if guarded:
            # T1 validators are eager actions (isEmpty) — illegal on a
            # streaming frame; silently skipping them would drop the
            # pipeline's declared guards (round-14 review). Refuse
            # loudly; a streaming pipeline expresses its guards as
            # filters/expectations (dq_quarantine_split pattern).
            raise ValueError(
                f"pipeline {self.name!r}: stages {guarded} carry batch "
                "validators, which cannot run on a streaming frame — "
                "drop them or re-express as streaming-safe filters"
            )
        df = stream_source(spark)
        for stage in self.stages:
            df = stage.transform(df)
        writer = (
            df.writeStream.format("parquet")
            .option("path", sink_path)
            .option("checkpointLocation", checkpoint)
        )
        if processing_time:
            writer = writer.trigger(processingTime=processing_time)
        else:
            writer = writer.trigger(availableNow=True)
        return writer.start()
