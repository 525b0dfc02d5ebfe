"""Pipeline layer (O1-O4): composition, validation guards, fan-out to two
sinks, retry budget."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orchestrated_etl_spark.operators.standardise import require_nonempty
from orchestrated_etl_spark.plans import Pipeline, PipelineError, Stage


def test_pipeline_fanout_two_sinks(spark, sf_dir, tmp_path):
    """The reference's O3 fan-out: one standardised frame feeds both the
    row sink and the aggregate sink."""
    captured: dict[str, int] = {}

    pipe = Pipeline(
        name="books_analogue",
        source=lambda s: s.read.parquet(f"{sf_dir}/orders.parquet"),
        stages=[
            Stage(
                "standardise",
                lambda df: df.select(
                    "o_custkey", "o_totalprice"
                ).na.drop("any"),
                validate=lambda df: require_nonempty(df, "standardised"),
            ),
        ],
        sinks={
            "rows": lambda df: captured.__setitem__("rows", df.count()),
            "agg": lambda df: captured.__setitem__(
                "agg", df.groupBy("o_custkey").count().count()
            ),
        },
        retries=0,
    )
    out = pipe.run(spark)
    assert captured["rows"] > 0
    assert captured["agg"] > 0
    assert out.columns == ["o_custkey", "o_totalprice"]


def test_pipeline_fanout_evaluates_the_source_once(spark, tmp_path):
    """The fan-out frame is persisted before the validators run, so the
    validator's job and both sinks share one evaluation of the source and
    of the dedup shuffle behind it (the books fan-out shape). Validating
    first evaluated the source once for the validator and again for the
    first sink. Each source partition leaves one marker file per
    evaluation; without the cache every consumer evaluates it, which
    shows the markers see each evaluation."""
    parts = 4

    def marked(batches):
        import uuid

        (marks / uuid.uuid4().hex).touch()
        yield from batches

    for cache in (True, False):
        marks = tmp_path / f"cache_{cache}"
        marks.mkdir()
        pipe = Pipeline(
            name="source_once",
            source=lambda s: s.range(0, 40, numPartitions=parts).mapInPandas(
                marked, "id long"
            ),
            stages=[
                Stage(
                    "dedup",
                    lambda df: df.dropDuplicates(["id"]),
                    validate=lambda df: require_nonempty(df, "dedup"),
                )
            ],
            sinks={
                "rows": lambda df: df.count(),
                "total": lambda df: df.agg(F.sum("id")).collect(),
            },
            retries=0,
            cache_before_fanout=cache,
        )
        pipe.run(spark)
        evaluated = len(list(marks.iterdir()))
        if cache:
            assert evaluated == parts
        else:
            # the validator reads at least one partition, each sink all
            assert evaluated > 2 * parts


def test_pipeline_validation_aborts(spark):
    pipe = Pipeline(
        name="empty_in",
        source=lambda s: s.createDataFrame([], "a int"),
        stages=[
            Stage(
                "guard",
                lambda df: df,
                validate=lambda df: require_nonempty(df),
            )
        ],
        sinks={"never": lambda df: pytest.fail("sink must not run")},
        retries=0,
        retry_delay_s=0.0,
    )
    with pytest.raises(PipelineError):
        pipe.run(spark)


def test_pipeline_retry_then_success(spark):
    attempts: list[int] = []

    def flaky(df):
        attempts.append(1)
        if len(attempts) == 1:
            raise RuntimeError("transient")
        return df

    pipe = Pipeline(
        name="retry",
        source=lambda s: s.range(3),
        stages=[Stage("flaky", flaky)],
        sinks={"count": lambda df: df.count()},
        retries=1,
        retry_delay_s=0.0,
    )
    pipe.run(spark)
    assert len(attempts) == 2


def test_pipeline_streaming_availablenow(spark, sf_dir, tmp_path):
    """O1 cadence: availableNow streaming run writing a parquet sink."""
    from orchestrated_etl_spark.streaming.events_stream import (
        read_events_stream,
    )

    pipe = Pipeline(
        name="events_stream",
        source=lambda s: None,  # unused in streaming mode
        stages=[
            Stage(
                "project",
                lambda df: df.select("event_id", "ts", "event_type", "value"),
            )
        ],
    )
    q = pipe.run_streaming(
        spark,
        lambda s: read_events_stream(s, sf_dir),
        sink_path=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    written = spark.read.parquet(str(tmp_path / "out"))
    assert written.count() == 1000  # sf0.001 events rows
    assert set(written.columns) == {"event_id", "ts", "event_type", "value"}


def test_pipeline_retry_skips_already_successful_sinks(spark):
    """Round-14 review: a retry used to re-execute EVERY sink, so an
    append sink that had already succeeded doubled its rows when a
    later sink failed transiently. Completed sinks must be skipped by
    the retry; the failed one re-runs and the pipeline succeeds."""
    calls = {"good": 0, "flaky": 0}

    def good_sink(df):
        calls["good"] += 1

    def flaky_sink(df):
        calls["flaky"] += 1
        if calls["flaky"] == 1:
            raise RuntimeError("transient sink outage")

    pipe = Pipeline(
        name="sink_once",
        source=lambda s: s.range(5),
        sinks={"good": good_sink, "flaky": flaky_sink},
        retries=1,
        retry_delay_s=0.0,
    )
    pipe.run(spark)
    assert calls == {"good": 1, "flaky": 2}


def test_pipeline_failure_chains_the_cause(spark):
    """Round-14 review: `raise ... from None` buried the root cause.
    The PipelineError must chain the original exception."""
    import pytest

    def bad_sink(df):
        raise RuntimeError("root cause marker")

    pipe = Pipeline(
        name="doomed",
        source=lambda s: s.range(3),
        sinks={"bad": bad_sink},
        retries=0,
        retry_delay_s=0.0,
    )
    with pytest.raises(PipelineError) as ei:
        pipe.run(spark)
    assert "root cause marker" in str(ei.value.__cause__)


def test_run_streaming_refuses_batch_validators(spark, sf_dir, tmp_path):
    """Round-14 review: run_streaming used to silently SKIP stage
    validators (eager actions are illegal on a streaming frame) — the
    declared T1 guards just vanished. It must refuse loudly instead."""
    import pytest

    from orchestrated_etl_spark.streaming.events_stream import (
        read_events_stream,
    )

    pipe = Pipeline(
        name="guarded",
        source=lambda s: None,
        stages=[
            Stage("noop", lambda df: df,
                  validate=lambda df: require_nonempty(df))
        ],
    )
    with pytest.raises(ValueError, match="batch validators"):
        pipe.run_streaming(
            spark,
            lambda s: read_events_stream(s, sf_dir),
            sink_path=str(tmp_path / "o"),
            checkpoint=str(tmp_path / "c"),
        )
