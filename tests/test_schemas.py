"""Declared-schema contract: every fixture table is read with its schema
from ``schemas.TABLES`` (sources/catalog.load_table), never with the
footer schema, so the declared schemas must match the fixture footers.
A declared read does not check the file: a renamed column reads as
all-null and a wrong timestamp kind shifts every value by the session
zone. Drift must fail here instead."""

from __future__ import annotations

from pathlib import Path

from orchestrated_etl_spark import schemas
from orchestrated_etl_spark.sources.catalog import load_table

REPO = Path(__file__).resolve().parent.parent


def _fixture_dirs(sf_dir: str) -> list[Path]:
    """The fixture scale factors next to the test fixture, plus the
    benchmark's copies."""
    return sorted(Path(sf_dir).parent.glob("sf*")) + sorted(
        (REPO / "perfbench" / "data").glob("sf*")
    )


def _types(schema) -> list[tuple[str, str]]:
    """(name, type) per column; ``simpleString`` drops nullability, which
    Spark ignores for file reads anyway (it reads every column as
    nullable)."""
    return [(f.name, f.dataType.simpleString()) for f in schema]


def test_declared_schemas_match_fixture_footers(spark, sf_dir):
    dirs = _fixture_dirs(sf_dir)
    assert len(dirs) == 5, dirs
    drift = {}
    for d in dirs:
        for name, declared in schemas.TABLES.items():
            # the inferring read, deliberately: this is the footer schema
            footer = spark.read.parquet(str(d / f"{name}.parquet")).schema
            if _types(footer) != _types(declared):
                drift[f"{d.name}/{name}"] = (_types(footer), _types(declared))
    assert not drift, drift


def test_load_table_launches_no_job(spark, sf_dir):
    """A declared read plans without a footer-inference job: reading all
    ten tables (events included) starts no Spark job."""
    sc = spark.sparkContext
    group = "load_table_no_job"
    sc.setJobGroup(group, "declared-schema reads")
    try:
        frames = [load_table(spark, sf_dir, name) for name in schemas.TABLES]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert [f.schema.names for f in frames] == [
        s.names for s in schemas.TABLES.values()
    ]


def test_events_probe_follows_the_ts_encoding(spark, sf_dir, tmp_path):
    """read_events declares ``ts`` from a footer probe that batch and
    stream share: the wall-clock fixtures read as TIMESTAMP_NTZ, a zoned
    file (what Spark writes for a ``timestamp`` column) as TIMESTAMP, and
    a TIMESTAMP(NANOS) file as its nanos floor-truncated to micros."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from orchestrated_etl_spark.sources.catalog import events_ts_type, read_events

    assert events_ts_type(sf_dir) == T.TimestampNTZType()
    assert read_events(spark, sf_dir).schema == load_table(
        spark, sf_dir, "events"
    ).schema

    zoned = tmp_path / "zoned"
    load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).write.parquet(str(zoned / "events.parquet"))
    assert events_ts_type(str(zoned)) == T.TimestampType()
    assert read_events(spark, str(zoned)).count() == 1000  # sf0.001 events

    nanos = tmp_path / "nanos"
    nanos.mkdir()
    ns = 1_704_067_200_123_456_789
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([ns], pa.timestamp("ns")),
                "user_id": pa.array([7], pa.int64()),
                "event_type": ["click"],
                "value": [1.0],
                "props": ["{}"],
            }
        ),
        str(nanos / "events.parquet"),
    )
    assert events_ts_type(str(nanos)) == T.LongType()
    got = read_events(spark, str(nanos)).select(F.unix_micros("ts")).first()[0]
    assert got == ns // 1000
