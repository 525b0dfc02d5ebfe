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


def test_events_read_with_declared_schema(spark, sf_dir, tmp_path):
    """``load_table(..., "events")`` reads with ``schemas.EVENTS`` as
    declared, with no footer probe: the wall-clock fixtures read ``ts``
    as TIMESTAMP_NTZ, a TIMESTAMP(NANOS) file fails at its first action
    instead of being adapted, and a zoned file (what Spark writes for a
    ``timestamp`` column) reads as NTZ with the wall clock it was
    written from in the UTC session."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest
    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events")
    assert _types(events.schema) == _types(schemas.EVENTS)
    assert dict(events.dtypes)["ts"] == "timestamp_ntz"

    nanos = tmp_path / "nanos"
    nanos.mkdir()
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([1_704_067_200_123_456_789], pa.timestamp("ns")),
                "user_id": pa.array([7], pa.int64()),
                "event_type": ["click"],
                "value": [1.0],
                "props": ["{}"],
            }
        ),
        str(nanos / "events.parquet"),
    )
    read = load_table(spark, str(nanos), "events")  # lazy: no error yet
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        read.collect()

    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    zoned = tmp_path / "zoned"
    events.withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(
        str(zoned / "events.parquet")
    )
    back = load_table(spark, str(zoned), "events")
    assert dict(back.dtypes)["ts"] == "timestamp_ntz"
    rows = sorted(back.select("event_id", "ts").collect())
    assert len(rows) == 1000  # sf0.001 events
    assert rows == sorted(events.select("event_id", "ts").collect())
