"""Table catalog: declared-schema readers over the fixture directory.

Replaces the reference's source stage (HTTP scrape + BeautifulSoup DOM
extraction, /root/reference/dags/dag.py:65-119 — S1/S2/S6 in SURVEY §2.1)
with Spark's partition-parallel vectorized columnar scans. Filters and
column selection expressed on the returned DataFrames reach the parquet
reader via Catalyst pushdown — at 100 TB the scan is the dominant cost and
pruning there is the single biggest lever.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from orchestrated_etl_spark import schemas

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    """Where fixture table ``name`` lives under ``sf_dir``: one parquet
    file or a directory of part files."""
    return f"{sf_dir}/{name}.parquet"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table with its declared schema (``schemas.TABLES``).

    This is the engine's one fixture reader. Without a schema, every
    parquet read first runs a footer-inference job (95-130 ms and one job
    per table read on a 4-core host, against 13-28 ms and no job when
    declared), and a multi-table query pays that once per table before
    its own action. The declared schemas are pinned to the fixture
    footers by tests/test_schemas.py: a declared read does not check the
    file (a declared column the file lacks reads as all-null), so drift
    must fail that test instead."""
    if name not in schemas.TABLES:
        raise KeyError(f"unknown table {name!r}; known: {sorted(schemas.TABLES)}")
    if name == "events":
        return read_events(spark, sf_dir)
    return spark.read.schema(schemas.TABLES[name]).parquet(table_path(sf_dir, name))


def nanos_to_micros_ts(col: str = "ts"):
    """Nano-long → microsecond-timestamp conversion, shared by the batch
    and stream events readers so the two can never diverge (round-14
    review — each had its own copy). FLOOR semantics in pure integer
    arithmetic: plain ``div`` truncates toward zero, which for a
    NEGATIVE (pre-epoch) nano value rounds the wrong way vs DuckDB's
    floor truncation; float division is not an option because int64
    nanos exceed a double's 2^53 exact range. The fixture is entirely
    post-epoch (where div == floor), so this is contract hardening, not
    a behavior change there."""
    return F.expr(
        f"timestamp_micros({col} div 1000 - "
        f"(CASE WHEN {col} % 1000 < 0 THEN 1 ELSE 0 END))"
    )


def events_ts_type(sf_dir: str) -> T.DataType:
    """The type to declare for events ``ts``, from one parquet footer read
    on the driver (pyarrow, no Spark job); the batch and stream events
    readers share this probe. ``sf_dir/events.parquet`` may be one file or
    a directory of part files (the first part's footer decides).

    - TIMESTAMP(NANOS), an earlier fixture generation: LongType, the
      physical INT64 read under ``nanosAsLong`` (Spark's reader rejects
      NANOS outright) and converted by ``nanos_to_micros_ts``;
    - a zoned timestamp (INT96, or isAdjustedToUTC=true — what Spark
      writes for a TimestampType column): TimestampType;
    - a wall-clock timestamp (isAdjustedToUTC=false, the current
      fixtures): TimestampNTZType, as ``schemas.EVENTS`` declares."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    first = ds.dataset(table_path(sf_dir, "events"), format="parquet").files[0]
    footer = pq.ParquetFile(first).schema
    ts = footer.column(footer.names.index("ts"))
    logical = json.loads(ts.logical_type.to_json())
    if logical.get("timeUnit") == "nanoseconds":
        return T.LongType()
    if ts.physical_type == "INT96" or logical.get("isAdjustedToUTC"):
        return T.TimestampType()
    return T.TimestampNTZType()


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet with the declared ``schemas.EVENTS`` columns; ``ts``
    takes the type ``events_ts_type`` finds in the footer (TIMESTAMP_NTZ
    for the fixtures). A TIMESTAMP(NANOS) ``ts`` is read as nanoseconds
    since the epoch and floor-truncated to a microsecond TimestampType —
    the same truncation DuckDB applies, so oracle comparisons agree.

    SESSION-WIDE SIDE EFFECT, nanos files only (deliberate; mirrors
    read_events_stream): the ``nanosAsLong`` conf stays set because it is
    consulted again at EXECUTION time, not just at read time — a scoped
    restore would break the very frame this function returns.
    Consequence: any OTHER nanos-timestamp parquet read later in the
    session also comes back as bigint nanos instead of erroring; a
    session that must read foreign nanos files as errors should use a
    separate session. The conf is only ever set to ``true``, never
    restored, so concurrent callers cannot undo each other's setting."""
    ts_type = events_ts_type(sf_dir)
    nanos = isinstance(ts_type, T.LongType)
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.schema(schemas.events_schema(ts_type)).parquet(
        table_path(sf_dir, "events")
    )
    return raw.withColumn("ts", nanos_to_micros_ts("ts")) if nanos else raw


def read_csv(spark: SparkSession, path: str, schema, **options) -> DataFrame:
    """CSV reader with a mandatory declared schema (no inference jobs).
    ``header`` DEFAULTS to true but is caller-overridable — the previous
    hardcoded keyword made ``read_csv(..., header="false")`` a TypeError
    (duplicate keyword) instead of reading a headerless file (round-14
    review)."""
    opts = {"header": "true", **options}
    return spark.read.options(**opts).schema(schema).csv(path)


def read_json(spark: SparkSession, path: str, schema, **options) -> DataFrame:
    """JSON-lines reader with a mandatory declared schema."""
    return spark.read.options(**options).schema(schema).json(path)


def read_orc(spark: SparkSession, path: str, schema, **options) -> DataFrame:
    """ORC reader with a declared schema (columnar like parquet: column
    pruning + predicate pushdown both apply; the declared schema guards
    against drift between writer and reader versions)."""
    return spark.read.options(**options).schema(schema).orc(path)

