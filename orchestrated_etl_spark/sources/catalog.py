"""Table catalog: declared-schema readers over the fixture directory.

Replaces the reference's source stage (HTTP scrape + BeautifulSoup DOM
extraction, /root/reference/dags/dag.py:65-119 — S1/S2/S6 in SURVEY §2.1)
with Spark's partition-parallel vectorized columnar scans. Filters and
column selection expressed on the returned DataFrames reach the parquet
reader via Catalyst pushdown — at 100 TB the scan is the dominant cost and
pruning there is the single biggest lever.

Every fixture table, ``events`` included, is read by ``load_table`` with
its declared schema.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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
    footers by tests/test_schemas.py. A declared read does not check the
    file up front: a declared column the file lacks reads as all-null,
    and a column stored as another type (a TIMESTAMP(NANOS) events
    ``ts``, say) fails at the query's first action. Drift must fail that
    test first."""
    if name not in schemas.TABLES:
        raise KeyError(f"unknown table {name!r}; known: {sorted(schemas.TABLES)}")
    return spark.read.schema(schemas.TABLES[name]).parquet(table_path(sf_dir, name))


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

