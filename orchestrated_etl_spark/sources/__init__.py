"""Source readers and sink writers."""

from orchestrated_etl_spark.sources.catalog import load_table
from orchestrated_etl_spark.sources.sinks import write_jdbc, write_parquet

__all__ = ["load_table", "write_jdbc", "write_parquet"]
