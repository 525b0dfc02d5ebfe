"""Explicit StructType schemas for every table the engine operates on.

The reference infers schemas implicitly from scraped dicts and pandas
``to_numeric`` (/root/reference/dags/dag.py:117,138-146) and only declares
types at the Postgres sink DDL (dags/dag.py:40-58). We invert that: schemas
are declared up front (FIXTURES.md §B) and every cast is explicit. The
fixture readers (sources/catalog.py) read parquet with these StructTypes
instead of the footer schema: a declared read launches no inference job.
tests/test_schemas.py pins every declared table schema to the fixture
footers (nullability aside — Spark reads files as nullable anyway), so
fixture drift fails a test instead of being silently re-inferred.

Timestamps: the fixtures store wall-clock TIMESTAMP(MICROS) without a
zone, which is TIMESTAMP_NTZ; declaring them ``TimestampType`` (LTZ)
would shift every value by the session zone. Batch reads of every table,
events included, use these schemas as declared. Only the events file
stream (streaming/events_stream.py) declares ``ts`` LTZ, because
watermarks reject NTZ.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- TPC-H-ish star schema (FIXTURES.md §B) ---------------------------------

REGION = T.StructType(
    [
        T.StructField("r_regionkey", T.IntegerType(), False),
        T.StructField("r_name", T.StringType(), False),
    ]
)

NATION = T.StructType(
    [
        T.StructField("n_nationkey", T.IntegerType(), False),
        T.StructField("n_name", T.StringType(), False),
        T.StructField("n_regionkey", T.IntegerType(), False),
    ]
)

CUSTOMER = T.StructType(
    [
        T.StructField("c_custkey", T.LongType(), False),
        T.StructField("c_name", T.StringType(), False),
        T.StructField("c_nationkey", T.IntegerType(), False),
        T.StructField("c_acctbal", T.DoubleType(), True),
        T.StructField("c_mktsegment", T.StringType(), True),
    ]
)

SUPPLIER = T.StructType(
    [
        T.StructField("s_suppkey", T.LongType(), False),
        T.StructField("s_name", T.StringType(), False),
        T.StructField("s_nationkey", T.IntegerType(), False),
        T.StructField("s_acctbal", T.DoubleType(), True),
    ]
)

PART = T.StructType(
    [
        T.StructField("p_partkey", T.LongType(), False),
        T.StructField("p_name", T.StringType(), False),
        T.StructField("p_brand", T.StringType(), True),
        T.StructField("p_type", T.StringType(), True),
        T.StructField("p_size", T.IntegerType(), True),
        T.StructField("p_retailprice", T.DoubleType(), True),
    ]
)

ORDERS = T.StructType(
    [
        T.StructField("o_orderkey", T.LongType(), False),
        T.StructField("o_custkey", T.LongType(), False),
        T.StructField("o_orderstatus", T.StringType(), True),
        T.StructField("o_totalprice", T.DoubleType(), True),
        T.StructField("o_orderdate", T.TimestampNTZType(), True),
        T.StructField("o_orderpriority", T.StringType(), True),
    ]
)

LINEITEM = T.StructType(
    [
        T.StructField("l_orderkey", T.LongType(), False),
        T.StructField("l_partkey", T.LongType(), False),
        T.StructField("l_suppkey", T.LongType(), False),
        T.StructField("l_linenumber", T.IntegerType(), False),
        T.StructField("l_quantity", T.DoubleType(), True),
        T.StructField("l_extendedprice", T.DoubleType(), True),
        T.StructField("l_discount", T.DoubleType(), True),
        T.StructField("l_tax", T.DoubleType(), True),
        T.StructField("l_returnflag", T.StringType(), True),
        T.StructField("l_linestatus", T.StringType(), True),
        T.StructField("l_shipdate", T.TimestampNTZType(), True),
    ]
)

# --- stream + LLM-extension tables ------------------------------------------

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampNTZType(), False),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),  # JSON text
    ]
)

# JSON payload schema inside events.props (the analogue of the reference's
# HTML field extraction, dags/dag.py:83-92 → S2 in SURVEY §2.1).
EVENT_PROPS = T.StructType([T.StructField("k", T.IntegerType(), True)])

DOCUMENTS = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True),
    ]
)

EMBEDDINGS = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        T.StructField("label", T.IntegerType(), True),
    ]
)

# --- reference-surface schemas (FIXTURES.md §A) -----------------------------
# raw_books is the scrape output (all strings, dags/dag.py:99-106); books and
# enriched_metrics are the two sink tables (dags/dag.py:41-48, 50-57).

RAW_BOOKS = T.StructType(
    [
        T.StructField("Title", T.StringType(), True),
        T.StructField("Author", T.StringType(), True),
        T.StructField("book_type", T.StringType(), True),
        T.StructField("Price", T.StringType(), True),
        T.StructField("Rating", T.StringType(), True),
        T.StructField("Rating_count", T.StringType(), True),
    ]
)

BOOKS = T.StructType(
    [
        T.StructField("Title", T.StringType(), True),
        T.StructField("Author", T.StringType(), True),
        T.StructField("book_type", T.StringType(), True),
        T.StructField("Price", T.DoubleType(), True),
        T.StructField("Rating", T.DoubleType(), True),
        T.StructField("Rating_count", T.LongType(), True),
    ]
)

ENRICHED_METRICS = T.StructType(
    [
        T.StructField("Author", T.StringType(), True),
        T.StructField("Average_rating", T.DoubleType(), True),
        T.StructField("Average_price", T.DoubleType(), True),
        T.StructField("Total_rating_count", T.LongType(), True),
        T.StructField("Sum_rating_count_rating", T.DoubleType(), True),
        T.StructField("Book_count", T.LongType(), True),
    ]
)

TABLES: dict[str, T.StructType] = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}
