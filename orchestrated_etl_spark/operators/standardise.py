"""Standardise-stage operators (SURVEY §2.2, T1-T6; §2.1 S3-S4).

The reference's ``standardise_book_data`` (/root/reference/dags/dag.py:125-149)
dedups by key and coerces string columns to numbers with pandas
``to_numeric`` / ``str.extract`` / ``str.replace``. Every operator here is a
pure ``DataFrame → DataFrame`` function built from JVM-side expressions
(no Python UDFs), so Catalyst folds the whole stage into the scan's
whole-stage-codegen span and pushes filters into parquet.

Semantics preserved exactly:
- T4: regex miss → NULL (pandas NaN), via empty-match → try_cast NULL.
- T2: dedup keeps ONE row per key. pandas keeps the *first* occurrence
  (dags/dag.py:135); "first" is not meaningful in a distributed shuffle, so
  the deterministic form keeps the row with the minimum tie-breaker key —
  at scale this is a single hash aggregate (max_by/min_by), not a window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def require_nonempty(df: DataFrame, what: str = "input") -> DataFrame:
    """T1 — empty-input guard (dags/dag.py:129-130,160-161,193-194,212-213).

    Note: ``isEmpty()`` runs a cheap job (reads at most one partition's
    first rows). Use only at pipeline boundaries, never per-operator.
    """
    if df.isEmpty():
        raise ValueError(f"standardise: {what} DataFrame is empty")
    return df


def drop_incomplete(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """S3 — record-completeness predicate (dags/dag.py:94): keep a row only
    if every (subset) field is non-null. Conjunctive IsNotNull filters are
    pushed down to the parquet scan by Catalyst."""
    return df.na.drop("any", subset=subset)


def dedup_by_key(df: DataFrame, keys: list[str]) -> DataFrame:
    """T2/S4 — dedup by key (dags/dag.py:135; arrival dedup :97-98).

    ``dropDuplicates`` keeps an arbitrary row per key — fine when any
    representative will do (one shuffle on the key, map-side partial
    aggregation, AQE-skew-safe)."""
    return df.dropDuplicates(keys)


def dedup_by_key_deterministic(
    df: DataFrame, keys: list[str], order_col: str
) -> DataFrame:
    """T2, deterministic form: per key keep the row minimizing ``order_col``
    (the distributed stand-in for pandas keep='first'). Implemented as one
    hash aggregate of ``min_by`` — a single shuffle on the dedup key; no
    window, no second pass over the data."""
    others = [c for c in df.columns if c not in keys and c != order_col]
    aggs = [F.min(order_col).alias(order_col)] + [
        F.min_by(c, order_col).alias(c) for c in others
    ]
    return df.groupBy(*keys).agg(*aggs).select(*df.columns)


def to_number(col: Column | str, dtype: str = "double") -> Column:
    """T3 — string→number cast (pandas to_numeric, dags/dag.py:138).
    ``try_cast`` yields NULL on malformed text instead of failing the job."""
    c = F.col(col) if isinstance(col, str) else col
    return c.try_cast(dtype)


def extract_number(
    col: Column | str, pattern: str = r"(\d\.\d)", dtype: str = "double"
) -> Column:
    """T4 — regex extract + cast ("4.5 out of 5 stars" → 4.5,
    dags/dag.py:141-142). No match → '' → try_cast → NULL, matching the
    pandas NaN result."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, pattern, 1).try_cast(dtype)


def strip_separators_to_long(col: Column | str) -> Column:
    """T5 — thousands-separator strip + cast ("1,234" → 1234,
    dags/dag.py:145-146)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, ",", "").try_cast("long")


def project_drop(df: DataFrame, *cols: str) -> DataFrame:
    """T6 — column drop, implementing the *intent* of the reference's no-op
    ``copy.drop(columns=['Title'])`` (dags/dag.py:163; SURVEY §1.4).
    Column pruning then propagates into the scan's ReadSchema."""
    return df.drop(*cols)


def standardise_books(raw: DataFrame) -> DataFrame:
    """The reference's standardise stage verbatim over its own schema
    (RAW_BOOKS → BOOKS): dedup by Title, then the three numeric coercions
    (dags/dag.py:132-149). One lazy plan, no intermediate materialisation."""
    return dedup_by_key(raw, ["Title"]).select(
        "Title",
        "Author",
        "book_type",
        to_number("Price").alias("Price"),
        extract_number("Rating").alias("Rating"),
        strip_separators_to_long("Rating_count").alias("Rating_count"),
    )
