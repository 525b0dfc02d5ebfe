"""Unit tests pinning the reference's exact standardise semantics
(SURVEY §2.2): regex-miss → NULL (T4), comma-strip cast (T5), dedup (T2),
empty guard (T1), completeness filter (S3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orchestrated_etl_spark.operators import standardise as S
from orchestrated_etl_spark.schemas import RAW_BOOKS


@pytest.fixture(scope="module")
def raw_books(spark):
    rows = [
        ("B1", "A1", "Paper", "59.99", "4.5 out of 5 stars", "1,234"),
        ("B1", "A1", "Hard", "79.99", "4.7 out of 5 stars", "2,001"),
        ("B2", "A2", "Kindle", "29.", "No ratings yet", "0"),
        ("B3", "A2", "Paper", "oops", "3.9 out of 5 stars", "12,345,678"),
    ]
    return spark.createDataFrame(rows, RAW_BOOKS)


def test_standardise_books_dedup_and_casts(raw_books):
    out = S.standardise_books(raw_books)
    rows = {r["Title"]: r for r in out.collect()}
    assert len(rows) == 3  # B1 deduped to one row
    # T4: regex miss → NULL (pandas NaN analogue)
    assert rows["B2"]["Rating"] is None
    # T3: '29.' parses as 29.0 (pandas to_numeric semantics)
    assert rows["B2"]["Price"] == 29.0
    # T3: malformed price → NULL via try_cast (job must not fail)
    assert rows["B3"]["Price"] is None
    # T5: comma strip handles multiple separators
    assert rows["B3"]["Rating_count"] == 12_345_678


def test_dedup_deterministic_keeps_min(spark):
    df = spark.createDataFrame(
        [(1, "k", "x"), (3, "k", "y"), (2, "k", "z"), (9, "j", "w")],
        ["id", "key", "payload"],
    )
    out = S.dedup_by_key_deterministic(df, ["key"], "id").collect()
    got = {r["key"]: (r["id"], r["payload"]) for r in out}
    assert got == {"k": (1, "x"), "j": (9, "w")}


def test_empty_guard(spark):
    df = spark.createDataFrame([], "a int")
    with pytest.raises(ValueError, match="empty"):
        S.require_nonempty(df)
    nonempty = spark.createDataFrame([(1,)], "a int")
    assert S.require_nonempty(nonempty) is nonempty


def test_drop_incomplete(spark):
    df = spark.createDataFrame(
        [(1, "a"), (None, "b"), (2, None)], "x int, y string"
    )
    assert S.drop_incomplete(df).count() == 1
    assert S.drop_incomplete(df, ["x"]).count() == 2
