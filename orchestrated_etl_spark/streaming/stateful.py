"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference's only cross-run state is the ``seen_titles`` set held in a
Python process during one scrape (dags/dag.py:72,97-98 — S4 in SURVEY
§2.1), which dies with the task. This is the honest engine version: state
keyed by group, persisted in Spark's state store across micro-batches,
checkpointed, and resumable. Arrow carries whole record batches into
pandas per key — the escape hatch for stateful logic that built-in
streaming aggregates can't express (here: a running count+sum+last-seen
per user, the shape of a feature-store accumulator)."""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampNTZType,
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        # NTZ, not TimestampType: the input ``ts`` is LTZ (withWatermark
        # rejects NTZ), rendered to NAIVE pandas values whose wall clock
        # equals the stored one only because read_events_stream pins
        # spark.sql.session.timeZone=UTC before the Arrow conversion —
        # a caller that unpins the session zone breaks that equality.
        # Declaring the output LTZ made Spark interpret the kernel's
        # naive max in the session zone and COLLECT it back through the
        # Python process zone — under a shifted host TZ (the round-12
        # Asia/Kathmandu pytest sweep) last_ts drifted +05:45 vs the
        # batch twin's NTZ max("ts"). Wall-clock in, wall-clock out.
        StructField("last_ts", TimestampNTZType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("total", DoubleType()),
        # last-seen ts as epoch MICROS (integer, zone-proof): the running
        # max must live IN the state or it silently resets every
        # micro-batch — a late event arriving in a later batch would
        # regress last_ts below the stored maximum (round-14 review; the
        # single-file fixture always fed exactly one batch, hiding it).
        StructField("last_us", LongType()),
    ]
)


def _accumulate(
    key: tuple[Any, ...],
    batches: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, total, last_us = state.get if state.exists else (0, 0.0, None)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
        mx = pdf["ts"].max()
        if pd.notna(mx):
            mx_us = pd.Timestamp(mx).value // 1000  # ns -> µs
            last_us = mx_us if last_us is None else max(last_us, mx_us)
    state.update((n, total, last_us))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [round(total, 4)],
            "last_ts": [
                None if last_us is None
                else pd.Timestamp(last_us * 1000)  # µs -> ns ctor
            ],
        }
    )


def user_running_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum(value), max(ts)) maintained in the
    state store; one output row per user per micro-batch. State is three
    scalars per key — bounded regardless of event volume."""
    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _accumulate,
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
