"""Data-quality rules shared by batch and streaming queries.

``quarantine_route`` applies the declarative quarantine rule set to an
events relation; ``QUARANTINE_SQL`` is its DuckDB twin, the oracle of
both ``dq_quarantine_split`` and ``stream_quarantine_split``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

QUARANTINE_SQL = """
    SELECT event_id, event_type, user_id,
           concat_ws(',',
               CASE WHEN event_type = 'purchase' AND value > 400.0
                    THEN 'purchase_over_cap' END,
               CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER)
                         >= 95
                    THEN 'props_k_out_of_range' END,
               CASE WHEN hour(ts) < 2 OR hour(ts) >= 23
                    THEN 'outside_sla_hours' END) AS reasons
    FROM events
    WHERE (event_type = 'purchase' AND value > 400.0)
       OR CAST(json_extract_string(props, '$.k') AS INTEGER) >= 95
       OR hour(ts) < 2 OR hour(ts) >= 23
"""


def quarantine_route(ev: DataFrame) -> DataFrame:
    """Apply the declarative quarantine rule set to an events relation
    (batch OR streaming — the expressions are stateless row maps, so
    the same code serves both): rows failing ANY rule, with a
    deterministically-ordered (rule-declaration order) reason
    string."""
    k = F.get_json_object("props", "$.k").cast("int")
    rules = [
        (
            "purchase_over_cap",
            (F.col("event_type") == "purchase") & (F.col("value") > 400.0),
        ),
        ("props_k_out_of_range", k >= 95),
        (
            "outside_sla_hours",
            (F.hour("ts") < 2) | (F.hour("ts") >= 23),
        ),
    ]
    reasons = F.concat_ws(
        ",",
        F.filter(
            F.array(
                *[
                    F.when(cond, F.lit(name)).otherwise(F.lit(None))
                    for name, cond in rules
                ]
            ),
            lambda x: x.isNotNull(),
        ),
    )
    return (
        ev.select(
            "event_id",
            "event_type",
            "user_id",
            reasons.alias("reasons"),
        )
        .where(F.col("reasons") != "")
    )
