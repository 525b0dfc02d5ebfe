"""Plan shapes of the TPC-H adaptations: the point of each query is a
specific Catalyst rewrite (decorrelation, semi-join chains, null-aware
anti-join), pinned here on the fixture."""

from __future__ import annotations


# ---------------------------------------------------------------------------
# plan shapes
# ---------------------------------------------------------------------------


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_q2_correlated_min_decorrelates(spark, sf_dir):
    """The correlated ``unit_cost = (SELECT min(...) WHERE same part)``
    must decorrelate into an aggregate joined back on the correlation
    key — at scale a per-row subquery execution would be O(parts ×
    suppliers). The executed plan therefore contains a min aggregate and
    NO per-row scalar-subquery node."""
    from orchestrated_etl_spark.queries.sql_tpch import _q2_min_cost_supplier

    plan = _plan(_q2_min_cost_supplier(spark, sf_dir))
    assert "min(" in plan, plan
    assert "ScalarSubquery" not in plan, plan


def test_q16_not_in_is_anti_join(spark, sf_dir):
    """NOT IN must plan as a (null-aware) anti-join, and the distinct
    supplier count must go through the two-phase distinct expansion —
    both visible in the executed plan."""
    from orchestrated_etl_spark.queries.sql_tpch import _q16_supplier_diversity

    plan = _plan(_q16_supplier_diversity(spark, sf_dir))
    assert "LeftAnti" in plan, plan
    assert "distinct" in plan.lower(), plan


def test_q20_nested_in_is_semi_join_chain(spark, sf_dir):
    """Both IN-subqueries (supplier IN …, part IN …) must become
    left-semi joins — two of them in one plan, never a distinct
    materialization or per-row evaluation."""
    from orchestrated_etl_spark.queries.sql_tpch import (
        _q20_excess_availability,
    )

    plan = _plan(_q20_excess_availability(spark, sf_dir))
    assert plan.count("LeftSemi") >= 2, plan
