"""Query modules, one per operator family. Importing each module
registers its queries/oracles; ``REGISTRATION_ORDER.txt`` fixes the
order the registry serves them in."""

from __future__ import annotations

_loaded = False


def load() -> None:
    global _loaded
    if _loaded:
        return
    _loaded = True
    from orchestrated_etl_spark.queries import (  # noqa: F401
        aggregates,
        events,
        graph,
        llm_dedup,
        llm_multimodal,
        llm_search_quality,
        llm_similarity,
        llm_text,
        quality_io,
        reference_surface,
        relational,
        scale_ops,
        sql_subqueries,
        sql_surface,
        sql_tpch,
        streaming_queries,
        training_pipeline,
    )
