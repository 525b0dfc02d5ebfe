"""Workload definitions: which items a pass runs, and in what order.

An item is one registered headline query (built by its query function and
collected) or one ``Pipeline.run`` assembled here from public layer
functions. A pass runs every item of its workload once, in an order drawn
from the workload seed; the fixture data is fixed, so the seed varies only
the order. A run is one cold pass and ``WARM_PASSES`` warm ones, the same
number on every commit, so every commit does the same work.
"""

from __future__ import annotations

import random
from collections.abc import Callable
from dataclasses import dataclass, field

# Headline queries whose query function stages nothing, so execute
# dominates: one per operator family of the 21 such headline queries
# (scan+aggregate, star join, outer join, window, json, temporal join,
# sessionization, text gate, runtime filter), sized so that a cold and a
# warm pass fit the run length.
RELATIONAL = (
    "flagship", "q1_pricing_summary", "j1_star_join_revenue", "j_left_join",
    "window_rank_lag_lead", "json_field_agg", "asof_join_purchase_click",
    "sessionize_events_30m", "train_quality_gopher_gate",
    "join_bloom_prefilter",
)

# Headline queries whose query function launches eager staging jobs or
# fills session caches: build dominates.
ITERATIVE_STAGED = (
    "dedup_minhash_lsh", "search_bm25_topk", "graph_pagerank", "sim_sq8_topk",
    "graph_bfs_frontier", "dedup_cdc_chunks", "events_rfm_quantile_cutoffs",
    "graph_triangle_orient",
)

WARM_PASSES = 2

BOOKS_N = 10_000
BOOKS_PAGE = 2_500  # one page per core of a 4-core host

# wrap(phase, name, fn, force_read=False) -> fn: the tracer's hook around a
# pipeline callable (spans.Tracer.wrap)
Wrap = Callable[..., Callable]


@dataclass(frozen=True)
class PipelineItem:
    """A ``Pipeline.run`` whose sinks are read back and compared with
    DuckDB. ``make(sf_dir, out_dir, wrap)`` builds the pipeline;
    ``sink_sql[sink]`` is the DuckDB oracle for what that sink must hold,
    and ``partitioned`` names the sinks written with hive partitions."""

    name: str
    make: Callable
    sink_sql: Callable[[], dict[str, str]]
    partitioned: frozenset[str] = field(default_factory=frozenset)


def _books_fanout(sf_dir: str, out_dir: str, wrap: Wrap):
    """The reference shape: the paginated books source, standardised,
    fanned out to a rows sink and an aggregate sink."""
    from orchestrated_etl_spark.operators.enrich import enrich_metrics
    from orchestrated_etl_spark.operators.standardise import (
        require_nonempty,
        standardise_books,
    )
    from orchestrated_etl_spark.plans.pipeline import Pipeline, Stage
    from orchestrated_etl_spark.sources.sinks import write_parquet

    def source(spark):
        return (
            spark.read.format("books")
            .option("n", BOOKS_N)
            .option("page_size", BOOKS_PAGE)
            .load()
        )

    def books_sink(df):
        write_parquet(df, f"{out_dir}/books", mode="overwrite")

    def metrics_sink(df):
        write_parquet(
            enrich_metrics(df), f"{out_dir}/enriched_metrics", mode="overwrite"
        )

    return Pipeline(
        name="books_fanout",
        source=wrap("source", "books", source, force_read=True),
        stages=[
            Stage(
                "standardise",
                wrap("transform", "standardise", standardise_books),
                validate=wrap(
                    "validate", "nonempty",
                    lambda df: require_nonempty(df, "books"),
                ),
            )
        ],
        sinks={
            "books": wrap("sink", "books", books_sink),
            "enriched_metrics": wrap("sink", "enriched_metrics", metrics_sink),
        },
        retries=1,
        retry_delay_s=0.0,
    )


_BOOKS_STD = r"""
    books AS (
        SELECT title AS Title, author AS Author, book_type,
               TRY_CAST(price AS DOUBLE) AS Price,
               TRY_CAST(regexp_extract(rating, '(\d\.\d)', 1) AS DOUBLE) AS Rating,
               TRY_CAST(replace(rating_count, ',', '') AS BIGINT) AS Rating_count
        FROM raw
    )
"""


def _books_fanout_sql() -> dict[str, str]:
    from orchestrated_etl_spark.sources.books_source import books_oracle_cte

    with_ = f"WITH {books_oracle_cte(BOOKS_N)}, {_BOOKS_STD}"
    wsum = (
        "CAST(sum(CAST(Rating AS DECIMAL(8,2))"
        " * CAST(Rating_count AS DECIMAL(14,0))) AS DOUBLE)"
    )
    return {
        "books": f"{with_} SELECT * FROM books",
        "enriched_metrics": f"""{with_}
            SELECT Author,
                   {wsum} / sum(Rating_count) AS Average_rating,
                   CAST(sum(CAST(Price AS DECIMAL(14,2))) AS DOUBLE)
                       / count(Price) AS Average_price,
                   CAST(sum(Rating_count) AS BIGINT) AS Total_rating_count,
                   {wsum} AS Sum_rating_count_rating,
                   count(*) AS Book_count
            FROM books GROUP BY Author""",
    }


_LINEITEM_MONEY = ("l_quantity", "l_extendedprice", "l_discount")


def _lineitem_partitioned(sf_dir: str, out_dir: str, wrap: Wrap):
    """A lineitem read, completeness filter and decimal casts, written
    partitioned by return flag and line status."""
    from pyspark.sql import functions as F

    from orchestrated_etl_spark.operators.standardise import (
        drop_incomplete,
        to_number,
    )
    from orchestrated_etl_spark.plans.pipeline import Pipeline, Stage
    from orchestrated_etl_spark.sources.catalog import load_table
    from orchestrated_etl_spark.sources.sinks import write_parquet

    def cast_filter(df):
        kept = drop_incomplete(df, list(_LINEITEM_MONEY)).where(
            F.col("l_discount") < 0.08
        )
        return kept.select(
            "l_orderkey",
            "l_linenumber",
            to_number("l_quantity", "decimal(12,2)").alias("l_quantity"),
            to_number("l_extendedprice", "decimal(14,2)").alias("l_extendedprice"),
            to_number("l_discount", "decimal(4,2)").alias("l_discount"),
            "l_returnflag",
            "l_linestatus",
        )

    def sink(df):
        write_parquet(
            df,
            f"{out_dir}/lineitem",
            mode="overwrite",
            partition_by=["l_returnflag", "l_linestatus"],
        )

    return Pipeline(
        name="lineitem_partitioned",
        source=wrap(
            "source", "lineitem", lambda spark: load_table(spark, sf_dir, "lineitem")
        ),
        stages=[Stage("cast_filter", wrap("transform", "cast_filter", cast_filter))],
        sinks={"lineitem": wrap("sink", "lineitem", sink)},
        retries=1,
        retry_delay_s=0.0,
    )


def _lineitem_partitioned_sql() -> dict[str, str]:
    complete = " AND ".join(f"{c} IS NOT NULL" for c in _LINEITEM_MONEY)
    return {
        "lineitem": f"""
            SELECT l_orderkey, l_linenumber,
                   CAST(l_quantity AS DECIMAL(12,2)) AS l_quantity,
                   CAST(l_extendedprice AS DECIMAL(14,2)) AS l_extendedprice,
                   CAST(l_discount AS DECIMAL(4,2)) AS l_discount,
                   l_returnflag, l_linestatus
            FROM lineitem WHERE {complete} AND l_discount < 0.08"""
    }


PIPELINES = (
    PipelineItem("books_fanout", _books_fanout, _books_fanout_sql),
    PipelineItem(
        "lineitem_partitioned",
        _lineitem_partitioned,
        _lineitem_partitioned_sql,
        frozenset({"lineitem"}),
    ),
)


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    pipelines: tuple[PipelineItem, ...] = ()

    @property
    def items(self) -> tuple[str, ...]:
        return self.queries + tuple(p.name for p in self.pipelines)

    def pipeline(self, name: str) -> PipelineItem | None:
        return next((p for p in self.pipelines if p.name == name), None)


WORKLOADS = {
    w.name: w
    for w in (
        Workload("relational_etl", RELATIONAL, PIPELINES),
        Workload("iterative_staged", ITERATIVE_STAGED),
    )
}


def pass_order(workload: Workload, seed: int, pass_no: int) -> list[str]:
    """The item order of one pass: a permutation drawn from the seed."""
    items = list(workload.items)
    random.Random(f"{workload.name}:{seed}:{pass_no}").shuffle(items)
    return items
