"""Scaling curves for the headline query families (results in SCALING.md).

Each family names the fixture tables it grows, how it grows them, the
query cores it times and the multipliers of its curve. For every
multiplier the grown tables are staged to a temporary sf_dir, so the
cores run through their normal ``(spark, sf_dir)`` contract and read
through ``sources.catalog.load_table`` like every registered query. Each
reported timing is the second consecutive run (``scaling_common.steady``);
the first absorbs staging, codegen and session caches.

Growth methods (``scaling_common``): key-shifted copies with disjoint id
spaces (shift ``max(key)+1``), and document copies under distinct
alphabet permutations so token/chunk/shingle domains genuinely grow.

Usage:

    SPARK_GRAFT_DRIVER_MEM=16g python tools/measure_scaling.py [sf_dir] [family ...]

``sf_dir`` defaults to ``$SPARK_GRAFT_SF_DIR`` (else the sf0.1 fixtures);
with no family names every family runs, in ``FAMILIES`` order.
"""

from __future__ import annotations

import os
import sys
import time
from collections.abc import Callable
from pathlib import Path
from typing import NamedTuple

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from orchestrated_etl_spark.functions import similarity as SIM  # noqa: E402
from orchestrated_etl_spark.functions.graph import (  # noqa: E402
    bfs_distances,
    cached_edges,
    copurchase_edges,
    shortest_path_bf,
)
from orchestrated_etl_spark.queries.events import (  # noqa: E402
    rfm_cutoff_core,
    rfm_ntile_core,
)
from orchestrated_etl_spark.queries.llm_search_quality import (  # noqa: E402
    bm25_query,
    build_bm25_index,
)
from orchestrated_etl_spark.registry import queries  # noqa: E402
from orchestrated_etl_spark.session import get_spark  # noqa: E402
from orchestrated_etl_spark.sources.catalog import (  # noqa: E402
    DEFAULT_SF_DIR,
    load_table,
)
from scaling_common import (  # noqa: E402
    dihedral52,
    grow_permuted_docs,
    grow_shifted,
    max_shift,
    rot26,
    stage_parquet,
    staged_tmpdir,
    steady,
)

Grow = Callable[[DataFrame, int], DataFrame]
Stage = Callable[[SparkSession, str, str, int], None]
# A core returns the DataFrame to count, or the relations it staged (the
# BM25 index build), which are not counted.
Query = Callable[[SparkSession, str], object]


class Family(NamedTuple):
    stage: Stage
    queries: dict[str, Query]
    mults: tuple[int, ...]


def tables(**grows: Grow) -> Stage:
    """Stage each named fixture table, grown by its ``Grow``."""

    def stage(spark: SparkSession, sf_dir: str, tmp: str, mult: int) -> None:
        for name, grow in grows.items():
            grown = grow(load_table(spark, sf_dir, name), mult)
            stage_parquet(grown, f"{tmp}/{name}.parquet")

    return stage


def shifted(*cols: str) -> Grow:
    """Disjoint copies: each key in ``cols`` shifted by max(key)+1 per copy."""
    return lambda df, mult: grow_shifted(df, mult, list(cols))


def permuted(perm: Callable[[int], str]) -> Grow:
    """Document copies under distinct alphabet permutations, disjoint ids."""
    return lambda df, mult: grow_permuted_docs(
        df, mult, perm, keep=("lang", "source", "n_chars")
    )


def unchanged(df: DataFrame, mult: int) -> DataFrame:
    return df


def fk_facts(*dims: str) -> Stage:
    """lineitem and orders grown with ONE o_orderkey shift, so the
    lineitem->orders foreign key holds in every copy; o_custkey stays in
    the base range and ``dims`` stay base-sized (facts grow, dimensions
    don't)."""

    def stage(spark: SparkSession, sf_dir: str, tmp: str, mult: int) -> None:
        shift = max_shift(load_table(spark, sf_dir, "orders"), "o_orderkey")

        def same_shift(col: str) -> Grow:
            return lambda df, m: grow_shifted(
                df, m, [col], shifts={col: shift}
            )

        tables(
            orders=same_shift("o_orderkey"),
            lineitem=same_shift("l_orderkey"),
            **dict.fromkeys(dims, unchanged),
        )(spark, sf_dir, tmp, mult)

    return stage


def _assign_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF build alone: nearest-centroid assignment, 8 fixed centroids."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.assign_to_centroids(
        emb, emb.filter(F.col("vec_id") < 8), "vec_id", "embedding"
    )


def _derive(min_weight: int) -> Query:
    """Co-purchase edge derivation, uncached (the staged store's build)."""
    return lambda spark, sf_dir: copurchase_edges(spark, sf_dir, min_weight)


_BM25 = {
    "build": lambda spark, d: build_bm25_index(
        load_table(spark, d, "documents")
    ),
    "query": lambda spark, d: bm25_query(spark),
}
_RFM = {
    "ntile": lambda spark, d: rfm_ntile_core(
        load_table(spark, d, "events")
    ),
    "cutoffs": lambda spark, d: rfm_cutoff_core(
        load_table(spark, d, "events")
    ),
}
# registered queries by name: a core that is a registered query is timed
# through the same callable the driver runs
Q = queries()
_EVENTS_DISJOINT = tables(events=shifted("user_id", "event_id"))
_LINEITEM_DISJOINT = tables(lineitem=shifted("l_orderkey", "l_partkey"))

FAMILIES: dict[str, Family] = {
    "bm25_rotated": Family(
        tables(documents=permuted(rot26)), _BM25, (1, 5, 20)
    ),
    "rfm": Family(
        tables(events=shifted("user_id")), _RFM, (1, 5, 20, 50, 100)
    ),
    "semdedup": Family(
        tables(embeddings=shifted("vec_id")),
        {"semdedup": Q["dedup_semantic_clusters"]},
        (1, 5, 20),
    ),
    "incr_minhash": Family(
        tables(documents=permuted(rot26)),
        {"incr_minhash": Q["train_incremental_minhash"]},
        (1, 5, 20),
    ),
    # order-shifted copies over the SAME part space: every co-purchase
    # pair count multiplies, so the graph densifies rather than grows
    "bfs_dense": Family(
        tables(lineitem=shifted("l_orderkey")),
        {
            "derive": _derive(2),
            "bfs4": lambda spark, d: bfs_distances(
                cached_edges(spark, d, min_weight=2), 0, 4
            ),
            "bellman3": lambda spark, d: shortest_path_bf(
                cached_edges(spark, d, min_weight=2), 0, 3
            ),
        },
        (1, 2, 5),
    ),
    "coverage": Family(
        tables(events=shifted("user_id")),
        {"coverage": Q["events_interval_coverage"]},
        (1, 5, 20),
    ),
    "cdc": Family(
        tables(documents=permuted(dihedral52)),
        {"cdc": Q["dedup_cdc_chunks"]},
        (1, 5, 20, 50),
    ),
    "sketches": Family(
        tables(lineitem=shifted("l_partkey")),
        {
            "bitmap_distinct": Q["agg_bitmap_distinct"],
            "countmin": Q["agg_countmin_sketch_estimate"],
        },
        (1, 5, 20),
    ),
    "global_rank": Family(
        tables(
            documents=permuted(rot26), events=shifted("event_id", "user_id")
        ),
        {
            "sample_weighted": Q["sample_weighted_deterministic"],
            "build_vocab": Q["train_build_vocab"],
            "zipf_slope": Q["text_zipf_slope"],
            "pareto_8020": Q["events_pareto_8020"],
        },
        (1, 5, 20),
    ),
    "graph_analytics": Family(
        _LINEITEM_DISJOINT,
        {
            "clustering_coefficient": Q["graph_clustering_coefficient"],
            "hits_2iter": Q["graph_hits_2iter"],
            "kcore": Q["graph_kcore"],
            "modularity": Q["graph_modularity"],
        },
        (1, 5, 20),
    ),
    "minhash": Family(
        tables(documents=shifted("doc_id")),
        {"minhash_lsh": Q["dedup_minhash_lsh"]},
        (20, 50),
    ),
    "bfs_disjoint": Family(
        _LINEITEM_DISJOINT,
        {"derive": _derive(1), "bfs4": Q["graph_bfs_frontier"]},
        (1, 20, 50),
    ),
    "pagerank": Family(
        _LINEITEM_DISJOINT,
        {"derive": _derive(2), "pagerank3": Q["graph_pagerank"]},
        (1, 20, 50),
    ),
    "bm25": Family(tables(documents=shifted("doc_id")), _BM25, (1, 20, 50)),
    # the 20-query set and 8 centroids come from the base id range at
    # every multiplier (the |Q| broadcast contract)
    "ivf": Family(
        tables(embeddings=shifted("vec_id")),
        {
            "assign_build": _assign_build,
            "ivf": Q["sim_ivf_topk"],
            "brute_force": Q["sim_bruteforce_topk"],
        },
        (1, 20, 50),
    ),
    "dq": Family(
        fk_facts("customer", "nation"),
        {"audit": Q["dq_constraint_audit"]},
        (1, 20, 50),
    ),
    "sessionize": Family(
        _EVENTS_DISJOINT,
        {"sessionize": Q["sessionize_events_30m"]},
        (1, 20, 50),
    ),
    "events": Family(
        _EVENTS_DISJOINT,
        {
            "cep": Q["events_cep_conversion"],
            "attribution": Q["events_attribution_linear"],
        },
        (1, 20, 50),
    ),
    "sq8": Family(
        tables(embeddings=shifted("vec_id")),
        {"sq8": Q["sim_sq8_topk"], "brute_force": Q["sim_bruteforce_topk"]},
        (1, 20, 50),
    ),
    "chunk": Family(
        tables(documents=permuted(dihedral52)),
        {"chunk": Q["train_chunk_documents"]},
        (1, 20, 50, 100, 200),
    ),
    "star": Family(
        fk_facts("customer", "nation", "region"),
        {"star_join": Q["j1_star_join_revenue"]},
        (1, 20, 50),
    ),
    "topk": Family(
        tables(orders=shifted("o_custkey", "o_orderkey")),
        {"topk": Q["window_topk_per_group"]},
        (1, 20, 50),
    ),
    "datetime": Family(
        _EVENTS_DISJOINT,
        {"rollup": Q["datetime_daily_rollup"]},
        (1, 20, 50),
    ),
    "dedupkey": Family(
        tables(documents=permuted(dihedral52)),
        {"dedup": Q["t2_dedup_by_key"]},
        (1, 20, 50),
    ),
    "sample": Family(
        tables(orders=shifted("o_orderkey")),
        {"sample": Q["sample_hash_deterministic"]},
        (1, 20, 50),
    ),
}


def _run(query: Query, spark: SparkSession, sf_dir: str) -> None:
    out = query(spark, sf_dir)
    if isinstance(out, DataFrame):
        out.count()


def measure(spark: SparkSession, sf_dir: str, name: str) -> None:
    fam = FAMILIES[name]
    print(f"== {name} ==", flush=True)
    t0 = time.time()
    for mult in fam.mults:
        with staged_tmpdir(f"scaling_{name}_{mult}_") as tmp:
            fam.stage(spark, sf_dir, tmp, mult)
            names = sorted(f.removesuffix(".parquet") for f in os.listdir(tmp))
            sizes = [f"{t}={load_table(spark, tmp, t).count()}" for t in names]
            times = [
                f"{label}={steady(lambda: _run(q, spark, tmp)):.2f}s"
                for label, q in fam.queries.items()
            ]
            print(f"{name} mult={mult} {' '.join(sizes + times)}", flush=True)
    print(f"{name} finished in {time.time() - t0:.1f}s", flush=True)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else DEFAULT_SF_DIR
    selected = sys.argv[2:] or list(FAMILIES)
    unknown = sorted(set(selected) - set(FAMILIES))
    if unknown:
        sys.exit(f"unknown families {unknown}; known: {list(FAMILIES)}")
    spark = get_spark("measure_scaling")
    for name in selected:
        measure(spark, sf_dir, name)


if __name__ == "__main__":
    main()
