"""Session defaults that change what a repeated query costs.

Spark compiles each generated whole-stage/projection class once and keeps
it in an LRU cache of ``spark.sql.codegen.cache.maxEntries`` entries. When
one pass over a set of queries generates more classes than the cache
holds, every class is evicted before its next use and every repeat of the
pass recompiles all of them. The second run below must compile nothing.
"""

from __future__ import annotations

import os
import random

from orchestrated_etl_spark import registry
from orchestrated_etl_spark.session import _DEFAULTS, local_cpus

CACHE_KEY = "spark.sql.codegen.cache.maxEntries"

# The headline queries that stage eagerly or fill session caches: one pass
# generates ~290 distinct classes, more than Spark's default cache of 100.
ITERATIVE_STAGED = (
    "dedup_minhash_lsh", "search_bm25_topk", "graph_pagerank", "sim_sq8_topk",
    "graph_bfs_frontier", "dedup_cdc_chunks", "events_rfm_quantile_cutoffs",
    "graph_triangle_orient",
)


def _compiles(spark) -> int:
    """Classes compiled so far in this JVM (driver and, in local mode, the
    executor tasks): the sample count of Spark's compilation-time metric."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def test_local_width_defaults_to_the_affinity_count(monkeypatch):
    """Without $SPARK_GRAFT_CPUS the local session is as wide as the cores
    this process may run on, not a width assumed for another host."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == 3


def test_codegen_cache_size_is_the_session_default(spark):
    assert spark.conf.get(CACHE_KEY) == _DEFAULTS[CACHE_KEY]


def test_second_pass_compiles_no_class(spark, sf_dir):
    qs = registry.queries()

    def one_pass() -> int:
        before = _compiles(spark)
        for name in ITERATIVE_STAGED:
            qs[name](spark, sf_dir).collect()
        return _compiles(spark) - before

    # the counter moves: a literal no other plan holds makes a new class
    before = _compiles(spark)
    spark.range(3).selectExpr(f"id * {random.randrange(10**9, 10**10)}").collect()
    assert _compiles(spark) > before

    one_pass()
    again = one_pass()
    assert again == 0, f"the second pass compiled {again} classes"
