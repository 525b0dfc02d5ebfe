"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default: the cores
this process may run on, single JVM); the configuration below is nevertheless written for a real
multi-executor cluster: AQE handles runtime partition coalescing and
skew-join splitting, shuffle partition count is sized for the local core
count (raise via env on a cluster), Arrow accelerates every
pandas_udf/applyInPandas boundary, and the session timezone is pinned to
UTC so timestamp semantics are deployment-independent. The codegen cache
holds the whole registry's generated classes, so a repeated query reuses
its compiled classes instead of recompiling them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    # --- optimizer / runtime re-planning -------------------------------
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let the planner choose shuffled-hash over sort-merge when its size
    # conditions hold (one side small enough to hash per partition):
    # skips the per-partition sorts entirely. The r18 optimization pass
    # measured the headline suite at -1.5 s (iterative joins — BFS
    # frontier, pagerank ranks, LSH bucket/verify joins — benefit most:
    # their probe sides re-sort every round under sort-merge). Joins
    # whose sides exceed the planner's size conditions still plan
    # sort-merge, so the spill-graceful path remains the default for
    # data-sized x data-sized joins at 100 TB.
    "spark.sql.join.preferSortMergeJoin": "false",
    # --- codegen: keep every generated class compiled once per session.
    # Spark caches compiled whole-stage/projection classes in an LRU of
    # 100 entries by default, but one pass needs more: the 8
    # iterative_staged queries generate 290 distinct classes (sf0.01),
    # the 29 bench.py headline queries 452 (sf0.1) and one pass over all
    # 295 registered queries compiles 3,371 (sf0.001; counted with
    # CodegenMetrics). A cyclic working set larger than an LRU misses on
    # every access, so at 100 every warm pass recompiled ~all of them
    # (~10 ms each, Janino's name lookups scanning every jar); at 4096
    # the registry fits and warm passes compile 0. Cost: ~4 KB of
    # Metaspace per retained class (+3.4 MB measured over four headline
    # passes), so at most ~16-32 MB per JVM — the driver, and each
    # executor on a cluster. Static conf: set before the session starts.
    "spark.sql.codegen.cache.maxEntries": "4096",
    # --- deterministic semantics --------------------------------------
    "spark.sql.session.timeZone": "UTC",
    # --- python boundary ----------------------------------------------
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # --- broadcast: the dims whose size the schema domain fixes
    # (region: 5 rows, nation: 25) are the only relations the engine
    # force-broadcasts; customer/supplier GROW with sf, so they
    # reach the broadcast path only while their actual size is under
    # this threshold (AQE/threshold decide, never a forced hint). 64 MB
    # keeps small actuals broadcast at bench scale without driver OOM.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # --- scan sizing: 128 MB splits are the parquet sweet spot ---------
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
}


def local_cpus() -> int:
    """Thread count for LOCAL mode: $SPARK_GRAFT_CPUS, else the cores this
    process may run on (``os.sched_getaffinity``, what ``nproc`` prints).
    Not ``compat.default_parallelism(spark)``, the cluster-aware shuffle
    width."""
    try:
        return max(1, int(os.environ["SPARK_GRAFT_CPUS"]))
    except (KeyError, ValueError):
        return len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "orchestrated_etl_spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a cluster, pass ``master=None`` with an externally-configured
    master URL; locally this defaults to ``local[$SPARK_GRAFT_CPUS]``.
    ``spark.sql.shuffle.partitions`` defaults to the local thread count —
    on a 1000-executor cluster it should instead be ~2-3× total cores
    (AQE coalesces the excess at runtime, so erring high is safe).
    """
    cpus = local_cpus()
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        conf["spark.driver.memory"] = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
