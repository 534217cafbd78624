"""SparkSession factory tuned for the engine.

Local mode for tests/bench; the same settings (AQE, UTC session tz,
Arrow) are what we'd ship on a real cluster — only master/memory
change. `spark.sql.shuffle.partitions` should be ~2-3x total cores on
a real cluster; AQE coalesces down at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "gnip-trend-detection-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Size post-shuffle partitions by BYTES, not by core count:
        # parallelismFirst=true (the default) stops coalescing at
        # defaultParallelism, which schedules `cpus` tasks for a
        # 15 MB aggregate — pure per-task overhead locally and the
        # opposite of the guide's 100 MB-1 GB partition sizing at
        # scale (guide §2.2, §9). The advisory size is the scale-
        # dependent knob: parameterized, 4m default for the local
        # fixtures (measured sweet spot: 16m re-serialized the CPU-
        # heavy-but-small-byte join stages of tpch_q21/source_overlap
        # onto 1-2 tasks, +0.5s each, while 4m keeps them ~8-15-way
        # parallel and still collapses the kB-size rollup shuffles
        # that used to schedule 32 tasks each), 256m documented for a
        # real cluster (guide §9). Explicit repartition(n) calls (the
        # §2.2 kernel-parallelism guard) are user-specified and never
        # coalesced by AQE.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "4m"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # default 100-entry generated-class cache evicts under a
        # many-query workload (each query compiles several stages), so
        # steady-state queries pay Janino recompiles; size it for a
        # query-server. Static conf — set before the context starts.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # fixture events.parquet stores TIMESTAMP(NANOS); read as long
        # and convert at scan (sources.tables) — Spark has no ns type
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_cached(spark: SparkSession) -> int:
    """Free every cached relation AND local-checkpoint block the
    session holds; returns how many storage entries were released.

    THE QUERY-CACHE LIFECYCLE CONTRACT: several query paths persist or
    localCheckpoint an intermediate that is consumed through more than
    one lineage of the SAME returned (lazy) DataFrame — e.g. the LSH
    signature relations, bm25's per-doc tf, the MAD rebinned counts,
    quality_percentile_gate's scores, every label-propagation /
    BPE-merge round. The library function cannot unpersist those
    itself: the blocks must outlive the caller's ACTION, which happens
    after the function returns. Callers that run many queries in one
    long-lived session therefore call this helper between queries, as
    bench.py and the plan and scale tools do after every action.
    spark.catalog.clearCache() alone is not enough: it drops only
    CacheManager entries, never the localCheckpoint RDD blocks."""
    n = 0
    try:
        jcat = spark._jsparkSession.sharedState().cacheManager()
        if not jcat.isEmpty():
            n += 1
    except Exception:
        pass
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for jrdd in list(jmap.values()):
        jrdd.unpersist(False)
        n += 1
    return n
