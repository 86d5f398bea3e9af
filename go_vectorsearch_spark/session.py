"""SparkSession factory.

Sized from the host by default (every core, a quarter of physical memory
for the one local-mode JVM, capped at 24 GiB), and every setting is chosen to also be the right default on a real multi-executor
cluster: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), Arrow on (pandas-UDF fast path), shuffle partitions sized
to the parallelism rather than the Spark default of 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_defaults() -> tuple[str, str]:
    """(local core count, driver heap) for this host: every core, and a
    quarter of physical memory (at least 1 GiB, at most 24 GiB) — the
    local-mode JVM holds executors and caches, and the Python workers
    and the OS need the rest."""
    cpus = os.cpu_count() or 1
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        phys = 4 << 30
    heap_mb = min(24 << 10, max(1 << 10, phys // 4 >> 20))
    return str(cpus), f"{heap_mb}m"


def get_spark(app_name: str = "spark-vectorsearch") -> SparkSession:
    """Create (or reuse) the engine SparkSession.

    ``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM`` override the
    host-derived core count and driver heap, so bench runs and tests
    share one code path.
    """
    host_cpus, host_heap = _host_defaults()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", host_cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # Shuffle partitions ~ cores in local mode. On a 1000-executor
        # cluster this would scale with total cores; AQE coalescing makes
        # over-provisioning cheap, so err high there, low here.
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce post-shuffle partitions by SIZE, not by keeping the
        # parallelism hint: small shuffles collapse to few tasks (less
        # scheduling), huge ones still fan out to the target size — the
        # right behavior at every scale, not a small-data hack
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE rewrite a sort-merge join to shuffled-hash AT RUNTIME
        # when every post-shuffle partition of the build side is under
        # 64 MB (default 0 = never). Size-gated per partition, so it is
        # scale-safe by construction: a big join's partitions exceed the
        # bound and stay sort-merge, a small one skips both sorts. A/B
        # on the join family (r14, interleaved min-of-3): jaccard pair
        # join −0.5 s, duplicate-flags join-back −0.18 s, span
        # duplicate-set −0.12 s, no entry slower. AQE skew-splitting
        # applies to shuffled-hash joins too.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode = one JVM holds executors AND caches; a small heap
        # GC-thrashes once the bench has persisted indexes/shingle frames
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", host_heap))
        .config("spark.ui.enabled", "false")
        # Parquet blobs (documents) compress with zstd like the reference
        # stores payloads (database/compression.go:36-47) - free via codec.
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
