"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design target and proven locally:
AQE on (runtime re-plan + skew-join splitting), Arrow for every
pandas-UDF boundary, shuffle partitions sized to the parallelism level.

Three fixed settings keep a repeated query batch free of per-query fixed
cost on the driver's critical path:

- ``CODEGEN_CACHE_ENTRIES`` sizes Spark's generated-class cache
  (``spark.sql.codegen.cache.maxEntries``, static, default 100) above the
  engine's working set. One steady pass of the benchmark's ``spatial``
  workload (both ring joins plus the salted cell join, Gi*, hex binning,
  kernel density, zonal stats and footprint tiles) needs more than 100
  distinct classes, so at the default the LRU evicts every class before
  the next pass reuses it: 129 Janino compilations of about 10 ms each
  per steady pass. At 1000 entries a steady pass still compiles 0-8.
- ``spark.sql.codegen.useIdInClassName=false`` removes those last ones.
  Adaptive execution numbers a query's whole-stage pipelines in the order
  its stages become ready, which varies from run to run, and the number
  is part of the generated class name, so an unchanged pipeline could
  miss the cache under a new number. Without the number it hits, and
  identical pipelines of different queries share one class. Stack traces
  lose the stage number in the class name.
- ``spark.python.sql.dataFrameDebugging.enabled=false`` turns off
  PySpark's call-site capture. PySpark wraps every ``F.*`` function and
  Column method to record the Python call site; each wrapped call then
  costs four extra py4j round trips and a Python stack walk. Off, a
  steady ``spatial`` pass drops from about 11,700 py4j round trips to
  about 4,900 (counted at the py4j connection, the benchmark harness's
  own calls included). The price: error messages lose the Python call
  site in their "DataFrame query context" section.

The default driver heap is a share of the host's RAM (``driver_mem``)
so the shared test JVM and the bench start on a 15 GB host as well as on a
large one; ``SPARK_DRIVER_MEM`` overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Generated-class cache entries; above one steady pass's working set.
CODEGEN_CACHE_ENTRIES = 1000
#: Default driver heap: this share of MemTotal, capped at DRIVER_MEM_CAP_MB.
DRIVER_MEM_SHARE = 0.55
DRIVER_MEM_CAP_MB = 48 * 1024


def driver_mem() -> str:
    """The driver heap: ``$SPARK_DRIVER_MEM``, else about 55% of the host's
    MemTotal capped at 48g (the cap where /proc/meminfo is unreadable)."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return f"{DRIVER_MEM_CAP_MB}m"
    return f"{min(int(kb / 1024 * DRIVER_MEM_SHARE), DRIVER_MEM_CAP_MB)}m"


def get_spark(
    app_name: str = "opengxt-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` (driver convention) or 32.
    On a real cluster the master/size come from spark-submit; these configs
    are safe there too (AQE, Arrow, adaptive shuffle sizing).
    """
    cores = int(cores or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle = shuffle_partitions or max(2 * cores, 8)
    mem = driver_mem()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Cell joins are many-to-many on bounded key groups: shuffled-hash
        # avoids sorting both sides (the sort of a 10^8-row candidate build
        # side dominates SMJ); AQE still falls back / splits skewed keys.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Tiled (ghost-halo) joins co-partition both sides by tile and join
        # on (tile, cell): accepting subset-key co-partitioning lets the
        # join and grouping run with zero additional exchange.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.requireAllClusterKeysForDistribution", "false")
        # Compile-free steady state; see the module docstring.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", mem)
        # Heap paging policy. Default: do NOT pre-size the heap (-Xms = max
        # without pre-touch was A/B'd in round 1: the second query stalls
        # 60-100 s in kernel page-zeroing while G1 first-touches tens of GB
        # on demand). But a LAZILY grown heap just spreads the same zeroing
        # over whichever queries trigger growth — measured as intermittent
        # 30-60 s first-build spikes on the allocation-heaviest query (knn
        # collect_list buffers). SPARK_GRAFT_PRETOUCH=1 (bench sets it)
        # commits AND zeroes the whole heap at JVM startup
        # (-Xms=-Xmx -XX:+AlwaysPreTouch, parallel in JDK 17), so timed
        # queries never pay first-touch; startup cost is untimed.
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if os.environ.get("SPARK_GRAFT_PRETOUCH", "") == "1":
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            f"-Xms{mem} -XX:+AlwaysPreTouch",
        )
    return builder.getOrCreate()
