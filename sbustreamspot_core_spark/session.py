"""SparkSession factory tuned for the engine.

Local-mode defaults are sized from the host (local[N] threads, single JVM);
on a real cluster the same settings apply per-executor via spark-submit conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_dir() -> str:
    d = os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local")
    try:
        os.makedirs(d, exist_ok=True)
    except OSError:
        d = "/tmp/spark-local"
        os.makedirs(d, exist_ok=True)
    return d


def _submit_conf_value(key: str) -> str | None:
    """Value of ``key`` set externally via ``spark-submit --conf`` /
    spark-defaults, if any.  Under spark-submit the gateway JVM already
    exists (PYSPARK_GATEWAY_PORT) and carries those properties; reading
    them here lets the builder defaults yield to explicit external conf
    instead of silently overriding it."""
    if not os.environ.get("PYSPARK_GATEWAY_PORT"):
        return None
    try:
        # SparkConf(loadDefaults=True) only sees JVM system properties once
        # the Python side is attached to the gateway; _ensure_initialized
        # CONNECTS to the spark-submit gateway (PYSPARK_GATEWAY_PORT) rather
        # than launching a new JVM, so this is cheap and side-effect-free
        from pyspark import SparkConf
        from pyspark.context import SparkContext
        SparkContext._ensure_initialized()
        return SparkConf(loadDefaults=True).get(key, None)
    except Exception:
        return None


def get_spark(
    app_name: str = "sbustreamspot-core-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:  # the CPUs this process may run on
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    # a quarter of physical RAM, as perfbench/host.py sizes its heap (uncapped)
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = os.environ.get("SPARK_DRIVER_MEMORY", f"{ram // 4 >> 20}m")
    ext_broadcast = _submit_conf_value("spark.sql.autoBroadcastJoinThreshold")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # local-mode shuffles are disk-bound through /tmp; tmpfs keeps the
        # shuffle at memory speed so wall-time scales with cores (on a real
        # cluster this is the network/SSD shuffle service instead)
        .config("spark.local.dir", _local_dir())
        .config("spark.sql.autoBroadcastJoinThreshold",
                ext_broadcast or str(64 * 1024 * 1024))
        # measured (BENCH.md round 4): zstd beats lz4 only when the shuffle
        # volume saturates the memory/IO channel (64M-edge supersteps at 32
        # cores: fastest config measured); at bench-scale shuffles (2M
        # edges) its CPU cost LOSES 37.2 -> 44.8 s suite-wide.  Volume-
        # dependent, not core-count-dependent — so lz4 is the codec and a
        # large-shuffle job can pass zstd through extra_conf
        .config("spark.io.compression.codec", "lz4")
        # collect_list/collect_set aggregations (CSR adjacency build,
        # triangle out-neighbor sets, chunk tables) run through
        # ObjectHashAggregate, whose default sort-based fallback after 128
        # in-memory groups per task turns every adjacency build into a
        # full sort of its input.  128k groups/task keeps them hash-based;
        # worst-case map footprint is bounded by the CSR block cap
        # (4096 targets ~ 32 KB/group) and typical degrees keep it in the
        # MBs.  Measured r7 (interleaved, tools/r7 notes): triangles
        # 12.5->9.8 s cold / 8.8->7.1 s warm, pagerank 20.6->10.4 s cold /
        # 9.1->8.0 s warm.  Deployments with unbounded per-group buffers
        # (no block cap) should lower it through extra_conf.
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
        # static: the generated-class cache must hold the graph suite's
        # working set.  One pass of PageRank + CC + LPA + triangles
        # compiles 224-243 distinct classes; at Spark's default of 100
        # entries the LRU evicts them before the next pass reuses them, so
        # every pass in the same JVM recompiled all of them (measured on 4
        # vCPUs, 12k edges: 224-225 Janino compiles and 12-20 s of JIT CPU
        # per warm pass; with this cache, 0 compiles after the first
        # pass).  4096 leaves headroom for the other pipelines sharing the
        # session; an entry is one compiled class (tens of KB)
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # an explicitly-set threshold — extra_conf OR spark-submit --conf /
    # spark-defaults — wins over the hardening
    if ("spark.sql.autoBroadcastJoinThreshold" not in (extra_conf or {})
            and ext_broadcast is None):
        _harden_for_small_heap(spark)
    return spark


def _harden_for_small_heap(spark: SparkSession) -> None:
    """Under ``spark-submit`` the driver JVM is already running before this
    module loads, so ``spark.driver.memory`` set here is a no-op and the
    default 1g heap applies unless --driver-memory was passed.  The only
    1g-heap failure mode the jobs have is the driver-side BUILD of broadcast
    joins in multi-join plans ("Not enough memory to build and broadcast"),
    so on a small heap disable auto-broadcast (runtime-settable) — plans
    fall back to shuffle joins and the jobs complete without extra flags."""
    try:
        max_heap = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    except Exception:
        return
    if max_heap < 3 * 1024 ** 3:
        import warnings
        warnings.warn(
            f"driver heap {max_heap >> 20} MiB < 3 GiB: disabling "
            "auto-broadcast joins (spark.sql.autoBroadcastJoinThreshold=-1) "
            "to avoid driver-side broadcast-build OOM; pass --driver-memory "
            "4g or set the threshold explicitly to keep broadcast joins",
            stacklevel=3)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
