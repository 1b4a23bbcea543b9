"""SparkSession factory tuned for the engine.

Local mode is a single JVM with N threads; on a real cluster the same settings
(AQE, shuffle partitions sized to cores, UTC session timezone, Arrow enabled)
are the scale-out defaults. UTC + Arrow matter for oracle comparison and for
the Pandas-UDF slow path respectively.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def code_cache_opt() -> str:
    """JVM option reserving the JIT code cache, from
    ``$SPARK_GRAFT_CODE_CACHE``: unset or blank (whitespace included)
    means the 2g default — a blank value must not yield the malformed
    flag ``-XX:ReservedCodeCacheSize=``, which fails the JVM launch;
    "off"/"none"/"disabled"/"0" skips the flag entirely (the documented
    opt-out)."""
    size = (os.environ.get("SPARK_GRAFT_CODE_CACHE") or "").strip() or "2g"
    if size.lower() in ("off", "none", "disabled", "0"):
        return ""
    return f"-XX:ReservedCodeCacheSize={size}"


def driver_memory_default() -> str:
    """Driver heap when ``get_spark`` is given none: ``$SPARK_GRAFT_DRIVER_MEM``
    when set and not blank, else half of the host's physical memory, at
    most 32g. A fixed 32g heap on a smaller host lets the JVM grow until
    the kernel kills it mid-run, and every later query then fails with
    "Connection refused" instead of a memory error."""
    env = (os.environ.get("SPARK_GRAFT_DRIVER_MEM") or "").strip()
    if env:
        return env
    try:
        host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (ValueError, OSError):  # no sysconf names on this platform
        return "32g"
    return f"{min(32 * 1024, host_mb // 2)}m"


def get_spark(
    app_name: str = "storm_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores. Shuffle
    partitions default to the core count — at cluster scale this should be
    ~2-3x total executor cores; AQE coalesces downward at runtime either way.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or cpus
    driver_memory = driver_memory or driver_memory_default()
    # JIT code cache: the JVM default (240 MB) is sized for short-lived
    # applications. A long-lived session that plans hundreds of distinct
    # queries loads thousands of whole-stage-codegen classes; once the cache
    # fills, the sweeper evicts HOT shared interpreter paths (md5, codec,
    # higher-order-function kernels) and they never get recompiled — measured
    # on the 141-query bench: ann_lsh degrades 2.4 s (fresh session) →
    # 8.7 s (~130 queries in); with a 2 GB reserve it holds 1.5 s. Reserved,
    # not committed, memory — the cost is address space only. The same
    # setting applies to long-lived executors on a real cluster via
    # spark.executor.extraJavaOptions below.
    jit_opt = code_cache_opt()

    # Python workers unpickle engine classes (BoltCollector, Aggregator
    # kernels) by module reference; make the package importable there even
    # when the driver script runs from an unrelated cwd with only a
    # sys.path.insert. Must happen before the JVM forks the first worker.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pythonpath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pythonpath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pythonpath if pythonpath else "")
        )

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if jit_opt:
        builder = builder.config(
            "spark.driver.extraJavaOptions", jit_opt
        ).config("spark.executor.extraJavaOptions", jit_opt)
    for k, v in (extra_conf or {}).items():
        if jit_opt and k in (
            "spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions"
        ):
            v = f"{jit_opt} {v}"
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def rebalance_scan(df, min_partitions: int | None = None):
    """Spread an under-partitioned scan across the cluster.

    A parquet file is splittable only at row-group boundaries, so a table
    written as a handful of large row groups scans as a handful of tasks no
    matter how many cores exist. When the scan has fewer partitions than the
    cluster's parallelism, round-robin repartition it so downstream CPU-heavy
    work (shingling, hashing, UDFs) uses every core; on a well-chunked table
    (the normal case at scale) this is a metadata check and a no-op.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


import threading

# guards the pop/persist pair in bounded_persist (concurrent operator
# calls on one session must not strand an unregistered persisted DF)
_BOUNDED_LOCK = threading.Lock()


def bounded_persist(df, tag: str):
    """Persist ``df``, releasing the PREVIOUS DataFrame registered under the
    same (session, tag) first — so an operator that caches a distilled
    intermediate (a shingle index, a basket set, a normalized edge list)
    holds at most ONE live cache per session no matter how many times it is
    called. The leak-safe alternative to a bare ``.persist()`` inside an
    operator that returns a lazy DataFrame (the operator can't unpersist
    after the caller's action — this registry bounds what it can pin
    instead).

    The registry lives ON the SparkSession object (not module-level), so
    it is garbage-collected with the session — a process that cycles
    sessions never accumulates dead entries."""
    sess = df.sparkSession
    with _BOUNDED_LOCK:
        reg = getattr(sess, "_storm_bounded_caches", None)
        if reg is None:
            reg = {}
            sess._storm_bounded_caches = reg
        prev = reg.pop(tag, None)
        if prev is not None:
            prev.unpersist()
        reg[tag] = df.persist()
    return df
