"""SparkSession factory with the configs this engine assumes.

Local mode stands in for a multi-executor cluster; parallelism is the
``local[N]`` thread count. All engine code is written against ordinary
DataFrame semantics so the same plans run unchanged on a real cluster.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


MALLOC_ENV = {
    # numpy's large buffers cross glibc's default mmap threshold; freed
    # mmap regions re-fault at ~100s/GB on this VM class (measured).
    # Keeping freed arenas resident makes the vectorized kernels ~10x
    # faster in steady state. Applied to the driver process (before JVM
    # launch) and to Python workers via executorEnv / sc.environment.
    "MALLOC_MMAP_THRESHOLD_": "1073741824",
    "MALLOC_TRIM_THRESHOLD_": "1073741824",
    "MALLOC_ARENA_MAX": "4",
    # pyarrow's default pool (jemalloc/mimalloc) purges dirty pages via
    # madvise(DONTNEED) → same re-fault cliff. Route Arrow through the
    # (tuned) system allocator and disable jemalloc decay as belt+braces.
    "ARROW_DEFAULT_MEMORY_POOL": "system",
    "MALLOC_CONF": "dirty_decay_ms:-1,muzzy_decay_ms:-1",
}


def ship_package(spark: SparkSession) -> None:
    """Ship the solr_spark package to executor Python workers — the
    in-process analog of ``spark-submit --py-files solr_spark.zip``.
    Without this, mapInPandas closures that reference the package fail to
    unpickle on workers launched from a different cwd. Also injects the
    MALLOC_ENV tuning into worker environments for sessions that were not
    built by get_spark (e.g. an external test harness)."""
    for k, v in MALLOC_ENV.items():
        os.environ.setdefault(k, v)
        spark.sparkContext.environment.setdefault(k, v)
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zpath = os.path.join(tempfile.gettempdir(), "solr_spark_pyfiles.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.join("solr_spark", os.path.relpath(full, pkg_dir))
                    z.write(full, rel)
    spark.sparkContext.addPyFile(zpath)


def driver_heap(phys_bytes: int | None = None) -> str:
    """Default driver heap: a quarter of physical memory, at most 8g.
    The heap is pre-touched at JVM start (get_spark), so every session
    holds all of it resident whatever the data size; a fixed 8g left a
    16 GB host no room for a second session."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(phys_bytes // 4 >> 20, 8192)}m"


def get_spark(
    master: str | None = None,
    app_name: str = "solr_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    - AQE on: runtime coalescing + skew-join handling.
    - Arrow on: all pandas-UDF kernels move data in Arrow batches.
    - UTC session TZ: required for bit-identical comparison against the
      DuckDB oracle (DuckDB timestamps are UTC-naive).
    """
    # glibc tuning for the vectorized Python kernels: numpy's large
    # buffers cross malloc's default mmap threshold, so every batch
    # allocation becomes mmap + first-touch page faults + munmap — ruinous
    # on lazily-faulting VMs (measured 4-10x slowdown of the tokenizer).
    # Raising the thresholds keeps freed arenas resident and reused.
    # Must be in the environment BEFORE python workers fork; also exported
    # to executors via spark.executorEnv below.
    for k, v in MALLOC_ENV.items():
        os.environ.setdefault(k, v)

    heap = os.environ.get("SOLR_SPARK_DRIVER_MEM") or driver_heap()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if n in ("", "*") else int(n)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", heap)
        # commit + pre-touch the whole heap at JVM start: G1 otherwise
        # uncommits regions whose re-faulting costs ~100s/GB on this VM
        # class (see MALLOC_ENV) — pay the fault cost once, up front
        .config("spark.driver.extraJavaOptions", "-XX:+AlwaysPreTouch -Xms" + heap)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # smaller input splits: scan parallelism must exceed the core
        # count even for modest inputs, or the first exchange's map side
        # caps the whole build's scaling (Amdahl via input files)
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
    )
    for k, v in MALLOC_ENV.items():
        b = b.config(f"spark.executorEnv.{k}", v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark
