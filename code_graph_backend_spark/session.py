"""SparkSession factory with scale-oriented defaults.

The session is tuned for correctness-reproducibility (UTC timestamps) and
for scale (AQE on, skew-join handling, broadcast threshold). ANSI mode is
left at Spark's default, which is on in Spark 4: a cast of a malformed
string raises, so code that reads loosely typed strings (the `props` map)
uses `try_cast`. On a real cluster the same config applies;
only master/shuffle-partitions change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .memo import cached


def _limit_blas_threads() -> None:
    """Pin BLAS to one thread per process — the canonical Spark setting.

    Spark owns the parallelism: one task per core, so a 32-thread
    OpenBLAS inside every Python worker oversubscribes the box 32×32
    and, worse, OpenBLAS's spin-wait barrier pathologically slows SMALL
    matmuls under virtualized cores (measured on this box, r11: a
    2000×64 GEMM runs 0.38 s with the default thread pool vs 0.027 s
    single-threaded — 14×; inside a worker beside 31 busy cores it
    reads seconds). Env vars cover freshly-spawned workers (set before
    the JVM forks so the daemon inherits them); the ctypes call covers
    THIS process when numpy already loaded OpenBLAS before we ran.
    """
    import os

    for var in (
        "OPENBLAS_NUM_THREADS",
        "OMP_NUM_THREADS",
        "MKL_NUM_THREADS",
        "NUMEXPR_NUM_THREADS",
    ):
        os.environ.setdefault(var, "1")
    try:  # runtime set for an already-loaded OpenBLAS (driver process)
        import ctypes
        import glob

        import numpy as np

        pat = os.path.join(
            os.path.dirname(os.path.dirname(np.__file__)),
            "numpy.libs", "libopenblas*",
        )
        for lib in glob.glob(pat):
            try:
                dll = ctypes.CDLL(lib)
                for sym in ("openblas_set_num_threads64_",
                            "openblas_set_num_threads"):
                    fn = getattr(dll, sym, None)
                    if fn is not None:
                        fn(1)
                        break
            except OSError:
                continue
    except Exception:
        pass


# Largest default heap ("48g"): what the 32-core bench host runs with.
_MAX_HEAP_MB = 48 * 1024
# cgroup v2, then v1: the memory limit of the container we run in.
_CGROUP_LIMIT_FILES = (
    "/sys/fs/cgroup/memory.max",
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",
)


def _physical_memory_bytes() -> int | None:
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return None


def _cgroup_memory_limit() -> int | None:
    """The container's memory limit in bytes, or None where none is set."""
    for path in _CGROUP_LIMIT_FILES:
        try:
            with open(path) as fh:
                text = fh.read().strip()
        except OSError:
            continue
        return int(text) if text.isdigit() else None  # v2 writes "max"
    return None


def driver_memory() -> str:
    """``spark.driver.memory`` for the local JVM.

    ``$SPARK_GRAFT_DRIVER_MEM`` when set; otherwise 48g or half of the
    memory the process can use (physical memory, or the cgroup limit
    where that is lower), whichever is smaller. The other half is for
    what the JVM holds outside its heap (the 1 GB code cache, metaspace,
    Netty buffers) and for the Python driver and ``local[N]`` workers.
    """
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    usable = [m for m in (_physical_memory_bytes(), _cgroup_memory_limit()) if m]
    half_mb = min(usable) // 2 // (1024 * 1024) if usable else _MAX_HEAP_MB
    return "48g" if half_mb >= _MAX_HEAP_MB else f"{half_mb}m"


def get_spark(
    app_name: str = "code-graph-backend-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    Defaults: ``local[$SPARK_GRAFT_CPUS or *]``; shuffle partitions sized to
    the core count locally (on a 1000-executor cluster you would set this to
    2-3x total cores, or simply let AQE coalesce from a high initial value —
    we enable AQE for exactly that reason).
    """
    _limit_blas_threads()  # before the JVM spawns, so workers inherit
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Heap for the single local JVM (driver == executors in local mode).
        # Must be set before getOrCreate — PySpark forwards it to the JVM
        # launch. Spark's 1g default OOMs iterative/cached workloads, but
        # the heap must also fit the host: an oversized heap is not an
        # OutOfMemoryError, the kernel kills the whole JVM once its RSS
        # outgrows RAM (see driver_memory).
        .config("spark.driver.memory", driver_memory())
        .config("spark.driver.maxResultSize", "4g")
        # Whole-stage codegen emits one JIT-compiled class per plan; a long
        # session (40+ distinct queries) fills the JVM's default 240 MB code
        # cache, after which the JIT silently stops compiling and hot loops
        # run interpreted (~8× slowdowns, measured). Reserve enough for the
        # whole query suite.
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g")
        # Spark's compiled-codegen-class cache defaults to 100 entries; a
        # 70-query service session generates several classes per query, so
        # by the time a query runs again its classes have been evicted and
        # it pays full Janino+JIT recompilation (measured 3-7 s per query —
        # the source of "previously fast queries got 4x slower" in long
        # runs). Size the cache to hold the whole query surface.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # Determinism / oracle comparability
        .config("spark.sql.session.timeZone", "UTC")
        # Adaptive execution: runtime shuffle-partition coalescing, skew-join
        # splitting, and broadcast demotion — the main lever for 100 TB plans.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for the few Pandas-UDF paths (vectorized transfer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # One BLAS thread per Python worker (see _limit_blas_threads):
        # executorEnv reaches workers even when a FOREIGN driver (the
        # correctness harness) built the JVM without our process env.
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        # Broadcast joins for small dims (nation/region/id-lists).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Keep parquet scans prunable.
        .config("spark.sql.parquet.filterPushdown", "true")
        # Bucketed-table storage (PropertyGraph.save_bucketed) lands in the
        # warehouse dir; keep it out of the repo tree.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
        # The driver's events table stores TIMESTAMP(NANOS) which Spark's
        # vectorized reader rejects; read as long and convert in read_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    return builder.getOrCreate()


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-provided parquet table (TESTDATA.md).

    `events.ts` is TIMESTAMP(NANOS) in the files, which Spark's reader
    rejects unless ``spark.sql.legacy.parquet.nanosAsLong`` is set. The
    conf is runtime-settable, and callers may hand us a foreign
    SparkSession built without it (the correctness driver does exactly
    that), so set it here — at read time — rather than relying on our own
    session factory. With nanosAsLong the column arrives as long;
    normalize to a microsecond timestamp (floor), which is what DuckDB's
    TIMESTAMP cast yields too.

    Every caller gets the same DataFrame object per (session, sf_dir,
    name): the engine's memos key on the identity of their input
    DataFrame, so a fresh object per call would make every memo keyed on
    a raw table miss. Nothing is persisted; the entry is a plan.
    """
    return cached(spark, ("table", sf_dir, name), lambda: _read(spark, sf_dir, name))


def _read(spark: SparkSession, sf_dir: str, name: str):
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    except Exception:
        # Conf rejected (unlikely) or scan failed under legacy mode: fall
        # back to an explicit-schema read so a foreign session still works.
        df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def fan_out(df, min_parts: int | None = None):
    """Raise a coarse scan's partition count to the session's parallelism.

    Small/single-file parquet inputs arrive as 1-2 partitions; any CPU-bound
    per-row stage (shingling, hashing, GEMM kernels) then runs on one core
    no matter how many the cluster has. One cheap shuffle of the raw rows
    buys full parallelism for everything downstream. No-op whenever the
    input is already at least as parallel as the session — a 100 TB scan
    with thousands of splits never reshuffles.
    """
    if df.isStreaming:
        # streaming frames can't expose .rdd; micro-batch parallelism is
        # the source's (maxFilesPerTrigger etc.), so pass through — the
        # map-only kernels downstream run unchanged in append mode
        return df
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
