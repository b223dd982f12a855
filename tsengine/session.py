"""SparkSession factory.

Replaces the reference's connection factories (``load_pool`` /
``load_session``, reference src/orm/cassandra_util.py:19-20 and
src/orm/sqlalchemy_model.py:89-96): one SparkSession + catalog instead of
per-query Cassandra/Postgres connections.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"

# Spark's generated-code cache (``spark.sql.codegen.cache.maxEntries``)
# keeps 100 compiled classes by default.  One dashboard page (four
# downsample widths, a numeric-plane tier read, three formula classes)
# cycles through ~175 generated sources, more than 100, so LRU eviction
# makes every page recompile all of them with Janino (170-179 per page on
# the benchmark's dashboard workload).  With room for 1000 a repeated page
# compiles only the sources that inline per-request literals, epoch
# bounds and series ids (20-32 per page).  The larger cache holds little:
# retained heap after GC at the end of a dashboard run grew 3-10 MB.
CODEGEN_CACHE_ENTRIES = "1000"

# Settings every engine session carries, whoever builds it: get_spark's
# builder and the multi-executor scaling bench's spark-submit flags.
ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.ui.enabled": "false",
    "spark.sql.codegen.cache.maxEntries": CODEGEN_CACHE_ENTRIES,
    # PySpark's DataFrame debugging captures the Python call site of every
    # Column and function call and ships it to the JVM: about 8 py4j
    # commands per call (active-session lookup, conf read, origin set and
    # clear, reflection).  Off, building a dashboard formula plan went from
    # 1,325-2,896 commands to 545-1,186 with no other change, and the
    # page's CPU fell about 11 %.  Error messages lose the Python line of
    # the failing Column; the JVM message is unchanged.  PySpark reads the
    # setting once per process, at the first Column call.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def default_driver_memory() -> str:
    """Driver heap for this box: half its physical memory in whole GB,
    between 1 and 8 GB.  Where ``os.sysconf`` cannot tell, 8 GB."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return "8g"
    return f"{max(1, min(8, total // 2 // (1 << 30)))}g"


def get_spark(
    app_name: str = "tsengine",
    master: str | None = None,
    shuffle_partitions: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    - AQE on (runtime re-planning, skew-join handling at scale).
    - session timezone pinned to UTC so ``unix_timestamp``/casts are
      deterministic; calendar bucketing applies Europe/Madrid explicitly
      (reference analysis_utils.py:182-237).
    - Arrow enabled for the pandas-UDF compression kernels.
    - generated-code cache sized to the engine's working set
      (:data:`CODEGEN_CACHE_ENTRIES`), so a repeated request reuses its
      compiled whole-stage classes instead of recompiling them.  A static
      conf: it takes effect only when this call starts the JVM.
    - driver heap from the box (:func:`default_driver_memory`), unless
      ``TSENGINE_DRIVER_MEMORY`` or ``extra_conf`` sets it.

    The fixed settings among these are :data:`ENGINE_CONF`.  ``extra_conf``
    is applied last and overrides any of these.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    master = master or os.environ.get("TSENGINE_MASTER", f"local[{cpus}]")
    # Lazily-faulted VM memory (e.g. Firecracker snapshots) makes first-touch
    # page faults ~100x normal cost, which serializes allocation-heavy
    # parallel work.  Keep glibc arenas resident in the JVM and every Python
    # worker it forks: never trim, never mmap-and-return large blocks.
    # (Set via env so the JVM child and its Python workers inherit them.)
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "1073741824")
    os.environ.setdefault("MALLOC_MMAP_MAX_", "0")
    # Shuffle/spill files on tmpfs: the sandbox block device serializes IO
    # the way a real executor's local NVMe does not.  OPT-IN ONLY
    # (TSENGINE_TMPFS_SHUFFLE=1, set by the bench harness): as a default it
    # would put every session's spill in RAM, so a shuffle that would have
    # completed on disk could OOM the box instead — a bench-substrate
    # control, not library behavior.
    if (
        os.environ.get("TSENGINE_TMPFS_SHUFFLE") == "1"
        and os.path.isdir("/dev/shm")
        and os.access("/dev/shm", os.W_OK)
    ):
        os.makedirs("/dev/shm/spark-tmp", exist_ok=True)
        os.environ.setdefault("SPARK_LOCAL_DIRS", "/dev/shm/spark-tmp")
    jvm_opts = "-XX:+UseTransparentHugePages"
    if os.environ.get("TSENGINE_PRETOUCH") == "1":
        # Fault the whole heap once at JVM start (~25s for 6-8g on this VM)
        # so the measured region never page-faults.  Benchmarks only.
        jvm_opts += " -XX:+AlwaysPreTouch"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            shuffle_partitions or os.environ.get("TSENGINE_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config(map=ENGINE_CONF)
        .config("spark.driver.memory",
                os.environ.get("TSENGINE_DRIVER_MEMORY") or default_driver_memory())
        .config("spark.driver.extraJavaOptions", jvm_opts)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def shuffle_parallelism(spark) -> int:
    """``spark.sql.shuffle.partitions`` as an int.  Some platforms set it to
    a non-numeric value (e.g. ``auto``); then fall back to the context's
    default parallelism instead of failing."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        return spark.sparkContext.defaultParallelism


def release_persistent_rdds(spark) -> int:
    """Unpersist every RDD still registered with the context (cached
    DataFrames AND localCheckpoint blocks, which ``catalog.clearCache``
    never reaches) and clear the SQL cache.  Returns the number released.

    Benchmark/pipeline hygiene between independent phases: leaked pinned
    blocks otherwise squeeze execution memory for the rest of the session
    (a leaked localCheckpoint per components round degraded the bench's
    tier phase 4x).  Never call it mid-query — a consumer of a persisted
    plan would silently recompute."""
    jsc = spark.sparkContext._jsc
    n = 0
    it = jsc.getPersistentRDDs().entrySet().iterator()
    while it.hasNext():
        it.next().getValue().unpersist(False)
        n += 1
    spark.catalog.clearCache()
    return n
