"""SparkSession factory.

Local-mode defaults are sized to the box (``local[$SPARK_GRAFT_CPUS]``, a
driver heap from physical RAM), and every knob here is the one you'd also set
on a real cluster: AQE on (runtime re-planning, skew-join splitting, partition
coalescing), UTC session timezone (so timestamps hash-match a UTC-naive DuckDB
oracle), Arrow enabled for the Pandas-UDF slow path, and shuffle partitions
sized to cores rather than the 200 default.

Local Python workers start from ``flow_spark.worker_daemon`` when they can
import ``flow_spark`` (``spark.python.daemon.module``).  That daemon takes
Spark's archives (pyspark.zip, the spark-core jar) off the workers'
``sys.path`` so the import-cache invalidation Spark runs before every Python
task stops re-reading their directories; with no matching installed pyspark
it falls back to plain ``pyspark.daemon``.  A session whose workers cannot
import ``flow_spark``, or whose master is not local, keeps ``pyspark.daemon``.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession


def _env_int(name: str, default: int, minimum: int) -> int:
    """Integer env knob ``name`` (``default`` when unset or empty); a value
    that is not an integer, or is below ``minimum``, raises ``ValueError``
    naming the variable."""
    raw = os.environ.get(name, "").strip()
    if not raw:
        return default
    try:
        value = int(raw)
    except ValueError:
        raise ValueError(f"{name}={raw!r} is not an integer") from None
    if value < minimum:
        raise ValueError(f"{name}={value} is below its minimum {minimum}")
    return value


DEFAULT_SHUFFLE_PARTITIONS = _env_int("SPARK_GRAFT_CPUS", 32, 1)

#: ``spark.driver.memory`` ceiling when SPARK_GRAFT_DRIVER_MEM is unset
MAX_DRIVER_MEM_GB = 16
WORKER_DAEMON = "flow_spark.worker_daemon"


def default_driver_memory() -> str:
    """Half of physical RAM in whole GiB, between 1g and MAX_DRIVER_MEM_GB."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(MAX_DRIVER_MEM_GB, ram // (2 << 30)))}g"


def workers_import_engine() -> bool:
    """Whether a Python worker started from this process can import
    ``flow_spark``: its package root is the working directory (which
    ``python -m`` puts first on the worker's ``sys.path``), on
    ``PYTHONPATH`` or in site-packages."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    candidates = [
        os.getcwd(),
        *os.environ.get("PYTHONPATH", "").split(os.pathsep),
        *site.getsitepackages(),
    ]
    return any(c and os.path.realpath(c) == os.path.realpath(root) for c in candidates)


def get_spark(
    app_name: str = "flow_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = _env_int("SPARK_GRAFT_CPUS", 32, 1)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet stores timestamp[ns]; Spark's reader rejects NANOS
        # unless read as long (we derive a us timestamp in the catalog).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # local fixtures are single small parquet files; a smaller split
        # size fans scans out across cores without any shuffle.  On a real
        # cluster raise via SPARK_GRAFT_MAX_PARTITION_BYTES (128m default
        # there is fine because files are many).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8388608"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
    )
    # Optional connector bootstrap: point SPARK_GRAFT_EXTRA_JARS at local
    # jar paths (comma-separated) to un-gate kafka/avro/jdbc without any
    # network fetch.  No-op when unset (the jars aren't in this image).
    extra_jars = os.environ.get("SPARK_GRAFT_EXTRA_JARS")
    if extra_jars:
        builder = builder.config("spark.jars", extra_jars)
    if not master and not os.environ.get("SPARK_MASTER"):
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    # executors on other hosts see neither this working directory nor
    # this PYTHONPATH, so only local workers get the engine's daemon
    if master and master.startswith("local") and workers_import_engine():
        builder = builder.config("spark.python.daemon.module", WORKER_DAEMON)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def release_cached_blocks(spark) -> None:
    """Drop SQL-cached relations AND checkpoint blocks between benchmark
    entries.

    ``clearCache`` only covers cached relations; ``localCheckpoint``
    blocks live as persistent RDDs until their Python handles are GC'd,
    and across a long single-JVM benchmark the stragglers inflate LATE
    entries 2-4x (measured: family-bench stateful-stream 9 s -> 25 s
    total with solo steady state unchanged).

    .. warning:: DESTRUCTIVE to live handles — this unpersists EVERY
       persistent RDD in the JVM, including the blocks backing
       ``localCheckpoint``/``cache`` DataFrames the caller still holds.
       A local checkpoint truncates lineage, so any later action on such
       a handle fails unrecoverably (there is nothing left to recompute
       from).  Call it only at a quiescent point where no checkpointed or
       cached DataFrame will be used again — i.e. BETWEEN independent
       bench/sweep entries, which is its intended scope.
    """
    import gc

    spark.catalog.clearCache()
    gc.collect()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist()
