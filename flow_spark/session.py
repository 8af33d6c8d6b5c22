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
it falls back to plain ``pyspark.daemon``.  Before it forks, the daemon also
imports numpy, pandas, pyarrow and PySpark's Arrow serializers and freezes its
heap (``gc.freeze()``): the full ``gc.collect()`` a reused worker runs after
every task then skips those 73k objects, which took 31-75 ms per task on a
4-core box, and a worker's gap between two tasks of a live stateful drain
fell from 50-130 ms to 1-7 ms.  A session whose workers cannot import
``flow_spark``, or whose master is not local, keeps ``pyspark.daemon``.

Local sessions also get a ``file:`` filesystem that makes permission sets and
symlink probes syscalls.  With no ``libhadoop`` in the Spark build, Hadoop's
raw local filesystem forks ``chmod`` on every create and mkdir and
``readlink`` twice per ``FileContext`` rename, about 6 ms a fork; the offset
log, commit log and state-store files of every micro-batch pay those forks.
``get_spark`` compiles the three classes in ``flow_spark/jvm/`` with ``javac``
against the ``hadoop-client-api`` jar Spark launches with, once per source
hash under ``tempfile.gettempdir()``, puts them on the driver classpath and
sets ``fs.file.impl`` and ``fs.AbstractFileSystem.file.impl``.  Checksums
(``.crc`` sidecars), atomic renames and the umask are Hadoop's own.  It
applies only to a ``local``/``local[...]`` master, whose executors share the
driver JVM, because executors in other JVMs lack the classes.  Without
``javac`` the session keeps Hadoop's default filesystem and logs a warning;
a failed compile raises with javac's stderr.

Spark's static codegen cache (``spark.sql.codegen.cache.maxEntries``, keyed
by generated code text) holds ``CODEGEN_CACHE_ENTRIES`` classes instead of
Spark's 100: the six stateful drains alone generate about 100 distinct
classes, so at 100 entries a session evicted and recompiled them with Janino
on every round.  The setting is static, so a session built outside
``get_spark`` and handed to ``__spark_entry__._configure`` keeps Spark's 100.
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import shutil
import site
import subprocess
import tempfile

from pyspark.find_spark_home import _find_spark_home
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


def local_cpus() -> int:
    """``SPARK_GRAFT_CPUS``: the local master's cores and the default
    shuffle width.  Unset, it is the cores this process may run on."""
    return _env_int("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)), 1)


#: ``spark.driver.memory`` ceiling when SPARK_GRAFT_DRIVER_MEM is unset
MAX_DRIVER_MEM_GB = 16
WORKER_DAEMON = "flow_spark.worker_daemon"
#: Java sources of the fork-free ``file:`` filesystem
JVM_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
LOCAL_FS_IMPLS = {
    "spark.hadoop.fs.file.impl": "flow_spark.jvm.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "flow_spark.jvm.NioLocalFs",
}
DRIVER_CLASSPATH = "spark.driver.extraClassPath"
#: ``spark.sql.codegen.cache.maxEntries``: the engine's working set of
#: generated classes, with room to spare
CODEGEN_CACHE_ENTRIES = 1000

log = logging.getLogger(__name__)


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


def local_fs_conf(master: str | None, classes: str | None, conf: dict[str, str]) -> dict[str, str]:
    """``conf`` with the fork-free ``file:`` filesystem selected: the
    compiled ``classes`` directory appended to its driver classpath, and both
    ``file:`` impl settings unless ``conf`` names its own.  ``conf``
    unchanged when ``classes`` is None (no ``javac``) or ``master`` runs
    executors outside the driver JVM (anything but ``local``/``local[...]``,
    ``local-cluster`` included), where the classes are not on the path."""
    in_driver = master == "local" or (master or "").startswith("local[")
    if not in_driver or classes is None:
        return dict(conf)
    return {
        **LOCAL_FS_IMPLS,
        **conf,
        DRIVER_CLASSPATH: os.pathsep.join(p for p in (conf.get(DRIVER_CLASSPATH), classes) if p),
    }


def build_local_fs(jars_dir: str, javac: str | None) -> str | None:
    """Directory of the ``flow_spark/jvm/`` classes compiled against the
    ``hadoop-client-api`` jar in ``jars_dir``, named by the hash of the
    sources and that jar under ``tempfile.gettempdir()`` and reused when it
    is there.  None, with a warning, when ``javac`` is None; a failed
    compile raises ``RuntimeError`` carrying javac's stderr."""
    if javac is None:
        log.warning("no javac on PATH: local file: I/O keeps Hadoop's forking filesystem")
        return None
    sources = sorted(glob.glob(os.path.join(JVM_SRC, "*.java")))
    jars = sorted(glob.glob(os.path.join(jars_dir, "hadoop-client-api-*.jar")))
    digest = hashlib.sha256()
    for path in sources:
        with open(path, "rb") as f:
            digest.update(os.path.basename(path).encode() + b"\0" + f.read())
    for jar in jars:
        digest.update(os.path.basename(jar).encode())
    out = os.path.join(tempfile.gettempdir(), f"flow_spark-jvm-{digest.hexdigest()[:16]}")
    if os.path.isdir(out):
        return out
    # compile aside, then move into place: a concurrent session either
    # wins the rename or finds the directory already there
    tmp = tempfile.mkdtemp(prefix="flow_spark-jvm-build-")
    cmd = [javac, "--release", "17", "-d", tmp, "-cp", os.pathsep.join(jars), *sources]
    proc = subprocess.run(cmd, capture_output=True, text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(f"{' '.join(cmd)} failed ({proc.returncode}):\n{proc.stderr}")
    try:
        os.replace(tmp, out)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(out):
            raise
    return out


def get_spark(
    app_name: str = "flow_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]`` (see ``local_cpus``).
    """
    cpus = local_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
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
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
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
    # executors on other hosts see neither this working directory, this
    # PYTHONPATH nor the compiled classes, so only local sessions get the
    # engine's daemon and (see local_fs_conf) filesystem
    local = bool(master) and master.startswith("local")
    if local and workers_import_engine():
        builder = builder.config("spark.python.daemon.module", WORKER_DAEMON)
    classes = None
    if local:
        classes = build_local_fs(os.path.join(_find_spark_home(), "jars"), shutil.which("javac"))
    for k, v in local_fs_conf(master, classes, extra_conf or {}).items():
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
