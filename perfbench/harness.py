"""Shared machinery of the benchmark: box pinning, the percentile rule,
process-tree RSS sampling, in-memory spans and the Spark session
lifecycle.

Nothing here imports ``flow_spark`` at module level: :func:`pin_env` must
run before the engine is imported, because ``flow_spark.session`` reads
``SPARK_GRAFT_CPUS`` at import time.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import math
import os
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

#: driver heap ceiling: the benchmark's inputs are small, and the box is
#: shared, so the heap never needs more than this even on large hosts
MAX_DRIVER_MEM_GB = 2


# -- box ----------------------------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def pin_env(work: Path) -> dict[str, str]:
    """Pin cores, driver heap and every scratch location to this run.

    The driver heap is a quarter of physical RAM, capped at
    MAX_DRIVER_MEM_GB (the engine's own 16g default exceeds small boxes).
    Scratch (Spark local dirs, Python and JVM temp files) stays inside
    ``work`` so a run touches nothing outside its checkout.
    """
    tmp = work / "tmp"
    for d in (work / "local", tmp):
        d.mkdir(parents=True, exist_ok=True)
    mem_gb = max(1, min(MAX_DRIVER_MEM_GB, ram_bytes() // (4 << 30)))
    env = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # Python workers import flow_spark operators by module path
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    os.environ.update(env)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    tempfile.tempdir = None  # re-read TMPDIR on next use
    return env


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def source_digest() -> str:
    """sha256 over the engine's sources: identifies the code under test
    even where the checkout is not a git repository."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "flow_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def box_record(seed: int, ticks0: tuple[int, int]) -> dict:
    import duckdb
    import pyspark

    return {
        "nproc": nproc(),
        "ram_gb": round(ram_bytes() / (1 << 30), 1),
        "python": sys.version.split()[0],
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "commit": _git_commit(),
        "source_sha256": source_digest(),
        "seed": seed,
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        # share of CPU time the hypervisor gave to others during the run:
        # a slow run on a contended host shows here, not in the code
        "cpu_steal_share": (cpu_ticks()[0] - ticks0[0])
        / max(1, cpu_ticks()[1] - ticks0[1]),
    }


# -- statistics -----------------------------------------------------------------

#: candidate tail percentiles, highest first
TAIL_PERCENTILES = (99.9, 99.0, 90.0)
#: a percentile is only reported when this many samples lie beyond it
MIN_BEYOND = 10


def _rank(n: int, q: float) -> int:
    """1-based nearest rank of the q-th percentile among n samples
    (rounded first, so 99.9% of 10,000 is rank 9,990, not 9,991)."""
    return max(1, math.ceil(round(q * n / 100.0, 9)))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least q% of
    all samples at or below it.  ``inf`` samples (lost work) sort last."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(len(values), q) - 1]


def beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank q-th percentile of n."""
    return n - _rank(n, q)


def tail_percentile(n: int) -> float | None:
    """The highest of TAIL_PERCENTILES that has MIN_BEYOND samples beyond
    it, or None when even p90 lacks them."""
    for q in TAIL_PERCENTILES:
        if beyond(n, q) >= MIN_BEYOND:
            return q
    return None


def latency_summary(values: list[float], want: float = 99.0) -> dict:
    """Median and the ``want`` percentile of ``values`` with their sample
    counts.  ``want`` is reported as asked (so the metric name stays
    fixed), and ``supported`` says whether MIN_BEYOND samples lie beyond
    it."""
    n = len(values)
    return {
        "p50": percentile(values, 50),
        f"p{want:g}": percentile(values, want),
        "n": n,
        "beyond": beyond(n, want),
        "supported": beyond(n, want) >= MIN_BEYOND,
        "highest_supported": tail_percentile(n),
    }


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


# -- memory ---------------------------------------------------------------------


def _pss_bytes(pid: str) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes mapping it (forked Python workers share most of
    theirs), so a tree's sum counts every page once."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_memory_bytes(root_pid: int) -> int:
    """Summed PSS of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # process ended while we looked
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            total += _pss_bytes(str(pid))
        except OSError:
            pass  # ended since the scan
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Peak resident memory (summed PSS, see :func:`tree_memory_bytes`)
    of this process and all its descendants — driver JVM, Python
    workers, load generator — sampled on a background thread."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True, name="rss")

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_memory_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_memory_bytes(os.getpid()))


# -- spans ----------------------------------------------------------------------


class Tracer:
    """Spans kept in memory and written once, when the run ends.

    A span is (id, name, layer, start_ns, end_ns, parent, attrs).  The
    benchmark records them around its calls into each layer.
    """

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "start_ns": time.time_ns(),
            "end_ns": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end_ns"] = time.time_ns()

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))


# -- Spark session ----------------------------------------------------------------


def start_session(work: Path, app: str, event_log: Path | None = None):
    """``flow_spark.session.get_spark`` with scratch pinned into ``work``;
    with ``event_log`` set, an uncompressed, non-rolling event log is
    written there (one file per application)."""
    from flow_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(app, extra_conf=conf)


def stop_jvm() -> None:
    """Stop the active SparkContext and the JVM behind it, and wait for
    the JVM to exit (its Python workers go with it)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def heap_used_mb(spark) -> float:
    """JVM heap in use after a full collection: what the session retains
    (state stores, memory-sink tables), whatever size the heap grew to."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / (1 << 20)


def host_probe(spark, rows: int = 20_000_000, runs: int = 3) -> dict[str, float]:
    """Fixed JVM hash work at 1 partition and at nproc partitions (nproc
    times the rows).  Context for reading a run; never used to rescale."""

    def one(n_rows: int, parts: int) -> float:
        times = []
        for i in range(runs + 1):
            t0 = time.perf_counter()
            spark.range(0, n_rows, 1, parts).selectExpr(
                "bit_xor(xxhash64(id)) AS h"
            ).collect()
            if i:  # first pass compiles
                times.append(time.perf_counter() - t0)
        return median(times)

    n = nproc()
    return {"host_st_s": one(rows, 1), "host_mt_s": one(rows * n, n)}
