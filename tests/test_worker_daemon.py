"""The archive-free Python worker daemon (flow_spark/worker_daemon.py).

The path rule is a pure function, tested without a JVM.  ``drop_archives``
and ``preload`` rewrite the interpreter's own ``sys.path``, ``sys.modules``
and GC generations, so they run in child interpreters.  The JVM tests check
real workers: no zip importer and no archive on their ``sys.path``, and the
daemon's frozen heap.
"""

from __future__ import annotations

import json
import os
import socket
import struct
import subprocess
import sys
import zipfile

import pyspark
import pytest

from flow_spark.session import WORKER_DAEMON
from flow_spark.worker_daemon import archived_pyspark_version, select_path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PATH = ["/app", "/spark/python/lib/pyspark.zip", "/spark/jars/spark-core.jar", "/site"]
CLEAN = ["/app", "/site"]


def test_select_path_matching_install_drops_archives():
    assert select_path(PATH, CLEAN, "4.1.2", "4.1.2") == CLEAN


def test_select_path_missing_install_keeps_path():
    assert select_path(PATH, CLEAN, None, "4.1.2") == PATH


def test_select_path_other_version_keeps_path():
    assert select_path(PATH, CLEAN, "3.5.1", "4.1.2") == PATH


def test_select_path_without_archived_pyspark_drops_archives():
    # nothing on the path provides pyspark but the installed one
    assert select_path(PATH, CLEAN, "4.1.2", None) == CLEAN


def _archive(tmp_path, version: str | None) -> str:
    """A pyspark.zip stand-in; ``version`` None leaves out version.py."""
    path = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        if version is not None:
            z.writestr("pyspark/version.py", f"__version__: str = '{version}'\n")
    return str(path)


def test_archived_version_read_from_first_archive_that_has_it(tmp_path):
    jar = tmp_path / "core.jar"
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("org/x.class", b"")
    assert archived_pyspark_version([str(jar), _archive(tmp_path, "9.8.7")]) == "9.8.7"
    assert archived_pyspark_version([str(jar)]) is None


_PROBE = """
import json, os, sys, zipimport
before = list(sys.path)
from flow_spark.worker_daemon import drop_archives
dropped = drop_archives()
print(json.dumps({
    "dropped": dropped,
    "unchanged": sys.path == before,
    "archives": [p for p in sys.path if os.path.isfile(p)],
    "zipimporters": sum(
        isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values()
    ),
    "pyspark_loaded": any(m.partition(".")[0] == "pyspark" for m in sys.modules),
}))
"""


def _probe(archive: str, *flags: str) -> dict:
    env = {**os.environ, "PYTHONPATH": os.pathsep.join([ROOT, archive])}
    out = subprocess.run(
        [sys.executable, *flags, "-c", _PROBE],
        env=env, cwd=ROOT, capture_output=True, text=True, timeout=120, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_drop_archives_with_matching_install(tmp_path):
    res = _probe(_archive(tmp_path, pyspark.__version__))
    assert res["dropped"] and not res["unchanged"]
    assert res["archives"] == [] and res["zipimporters"] == 0
    assert res["pyspark_loaded"]  # the installed one, imported from site-packages


def test_drop_archives_restores_path_on_version_mismatch(tmp_path):
    res = _probe(_archive(tmp_path, "0.0.1"))
    assert not res["dropped"] and res["unchanged"]
    # the installed pyspark was imported to read its version, then purged
    assert not res["pyspark_loaded"]


def test_drop_archives_restores_path_without_installed_pyspark(tmp_path):
    # -S: no site-packages, so only the archive could provide pyspark
    res = _probe(_archive(tmp_path, pyspark.__version__), "-S")
    assert not res["dropped"] and res["unchanged"]
    assert not res["pyspark_loaded"]


def test_python_worker_has_no_archive_on_its_path(spark):
    """A real task: the worker forked from the daemon holds no zip importer
    and no archive entry, so Spark's per-task ``invalidate_caches()`` has
    no archive directory to re-read."""
    import pandas as pd

    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == WORKER_DAEMON

    def archive_state(pdf: pd.DataFrame) -> pd.DataFrame:
        import os
        import sys
        import zipimport

        n = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
        n += sum(os.path.isfile(p) for p in sys.path)
        return pd.DataFrame({"n": [n]})

    rows = (
        spark.range(1).groupBy("id").applyInPandas(archive_state, "n long").collect()
    )
    assert [r.n for r in rows] == [0]


def test_python_worker_inherits_a_frozen_heap(spark):
    """A real task runs in a worker forked after the daemon's ``preload``:
    the modules the daemon imported sit in the frozen generation, which the
    per-task ``gc.collect()`` never walks."""
    import pandas as pd

    def frozen(pdf: pd.DataFrame) -> pd.DataFrame:
        import gc

        return pd.DataFrame({"n": [gc.get_freeze_count()]})

    rows = spark.range(1).groupBy("id").applyInPandas(frozen, "n long").collect()
    assert rows[0].n >= 10_000


def _no_pandas(tmp_path) -> dict:
    """An environment whose ``import pandas`` raises ImportError."""
    shadow = tmp_path / "shadow" / "pandas"
    shadow.mkdir(parents=True)
    (shadow / "__init__.py").write_text('raise ImportError("no pandas here")\n')
    return {**os.environ, "PYTHONPATH": os.pathsep.join([str(shadow.parent), ROOT])}


def test_preload_skips_a_module_that_fails_to_import(tmp_path):
    probe = (
        "import gc, json\n"
        "from flow_spark.worker_daemon import preload\n"
        "print(json.dumps({'loaded': preload(), 'frozen': gc.get_freeze_count()}))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], env=_no_pandas(tmp_path), cwd=ROOT,
        capture_output=True, text=True, timeout=120, check=True,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert "pandas" not in res["loaded"]
    assert "numpy" in res["loaded"] and "pyarrow" in res["loaded"]
    assert res["frozen"] > 0


def test_daemon_serves_when_a_preload_module_fails(tmp_path):
    """``python -m flow_spark.worker_daemon`` without pandas still reports
    its port and forks a worker for a connection."""
    env = {**_no_pandas(tmp_path), "PYTHON_UNIX_DOMAIN_ENABLED": "false"}
    daemon = subprocess.Popen(
        [sys.executable, "-m", WORKER_DAEMON], env=env, cwd=ROOT,
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
    )
    try:
        (port,) = struct.unpack("!i", daemon.stdout.read(4))
        with socket.create_connection(("127.0.0.1", port), timeout=60) as conn:
            (pid,) = struct.unpack("!i", conn.makefile("rb").read(4))
        assert pid > 0 and pid != daemon.pid
    finally:
        daemon.stdin.close()  # the daemon exits when its stdin closes
        try:
            daemon.wait(timeout=30)
        except subprocess.TimeoutExpired:
            daemon.kill()
            daemon.wait()
        daemon.stdout.close()
        daemon.stderr.close()


_FORK_PROBE = """
import json
from flow_spark.session import get_spark

N_TASKS, ROWS = 64, 5_000
spark = get_spark(
    "worker-fork-probe", master="local[2]",
    extra_conf={"spark.python.worker.reuse": "false"},
)

def work(batches):
    import gc, os
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc
    for batch in batches:
        ids = batch.column(0)
        a = pc.sum(pc.multiply(ids, ids)).as_py()
        b = int(np.square(ids.to_numpy()).sum())
        c = int((pd.Series(ids.to_numpy()) % 7).sum())
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()], "frozen": [gc.get_freeze_count()],
            "sq": [a], "sq_np": [b], "mod7": [c],
        })

df = spark.range(0, N_TASKS * ROWS, numPartitions=N_TASKS).mapInArrow(
    work, "pid long, frozen long, sq long, sq_np long, mod7 long"
)
rows = df.collect()
print(json.dumps({
    "daemon": spark.sparkContext.getConf().get("spark.python.daemon.module"),
    "pids": len({r.pid for r in rows}),
    "min_frozen": min(r.frozen for r in rows),
    "sq": sum(r.sq for r in rows), "sq_np": sum(r.sq_np for r in rows),
    "mod7": sum(r.mod7 for r in rows), "n": N_TASKS * ROWS,
}))
spark.stop()
"""


def test_fresh_workers_forked_from_the_preloaded_daemon_do_not_hang():
    """Every task forks a new worker from a daemon that imported pandas and
    pyarrow (which starts a jemalloc background thread) before forking; a
    worker that deadlocks after the fork would stall the query, so the
    probe runs under a timeout that names the hang."""
    import signal

    # conftest put the repo root on PYTHONPATH, so the workers import flow_spark
    probe = subprocess.Popen(
        [sys.executable, "-c", _FORK_PROBE], cwd=ROOT, text=True,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, start_new_session=True,
    )
    try:
        out, err = probe.communicate(timeout=180)
    except subprocess.TimeoutExpired:
        os.killpg(probe.pid, signal.SIGKILL)
        probe.communicate()
        pytest.fail("hang: 64 tasks on freshly forked Python workers did not finish in 180 s")
    assert probe.returncode == 0, err[-3000:]
    res = json.loads(out.strip().splitlines()[-1])
    n = res["n"]
    assert res["daemon"] == WORKER_DAEMON
    assert res["pids"] == 64  # spark.python.worker.reuse=false: one fork per task
    assert res["min_frozen"] >= 10_000
    assert res["sq"] == res["sq_np"] == (n - 1) * n * (2 * n - 1) // 6
    assert res["mod7"] == sum(i % 7 for i in range(n))
