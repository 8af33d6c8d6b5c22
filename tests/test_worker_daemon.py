"""The archive-free Python worker daemon (flow_spark/worker_daemon.py).

The path rule is a pure function, tested without a JVM.  ``drop_archives``
rewrites the interpreter's own ``sys.path`` and ``sys.modules``, so it runs
in a child interpreter against archives built here.  The last test checks a
real worker: no zip importer and no archive on its ``sys.path``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pyspark

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
