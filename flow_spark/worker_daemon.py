"""Python worker daemon that keeps Spark's archives off ``sys.path``.

Spark starts the worker daemon as ``python -m <spark.python.daemon.module>``
with ``PYTHONPATH`` led by ``PythonUtils.sparkPythonPath``:
``$SPARK_HOME/python/lib/pyspark.zip``, the py4j source zip and the
spark-core jar.  Before every task, ``pyspark.worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``, and on CPython 3.11 that makes every
cached ``zipimporter`` re-read its archive's whole directory: 1,328 entries
of pyspark.zip (one importer per imported subpackage) and 5,359 of the jar
(probed for the ``google`` and ``org`` namespace packages).  Measured on a
4-core x86 box with CPython 3.11.7 and Spark 4.1.2, that is 0.19-0.35 s of
CPU per task, against about 0.03 s for the UDF and its Arrow serde.

When the interpreter has the same pyspark installed, this daemon drops the
archive entries from ``sys.path`` and their importers from
``sys.path_importer_cache`` before it imports ``pyspark.daemon``.  Forked
workers inherit the clean path, so the per-task invalidation costs well under
a millisecond.  When the installed pyspark is missing or is another version
than the one in pyspark.zip, ``sys.path`` is restored exactly and the daemon
is plain ``pyspark.daemon``.

The daemon also freezes its heap before it forks.  A reused worker runs a
full ``gc.collect()`` after every task (in ``pyspark.daemon.manager``'s fork
branch, between tasks), and with the modules every pandas-UDF worker loads
that walk covers about 73k objects: 31-75 ms per collect inside a real
worker on the box above, paid while the JVM waits for the worker's next
Python runner.  ``preload`` imports those modules (``PRELOAD``) in the
daemon, collects once and calls ``gc.freeze()``.  Forked workers inherit the
imported modules and a frozen generation that their own collections skip:
the per-task collect walks only the few hundred objects the worker made
after the fork (0.2-0.5 ms), and a new worker no longer imports pandas or
pyarrow itself.  In a live ``stateful_drain`` run a worker's gap between
two tasks fell from 50-130 ms to 1-7 ms.  The daemon reports its port about
0.33 s later, after the imports.  A module that fails to import is skipped;
the daemon still freezes and serves.

``flow_spark.session.get_spark`` selects this module through
``spark.python.daemon.module`` when Python workers can import ``flow_spark``.
Run by Spark as ``python -m flow_spark.worker_daemon [worker_module]``.
"""

from __future__ import annotations

import gc
import importlib
import os
import re
import sys
import zipfile

#: modules the archives provide; purged again when the daemon falls back
_ARCHIVED_PACKAGES = ("pyspark", "py4j")
_VERSION_RE = re.compile(r"""__version__\b[^=]*=\s*['"]([^'"]+)['"]""")
#: what every pandas-UDF worker imports; loaded once, in the daemon
PRELOAD = ("numpy", "pandas", "pyarrow", "pyspark.sql.pandas.serializers")


def select_path(
    path: list[str],
    clean: list[str],
    installed_version: str | None,
    archived_version: str | None,
) -> list[str]:
    """The daemon's ``sys.path``: ``clean`` (``path`` without its archive
    entries) when the pyspark importable from ``clean`` has the archived
    version, else ``path`` unchanged.

    ``installed_version`` is ``pyspark.__version__`` imported from ``clean``
    (None when that import failed); ``archived_version`` is the version in
    the archive's ``pyspark/version.py`` (None when no archive holds one,
    so the installed pyspark is the only candidate).
    """
    if installed_version is None:
        return list(path)
    if archived_version is not None and installed_version != archived_version:
        return list(path)
    return list(clean)


def archived_pyspark_version(archives: list[str]) -> str | None:
    """``__version__`` from the first archive that holds
    ``pyspark/version.py``, or None."""
    for archive in archives:
        try:
            with zipfile.ZipFile(archive) as z:
                text = z.read("pyspark/version.py").decode("utf-8")
        except (KeyError, OSError, zipfile.BadZipFile):
            continue
        m = _VERSION_RE.search(text)
        return m.group(1) if m else None
    return None


def _installed_pyspark_version() -> str | None:
    try:
        import pyspark
    except Exception:  # a broken install of any kind: keep the archives
        return None
    return getattr(pyspark, "__version__", None)


def drop_archives() -> bool:
    """Take the archive entries off ``sys.path`` (and their cached
    importers) when the installed pyspark can stand in for the archived
    one; otherwise leave ``sys.path`` exactly as it was.  Returns whether
    the archives were dropped."""
    path = list(sys.path)
    archives = [p for p in path if os.path.isfile(p)]
    if not archives:
        return False
    clean = [p for p in path if p not in archives]
    archived = archived_pyspark_version(archives)
    sys.path[:] = clean
    for key in list(sys.path_importer_cache):
        if any(key == a or key.startswith(a + os.sep) for a in archives):
            del sys.path_importer_cache[key]
    sys.path[:] = select_path(path, clean, _installed_pyspark_version(), archived)
    if sys.path == clean:
        return True
    for name in list(sys.modules):
        if name.partition(".")[0] in _ARCHIVED_PACKAGES:
            del sys.modules[name]
    return False


def preload() -> list[str]:
    """Import ``PRELOAD``, skipping any module that fails to import, then
    collect once and freeze everything alive into the permanent generation
    that later collections (here and in forked workers) never walk.
    Returns the modules that imported."""
    loaded = []
    for name in PRELOAD:
        try:
            importlib.import_module(name)
        except Exception:  # missing or broken: the worker imports it itself
            continue
        loaded.append(name)
    gc.collect()
    gc.freeze()
    return loaded


if __name__ == "__main__":
    drop_archives()
    from pyspark.daemon import manager

    preload()
    manager()
