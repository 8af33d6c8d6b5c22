"""The per-session memo holds only the live session's plans and spools.

``catalog.session_memo`` keys every value by (applicationId, sf_dir,
what).  A process has one live SparkContext, so entries of a stopped
session are dead weight; the first lookup under a new applicationId
drops them.  The check stops a session, which the suite's own session
must not do, so it runs in a subprocess.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_TWO_SESSIONS = """
import json, sys
from flow_spark import catalog
from flow_spark.queries import streaming_windows
from flow_spark.queries.registry import get
from flow_spark.session import get_spark

apps = []
for round_ in range(2):
    spark = get_spark("memo-probe", shuffle_partitions=4)
    get("stream_twa").builder(spark, sys.argv[1]).collect()
    apps.append(spark.sparkContext.applicationId)
    if round_ == 0:
        spark.stop()
# every memo dict either module keeps: the application ids in their keys
keys = [
    key
    for mod in (catalog, streaming_windows)
    for name, memo in vars(mod).items()
    if name.endswith("MEMO") and isinstance(memo, dict)
    for key in memo
]
print(json.dumps({
    "apps": apps,
    "n_keys": len(keys),
    "key_apps": sorted({part for key in keys for part in key if part in apps}),
}))
"""


def test_new_session_drops_stopped_sessions_entries(sf_dir):
    env = {**os.environ, "PYTHONPATH": ROOT, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", _TWO_SESSIONS, sf_dir],
        env=env, cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    first, second = res["apps"]
    assert first != second
    assert res["n_keys"] > 0  # the second drain's table and plan
    assert res["key_apps"] == [second]
