"""Custom Python Data Source (Spark 4 DataSource API): a deterministic
synthetic event generator with BOTH batch and streaming readers.

This is the engine's analog of the reference's receiver factory
(pkg/corev1alpha1/actor/receiver_factory.go dispatches bind schemes to
receiver implementations): `spark.dataSource.register` plugs a pure-Python
source into the planner, partition-parallel on executors, usable as
`spark.read.format("synthetic_events")` and `spark.readStream.format(...)`.

Generation is derived from the portable md5 hash (functions/hashing.py),
row-index keyed — so the emitted data is a pure function of (row index),
independent of partitioning, retries, or batch boundaries, and a DuckDB
oracle can regenerate it exactly (see queries/pysource.py).  That is the
property a custom source must have at 100 TB: task retries and AQE
re-plans re-read partitions, and a nondeterministic source silently
corrupts results.

Scale notes: `partitions()` declares the split (rows_per_partition), the
driver never materializes rows, and each executor generates only its
slice.  The stream reader exposes offset-range micro-batches
(initialOffset/latestOffset/partitions/read), the same contract a Kafka
source implements; `simpledstream`-style progress tracking comes free
from the checkpoint log.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
_HEX_DIGITS = 15


def _h(s: str) -> int:
    """Python twin of functions.hashing.portable_hash64 (md5, 60-bit)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:_HEX_DIGITS], 16)


def synth_row(i: int) -> tuple[int, int, str, float]:
    """The one true definition of row i — shared by batch reader, stream
    reader, tests, and (as SQL) the DuckDB oracle."""
    user = _h(f"u{i}") % 50
    etype = _EVENT_TYPES[_h(f"t{i}") % 5]
    value = (_h(f"v{i}") % 100000) / 100.0  # exact 2-decimal
    return (i, user, etype, value)


_SCHEMA = "event_id bigint, user_id bigint, event_type string, value double"


@dataclass
class _RangePartition(InputPartition):
    start: int
    end: int


class SyntheticEventsDataSource(DataSource):
    """format("synthetic_events"), options: n_rows, n_partitions."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema):  # noqa: ANN001
        if self.options.get("pushdown", "").lower() == "true":
            return _PushdownBatchReader(self.options)
        return _BatchReader(self.options)

    def streamReader(self, schema):  # noqa: ANN001, N802
        return _StreamReader(self.options)


class SyntheticEventsSimpleDataSource(DataSource):
    """format("synthetic_events_simple"): the SAME rows through
    SimpleDataSourceStreamReader — the prototype-grade streaming reader
    API (driver-side read(start) -> (rows, nextOffset), replay via
    readBetweenOffsets, no partition planning).  Exists to cover the
    third reader surface; the partitioned _StreamReader is the scale
    path (a driver-side reader caps throughput at one core)."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events_simple"

    def schema(self) -> str:
        return _SCHEMA

    def simpleStreamReader(self, schema):  # noqa: ANN001, N802
        return _SimpleStreamReader(self.options)


class _SimpleStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict) -> None:
        self.n_rows = int(options.get("n_rows", 1000))
        self.step = int(options.get("rows_per_batch", 400))

    def initialOffset(self):  # noqa: N802
        return {"offset": 0}

    def read(self, start: dict):
        lo = start["offset"]
        hi = min(lo + self.step, self.n_rows)
        return (iter([synth_row(i) for i in range(lo, hi)]), {"offset": hi})

    def readBetweenOffsets(self, start: dict, end: dict):  # noqa: N802
        # deterministic replay after failure: same rows for same range
        return iter([synth_row(i) for i in range(start["offset"], end["offset"])])


class _BatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n_rows = int(options.get("n_rows", 1000))
        self.n_parts = int(options.get("n_partitions", 8))

    def partitions(self):
        per = -(-self.n_rows // self.n_parts)  # ceil
        return [
            _RangePartition(p * per, min((p + 1) * per, self.n_rows))
            for p in range(self.n_parts)
            if p * per < self.n_rows
        ]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield synth_row(i)


class _StreamReader(DataSourceStreamReader):
    """Offset-range micro-batches over the same deterministic rows.

    `n_rows` models how much data EXISTS at the source right now:
    latestOffset() reports it all (availableNow snapshots this once and
    drains to it), and the committed offset in the checkpoint log is the
    resume point — re-running against a GROWN source (larger n_rows, same
    checkpoint) emits only the new suffix, never re-emits, which is the
    exactly-once contract a Kafka-style source keeps.  Per-batch rate
    limiting belongs to ReadLimit, which the Python API does not expose
    yet.
    """

    def __init__(self, options: dict):
        self.n_rows = int(options.get("n_rows", 1000))
        self.n_parts = int(options.get("n_partitions", 4))

    def initialOffset(self):  # noqa: N802
        return {"offset": 0}

    def latestOffset(self):  # noqa: N802
        return {"offset": self.n_rows}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["offset"], end["offset"]
        if hi <= lo:
            return [_RangePartition(lo, lo)]
        per = -(-(hi - lo) // self.n_parts)
        return [
            _RangePartition(lo + p * per, min(lo + (p + 1) * per, hi))
            for p in range(self.n_parts)
            if lo + p * per < hi
        ]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield synth_row(i)

    def commit(self, end: dict) -> None:
        pass


def register(spark) -> None:  # noqa: ANN001
    """Idempotent registration of the custom source and sink."""
    spark.dataSource.register(SyntheticEventsDataSource)
    spark.dataSource.register(SyntheticEventsSimpleDataSource)
    spark.dataSource.register(JsonlSinkDataSource)
    spark.dataSource.register(SnapshotCDCDataSource)


# --- filter pushdown (Spark 4.1 pushFilters) --------------------------------


class _PushdownBatchReader(_BatchReader):
    """Batch reader with event_id range pushdown: Catalyst hands the scan
    its filters (requires spark.sql.python.filterPushdown.enabled=true)
    and the generator narrows the row range BEFORE planning partitions —
    the Python-source analog of parquet row-group pruning: pruned rows
    are never generated and pruned partitions never scheduled.
    """

    def __init__(self, options: dict):
        super().__init__(options)
        self.lo = 0
        self.hi = self.n_rows

    def pushFilters(self, filters):  # noqa: N802, ANN001
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            LessThan,
            LessThanOrEqual,
        )

        for f in filters:
            if getattr(f, "attribute", None) != ("event_id",):
                yield f  # unsupported -> Spark re-applies it post-scan
            elif isinstance(f, GreaterThan):
                self.lo = max(self.lo, f.value + 1)
            elif isinstance(f, GreaterThanOrEqual):
                self.lo = max(self.lo, f.value)
            elif isinstance(f, LessThan):
                self.hi = min(self.hi, f.value)
            elif isinstance(f, LessThanOrEqual):
                self.hi = min(self.hi, f.value + 1)
            elif isinstance(f, EqualTo):
                self.lo = max(self.lo, f.value)
                self.hi = min(self.hi, f.value + 1)
            else:
                yield f

    def partitions(self):
        lo, hi = self.lo, max(self.lo, self.hi)
        if hi <= lo:
            # fully pruned: Spark substitutes [None] for an empty partition
            # list, so return one degenerate empty-range partition instead
            return [_RangePartition(lo, lo)]
        per = -(-(hi - lo) // self.n_parts)
        return [
            _RangePartition(lo + p * per, min(lo + (p + 1) * per, hi))
            for p in range(self.n_parts)
            if lo + p * per < hi
        ]


# --- custom Python sink (DataSourceWriter / DataSourceStreamWriter) ---------


@dataclass
class _FileCommit(WriterCommitMessage):
    path: str
    n: int


class JsonlSinkDataSource(DataSource):
    """format("jsonl_sink"), option path=<dir>: newline-delimited-JSON sink
    with a real two-phase commit — executors write part-*.tmp and return
    commit messages; the driver's commit() atomically renames and writes a
    _SUCCESS manifest with the total row count; abort() removes temp
    files, so a failed job leaves no visible output.  This is the sink
    head factory analog (reference sink_head_file.go) on the Spark 4
    Python writer API; the streaming variant keys files and manifests by
    batchId, so a replayed micro-batch overwrites its own files —
    idempotent under at-least-once delivery.  Local-FS paths only (a
    production sink would speak fsspec / Hadoop FS)."""

    @classmethod
    def name(cls) -> str:
        return "jsonl_sink"

    def writer(self, schema, overwrite):  # noqa: ANN001
        return _JsonlWriter(self.options, schema)

    def streamWriter(self, schema, overwrite):  # noqa: ANN001, N802
        return _JsonlStreamWriter(self.options, schema)


class _JsonlWriterBase:
    def __init__(self, options: dict, schema) -> None:  # noqa: ANN001
        self.path = options["path"]
        self.cols = [f.name for f in schema.fields]

    @staticmethod
    def _json_default(o):  # noqa: ANN001
        # binary columns -> base64 (JSON has no bytes); anything else
        # non-native (Decimal, datetime, Row) -> str
        import base64

        if isinstance(o, (bytes, bytearray)):
            return base64.b64encode(bytes(o)).decode("ascii")
        return str(o)

    def _write_partition(self, it, prefix: str) -> _FileCommit:  # noqa: ANN001
        import json
        import os

        from pyspark import TaskContext

        tc = TaskContext.get()
        pid = tc.partitionId()
        # attempt id in the TEMP name: a task retry / speculative twin must
        # never share a file with the zombie first attempt — only commit()
        # renames the winning attempt to the stable part name
        tmp = os.path.join(
            self.path, f"{prefix}part-{pid:05d}-a{tc.taskAttemptId()}.jsonl.tmp"
        )
        n = 0
        os.makedirs(self.path, exist_ok=True)
        with open(tmp, "w") as fh:
            for row in it:
                fh.write(
                    json.dumps(
                        row.asDict(recursive=True)
                        if hasattr(row, "asDict")
                        else dict(zip(self.cols, row)),
                        sort_keys=True,
                        default=self._json_default,
                    )
                )
                fh.write("\n")
                n += 1
        return _FileCommit(tmp, n)

    @staticmethod
    def _final_name(tmp_path: str) -> str:
        # part-00003-a17.jsonl.tmp -> part-00003.jsonl
        import os
        import re

        base = os.path.basename(tmp_path)
        return os.path.join(
            os.path.dirname(tmp_path),
            re.sub(r"-a\d+\.jsonl\.tmp$", ".jsonl", base),
        )

    @classmethod
    def _finalize(cls, messages, manifest: str) -> None:  # noqa: ANN001
        import os

        total = 0
        for m in messages:
            os.replace(m.path, cls._final_name(m.path))
            total += m.n
        with open(manifest, "w") as fh:
            fh.write(str(total))

    @staticmethod
    def _cleanup(messages) -> None:  # noqa: ANN001
        import contextlib
        import os

        for m in messages:
            if m is not None:
                with contextlib.suppress(FileNotFoundError):
                    os.remove(m.path)

    def _sweep_orphan_tmps(self) -> None:
        # commit/abort only see commit messages from task attempts that
        # RETURNED one — a failed or zombie (speculative-loser) attempt's
        # part-*-aN.jsonl.tmp would otherwise accumulate forever.  At this
        # point every winning attempt's tmp has just been renamed (or the
        # job is aborted), so any remaining *.jsonl.tmp is an orphan.
        import contextlib
        import glob
        import os

        for orphan in glob.glob(os.path.join(self.path, "*.jsonl.tmp")):
            with contextlib.suppress(FileNotFoundError):
                os.remove(orphan)


class _JsonlWriter(_JsonlWriterBase, DataSourceWriter):
    def write(self, iterator):  # noqa: ANN001
        return self._write_partition(iterator, "")

    def commit(self, messages):  # noqa: ANN001
        import os

        self._finalize(messages, os.path.join(self.path, "_SUCCESS"))
        self._sweep_orphan_tmps()

    def abort(self, messages):  # noqa: ANN001
        self._cleanup(messages)
        self._sweep_orphan_tmps()


class _JsonlStreamWriter(_JsonlWriterBase, DataSourceStreamWriter):
    def write(self, iterator):  # noqa: ANN001
        return self._write_partition(iterator, "")

    def commit(self, messages, batchId):  # noqa: ANN001, N802
        import glob
        import os

        # a REPLAYED batch may produce FEWER partitions than the original
        # attempt (different parallelism after restart): clear every file
        # of this batchId first so no stale part survives the overwrite
        for stale in glob.glob(
            os.path.join(self.path, f"batch-{batchId:05d}-*")
        ) + glob.glob(os.path.join(self.path, f"_SUCCESS-{batchId:05d}")):
            os.remove(stale)
        total = 0
        for m in messages:
            final = os.path.join(
                self.path,
                f"batch-{batchId:05d}-{os.path.basename(self._final_name(m.path))}",
            )
            os.replace(m.path, final)
            total += m.n
        with open(os.path.join(self.path, f"_SUCCESS-{batchId:05d}"), "w") as fh:
            fh.write(str(total))
        self._sweep_orphan_tmps()

    def abort(self, messages, batchId):  # noqa: ANN001, N802
        self._cleanup(messages)
        self._sweep_orphan_tmps()


# --------------------------------------------------------------------------
# snapshot_cdc: stream the snapshot table's changefeed (Delta's
# readChangeFeed as a Spark-4 Python Data Source).
# --------------------------------------------------------------------------


class SnapshotCDCDataSource(DataSource):
    """format("snapshot_cdc"): subscribe to a manifest-snapshot table's
    commits (operators/snapshots.py) as a structured stream.

    Offsets ARE version numbers — the manifest log doubles as the
    streaming WAL, exactly how Delta streams a table.  Each micro-batch
    emits the insert/update/delete rows between the last seen version
    and the current one, computed from each side's EXCLUSIVE manifest
    files only (shared files are byte-identical, see snapshot_changes).

    Options: ``table_dir`` (required), ``key`` (required), ``values``
    (comma-separated value columns; default = every non-key column),
    ``start_version`` (default 0 = emit the first version as inserts).

    Driver-side SimpleDataSourceStreamReader (pyarrow diff): right for
    CDC batches, which the copy-on-write layout already bounds to the
    changed files; a partition-planned reader is the bulk-backfill
    path.  Deterministic replay: readBetweenOffsets re-diffs the same
    two manifests, which are immutable.
    """

    @classmethod
    def name(cls) -> str:
        return "snapshot_cdc"

    def _fields(self) -> "tuple[str, list[tuple[str, str]]]":
        from flow_spark.operators.snapshots import _head, _schema_of

        key = self.options["key"]
        schema = _schema_of(_head(self.options["table_dir"])[1])
        types = {f.name: f.dataType.simpleString() for f in schema.fields}
        if key not in types:
            raise ValueError(f"key column {key!r} not in table schema")
        if "values" in self.options:
            vals = [c.strip() for c in self.options["values"].split(",")]
        else:
            vals = [c for c in types if c != key]
        return key, [(c, types[c]) for c in [key, *vals]]

    def schema(self) -> str:
        _, cols = self._fields()
        body = ", ".join(f"{c} {t}" for c, t in cols)
        return f"version int, change_type string, {body}"

    def simpleStreamReader(self, schema):  # noqa: ANN001, N802
        key, cols = self._fields()
        return _SnapshotCDCReader(self.options, key, [c for c, _ in cols])


class _SnapshotCDCReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict, key: str, cols: "list[str]") -> None:
        self.table_dir = options["table_dir"]
        self.key = key
        self.cols = cols  # key first, then value columns
        self.start_version = int(options.get("start_version", 0))

    def initialOffset(self):  # noqa: N802
        return {"version": self.start_version}

    def _read_files(self, files: "list[str]") -> dict:
        import pyarrow.parquet as pq

        out: dict = {}
        for f in sorted(files):
            tbl = pq.read_table(f, columns=self.cols)
            for row in tbl.to_pylist():
                out[row[self.key]] = tuple(row[c] for c in self.cols)
        return out

    def _changes(self, v0: int, v1: int) -> "list[tuple]":
        from flow_spark.operators.snapshots import snapshot_files

        new_files = set(snapshot_files(self.table_dir, v1))
        old_files = (
            set(snapshot_files(self.table_dir, v0)) if v0 >= 1 else set()
        )
        old = self._read_files(sorted(old_files - new_files))
        new = self._read_files(sorted(new_files - old_files))
        rows: "list[tuple]" = []
        for k, vals in new.items():
            if k not in old:
                rows.append((v1, "insert", *vals))
            elif old[k] != vals:
                rows.append((v1, "update", *vals))
        for k, vals in old.items():
            if k not in new:
                rows.append((v1, "delete", *vals))
        rows.sort(key=lambda r: (str(r[2]), r[1]))
        return rows

    def read(self, start: dict):
        from flow_spark.operators.snapshots import current_version

        v0 = start["version"]
        cur = current_version(self.table_dir)
        if cur <= v0:
            return (iter([]), start)
        return (iter(self._changes(v0, cur)), {"version": cur})

    def readBetweenOffsets(self, start: dict, end: dict):  # noqa: N802
        # manifests are immutable -> re-diffing the same versions replays
        # the identical rows after a failure
        return iter(self._changes(start["version"], end["version"]))
