"""Streaming sources.

Reference receivers (tcp/udp/unix/http, actor/receiver_*.go) are network
servers with per-message acks — Spark's model inverts this: sources are
pull-based and acks become the delivery-result stream (SURVEY.md §3.2).
For the fixture harness the sources are file-based; a production ingest
path would be Kafka (or the asyncio socket bridge sketched in SURVEY §4.2.3
feeding Kafka), which plugs in here unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from flow_spark.catalog import stream_table
from flow_spark.operators.message import events_to_messages


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events fixture as an unbounded stream of canonical messages."""
    return events_to_messages(stream_table(spark, sf_dir, "events"))


def changefeed_drain(
    spark: SparkSession,
    table_dir: str,
    spool_dir: str,
    key_col: str,
    value_cols: "list[str]",
) -> int:
    """Materialize each UNDRAINED commit's row-level changes into the
    spool — the driver half of a streaming changefeed (Delta's
    ``readChangeFeed`` in streaming mode), built the way this repo's
    network bridges are: a driver-side tailer spools complete batches,
    ``readStream`` consumes them.

    Per new version N, the changes (N-1 -> N) from
    :func:`~flow_spark.operators.snapshots.snapshot_changes` — which
    prunes to each side's exclusive files, so the drain cost is
    proportional to the CHANGED data, never the table — are written to
    a temp dir and atomically ``os.rename``d to ``spool/v{N}``.  The
    file-stream source therefore only ever lists COMPLETE batch dirs
    (a crash mid-write leaves an invisible temp), and a re-drain of an
    existing version is a no-op: the version dirs themselves are the
    offsets, no side-channel state file.  Each row carries
    ``_commit_version`` so downstream consumers (e.g. a replica via
    ``upsert_sink``) can order and de-duplicate.

    Returns the number of versions drained this call.
    """
    import shutil
    import uuid as _uuid

    from pyspark.sql import functions as F

    from flow_spark.operators.snapshots import snapshot_changes

    os.makedirs(spool_dir, exist_ok=True)
    # vacuum may have dropped old manifests: drain what still exists,
    # emitting the OLDEST surviving version as full inserts (the same
    # "initial snapshot" semantics Delta's streaming CDF applies when
    # the change history doesn't reach back to version 0)
    mdir = os.path.join(table_dir, "_manifests")
    existing = sorted(
        int(f[1:-5])
        for f in (os.listdir(mdir) if os.path.isdir(mdir) else [])
        if f.startswith("v") and f.endswith(".json")
    )
    def _spool_one(v: int) -> "str | None":
        """Compute one version's change set and write it to a hidden tmp
        dir; returns the tmp path (publication happens later, in version
        order).  The "_" prefix keeps the in-flight dir invisible to
        Spark's file listing (the same hidden-path rule
        FileOutputCommitter's _temporary relies on)."""
        if v == existing[0]:
            # first drainable version: no parent manifest to diff
            # against (v0 never exists; earlier ones may be vacuumed) —
            # the whole version is the insert set
            from flow_spark.operators.snapshots import snapshot_read

            changes = snapshot_read(spark, table_dir, v).select(
                F.col(key_col),
                F.lit("insert").alias("change_type"),
                *[F.col(c) for c in value_cols],
            )
        else:
            changes = snapshot_changes(
                spark, table_dir, v - 1, v, key_col, value_cols
            )
        changes = changes.withColumn(
            "_commit_version", F.lit(v).cast("long")
        )
        tmp = os.path.join(spool_dir, f"_tmp.{_uuid.uuid4().hex[:12]}")
        try:
            changes.write.mode("overwrite").parquet(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)  # no half-written orphan
            raise
        return tmp

    # Each version's diff+write is an independent Spark job over static
    # manifests, so a small thread pool overlaps them (optimization guide
    # §2.6: later jobs back-fill executors idled by the current job's
    # tail).  PUBLICATION stays strictly version-ordered below, so a live
    # tailer can never observe v(N+1) before vN — out-of-order spool
    # visibility could resurrect a deleted key at a replica whose merge
    # saw the delete first.
    todo = [
        v
        for v in existing
        if not os.path.isdir(os.path.join(spool_dir, f"v{v}"))
    ]
    drained = 0
    if todo:
        from concurrent.futures import ThreadPoolExecutor

        # Submit versions individually and publish each as soon as IT and
        # all its predecessors are spooled — a live tailer sees the ordered
        # prefix at the old sequential-drain latency while later versions
        # still compute in the background.  On any failure the published
        # prefix stays (every version up to the failure, like the old
        # sequential loop), and the finally-sweep removes the tmp dirs of
        # spooled-but-unpublished versions so repeated transient failures
        # can't accumulate orphans.
        with ThreadPoolExecutor(max_workers=min(3, len(todo))) as pool:
            futures = [pool.submit(_spool_one, v) for v in todo]
            try:
                for v, fut in zip(todo, futures):
                    tmp = fut.result()  # spool failure -> stop publishing
                    final = os.path.join(spool_dir, f"v{v}")
                    try:
                        os.rename(tmp, final)
                    except OSError:
                        shutil.rmtree(tmp, ignore_errors=True)
                        if os.path.isdir(final):
                            continue  # concurrent drainer published vN
                        # real rename failure (EACCES, ENOSPC, ...): vN is
                        # ABSENT, so publishing v(N+1) would violate the
                        # strictly-ordered-visibility invariant a replica's
                        # merge depends on — stop here, surface the error
                        raise
                    drained += 1
            finally:
                for fut in futures:
                    fut.cancel()  # unstarted versions never spool
                for fut in futures:
                    if fut.cancelled():
                        continue
                    try:
                        tmp = fut.result()
                    except Exception:  # noqa: BLE001 — its tmp was never made
                        continue
                    if tmp and os.path.isdir(tmp):  # spooled, not published
                        shutil.rmtree(tmp, ignore_errors=True)
    return drained


def changefeed_stream(
    spark: SparkSession,
    table_dir: str,
    spool_dir: str,
    key_col: str,
    value_cols: "list[str]",
) -> DataFrame:
    """Unbounded stream of a snapshot table's row-level changes.

    Consumes the spool :func:`changefeed_drain` maintains; call the
    drain whenever commits may have landed (a production deployment
    runs it on a timer or a commit hook).  The schema is taken from the
    changefeed's own shape, so evolved tables stream their current
    logical columns.
    """
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from flow_spark.operators.snapshots import snapshot_read

    base = snapshot_read(spark, table_dir).select(key_col, *value_cols).schema
    schema = StructType(
        [
            base.fields[0],
            StructField("change_type", StringType()),
            *base.fields[1:],
            StructField("_commit_version", LongType()),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(spool_dir)
    )
