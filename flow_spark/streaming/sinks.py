"""Streaming sinks with reconnect/backoff semantics.

Reference: /root/reference/pkg/corev1alpha1/actor/sink.go:80-150 — writes go
through a head with an exponential-backoff reconnect loop (50 ms -> 5 s
doubling, max_retries 0 = infinite) and per-message Done/Failed statuses.

Spark mapping: `foreachBatch` wraps the write in the same backoff loop;
a failed batch after max_retries raises (micro-batch fails -> checkpoint
replay gives at-least-once, idempotent writes make it exactly-once).
Delivery results are emitted per batch as data.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame

#: sink.go:13-15
MIN_BACKOFF_S = 0.05
MAX_BACKOFF_S = 5.0


def write_with_backoff(
    write: Callable[[DataFrame], None],
    df: DataFrame,
    max_retries: int = 0,
    min_backoff: float = MIN_BACKOFF_S,
    max_backoff: float = MAX_BACKOFF_S,
    sleep: Callable[[float], None] = time.sleep,
) -> int:
    """Run `write(df)` with exponential backoff; returns attempts used.

    max_retries=0 means retry forever (sink.go:99-101); tests inject a
    fake `sleep` so the schedule is assertable without wall-clock cost.
    """
    attempt = 0
    backoff = min_backoff
    while True:
        attempt += 1
        try:
            write(df)
            return attempt
        except Exception:
            if max_retries and attempt > max_retries:
                raise
            sleep(backoff)
            backoff = min(backoff * 2, max_backoff)


def memory_sink(
    name: str,
    df: DataFrame,
    checkpoint_dir: str,
    max_retries: int = 3,
    write: Callable[[DataFrame], None] | None = None,
):
    """writeStream via foreachBatch into an in-memory-style write fn with
    the reference's backoff contract; returns the started query."""

    def handle(batch: DataFrame, epoch_id: int) -> None:
        target = write if write is not None else (lambda d: d.collect())
        write_with_backoff(target, batch, max_retries=max_retries)

    return (
        df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", f"{checkpoint_dir}/{name}")
        .trigger(availableNow=True)
        .start()
    )


def file_sink_batch(df: DataFrame, path: str, body_col: str = "body_str") -> int:
    """Append \r\n-terminated records to one file — sink_head_file.go:30-73's
    record framing (STDOUT/STDERR special-cased there; pass /dev/stdout).

    Driver-side append (single consolidated file is the contract, like the
    reference's one fd); for scale-out writes use write_any(df, "text", ...)
    which fans out per partition. Returns rows written.
    """
    rows = df.select(body_col).collect()
    with open(path, "ab") as f:
        for r in rows:
            f.write((r[0] or "").encode() + b"\r\n")
    return len(rows)


def file_sink(
    name: str,
    df: DataFrame,
    checkpoint_dir: str,
    path: str,
    max_retries: int = 3,
):
    """Streaming file sink head: foreachBatch -> append with backoff."""

    def handle(batch: DataFrame, epoch_id: int) -> None:
        write_with_backoff(
            lambda d: file_sink_batch(d, path), batch, max_retries=max_retries
        )

    return (
        df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", f"{checkpoint_dir}/{name}")
        .trigger(availableNow=True)
        .start()
    )


def append_sink_batch(table_dir: str, txn_app: str = "append_sink"):
    """Streaming ingest -> snapshot table, exactly-once: a foreachBatch
    handler (``df.writeStream.foreachBatch(append_sink_batch(dir))``)
    whose micro-batches commit via
    :func:`~flow_spark.operators.snapshots.snapshot_append` with
    ``txn_version=batch_id``.  The idempotence marker rides in the same
    atomic manifest link as the data files, so a replayed batch id is
    skipped before any data is written.

    ``txn_app`` MUST be unique per logical stream (Delta's txnAppId
    contract): two streams sharing one name on one table share one
    batch-id watermark, and the later one's low batch ids would be
    skipped as replays."""
    from flow_spark.operators.snapshots import snapshot_append

    def handle(batch: DataFrame, batch_id: int) -> None:
        snapshot_append(
            batch, table_dir, txn_app=txn_app, txn_version=int(batch_id)
        )

    return handle


def upsert_sink(
    df: DataFrame,
    table_dir: str,
    key_col: str,
    checkpoint_dir: str,
    order_col: str | None = None,
    op_col: str | None = None,
    delete_value: str = "D",
):
    """Streaming CDC -> MERGE: each micro-batch upserts into a manifest
    snapshot table (operators/snapshots.snapshot_upsert), exactly-once
    under replay — the streaming half of the lakehouse write path.

    Exactly-once protocol (the reference sink's delivery contract,
    actor/sink.go:136-150, mapped to batchId-keyed commits): each applied
    batch leaves an atomically-renamed ``_streaming_commits/b<id>.json``
    marker next to the table; a replayed batch id (crash between the
    MERGE commit and the source checkpoint advance) is skipped before any
    work.  The narrow crash window between MERGE commit and marker rename
    is covered by MERGE's content idempotence: re-applying the identical
    batch replaces rows with the same values, so the table content is
    unchanged (one extra version appears in history — the same unpinned-
    version caveat as :func:`snapshot_commit_tables` aborts).

    ``order_col`` deduplicates multi-row keys within a batch to the
    greatest order value (deterministic last-writer-wins) and is then
    DROPPED — it is CDC transport metadata, not table payload; leave
    None when the upstream already emits one row per key per batch.
    Rows tied on (key, order_col) break on an xxhash64 of the full row,
    so the pick is deterministic even when an upstream reuses sequence
    numbers — required for the crash-window idempotence argument above
    (an arbitrary pick could MERGE a different row on replay).

    ``op_col``: full CDC semantics — rows whose op equals
    ``delete_value`` DELETE their key, everything else upserts.  A
    batch with BOTH ops applies as ONE MERGE commit (copy-on-write
    delete folded into the same rewrite, Delta's ``WHEN MATCHED AND
    op='D' THEN DELETE``); a delete-ONLY batch goes merge-on-read
    (deletion vectors, :func:`~flow_spark.operators.snapshots
    .snapshot_delete`) so pure-tombstone batches rewrite no files.
    ``order_col`` is REQUIRED alongside: the safety
    argument depends on last-writer-wins dedup running BEFORE the
    split, so an update and a delete of the same key in one batch
    resolve to the later op; after dedup the delete and upsert key
    sets are disjoint, making their apply order irrelevant.  Without
    an order column that collision would silently resolve to
    "upsert wins", so the combination raises.  Replay safety extends
    naturally: re-MERGE replaces identical rows, re-DELETE of deleted
    rows is a no-op (DV reads are distinct), and the batch marker still
    gates both.  The op column is CDC transport metadata and is dropped
    before the MERGE.
    Returns the DataStreamWriter (caller picks trigger and starts).
    """
    import json
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from flow_spark.operators.snapshots import snapshot_upsert

    if op_col is not None and order_col is None:
        raise ValueError(
            "upsert_sink: op_col requires order_col — without "
            "last-writer-wins dedup, a same-batch update/delete collision "
            "on one key resolves arbitrarily"
        )

    def handle(batch: DataFrame, batch_id: int) -> None:
        commits = os.path.join(table_dir, "_streaming_commits")
        os.makedirs(commits, exist_ok=True)
        done = os.path.join(commits, f"b{batch_id}.json")
        if os.path.exists(done):
            return  # replayed batch: its MERGE already committed
        b = batch
        if order_col is not None:
            w = Window.partitionBy(key_col).orderBy(
                F.desc(order_col), F.desc(F.xxhash64(*batch.columns))
            )
            b = (
                b.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", order_col)
            )
        # one eager materialization per batch: every downstream action
        # (delete-key summary, MERGE key collect, affected-file scan,
        # survivor union) reuses the deduped rows instead of re-reading
        # the source and re-running the window — at micro-batch sizes
        # the per-action replanning was the dominant cost, not the data
        b = b.localCheckpoint()
        version = None
        if op_col is not None:
            from flow_spark.operators.snapshots import (
                current_version,
                snapshot_delete,
            )

            is_del = F.col(op_col) == F.lit(delete_value)
            is_up = is_del.isNull() | ~is_del  # a NULL op is an upsert
            # delete keys + upsert keys + null-key guard in ONE
            # global-agg job (collect_set is bounded by the CDC batch
            # contract, same as MERGE's own key collect)
            summary = (
                b.groupBy()
                .agg(
                    F.sort_array(
                        F.collect_set(F.when(is_del, F.col(key_col)))
                    ).alias("dk"),
                    F.slice(
                        F.sort_array(
                            F.collect_set(F.when(is_up, F.col(key_col)))
                        ),
                        1,
                        1_000_001,  # past the MERGE key cap the list is
                        # only a signal to fall back (below)
                    ).alias("uk"),
                    F.max(
                        F.when(F.col(key_col).isNull(), F.lit(1))
                    ).alias("null_key"),
                    F.max(F.when(is_up, F.lit(1))).alias("has_up"),
                )
                .collect()[0]
            )
            if summary["null_key"] is not None:
                # collect_set silently drops NULLs — surface the same
                # error snapshot_upsert's own key collect would raise.
                # Covers BOTH row kinds: a NULL-key delete is a malformed
                # tombstone (it could never match a row), not a no-op.
                raise ValueError("MERGE key must be non-null in the batch")
            del_keys = list(summary["dk"])
            has_up = summary["has_up"] is not None
            b = b.filter(
                (F.col(op_col).isNull()) | (F.col(op_col) != delete_value)
            ).drop(op_col)
            table_live = current_version(table_dir) >= 1
            if del_keys and not has_up and table_live:
                # delete-ONLY batch: merge-on-read deletion vectors —
                # no data file is rewritten for a pure tombstone batch
                version = snapshot_delete(
                    batch.sparkSession,
                    table_dir,
                    F.col(key_col).isin(del_keys),
                )
            else:
                # mixed or upsert-only batch: ONE MERGE commit applies
                # upserts and deletes together (Delta's WHEN MATCHED
                # AND op='D' THEN DELETE) — the files a delete touches
                # are overwhelmingly the files the upserts rewrite
                # anyway, so folding the delete into the same rewrite
                # halves the per-batch scan/commit count vs a DV
                # version followed by an upsert version
                # past the 1M-key cap, hand key discovery back to
                # snapshot_upsert (capped collect -> full-scan MERGE)
                # instead of building a multi-million-row local literal
                # key frame — the same robustness contract the MERGE
                # key collect has always had
                uk = list(summary["uk"])
                version = snapshot_upsert(
                    batch.sparkSession,
                    b,
                    table_dir,
                    key_col,
                    batch_keys=uk if len(uk) <= 1_000_000 else None,
                    delete_keys=del_keys if table_live else None,
                )
        else:
            version = snapshot_upsert(batch.sparkSession, b, table_dir, key_col)
        tmp = f"{done}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump({"batch_id": batch_id, "version": version}, fh)
        os.replace(tmp, done)  # atomic publish of the applied marker

    return df.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint_dir
    )


def _dial(bind: str):
    """Open a writer socket for `bind` = tcp://host:port | udp://host:port |
    unix://path — the sink-head schemes of sink_head_factory.go:17-46."""
    import socket as _socket

    scheme, _, rest = bind.partition("://")
    if scheme == "tcp":
        host, _, port = rest.rpartition(":")
        s = _socket.create_connection((host, int(port)))
        return s, True  # \r\n-terminated records (sink_head_tcp.go:103-148)
    if scheme == "udp":
        host, _, port = rest.rpartition(":")
        s = _socket.socket(_socket.AF_INET, _socket.SOCK_DGRAM)
        s.connect((host, int(port)))
        return s, False  # raw datagrams, no terminator (sink_head_udp.go:178-219)
    if scheme == "unix":
        s = _socket.socket(_socket.AF_UNIX, _socket.SOCK_STREAM)
        s.connect(rest)
        return s, True  # \r\n like TCP (sink_head_unix.go:249-294)
    raise ValueError(f"unsupported sink bind scheme: {bind!r}")


def socket_sink_batch(
    df: DataFrame,
    bind: str,
    body_col: str = "body_str",
    distributed: bool | None = None,
) -> int:
    """Write each record's body over a socket — the tcp/udp/unix sink heads
    (actor/sink_head_{tcp,udp,unix}.go): stream heads frame with \r\n, the
    datagram head sends raw bodies. Returns rows written; any socket error
    propagates so the caller's backoff loop (write_with_backoff =
    sink.go:80-111 semantics) owns reconnection.

    `distributed=None` resolves by scheme: tcp/udp targets are network-
    reachable from every executor, so they default to the 100 TB shape —
    one connection PER PARTITION, executor-side, no driver collect
    (ordering holds within a partition, which is all the reference
    guarantees across goroutines anyway). unix:// sockets are node-local
    by construction, so they keep the single driver-side connection (the
    reference's one-conn in-order contract); pass distributed explicitly
    to override either way.
    """
    if distributed is None:
        distributed = not bind.startswith("unix://")
    if distributed:
        def write_partition(rows):
            sock = None
            sent = 0
            try:
                for r in rows:
                    if sock is None:  # dial lazily: empty partitions skip
                        sock, framed = _dial(bind)
                    body = (r[body_col] or "").encode()
                    sock.sendall(body + b"\r\n" if framed else body)
                    sent += 1
            finally:
                if sock is not None:
                    sock.close()
            yield sent

        # Single pass: each partition writes AND reports its row count, so
        # there is no separate count() job re-reading the batch.
        return df.select(body_col).rdd.mapPartitions(write_partition).sum()

    rows = df.select(body_col).collect()
    sock, framed = _dial(bind)
    try:
        for r in rows:
            body = (r[0] or "").encode()
            sock.sendall(body + b"\r\n" if framed else body)
    finally:
        sock.close()
    return len(rows)


def socket_sink(
    name: str,
    df: DataFrame,
    checkpoint_dir: str,
    bind: str,
    max_retries: int = 3,
    body_col: str = "body_str",
    distributed: bool | None = None,
):
    """Streaming socket sink head: foreachBatch -> dial + write with the
    reference's reconnect/backoff contract (a fresh dial per attempt =
    sink.go's reconnect loop). `distributed` follows socket_sink_batch's
    scheme-based default: tcp/udp write executor-side per partition."""

    def handle(batch: DataFrame, epoch_id: int) -> None:
        write_with_backoff(
            lambda d: socket_sink_batch(
                d, bind, body_col=body_col, distributed=distributed
            ),
            batch,
            max_retries=max_retries,
        )

    return (
        df.writeStream.foreachBatch(handle)
        .option("checkpointLocation", f"{checkpoint_dir}/{name}")
        .trigger(availableNow=True)
        .start()
    )
