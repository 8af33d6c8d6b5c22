"""Streaming window semantics, batch-expressible and oracle-checked.

Spark's event-time operators (tumbling/sliding windows via ``F.window``,
``F.session_window``, dropDuplicates) evaluate identically over a bounded
DataFrame, so their semantics gate here; the streaming *runtime* (readStream,
watermarks, foreachBatch sinks, stateful throttler) lives in
flow_spark/streaming and is covered by unit tests (non-SQL-expressible).

Reference analogue: flow has no windows — its only time bounds are ack
timeouts (receiver_tcp.go:18-22). Windows are north-star engine surface.
"""

from __future__ import annotations

import tempfile
import threading
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flow_spark.catalog import load_table, session_memo, stream_table
from flow_spark.queries.registry import register
from flow_spark.session import _env_int


def _drain(q, timeout: int = 1800) -> None:
    """Wait for an availableNow drain; RAISE if it outlives ``timeout``
    seconds instead of silently reading a partial sink table (a 300 s
    cap returned False under heavy-load sf1 sweeps and the query kept
    running -> empty memory table -> bogus row-count mismatch).  The
    error names the query and carries its last batch id and phase
    durations from ``recentProgress``."""
    if not q.awaitTermination(timeout):
        progress = q.recentProgress
        q.stop()
        last = progress[-1] if progress else {}
        raise RuntimeError(
            f"streaming drain {q.name!r} exceeded {timeout}s - aborted rather "
            f"than reading a partial sink (last batch {last.get('batchId')}, "
            f"durationMs {last.get('durationMs')})"
        )


_TS_FMT = "yyyy-MM-dd HH:mm:ss"


#: held by ``_state_parts`` from narrowing the session to restoring it
_STATE_PARTS_LOCK = threading.Lock()

#: the widest default state width (see ``_state_parts``)
MAX_STATE_PARTS = 8


@contextmanager
def _state_parts(spark: SparkSession):
    """Narrow ``spark.sql.shuffle.partitions`` while a STATEFUL streaming
    query starts: the value at ``.start()`` is baked into the query's
    state partitioning, and the session value is restored immediately
    after start, so batch queries planned later are unaffected.

    Every state partition pays a state-store load and commit plus an
    ``applyInPandasWithState`` Python round trip PER micro-batch, whatever
    rows it holds, so the width sets each batch's fixed cost.  The default
    is one wave of tasks: ``min(MAX_STATE_PARTS, defaultParallelism)``.
    A width above the task slots runs every batch in two or more waves.
    On a 4-core ``local[4]`` session width 8 ran the warm GCRA state stage
    as 8 tasks of 150-196 ms in two waves (440 ms), and a trivial
    ``applyInPandasWithState`` over 20k events took 490-600 ms per batch
    against 290-320 ms at width 4.  Together with ``_drain_stateful``'s
    one-job read-back, width 4 cut the ``stateful_drain`` benchmark's
    tail latency by 29% there (10/10 ABBA pairs).  The cap of 8 holds
    on wide boxes: on ``local[32]`` the stream-stream as-of join measured
    2 serializing, 32 losing clearly and 8 against 16 within noise, and
    sessionize/TWA/funnel/GCRA at sf0.1 ran 1.6-2.4x faster at 8 than at
    32 (15/16 ABBA pairings).

    ``SPARK_GRAFT_STATE_PARTS`` overrides the default, for example to size
    the state to a large key volume.  The width never changes results:
    state is bucketed per key (``stateful.STATE_BUCKETS``), and a
    restarted checkpoint keeps the width recorded in its offset log.

    One lock spans narrow -> start -> restore: two overlapping starts
    could otherwise restore in the wrong order and leave the session
    narrowed.  A batch query another thread plans inside that window still
    gets the narrow width.
    """
    default = min(MAX_STATE_PARTS, spark.sparkContext.defaultParallelism)
    width = str(_env_int("SPARK_GRAFT_STATE_PARTS", default, 1))
    conf = spark.conf
    with _STATE_PARTS_LOCK:
        prev = conf.get("spark.sql.shuffle.partitions")
        conf.set("spark.sql.shuffle.partitions", width)
        try:
            yield
        finally:
            conf.set("spark.sql.shuffle.partitions", prev)


def _query_name(prefix: str) -> str:
    """A uuid-suffixed ``queryName``: concurrent drains in one session
    never share one, and the timeout error, ``/streams`` and the event
    log can name every drain."""
    return f"{prefix}_{uuid.uuid4().hex[:8]}"


def _drain_stateful(
    spark: SparkSession,
    sf_dir: str,
    drain: str,
    build,
    prefix: str,
    mode: str = "append",
    spools: tuple = (),
) -> DataFrame:
    """Drain the stateful stream ``build()`` returns into a memory sink and
    return the sink table.

    ``build()`` runs once per (registry name ``drain``, the ``spools`` the
    stream reads, session, sf_dir) through ``catalog.session_memo``, so a
    rebuilt spool gets a new plan.  Building a drain's plan costs hundreds
    of py4j round trips, 80-150 ms warm (sessionize: 340 calls, 65% of its
    build in socket ``recv``).  Only the unstarted plan is memoized, never
    rows or state: each start gets a fresh checkpoint (a reused one would replay
    as "no new data" and drain zero rows), so it re-reads all of its
    input, and it takes ``_state_parts``' width at start time.  The query
    runs with ``trigger(availableNow)``; its sink is named by
    ``_query_name``, so concurrent drains never share a temp view.

    The table comes back as ONE partition.  The memory sink keeps its
    rows in driver memory and its scan splits them into
    ``defaultParallelism`` partitions, so every aggregate or sort on top
    shuffled them back together in three jobs.  A single partition
    already satisfies clustered and ordered distributions: the read-back
    plans no exchange and runs as one job."""
    df = session_memo(spark, sf_dir, ("plan", drain, *spools), build)
    spark = df.sparkSession
    name = _query_name(prefix)
    with _state_parts(spark):
        q = (
            df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", tempfile.mkdtemp(prefix=f"flow-spark-ckpt-{prefix}-"))
            .trigger(availableNow=True)
            .start()
        )
    _drain(q)
    return spark.table(name).coalesce(1)


def _segment_spool(
    df: DataFrame,
    prefix: str,
    n_segments: int = 3,
    fill_empty: bool = False,
) -> str:
    """ONE write job lands every ascending time segment (the caller
    attaches an integer ``seg`` column in 0..n_segments-1), then driver
    renames lay them out as ``b0``..``b{n-1}`` with explicit mtimes one
    second apart — the file source drains micro-batches in
    modification-time order, so batch order is pinned without
    per-segment write jobs or sleeps.  ``fill_empty`` writes an (empty)
    parquet file for a rowless segment, keeping multi-source streams in
    lockstep (their watermark contract needs aligned batches); without
    it an empty segment simply contributes no micro-batch.  Returns the
    spool directory (stream it with ``_spool_stream``); the staging
    directory the write job used is removed.
    """
    import glob as _glob
    import os as _os
    import shutil as _shutil
    import time as _time

    staging = tempfile.mkdtemp(prefix=prefix + "stage_")
    spool_dir = tempfile.mkdtemp(prefix=prefix)
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .partitionBy("seg")
        .parquet(staging)
    )
    base = _time.time() - 60
    for i in range(n_segments):
        _os.makedirs(f"{spool_dir}/b{i}", exist_ok=True)
        parts = sorted(_glob.glob(f"{staging}/seg={i}/*.parquet"))
        if not parts and fill_empty:
            df.drop("seg").limit(0).coalesce(1).write.mode(
                "overwrite"
            ).parquet(f"{staging}/seg={i}")
            parts = sorted(_glob.glob(f"{staging}/seg={i}/*.parquet"))
        for j, part in enumerate(parts):
            dst = f"{spool_dir}/b{i}/part-{j}.parquet"
            _os.replace(part, dst)
            _os.utime(dst, (base + i, base + i))
    _shutil.rmtree(staging, ignore_errors=True)
    return spool_dir


def _dirs_exist(dirs: tuple) -> bool:
    """Whether memoized spools (``("spools", drain)`` in
    ``catalog.session_memo``) are still on disk.  A spool is a
    deterministic function of the fixture and a file-source drain only
    reads it, so a warm drain re-runs its stream but not the spool's scan
    and write jobs; spools whose directories are gone are rebuilt."""
    import os as _os

    return all(_os.path.isdir(p) for p in dirs)


def _spool_stream(spark: SparkSession, spool_dir: str, schema: str) -> DataFrame:
    """A ``_segment_spool`` directory as a file stream of one segment per
    micro-batch, in segment order."""
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{spool_dir}/b*")
    )


@register(
    "stream_window_tumbling",
    category="streaming",
    doc="Tumbling 1-hour event-time window per event_type (F.window).",
    oracle="""
        SELECT strftime(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)),
                        '%Y-%m-%d %H:%M:%S')               AS window_start,
               event_type,
               COUNT(*)                                    AS n,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY 1, 2
        ORDER BY window_start, event_type
    """,
)
def stream_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
        )
        .select(
            F.date_format("w.start", _TS_FMT).alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "stream_window_sliding",
    category="streaming",
    doc="Sliding window 1h/30m: each row lands in two windows (F.window slide).",
    oracle="""
        SELECT strftime(time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP))
                            - i.o * INTERVAL 30 MINUTE,
                        '%Y-%m-%d %H:%M:%S') AS window_start,
               COUNT(*) AS n
        FROM events CROSS JOIN (SELECT UNNEST([0, 1]) AS o) i
        GROUP BY 1
        ORDER BY window_start
    """,
)
def stream_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.date_format("w.start", _TS_FMT).alias("window_start"), "n")
        .orderBy("window_start")
    )


@register(
    "stream_session_window",
    category="streaming",
    doc="Session windows per user with a 5-minute gap (F.session_window); "
    "oracle restates via gaps-and-islands.",
    oracle="""
        WITH marked AS (
            SELECT user_id, CAST(ts AS TIMESTAMP) AS t,
                   CASE WHEN CAST(ts AS TIMESTAMP)
                             - LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                             > INTERVAL 5 MINUTE
                             OR LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                        THEN 1 ELSE 0 END AS new_session
            FROM events
        ), islands AS (
            SELECT user_id, t,
                   SUM(new_session) OVER (PARTITION BY user_id ORDER BY t
                                          ROWS UNBOUNDED PRECEDING) AS session_id
            FROM marked
        )
        SELECT user_id,
               strftime(MIN(t), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
               COUNT(*) AS n_events
        FROM islands
        GROUP BY user_id, session_id
        ORDER BY user_id, session_start
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "5 minutes").alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"), F.min("ts").alias("first_ts"))
        .select(
            "user_id",
            F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "stream_dedup_ids",
    category="streaming",
    doc="dropDuplicates on message identity (streaming dedup analogue; with "
    "a watermark this is bounded-state streaming dedup).",
    oracle="""
        SELECT COUNT(*) AS n_unique,
               CAST(SUM(event_id) AS BIGINT) AS id_sum
        FROM (SELECT DISTINCT event_id FROM events)
    """,
)
def stream_dedup_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("event_id")
        .dropDuplicates(["event_id"])
        .agg(F.count("*").alias("n_unique"), F.sum("event_id").cast("bigint").alias("id_sum"))
    )


@register(
    "stream_gcra_throttle",
    category="stateful-streaming",
    doc="True stateful streaming: the GCRA rate limiter "
    "(applyInPandasWithState, per-user token state in the state store) "
    "over the events stream with event time compressed 100000x so the "
    "fixture's hours-apart per-user events form real bursts.  VALUE-"
    "checked: the single-file availableNow drain is one micro-batch, so "
    "each key's admission sequence is the deterministic GCRA recurrence "
    "from TAT=0 over (ts_ns, event_id) order — which the oracle replays "
    "exactly with a RECURSIVE CTE (one recursion step per per-key event "
    "rank, all-integer ns arithmetic, rps=5 -> cost 2e8, burst 8e8).  "
    "The timestamp compression replicates Spark's double-divide-then-"
    "truncate bit-for-bit via TRUNC(us / 100000.0).",
    oracle="""
        WITH RECURSIVE e AS (
            SELECT CAST(user_id AS VARCHAR) AS k, event_id,
                   CAST(TRUNC(epoch_us(ts) / 100000.0) AS BIGINT) * 1000
                       AS ts_ns,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(TRUNC(epoch_us(ts) / 100000.0) AS BIGINT),
                                event_id) AS rn
            FROM events
        ),
        g AS (
            SELECT k, 0 AS rn, CAST(0 AS BIGINT) AS tat,
                   CAST(NULL AS BOOLEAN) AS admitted
            FROM (SELECT DISTINCT k FROM e)
            UNION ALL
            SELECT e.k, e.rn,
                   CASE WHEN g.tat <= e.ts_ns + 800000000
                        THEN GREATEST(g.tat, e.ts_ns) + 200000000
                        ELSE g.tat END,
                   g.tat <= e.ts_ns + 800000000
            FROM g JOIN e ON e.k = g.k AND e.rn = g.rn + 1
        )
        SELECT CASE WHEN admitted THEN 'admitted' ELSE 'throttled' END
                   AS throttle_status,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT g.k) AS BIGINT) AS n_keys,
               CAST(SUM(e.event_id) AS BIGINT) AS id_sum
        FROM g JOIN e ON e.k = g.k AND e.rn = g.rn
        WHERE g.rn > 0
        GROUP BY 1 ORDER BY 1
    """,
)
def stream_gcra_throttle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flow_spark.streaming.sources import stream_events
    from flow_spark.streaming.stateful import throttle_stream

    def build():
        compressed = stream_events(spark, sf_dir).withColumn(
            "ingest_ts",
            F.timestamp_micros((F.unix_micros("ingest_ts") / 100_000).cast("long")),
        )
        return throttle_stream(compressed, rps=5, key_col="user")

    return (
        _drain_stateful(spark, sf_dir, "stream_gcra_throttle", build, "gcra")
        .groupBy("throttle_status")
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("throttle_key").alias("n_keys"),
            F.sum("event_id").cast("bigint").alias("id_sum"),
        )
        .orderBy("throttle_status")
    )


@register(
    "stream_interval_join",
    category="streaming",
    doc="Event-time interval join (the batch-expressible core of a "
    "watermarked stream-stream join, runtime-tested in "
    "test_stream_stream_join): each purchase joined to the SAME user's "
    "clicks in the preceding 30 minutes — all matches, not just the "
    "latest (that's asof_join_backward). Plan shape: the user_id equi-key "
    "makes this a hash-partitioned join with the time band as a "
    "post-join predicate — one shuffle on user_id, never a theta join; "
    "in streaming the band width bounds the join state TTL, which is "
    "exactly how Spark sizes stream-stream join state.",
    oracle="""
        SELECT p.event_id AS purchase_id,
               COUNT(c.event_id) AS n_recent_clicks,
               CAST(COALESCE(SUM(CAST(c.value AS DECIMAL(12,2))), 0)
                    AS DOUBLE) AS clicked_value
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase') p
        LEFT JOIN (SELECT event_id, user_id, ts, value FROM events
                   WHERE event_type = 'click') c
          ON p.user_id = c.user_id
         AND c.ts >  p.ts - INTERVAL 30 MINUTE
         AND c.ts <= p.ts
        GROUP BY p.event_id
        ORDER BY p.event_id
    """,
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
        F.col("value").cast("decimal(12,2)").alias("c_value"),
    )
    return (
        purchases.join(
            clicks,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
            & (F.col("c_ts") <= F.col("p_ts")),
            "left_outer",
        )
        .groupBy("purchase_id")
        .agg(
            F.count("click_id").alias("n_recent_clicks"),
            F.coalesce(F.sum("c_value"), F.lit(0))
            .cast("double")
            .alias("clicked_value"),
        )
        .orderBy("purchase_id")
    )


@register(
    "stream_sessionize_stateful",
    category="streaming",
    doc="RUNTIME stateful streaming inside an oracle-checked query: the "
    "events table streams through sessionize_stream "
    "(applyInPandasWithState, EventTimeTimeout) with trigger("
    "availableNow) draining the single fixture file as ONE micro-batch "
    "into a memory sink.  With one batch, every in-batch gap closes its "
    "session inline and each key's trailing session stays open in state "
    "(no later watermark ever fires its timer) — so the closed-session "
    "set is deterministic: every non-trailing session closes inline, "
    "AND Spark's trailing no-data batch fires event-time timers against "
    "the final watermark (global max ts - 1 min), so a user's last "
    "session also closes iff its end + gap fell behind that watermark "
    "(millisecond precision, as setTimeoutTimestamp uses ms).  The "
    "DuckDB oracle reproduces both rules with lag-gap sessionization — "
    "value-checking the custom stateful operator INCLUDING its "
    "timer-expiry path.",
    oracle="""
        WITH e AS (
            SELECT user_id, ts, epoch_us(ts) AS us,
                   CAST(ROUND(value * 100, 0) AS BIGINT) AS vc
            FROM events WHERE user_id % 10 = 0
        ),
        d AS (
            SELECT user_id, us, vc,
                   CASE WHEN us - LAG(us) OVER (PARTITION BY user_id
                                                ORDER BY us) > 600000000
                             OR LAG(us) OVER (PARTITION BY user_id
                                              ORDER BY us) IS NULL
                        THEN 1 ELSE 0 END AS brk
            FROM e
        ),
        s AS (
            SELECT user_id, us, vc,
                   SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                                  ROWS UNBOUNDED PRECEDING) AS sid
            FROM d
        ),
        g AS (
            SELECT user_id AS skey, sid,
                   CAST(MIN(us) AS BIGINT) AS start_us,
                   CAST(MAX(us) AS BIGINT) AS end_us,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(vc) AS BIGINT) AS total
            FROM s GROUP BY user_id, sid
        )
        SELECT skey, start_us, end_us, n, total
        FROM g
        WHERE sid < (SELECT MAX(sid) FROM g g2 WHERE g2.skey = g.skey)
           -- trailing session: closed by the no-data batch's timer if its
           -- timeout (end + gap, in ms) fell behind the final watermark
           OR (SELECT MAX(us) FROM e) // 1000 - 60000
              > end_us // 1000 + 600000
        ORDER BY skey, start_us
    """,
)
def stream_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flow_spark.streaming.stateful import sessionize_stream

    def build():
        prepared = (
            stream_table(spark, sf_dir, "events")
            .filter(F.col("user_id") % 10 == 0)
            .select(
                "user_id",
                "ts",
                F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
            )
            .withWatermark("ts", "1 minute")
        )
        return sessionize_stream(
            prepared, gap_minutes=10, key_col="user_id", ts_col="ts", val_col="vc"
        )

    return _drain_stateful(
        spark, sf_dir, "stream_sessionize_stateful", build, "sessionize"
    ).orderBy("skey", "start_us")


#: the columns ``stream_asof_enrich`` reads back from its foreachBatch
#: output; declared, so the read runs no ``parquet`` inference job
ASOF_ENRICH_OUT = "event_id long, user_id long, ts timestamp, asof_value double"


@register(
    "stream_asof_enrich",
    category="streaming",
    doc="Streaming point-in-time enrichment (stream-batch as-of join, "
    "VERDICT r2 #7): a watermarked stream of click events is enriched "
    "per micro-batch with the most recent purchase value at-or-before "
    "each click's event time for the same user — the SCD2/as-of probe "
    "shape (operators/asof.py) running on live data.  foreachBatch "
    "applies the batch as-of operator (union+window, one shuffle) and "
    "appends to a parquet spool, all executor-side; the availableNow "
    "drain equals the batch as-of join because as-of matches are "
    "per-row (runtime-proven in test_streaming_asof_enrichment).  "
    "Right-side timestamp ties dedup to the greatest purchase event_id "
    "on both engines; the carried value is untouched parquet data, so "
    "the comparison is exact.",
    oracle="""
        WITH h AS (
            SELECT user_id, ts, value, event_id FROM events
            WHERE event_type = 'purchase'
            QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                       ORDER BY event_id DESC) = 1
        ),
        p AS (
            SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'click' AND event_id % 7 = 0
        )
        SELECT p.event_id, p.user_id,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
               h.value AS asof_value
        FROM p ASOF LEFT JOIN h
          ON p.user_id = h.user_id AND p.ts >= h.ts
        ORDER BY p.event_id
    """,
)
def stream_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flow_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    history = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", "event_id"
    )
    probe = (
        stream_table(spark, sf_dir, "events")
        .withWatermark("ts", "10 minutes")
        .filter((F.col("event_type") == "click") & (F.col("event_id") % 7 == 0))
        .select("event_id", "user_id", "ts")
    )
    out_dir = tempfile.mkdtemp(prefix="asof_enrich_out_")

    def enrich(batch: DataFrame, _epoch: int) -> None:
        enriched = asof_join(
            batch,
            history,
            ts_col="ts",
            by="user_id",
            value_cols=["value"],
            right_id_col="event_id",
        )
        enriched.write.mode("append").parquet(out_dir)

    q = (
        probe.writeStream.foreachBatch(enrich)
        .queryName(_query_name("asof_enrich"))
        .option("checkpointLocation", tempfile.mkdtemp(prefix="asof_enrich_ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    return (
        spark.read.schema(ASOF_ENRICH_OUT)
        .parquet(out_dir)
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
            F.col("asof_value"),
        )
        .orderBy("event_id")
    )


@register(
    "stream_funnel_cep",
    category="stateful-streaming",
    doc="CEP pattern detection as TRUE stateful streaming "
    "(streaming/stateful.py:funnel_stream): the greedy view->click->"
    "purchase state machine runs per user under applyInPandasWithState "
    "with exactly two longs of state per key, partial progress carried "
    "across micro-batches (multi-batch == single-batch proven in "
    "test_streaming.py).  VALUE-checked: the availableNow drain's "
    "admission sequence is the deterministic recurrence over (ts, "
    "event_id) order, which the oracle replays with a RECURSIVE CTE — "
    "one step per per-user event rank, all-integer microseconds.  The "
    "MATCH_RECOGNIZE shape Spark lacks, built on the same state-store "
    "surface as the GCRA throttler.",
    oracle="""
        WITH RECURSIVE e AS (
            SELECT user_id AS k, event_id, event_type AS etype,
                   epoch_us(ts) AS ts_us,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS rn
            FROM events
            WHERE event_type IN ('view', 'click', 'purchase')
        ),
        g AS (
            SELECT k, 0 AS rn, CAST(-1 AS BIGINT) AS view_us,
                   CAST(-1 AS BIGINT) AS click_us,
                   CAST(NULL AS BIGINT) AS emit_view,
                   CAST(NULL AS BIGINT) AS emit_click,
                   CAST(NULL AS BIGINT) AS emit_purchase,
                   CAST(NULL AS BIGINT) AS purchase_id
            FROM (SELECT DISTINCT k FROM e)
            UNION ALL
            SELECT e.k, e.rn,
                   CASE WHEN e.etype = 'purchase' AND g.click_us >= 0 THEN -1
                        WHEN e.etype = 'view' AND g.view_us < 0 THEN e.ts_us
                        ELSE g.view_us END,
                   CASE WHEN e.etype = 'purchase' AND g.click_us >= 0 THEN -1
                        WHEN e.etype = 'click' AND g.view_us >= 0
                             AND g.click_us < 0 THEN e.ts_us
                        ELSE g.click_us END,
                   CASE WHEN e.etype = 'purchase' AND g.click_us >= 0
                        THEN g.view_us END,
                   CASE WHEN e.etype = 'purchase' AND g.click_us >= 0
                        THEN g.click_us END,
                   CASE WHEN e.etype = 'purchase' AND g.click_us >= 0
                        THEN e.ts_us END,
                   CASE WHEN e.etype = 'purchase' AND g.click_us >= 0
                        THEN e.event_id END
            FROM g JOIN e ON e.k = g.k AND e.rn = g.rn + 1
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_funnels,
               CAST(COUNT(DISTINCT k) AS BIGINT) AS n_users,
               CAST(SUM(purchase_id) AS BIGINT) AS purchase_id_sum,
               CAST(SUM(emit_purchase - emit_view) AS BIGINT)
                   AS total_span_us,
               CAST(SUM(emit_click - emit_view) AS BIGINT)
                   AS total_ttc_us
        FROM g WHERE emit_purchase IS NOT NULL
    """,
)
def stream_funnel_cep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flow_spark.streaming.sources import stream_events
    from flow_spark.streaming.stateful import funnel_stream

    def build():
        msgs = stream_events(spark, sf_dir).filter(
            F.col("meta")["sendto"].isin("view", "click", "purchase")
        )
        prepared = msgs.select(
            F.col("meta")["user"].alias("user"),
            F.col("ingest_ts"),
            F.col("meta")["sendto"].alias("etype"),
            F.col("event_id"),
        )
        return funnel_stream(
            prepared, key_col="user", ts_col="ingest_ts", type_col="etype",
            id_col="event_id",
        )

    return _drain_stateful(spark, sf_dir, "stream_funnel_cep", build, "funnel").agg(
        F.count("*").cast("bigint").alias("n_funnels"),
        F.countDistinct("fkey").cast("bigint").alias("n_users"),
        F.sum("purchase_id").cast("bigint").alias("purchase_id_sum"),
        F.sum(F.col("purchase_us") - F.col("view_us"))
        .cast("bigint")
        .alias("total_span_us"),
        F.sum(F.col("click_us") - F.col("view_us"))
        .cast("bigint")
        .alias("total_ttc_us"),
    )


@register(
    "stream_heavy_hitters",
    category="stateful-streaming",
    doc="Streaming heavy hitters as TRUE stateful streaming "
    "(streaming/stateful.py:heavy_hitters_stream): a capacity-64 "
    "Misra-Gries summary per hash shard lives in the state store and "
    "absorbs each micro-batch's token counts (batched decrement), so "
    "state is O(shards * capacity) forever while the stream is "
    "unbounded.  Every token with global count > N/65 provably "
    "survives in its shard (all occurrences of a token route to the "
    "same shard), so the drained summaries are a candidate SUPERSET "
    "of the >N/32 heavy hitters; a batch verification pass "
    "exact-counts only the candidates (broadcast semi-join) and "
    "applies the threshold in integer space.  The result is EXACT and "
    "batch-split-independent — the oracle is a plain GROUP BY ... "
    "HAVING — the streaming twin of sketch_heavy_hitters' two-pass "
    "design, on the same state-store surface as the GCRA throttler.",
    oracle=r"""
        WITH t AS (
            SELECT unnest(string_split(trim(regexp_replace(lower(text),
                       '\s+', ' ', 'g')), ' ')) AS tok
            FROM documents
        ),
        n AS (SELECT COUNT(*) AS n_total FROM t)
        SELECT tok, COUNT(*) AS cnt,
               (SELECT n_total FROM n) AS n_total
        FROM t
        GROUP BY tok
        HAVING 32 * COUNT(*) > (SELECT n_total FROM n)
        ORDER BY cnt DESC, tok
    """,
)
def stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flow_spark.operators.text import tokens
    from flow_spark.streaming.stateful import heavy_hitters_stream

    from pyspark.sql.window import Window as W

    def build():
        stream = stream_table(spark, sf_dir, "documents")
        toks_stream = stream.select(F.explode(tokens(F.col("text"))).alias("item"))
        return heavy_hitters_stream(toks_stream, "item", n_shards=4, capacity=64)

    res = _drain_stateful(spark, sf_dir, "stream_heavy_hitters", build, "mg")
    # final summary = the max-seq emission per shard (windowed, no
    # self-join: the memory view's attributes would conflict)
    wmax = W.partitionBy("shard")
    cands = (
        res.withColumn("max_seq", F.max("seq").over(wmax))
        .filter(F.col("seq") == F.col("max_seq"))
        .select("item")
        .distinct()
    )
    # exact verification pass over the batch table, candidates only
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    n = t.agg(F.count(F.lit(1)).alias("n_total"))
    cnt = (
        t.join(F.broadcast(cands), t.tok == F.col("item"), "left_semi")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        cnt.crossJoin(F.broadcast(n))
        .filter(32 * F.col("cnt") > F.col("n_total"))
        .select(
            "tok",
            F.col("cnt").cast("bigint").alias("cnt"),
            F.col("n_total").cast("bigint").alias("n_total"),
        )
        .orderBy(F.desc("cnt"), "tok")
    )


@register(
    "stream_session_window_dynamic",
    category="streaming",
    doc="DYNAMIC-gap session windows (F.session_window with a per-row gap "
    "expression, Spark 3.2+): purchases close a session after 2 min, "
    "everything else after 10 — the 'checkout ends the visit' "
    "semantics static gaps can't express.  The oracle restates Spark's "
    "merge rule exactly: a session continues while the next event "
    "starts BEFORE the running max of previous [ts, ts+gap) ends "
    "(windows are end-exclusive, so ts == end starts a new session); "
    "all comparisons in integer microseconds.  Same one-shuffle-per-"
    "user plan shape as the static variant.",
    oracle="""
        WITH e AS (
            SELECT user_id, event_id, epoch_us(ts) AS us,
                   CAST(ts AS TIMESTAMP) AS t,
                   CASE WHEN event_type = 'purchase'
                        THEN 120000000 ELSE 600000000 END AS gap
            FROM events
        ),
        m AS (
            SELECT user_id, us, t,
                   MAX(us + gap) OVER (PARTITION BY user_id
                                       ORDER BY us, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                                AND 1 PRECEDING) AS pe
            FROM e
        ),
        s AS (
            SELECT user_id, us, t,
                   CASE WHEN pe IS NULL OR us >= pe THEN 1 ELSE 0 END AS ns
            FROM m
        ),
        i AS (
            SELECT user_id, t,
                   SUM(ns) OVER (PARTITION BY user_id ORDER BY us
                                 ROWS UNBOUNDED PRECEDING) AS sid
            FROM s
        )
        SELECT user_id,
               strftime(MIN(t), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
               COUNT(*) AS n_events
        FROM i
        GROUP BY user_id, sid
        ORDER BY user_id, session_start
    """,
)
def stream_session_window_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("2 minutes")
    ).otherwise(F.lit("10 minutes"))
    return (
        ev.groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"), F.min("ts").alias("first_ts"))
        .select(
            "user_id",
            F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "stream_twa",
    category="streaming",
    doc="RUNTIME streaming time-weighted average inside an oracle-checked "
    "query: the events fixture streams through twa_stream "
    "(applyInPandasWithState, update mode) with trigger(availableNow) "
    "draining as one micro-batch into a memory sink, so each key emits "
    "exactly one running-total row — which must equal the BATCH "
    "step-function TWA over the key's full history.  The DuckDB oracle "
    "replays that with lead() hold durations.  Cross-batch state carry "
    "(the same totals from a 2-slice drain) is runtime-tested in "
    "tests/test_streaming.py.  All arithmetic is integer cents x "
    "microseconds.",
    oracle="""
        WITH e AS (
            SELECT user_id, epoch_us(ts) AS us, event_id,
                   CAST(ROUND(value * 100, 0) AS BIGINT) AS vc
            FROM events WHERE user_id % 10 = 0
        ),
        seq AS (
            SELECT user_id, vc, us,
                   lead(us) OVER (PARTITION BY user_id
                                  ORDER BY us, event_id) AS us_next,
                   last_value(vc) OVER (PARTITION BY user_id
                                        ORDER BY us, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND UNBOUNDED FOLLOWING) AS last_v
            FROM e
        ),
        agg AS (
            SELECT user_id AS tkey,
                   COUNT(*) AS n_events,
                   COALESCE(SUM(us_next - us) FILTER (WHERE us_next IS NOT NULL),
                            0) AS held_us,
                   COALESCE(SUM(vc * (us_next - us))
                            FILTER (WHERE us_next IS NOT NULL), 0) AS acc_num,
                   MAX(last_v) AS last_v
            FROM seq GROUP BY user_id
        )
        SELECT CAST(tkey AS BIGINT) AS tkey,
               CAST(n_events AS BIGINT) AS n_events,
               CAST(held_us AS BIGINT) AS held_us,
               CAST(acc_num AS BIGINT) AS acc_num,
               CAST(CASE WHEN held_us > 0 THEN acc_num // held_us
                         ELSE last_v END AS BIGINT) AS twa_cents
        FROM agg
        ORDER BY tkey
    """,
)
def stream_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flow_spark.streaming.stateful import twa_stream

    def build():
        stream = stream_table(spark, sf_dir, "events")
        prepared = stream.filter(F.col("user_id") % 10 == 0).select(
            "user_id",
            "ts",
            "event_id",
            F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
        )
        return twa_stream(prepared, key_col="user_id", ts_col="ts", val_col="vc")

    return _drain_stateful(spark, sf_dir, "stream_twa", build, "twa", "update").orderBy("tkey")


def _cdc_segment(date_col: str):
    """The CDC spools' ``seg`` column: three ascending order-date segments
    (before 1994, before 1996, the rest), one micro-batch each."""
    d = F.col(date_col)
    return (
        F.when(d < F.lit("1994-01-01").cast("date"), 0)
        .when(d < F.lit("1996-01-01").cast("date"), 1)
        .otherwise(2)
        .alias("seg")
    )


@register(
    "stream_upsert_cdc",
    category="streaming",
    doc="Streaming CDC -> lakehouse MERGE end-to-end (streaming/sinks."
    "upsert_sink + operators/snapshots.snapshot_upsert, VERDICT r4 #6): "
    "a customer-balance snapshot table is seeded from `customer`, then "
    "an order-derived CDC stream (one parquet file per date segment, "
    "availableNow) MERGEs each micro-batch copy-on-write — stats-pruned "
    "file rewrites, batchId-keyed commit markers for exactly-once under "
    "replay (replay-idempotence runtime-proven in "
    "test_streaming_upsert_end_to_end).  Within a batch, multi-update "
    "keys dedupe to the greatest (orderdate-day, orderkey) composite; "
    "date-segmented batches make cross-batch last-writer-wins equal to "
    "the global argmax, which is exactly what the oracle replays.  "
    "Output: per-nation customer count, updated-key count, and final "
    "balance cents after the drain.  Reference anchor: the sink "
    "exactly-once delivery contract (actor/sink.go:136-150) mapped to "
    "batchId-keyed commits.",
    oracle="""
        WITH upd AS (
            SELECT o_custkey AS k,
                   arg_max(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT),
                           datediff('day', DATE '1970-01-01',
                                    CAST(o_orderdate AS DATE))
                           * 10000000000 + o_orderkey) AS cents
            FROM orders
            WHERE o_orderkey % 7 < 3
            GROUP BY o_custkey
        ),
        final AS (
            SELECT c.c_custkey AS k, c.c_nationkey AS nation,
                   COALESCE(u.cents,
                            CAST(ROUND(c.c_acctbal * 100, 0) AS BIGINT))
                       AS cents,
                   CASE WHEN u.k IS NOT NULL THEN 1 ELSE 0 END AS upd_flag
            FROM customer c LEFT JOIN upd u ON u.k = c.c_custkey
        )
        SELECT CAST(nation AS BIGINT) AS nation,
               CAST(COUNT(*) AS BIGINT) AS n_cust,
               CAST(SUM(upd_flag) AS BIGINT) AS n_updated,
               CAST(SUM(cents) AS BIGINT) AS sum_cents
        FROM final GROUP BY nation ORDER BY nation
    """,
)
def stream_upsert_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flow_spark.operators.snapshots import snapshot_read, snapshot_write
    from flow_spark.streaming.sinks import upsert_sink

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    initial = cust.select(
        F.col("c_custkey").alias("k"),
        F.expr("cast(round(c_acctbal * 100, 0) as bigint)").alias("cents"),
    )
    upd = orders.filter(F.expr("o_orderkey % 7 < 3")).select(
        F.col("o_custkey").alias("k"),
        F.expr("cast(round(o_totalprice * 100, 0) as bigint)").alias("cents"),
        (
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            * F.lit(10_000_000_000).cast("bigint")
            + F.col("o_orderkey")
        ).alias("ord"),
        F.col("o_orderdate").alias("odate"),
    )
    table_dir = tempfile.mkdtemp(prefix="stream_upsert_tbl_")
    snapshot_write(initial, table_dir, stats_col="k")
    # CDC spool: one parquet file per ascending date segment -> with
    # maxFilesPerTrigger=1 each segment is one micro-batch, in order, so
    # cross-batch last-writer-wins == global argmax by (day, orderkey).
    # The snapshot table above is per drain (the MERGE mutates it); the
    # spool is only read, so it is memoized.
    (spool,) = session_memo(
        spark,
        sf_dir,
        ("spools", "stream_upsert_cdc"),
        lambda: (
            _segment_spool(
                upd.select("k", "cents", "ord", _cdc_segment("odate")),
                prefix="stream_upsert_cdc_",
            ),
        ),
        _dirs_exist,
    )
    q = (
        upsert_sink(
            _spool_stream(spark, spool, "k long, cents long, ord long"),
            table_dir,
            key_col="k",
            checkpoint_dir=tempfile.mkdtemp(prefix="stream_upsert_ckpt_"),
            order_col="ord",
        )
        .queryName(_query_name("upsert_cdc"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    final = snapshot_read(spark, table_dir)
    return (
        final.join(
            cust.select(
                F.col("c_custkey").alias("k"),
                F.col("c_nationkey").alias("nation"),
            ),
            "k",
        )
        .join(
            upd.select("k").distinct().withColumn("upd_flag", F.lit(1)),
            "k",
            "left",
        )
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cust"),
            F.sum(F.coalesce("upd_flag", F.lit(0))).cast("bigint").alias(
                "n_updated"
            ),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .select(
            F.col("nation").cast("bigint").alias("nation"),
            "n_cust",
            "n_updated",
            "sum_cents",
        )
        .orderBy("nation")
    )


@register(
    "stream_quantile_monitor",
    category="stateful-streaming",
    doc="Streaming EXACT quantile monitor (streaming/stateful."
    "quantile_monitor_stream): per event_type, the state store carries "
    "a (cents value -> count) histogram merged across micro-batches; "
    "each batch emits running n/p50/p90 as order statistics over the "
    "merged histogram (p50 = smallest v with 2*cum >= n, p90 = 10*cum "
    ">= 9*n).  Histogram merge is commutative+associative, so the "
    "availableNow drain's final row per key equals the batch "
    "computation the oracle runs (cross-batch merge runtime-proven in "
    "test_quantile_monitor_multibatch).  Exact — not t-digest/KLL — "
    "because the metric lives on a bounded integer grid: state is "
    "O(distinct cents) per key, domain-bounded, not row-bounded.  The "
    "latency/value drift monitor a 100 TB ingest pipeline runs beside "
    "the throttler.",
    oracle="""
        WITH e AS (
            SELECT event_type AS qkey,
                   CAST(round(value * 100) AS BIGINT) AS v
            FROM events
            WHERE value IS NOT NULL
              AND event_type IN ('view', 'click', 'purchase')
        ),
        h AS (
            SELECT qkey, v, COUNT(*) AS cnt FROM e GROUP BY qkey, v
        ),
        w AS (
            SELECT qkey, v,
                   SUM(cnt) OVER (PARTITION BY qkey ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cum,
                   SUM(cnt) OVER (PARTITION BY qkey) AS n
            FROM h
        )
        SELECT qkey,
               CAST(MIN(n) AS BIGINT) AS n_obs,
               CAST(MIN(CASE WHEN 2 * cum >= n THEN v END) AS BIGINT) AS p50,
               CAST(MIN(CASE WHEN 10 * cum >= 9 * n THEN v END) AS BIGINT)
                   AS p90
        FROM w GROUP BY qkey ORDER BY qkey
    """,
)
def stream_quantile_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flow_spark.streaming.stateful import quantile_monitor_stream

    def build():
        prepared = stream_table(spark, sf_dir, "events").filter(
            F.col("value").isNotNull()
            & F.col("event_type").isin("view", "click", "purchase")
        ).select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
        )
        return quantile_monitor_stream(prepared, key_col="event_type", val_col="vc")

    return _drain_stateful(
        spark, sf_dir, "stream_quantile_monitor", build, "qm", "update"
    ).orderBy("qkey")


@register(
    "stream_cdc_deletes",
    category="streaming",
    doc="Full CDC stream -> lakehouse, upserts AND deletes (streaming/"
    "sinks.upsert_sink op_col + operators/snapshots.snapshot_delete): "
    "the customer-balance table is seeded, then a date-segmented order "
    "event stream MERGEs updates and applies deletes (every 37th order "
    "key is a tombstone) as merge-on-read deletion vectors — no file "
    "rewrite per delete.  Within a batch, last-writer-wins dedup runs "
    "BEFORE the op split, so update-then-tombstone of one key resolves "
    "to the later op; a tombstone followed by a later-batch update "
    "re-inserts the key.  The oracle replays the whole stream as one "
    "global argmax by the (day, orderkey) composite and resolves the "
    "winner's op — equal to the drained stream because segments are "
    "date-ordered micro-batches.  Output per nation: live customers, "
    "deleted customers, live balance cents.",
    oracle="""
        WITH ev AS (
            SELECT o_custkey AS k,
                   arg_max(CASE WHEN o_orderkey % 37 = 0 THEN 1 ELSE 0 END,
                           datediff('day', DATE '1970-01-01',
                                    CAST(o_orderdate AS DATE))
                           * 10000000000 + o_orderkey) AS del,
                   arg_max(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT),
                           datediff('day', DATE '1970-01-01',
                                    CAST(o_orderdate AS DATE))
                           * 10000000000 + o_orderkey) AS cents
            FROM orders
            WHERE o_orderkey % 7 < 3
            GROUP BY o_custkey
        ),
        final AS (
            SELECT c.c_custkey AS k, c.c_nationkey AS nation,
                   CASE WHEN e.k IS NULL
                        THEN CAST(ROUND(c.c_acctbal * 100, 0) AS BIGINT)
                        WHEN e.del = 1 THEN NULL
                        ELSE e.cents END AS cents,
                   CASE WHEN e.k IS NOT NULL AND e.del = 1 THEN 1 ELSE 0 END
                       AS deleted
            FROM customer c LEFT JOIN ev e ON e.k = c.c_custkey
        )
        SELECT CAST(nation AS BIGINT) AS nation,
               CAST(SUM(1 - deleted) AS BIGINT) AS n_live,
               CAST(SUM(deleted) AS BIGINT) AS n_deleted,
               CAST(SUM(cents) AS BIGINT) AS live_cents
        FROM final GROUP BY nation ORDER BY nation
    """,
)
def stream_cdc_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flow_spark.operators.snapshots import snapshot_read, snapshot_write
    from flow_spark.streaming.sinks import upsert_sink

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    initial = cust.select(
        F.col("c_custkey").alias("k"),
        F.expr("cast(round(c_acctbal * 100, 0) as bigint)").alias("cents"),
    )
    ev = orders.filter(F.expr("o_orderkey % 7 < 3")).select(
        F.col("o_custkey").alias("k"),
        F.expr("cast(round(o_totalprice * 100, 0) as bigint)").alias("cents"),
        (
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
            .cast("bigint")
            * F.lit(10_000_000_000).cast("bigint")
            + F.col("o_orderkey")
        ).alias("ord"),
        F.expr("CASE WHEN o_orderkey % 37 = 0 THEN 'D' ELSE 'U' END").alias(
            "op"
        ),
        F.col("o_orderdate").alias("odate"),
    )
    table_dir = tempfile.mkdtemp(prefix="stream_cdc_del_tbl_")
    snapshot_write(initial, table_dir, stats_col="k")
    (spool,) = session_memo(
        spark,
        sf_dir,
        ("spools", "stream_cdc_deletes"),
        lambda: (
            _segment_spool(
                ev.select("k", "cents", "ord", "op", _cdc_segment("odate")),
                prefix="stream_cdc_del_spool_",
            ),
        ),
        _dirs_exist,
    )
    q = (
        upsert_sink(
            _spool_stream(spark, spool, "k long, cents long, ord long, op string"),
            table_dir,
            key_col="k",
            checkpoint_dir=tempfile.mkdtemp(prefix="stream_cdc_del_ckpt_"),
            order_col="ord",
            op_col="op",
        )
        .queryName(_query_name("cdc_deletes"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    live = snapshot_read(spark, table_dir)
    nations = cust.select(
        F.col("c_custkey").alias("k"), F.col("c_nationkey").alias("nation")
    )
    per_cust = nations.join(
        live.select("k", "cents"), "k", "left"
    ).withColumn("deleted", F.when(F.col("cents").isNull(), 1).otherwise(0))
    return (
        per_cust.groupBy("nation")
        .agg(
            F.sum(1 - F.col("deleted")).cast("bigint").alias("n_live"),
            F.sum("deleted").cast("bigint").alias("n_deleted"),
            F.sum("cents").cast("bigint").alias("live_cents"),
        )
        .select(F.col("nation").cast("bigint").alias("nation"), "n_live", "n_deleted", "live_cents")
        .orderBy("nation")
    )


@register(
    "stream_stream_asof_join",
    category="streaming",
    doc="STREAM-STREAM as-of join (streaming/stateful.asof_join_stream, "
    "VERDICT r5 #8 'new execution shape'): clicks AND purchases both "
    "arrive as live file-source streams (two ascending time segments "
    "each, availableNow, lockstep batches); the union shares one "
    "watermark and a per-key stateful operator buffers pending clicks "
    "plus the purchase history, emitting a click ONLY once the "
    "watermark passes its event time — the point at which no earlier "
    "purchase can still arrive, making the match final and replay-"
    "deterministic.  Idle keys flush via event-time timeout; right "
    "history is trimmed to the watermark plus one row, so state is "
    "watermark-bounded like the built-in stream-stream joins'.  The "
    "emitted set is an exact batching-independent contract — every "
    "click whose event-time ms is strictly below (global max event-"
    "time ms over BOTH streams minus the 5-minute delay) — which the "
    "oracle replays together with the as-of match itself (DuckDB ASOF "
    "LEFT JOIN, same greatest-event_id tie rule).  Spark's own stream-"
    "stream joins cannot express 'latest right so far' (they bound the "
    "time range); this is the KStream-style temporal enrichment done "
    "with exact event-time semantics.",
    oracle="""
        WITH l AS (
            SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
            WHERE event_type = 'click' AND event_id % 7 = 3
        ),
        r0 AS (
            SELECT user_id, epoch_us(ts) AS ts_us,
                   CAST(ROUND(value * 100, 0) AS BIGINT) AS vc, event_id
            FROM events WHERE event_type = 'purchase'
        ),
        r AS (
            SELECT user_id, ts_us, vc FROM r0
            QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts_us
                                       ORDER BY event_id DESC) = 1
        ),
        wm AS (
            SELECT MAX(ts_us // 1000) - 300000 AS wm_ms FROM (
                SELECT ts_us FROM l UNION ALL SELECT ts_us FROM r0)
        ),
        emit AS (
            SELECT * FROM l
            WHERE ts_us // 1000 < (SELECT wm_ms FROM wm)
        )
        SELECT CAST(e.event_id AS BIGINT) AS left_id,
               CAST(e.user_id AS BIGINT) AS akey,
               CAST(e.ts_us AS BIGINT) AS ts_us,
               r.vc AS asof_val
        FROM emit e ASOF LEFT JOIN r
          ON e.user_id = r.user_id AND e.ts_us >= r.ts_us
        ORDER BY left_id
    """,
)
def stream_stream_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flow_spark.streaming.stateful import asof_join_stream

    def build_spools():
        ev = load_table(spark, sf_dir, "events")
        lo, hi = ev.agg(
            F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
        ).first()
        t1 = lo + (hi - lo) // 2

        def spool(df: DataFrame, prefix: str) -> str:
            """BOTH spools cut at the same boundary (shared
            _segment_spool machinery), so the two sources advance
            through time in lockstep and no row is ever late vs the
            shared watermark — the contract the oracle's final-
            watermark replay depends on; fill_empty keeps a side with a
            rowless segment aligned.  TWO segments (not three) still
            prove the cross-batch shape — rights buffered in batch 0
            enrich lefts sealed in batch 1 and the final timeout batch
            — at one fewer state-operator round trip per side (VERDICT
            r6 #2: the drain cost is micro-batch count x state workers,
            not data volume)."""
            us = F.unix_micros("ts")
            return _segment_spool(
                df.withColumn("seg", F.when(us < t1, 0).otherwise(1)),
                prefix=prefix,
                n_segments=2,
                fill_empty=True,
            )

        lspool = spool(
            ev.filter(
                (F.col("event_type") == "click") & (F.col("event_id") % 7 == 3)
            ).select("user_id", "ts", "event_id"),
            "ssaj_l_",
        )
        rspool = spool(
            ev.filter(F.col("event_type") == "purchase").select(
                "user_id",
                "ts",
                "event_id",
                F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
            ),
            "ssaj_r_",
        )
        return lspool, rspool

    spools = session_memo(
        spark, sf_dir, ("spools", "stream_stream_asof_join"), build_spools, _dirs_exist
    )

    def build():
        lspool, rspool = spools
        return asof_join_stream(
            _spool_stream(spark, lspool, "user_id long, ts timestamp, event_id long"),
            _spool_stream(spark, rspool, "user_id long, ts timestamp, event_id long, vc long"),
            key_col="user_id",
            ts_col="ts",
            left_id_col="event_id",
            right_val_col="vc",
            right_id_col="event_id",
            delay="5 minutes",
        )

    return (
        _drain_stateful(
            spark, sf_dir, "stream_stream_asof_join", build, "ssaj", spools=spools
        )
        .select(
            F.col("left_id").cast("bigint").alias("left_id"),
            F.col("akey").cast("bigint").alias("akey"),
            F.col("ts_us").cast("bigint").alias("ts_us"),
            F.col("asof_val").cast("bigint").alias("asof_val"),
        )
        .orderBy("left_id")
    )


@register(
    "stream_changefeed_replication",
    category="streaming",
    doc="Streaming changefeed -> replica, the full lakehouse CDC round "
    "trip (streaming/sources.changefeed_drain+changefeed_stream -> "
    "streaming/sinks.upsert_sink): an orders-keyed table evolves "
    "through write/upsert/DV-delete/append commits; each commit's "
    "row-level changes are drained into atomically-published spool "
    "batches (the version dirs are the offsets), streamed with "
    "_commit_version stamps, and MERGEd into an initially-empty "
    "replica with last-writer-wins ordering and delete ops.  The "
    "replica must converge to exactly the source's final rows — which "
    "is what the oracle computes directly.  Output: per (key mod 10) "
    "bucket, row count and value sum of the REPLICA.",
    oracle="""
        WITH base AS (
            SELECT o_orderkey AS k,
                   CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
                   CASE WHEN o_orderdate < TIMESTAMP '1997-01-01'
                        THEN 1 ELSE 0 END AS early
            FROM orders
        ),
        final AS (
            SELECT k,
                   CASE WHEN early = 1 AND k % 13 = 0 THEN cents + 11
                        ELSE cents END AS val
            FROM base
            WHERE NOT (early = 1 AND k % 29 = 0)
        )
        SELECT CAST(k % 10 AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(val) AS BIGINT) AS val_sum
        FROM final GROUP BY bucket ORDER BY bucket
    """,
)
def stream_changefeed_replication(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flow_spark.operators.snapshots import (
        snapshot_append,
        snapshot_delete,
        snapshot_read,
        snapshot_upsert,
        snapshot_write,
    )
    from flow_spark.streaming.sinks import upsert_sink
    from flow_spark.streaming.sources import changefeed_drain, changefeed_stream

    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        F.expr("cast(round(o_totalprice * 100, 0) as bigint)").alias("val"),
        (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")).alias(
            "early"
        ),
    )
    src = tempfile.mkdtemp(prefix="cfrep_src_")
    snapshot_write(
        base.filter("early").select("k", "val"), src, stats_col="k"
    )
    snapshot_upsert(
        spark,
        base.filter("early and k % 13 = 0").select(
            "k", (F.col("val") + F.lit(11)).alias("val")
        ),
        src,
        "k",
    )
    snapshot_delete(spark, src, F.expr("k % 29 = 0"))
    snapshot_append(base.filter("not early").select("k", "val"), src)

    spool = tempfile.mkdtemp(prefix="cfrep_spool_")
    changefeed_drain(spark, src, spool, "k", ["val"])
    replica = tempfile.mkdtemp(prefix="cfrep_replica_")
    snapshot_write(
        spark.createDataFrame([], "k long, val long"), replica
    )
    stream = changefeed_stream(spark, src, spool, "k", ["val"]).withColumn(
        "op",
        F.when(F.col("change_type") == "delete", F.lit("D")).otherwise(
            F.lit("U")
        ),
    )
    q = (
        upsert_sink(
            stream,
            replica,
            key_col="k",
            checkpoint_dir=tempfile.mkdtemp(prefix="cfrep_ckpt_"),
            order_col="_commit_version",
            op_col="op",
        )
        .queryName(_query_name("changefeed"))
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    return (
        snapshot_read(spark, replica)
        .groupBy((F.col("k") % 10).cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("val").cast("bigint").alias("val_sum"),
        )
        .orderBy("bucket")
    )
