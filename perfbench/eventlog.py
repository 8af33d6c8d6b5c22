"""Per-layer attribution from a Spark event log and streaming progress.

Jobs are attributed to the benchmark operation whose wall-clock window
holds the job's submission: operations run one at a time, so windows do
not overlap.  (Jobs also carry ``setJobGroup(<operation>)`` where the
operation runs on the caller's thread; micro-batch jobs run on the
stream's own thread under the stream's run id, which is why the window
is the attribution key.)
"""

from __future__ import annotations

import json
from datetime import datetime
from pathlib import Path

from harness import median, percentile

#: SQL-metric accumulables (task-end "Accumulables" by name) -> layer key;
#: Spark reports these timings in milliseconds
PY_METRICS = {
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data returned from Python workers": "python_bytes_received",
}

PROGRESS_EVENT = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


def read_log(path: Path) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _empty() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "task_skew": 1.0,
        "jobs_wall_s": 0.0,
        **{k: 0 for k in PY_METRICS.values()},
    }


def attribute(events: list[dict], windows: dict[str, tuple[int, int]]) -> dict[str, dict]:
    """Sum job, stage, task, executor, shuffle, spill and Python-worker
    metrics per named window (epoch-ms [start, end)).

    ``task_skew`` is the worst stage's max/median task duration;
    ``jobs_wall_s`` is the union of the window's job intervals, so
    ``window - jobs_wall_s`` is driver-side time (planning, scheduling,
    Python driver work).
    """
    job_start: dict[int, int] = {}
    job_end: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            job_start[e["Job ID"]] = e["Submission Time"]
            for sid in e.get("Stage IDs", ()):
                stage_job[sid] = e["Job ID"]
        elif kind == "SparkListenerJobEnd":
            job_end[e["Job ID"]] = e["Completion Time"]

    def owner(ms: int) -> str | None:
        for name, (s, t) in windows.items():
            if s <= ms < t:
                return name
        return None

    job_owner = {j: owner(t) for j, t in job_start.items()}
    out = {name: _empty() for name in windows}
    intervals: dict[str, list[tuple[int, int]]] = {n: [] for n in windows}
    for j, name in job_owner.items():
        if name is not None:
            out[name]["jobs"] += 1
            intervals[name].append((job_start[j], job_end.get(j, windows[name][1])))
    durations: dict[tuple[str, int], list[int]] = {}
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        name = job_owner.get(stage_job.get(e["Stage ID"], -1))
        if name is None:
            continue
        rec = out[name]
        info, tm = e["Task Info"], e.get("Task Metrics") or {}
        rec["tasks"] += 1
        durations.setdefault((name, e["Stage ID"]), []).append(
            info["Finish Time"] - info["Launch Time"]
        )
        rec["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
        rec["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        rec["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        sr = tm.get("Shuffle Read Metrics") or {}
        rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        rec["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        rec["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
            "Disk Bytes Spilled", 0
        )
        for acc in info.get("Accumulables", ()):
            key = PY_METRICS.get(acc.get("Name"))
            if key is not None:
                rec[key] += int(acc.get("Update") or 0)
    for (name, _stage), ds in durations.items():
        rec = out[name]
        rec["stages"] += 1
        mid = median(ds)
        if len(ds) > 1 and mid > 0:
            rec["task_skew"] = max(rec["task_skew"], max(ds) / mid)
    for name, ivs in intervals.items():
        s, t = windows[name]
        clipped = [(max(a, s), min(b, t)) for a, b in ivs if min(b, t) > max(a, s)]
        out[name]["jobs_wall_s"] = _union_ms(clipped) / 1e3
    return out


def progress_from_log(events: list[dict]) -> list[dict]:
    """Every streaming progress record the log holds, in order."""
    out = []
    for e in events:
        if e.get("Event") == PROGRESS_EVENT:
            p = e.get("progress")
            out.append(json.loads(p) if isinstance(p, str) else p)
    return out


def _input_rows(record: dict) -> int:
    """``numInputRows`` of a progress record; the event log's form of a
    record carries it per source only."""
    if "numInputRows" in record:
        return record["numInputRows"] or 0
    return sum(s.get("numInputRows") or 0 for s in record.get("sources") or ())


def progress_by_window(
    records: list[dict], windows: dict[str, tuple[int, int]]
) -> dict[str, list[dict]]:
    """Progress records grouped by the window (epoch-ms [start, end))
    that holds their trigger start; records outside every window (set-up,
    warm-up and oracle drains) are dropped."""
    out: dict[str, list[dict]] = {name: [] for name in windows}
    for r in records:
        ms = datetime.fromisoformat(r["timestamp"].replace("Z", "+00:00")).timestamp() * 1e3
        for name, (s, t) in windows.items():
            if s <= ms < t:
                out[name].append(r)
                break
    return out


def batch_ms(records: list[dict]) -> dict:
    """p50 and p99 of the trigger time of batches that read rows (not
    the trailing no-data batch of a drain nor idle polls of a live
    stream)."""
    trig = [(r.get("durationMs") or {}).get("triggerExecution", 0)
            for r in records if _input_rows(r) > 0]
    return {
        "batch_ms_p50": percentile(trig, 50) if trig else 0,
        "batch_ms_p99": percentile(trig, 99) if trig else 0,
    }


#: per-operation metrics that are a maximum, not a total
MAX_KEYS = frozenset({"task_skew", "state_rows_total", "state_mem_bytes"})


def one_pass(per_op: dict[str, dict]) -> tuple[dict[str, dict], dict]:
    """Per-query and whole-pass metrics from per-operation ones.

    Operations are named ``<query>#<k>``.  Each query is represented by
    its median-wall run, so its layers add up to its wall time exactly;
    the pass is one run of every query: totals summed over queries,
    MAX_KEYS maximised.  Neither grows with how many runs fit in the
    measured time.
    """
    runs: dict[str, list[dict]] = {}
    for op, rec in per_op.items():
        runs.setdefault(op.split("#", 1)[0], []).append(rec)
    per_query = {
        q: sorted(recs, key=lambda r: r["wall_s"])[(len(recs) - 1) // 2]
        for q, recs in runs.items()
    }
    total: dict = {}
    for rec in per_query.values():
        for k, v in rec.items():
            total[k] = max(total.get(k, v), v) if k in MAX_KEYS else total.get(k, 0) + v
    return per_query, total


def summarize_progress(records: list[dict]) -> dict:
    """Micro-batch phases and state-store figures over one operation's
    progress records (the shape of ``StreamingQuery.recentProgress``
    entries); batches that read no rows are not counted."""
    busy = [r for r in records if _input_rows(r) > 0]
    dur = [r.get("durationMs") or {} for r in busy]
    states = [op for r in records for op in (r.get("stateOperators") or ())]
    return {
        "batches": len(busy),
        "planning_ms": sum(d.get("queryPlanning", 0) for d in dur),
        "latest_offset_ms": sum(d.get("latestOffset", 0) for d in dur),
        "wal_commit_ms": sum(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur),
        "add_batch_ms": sum(d.get("addBatch", 0) for d in dur),
        "state_rows_total": max((op.get("numRowsTotal", 0) for op in states), default=0),
        "state_rows_updated": sum(op.get("numRowsUpdated", 0) for op in states),
        "state_mem_bytes": max((op.get("memoryUsedBytes", 0) for op in states), default=0),
        "state_commit_ms": sum(op.get("commitTimeMs", 0) for op in states),
        "state_update_ms": sum(op.get("allUpdatesTimeMs", 0) for op in states),
    }
