"""flow_spark benchmark: one seeded command per workload.

    python3 perfbench/run.py --workload stateful_drain --seed 1 --seconds 20 --trace 0

Builds its inputs from ``--seed``, measures for ``--seconds``, checks
the outputs, and prints as its LAST stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``; with ``--trace 1`` a traced pass (Spark event
log, streaming progress, spans) whose per-layer metrics are reported,
then an untraced reference pass for the tracing overhead.  The line
before it holds the workload's named metrics, sample counts, the box
record, each operation's own layers and any failures.

Every file it writes stays under ``.bench_work/`` of the checkout.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import traceback
from types import SimpleNamespace

import harness

#: set-ups per untraced run; setup_s is their median
SETUPS = 3

E2E_UNITS = {
    "setup_s": "s",
    "result_latency_ms": "ms",
    "tail_latency_ms": "ms",
    "records_per_s": "1/s",
}

LAYER_UNITS = {
    "peak_rss_mb": "MB",
    "heap_used_mb": "MB",
    "session_start_s": "s",
    "warmup_s": "s",
    "host_st_s": "s",
    "host_mt_s": "s",
    "driver_gap_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "task_skew": "ratio",
    "python_init_ms": "ms",
    "python_run_ms": "ms",
    "python_bytes_received": "bytes",
    "batches": "count",
    "batch_ms_p50": "ms",
    "batch_ms_p99": "ms",
    "planning_ms": "ms",
    "latest_offset_ms": "ms",
    "wal_commit_ms": "ms",
    "state_rows_total": "count",
    "state_rows_updated": "count",
    "state_mem_bytes": "bytes",
    "state_commit_ms": "ms",
    "state_update_ms": "ms",
    "check_s": "s",
    "trace_overhead_ratio": "ratio",
}

#: workload -> the module that runs it
WORKLOADS = {"stateful_drain": "drain", "live_ingest": "live"}


def _pass(mod, args, work, tracer, setups: int, event_log=None, check=True) -> dict:
    ctx = SimpleNamespace(
        work=work, seed=args.seed, seconds=args.seconds, setups=setups,
        tracer=tracer, event_log=event_log, check=check,
    )
    return mod.run(ctx)


def _layers(res: dict, work) -> tuple[dict, dict]:
    """Per-layer metrics of a traced pass, from its event log, its
    streaming progress and the benchmark's own timings, for one run of
    every timed operation; and each operation's own layers."""
    import eventlog

    spark = res.pop("spark")
    heap = harness.heap_used_mb(spark)
    probe = harness.host_probe(spark)
    spark.stop()  # closes the event log file
    (log,) = [p for p in (work / "eventlog").iterdir() if not p.name.endswith(".inprogress")]
    events = eventlog.read_log(log)
    windows = res["windows"]
    per_op = eventlog.attribute(events, windows)
    progress = eventlog.progress_by_window(
        res.get("progress") or eventlog.progress_from_log(events), windows
    )
    for op, rec in per_op.items():
        rec["wall_s"] = res["ops_wall_s"][op]
        rec["driver_gap_s"] = rec["wall_s"] - rec["jobs_wall_s"]
        rec.update(eventlog.summarize_progress(progress[op]))
    per_query, total = eventlog.one_pass(per_op)
    layers = {
        **res["layers"],
        "heap_used_mb": heap,
        **probe,
        **total,
        **eventlog.batch_ms([r for recs in progress.values() for r in recs]),
        "jobs_share_of_wall": total["jobs_wall_s"] / total["wall_s"],
    }
    return layers, per_query


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    bench_root = harness.ROOT / ".bench_work"
    work = bench_root / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    harness.pin_env(work)
    try:
        import flow_spark  # noqa: F401 — the engine must be importable from the checkout
    except ImportError as e:
        print(f"perfbench: cannot import flow_spark from {harness.ROOT}: {e}", file=sys.stderr)
        return 2

    mod = importlib.import_module(WORKLOADS[args.workload])
    ticks0 = harness.cpu_ticks()
    tracer = harness.Tracer()
    try:
        with harness.RssSampler() as rss:
            if args.trace:
                # traced, then an untraced reference in the same (by then
                # warmer) JVM: trace_overhead_ratio leans high, never low
                res = _pass(mod, args, work, tracer, setups=1, event_log=work / "eventlog")
                layers, per_query = _layers(res, work)
                ref = _pass(mod, args, work, tracer, setups=1, check=False)
                ref.pop("spark")
                layers["trace_overhead_ratio"] = (
                    res["e2e"]["result_latency_ms"] / ref["e2e"]["result_latency_ms"]
                )
                res["fails"] += ref["fails"]
                res["attempted"] += ref["attempted"]
                res["failed"] += ref["failed"]
            else:
                res = _pass(mod, args, work, tracer, setups=SETUPS)
                res.pop("spark")
            harness.stop_jvm()
    except Exception:  # noqa: BLE001 — report and fail the run without a result line
        traceback.print_exc()
        harness.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        return 1

    e2e = {**res["e2e"], "peak_rss_mb": rss.peak / (1 << 20)}
    if args.trace:
        layers["peak_rss_mb"] = e2e["peak_rss_mb"]
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    detail = {
        "workload": args.workload,
        "box": harness.box_record(args.seed, ticks0),
        "end_to_end": e2e,
        "named": res["detail"],
        "layers": layers if args.trace else None,
        "per_query_layers": per_query if args.trace else None,
        "failures": [str(f) for f in res["fails"]],
    }
    results = bench_root / "results"
    results.mkdir(parents=True, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    tracer.write(results / f"{stem}.spans.json")
    batches = [
        [p.get("name"), p.get("batchId"), p.get("timestamp"), p.get("numInputRows"),
         (p.get("durationMs") or {}).get("triggerExecution")]
        for p in res.get("progress") or ()
    ]
    (results / f"{stem}.json").write_text(json.dumps({**detail, "batches": batches}, indent=1))
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": not res["fails"],
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
