"""Event-log attribution on a small recorded log: one GCRA drain
(``stream_gcra_throttle`` at sf0.001, local[4]) with its jobs tagged by
``setJobGroup``; trimmed to the events the parser reads."""

from __future__ import annotations

from pathlib import Path

import pytest

import eventlog

LOG = Path(__file__).parent / "data" / "eventlog_small.jsonl"
FIRST_JOB_MS = 1792174159065  # job 0 submission
SECOND_JOB_MS = 1792174162101  # job 1 submission (the micro-batch)
END_MS = 1792174166539  # after job 6 completes


@pytest.fixture(scope="module")
def events():
    return eventlog.read_log(LOG)


def test_one_window_gets_everything(events):
    rec = eventlog.attribute(events, {"drain": (FIRST_JOB_MS, END_MS)})["drain"]
    assert rec["jobs"] == 7
    assert rec["stages"] == 8
    assert rec["tasks"] == 18
    assert rec["executor_run_s"] == pytest.approx(11.853)
    assert rec["executor_cpu_s"] == pytest.approx(1.470643256)
    assert rec["shuffle_write_bytes"] == 17572
    assert rec["python_run_ms"] == 7374
    assert rec["python_init_ms"] == 5159
    assert rec["python_bytes_received"] == 71360
    # stage 2: 8 tasks, max 2327 ms over median (627 + 2116) / 2
    assert rec["task_skew"] == pytest.approx(2327 / 1371.5)
    assert 0 < rec["jobs_wall_s"] <= (END_MS - FIRST_JOB_MS) / 1e3


def test_windows_split_jobs_by_submission_time(events):
    out = eventlog.attribute(
        events,
        {"first": (FIRST_JOB_MS, SECOND_JOB_MS), "rest": (SECOND_JOB_MS, END_MS)},
    )
    assert out["first"]["jobs"] == 1 and out["first"]["tasks"] == 1
    assert out["first"]["executor_run_s"] == pytest.approx(0.212)
    assert out["rest"]["jobs"] == 6 and out["rest"]["tasks"] == 17
    assert out["first"]["python_run_ms"] == 0


def test_jobs_outside_every_window_are_dropped(events):
    rec = eventlog.attribute(events, {"before": (0, FIRST_JOB_MS)})["before"]
    assert (rec["jobs"], rec["tasks"], rec["jobs_wall_s"]) == (0, 0, 0.0)


def test_progress_records_from_log(events):
    progress = eventlog.progress_from_log(events)
    assert len(progress) == 1
    s = eventlog.summarize_progress(progress)
    assert s["batches"] == 1
    assert eventlog.batch_ms(progress) == {"batch_ms_p50": 4630, "batch_ms_p99": 4630}
    assert s["planning_ms"] == 379
    assert s["wal_commit_ms"] == 42 + 145
    assert s["state_rows_total"] == 13
    assert s["state_commit_ms"] == 836


def test_progress_outside_every_window_is_dropped(events):
    progress = eventlog.progress_from_log(events)  # trigger at ...20.864Z
    trigger_ms = 1792174160864
    got = eventlog.progress_by_window(
        progress,
        {"before": (0, trigger_ms), "timed": (trigger_ms, trigger_ms + 1), "after": (trigger_ms + 1, END_MS)},
    )
    assert [len(got[w]) for w in ("before", "timed", "after")] == [0, 1, 0]


def test_no_data_batches_do_not_count():
    idle = {"numInputRows": 0, "durationMs": {"triggerExecution": 5}}
    busy = {"numInputRows": 3, "durationMs": {"triggerExecution": 700}}
    assert eventlog.summarize_progress([idle, busy, idle])["batches"] == 1
    assert eventlog.batch_ms([idle, busy, idle])["batch_ms_p99"] == 700


def test_one_pass_does_not_grow_with_runs():
    def op(wall, jobs, skew):
        return {"wall_s": wall, "jobs": jobs, "task_skew": skew}

    once = {"a#1": op(2.0, 4, 1.5), "b#2": op(1.0, 2, 3.0)}
    thrice = {**once, "a#3": op(2.2, 4, 1.2), "b#4": op(0.9, 2, 1.0),
              "a#5": op(1.8, 6, 1.1)}
    per_query, total = eventlog.one_pass(thrice)
    # each query is its median-wall run, whole
    assert per_query == {"a": op(2.0, 4, 1.5), "b": op(0.9, 2, 1.0)}
    assert total == {"wall_s": 2.9, "jobs": 6, "task_skew": 1.5}
    assert eventlog.one_pass(once)[1] == {"wall_s": 3.0, "jobs": 6, "task_skew": 3.0}
