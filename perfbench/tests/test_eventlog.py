"""The event-log reader on a small synthetic log."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eventlog import GROUP_PROP, PHASE_PROP, PY_RECEIVED, PY_SENT, SUPERSTEP_PROP, read_events, summarize, union_ms


def _job(job_id, group, **props):
    p = {GROUP_PROP: group} if group else {}
    p.update(props)
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Properties": p}


def _stage_submitted(stage_id, group):
    return {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": stage_id},
            "Properties": {GROUP_PROP: group} if group else {}}


def _stage_completed(stage_id, start, end, accs=()):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": stage_id, "Submission Time": start, "Completion Time": end,
        "Accumulables": [{"ID": i, "Name": n, "Value": v} for i, (n, v) in enumerate(accs)]}}


def _task(stage_id, run_ms, gc_ms=0, write=0, local_read=0, remote_read=0, wait=0, spill=0, in_b=0, in_r=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage_id, "Stage Attempt ID": 0, "Task Metrics": {
        "Executor Run Time": run_ms, "JVM GC Time": gc_ms,
        "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0,
        "Shuffle Read Metrics": {"Local Bytes Read": local_read, "Remote Bytes Read": remote_read,
                                 "Fetch Wait Time": wait},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
        "Input Metrics": {"Bytes Read": in_b, "Records Read": in_r}}}


EVENTS = [
    {"Event": "SparkListenerApplicationStart"},
    # An untagged job (e.g. the untimed check pass) is not attributed.
    _job(0, None),
    _stage_submitted(0, None),
    _stage_completed(0, 1000, 1100),
    _task(0, 50),
    # Query "0/a": one construction job inside a superstep, one execution job.
    _job(1, "0/a", **{PHASE_PROP: "construct", SUPERSTEP_PROP: "0"}),
    _stage_submitted(1, "0/a"),
    _task(1, 30, gc_ms=5, write=100, in_b=1000, in_r=10),
    _task(1, 20, write=50, in_b=500, in_r=5),
    _stage_completed(1, 2000, 2300),
    _job(2, "0/a", **{PHASE_PROP: "execute"}),
    _stage_submitted(2, "0/a"),
    _task(2, 40, local_read=120, remote_read=30, wait=7, spill=64),
    _stage_completed(2, 2200, 2500),
    # Query "0/b": a stage running Python workers.
    _job(3, "0/b", **{PHASE_PROP: "execute"}),
    _stage_submitted(3, "0/b"),
    _task(3, 90),
    _stage_completed(3, 3000, 3400, accs=[(PY_SENT, "4096"), (PY_RECEIVED, 512), ("number of output rows", 3)]),
]


def test_attributes_jobs_stages_tasks_to_groups():
    groups = summarize(EVENTS)
    assert set(groups) == {"0/a", "0/b"}
    a, b = groups["0/a"], groups["0/b"]
    assert (a.jobs, a.construct_jobs, a.superstep_jobs, a.stages, a.tasks) == (2, 1, 1, 2, 3)
    assert (a.executor_run_ms, a.gc_ms) == (90, 5)
    assert (a.shuffle_write_bytes, a.shuffle_read_bytes, a.fetch_wait_ms, a.spill_bytes) == (150, 150, 7, 64)
    assert (a.input_bytes, a.input_rows) == (1500, 15)
    assert sorted(a.stage_intervals) == [(2000, 2300), (2200, 2500)]
    assert (a.to_python_bytes, a.from_python_bytes, a.python_stage_ms) == (0, 0, 0)
    assert (b.jobs, b.construct_jobs, b.stages, b.tasks) == (1, 0, 1, 1)
    assert (b.to_python_bytes, b.from_python_bytes, b.python_stage_ms) == (4096, 512, 400)


def test_union_merges_overlaps_and_clips_to_window():
    assert union_ms([], 0, 10) == 0
    assert union_ms([(2000, 2300), (2200, 2500), (3000, 3400)], 0, 10_000) == 900
    assert union_ms([(2000, 2300), (2200, 2500), (3000, 3400)], 2100, 3100) == 500
    assert union_ms([(5, 5), (1, 3), (2, 4)], 0, 10) == 3


def test_read_events_skips_a_partial_last_line(tmp_path):
    path = tmp_path / "app"
    lines = [json.dumps(e) for e in EVENTS]
    path.write_text("\n".join(lines) + '\n{"Event": "SparkListenerTa')
    assert list(read_events(str(path))) == EVENTS
