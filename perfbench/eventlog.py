"""Stdlib-only reader for Spark's JSON event log.

Spark writes one JSON object per line when ``spark.eventLog.enabled`` is
true (uncompressed with ``spark.eventLog.compress=false``). This module
turns such a log into per-job-group totals: jobs, stages, tasks, task
metrics, Arrow/Python SQL metrics and the intervals during which stages
ran. The benchmark tags every query with its own job group, so a group is
one query of one pass.

Attribution uses the ``Properties`` Spark records on job start and stage
submission: ``spark.jobGroup.id`` names the group, and the benchmark's own
local properties (``PHASE_PROP``, ``SUPERSTEP_PROP``) say whether a job ran
while the query was being constructed and whether it ran inside a
checkpoint call.
"""

from __future__ import annotations

import json
from collections import defaultdict
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field, fields

GROUP_PROP = "spark.jobGroup.id"
PHASE_PROP = "perfbench.phase"
SUPERSTEP_PROP = "perfbench.superstep"

# SQL metric names of Spark's Python runners (PythonSQLMetrics); the
# mapInPandas / Arrow UDF operators report them per stage.
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


@dataclass
class GroupStats:
    """Totals for one job group (one query of one pass)."""

    jobs: int = 0
    construct_jobs: int = 0
    superstep_jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    fetch_wait_ms: int = 0
    input_bytes: int = 0
    input_rows: int = 0
    to_python_bytes: int = 0
    from_python_bytes: int = 0
    python_stage_ms: int = 0
    # (submission ms, completion ms) of every completed stage attempt.
    stage_intervals: list[tuple[int, int]] = field(default_factory=list)

    def add(self, other: GroupStats) -> None:
        """Fold another group's totals into this one."""
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def read_events(path: str) -> Iterator[dict]:
    """Yield the events of one uncompressed event-log file.

    A log still being written may end in a partial line; it is skipped."""
    with open(path, encoding="utf-8") as f:
        for line in f:
            try:
                yield json.loads(line)
            except json.JSONDecodeError:
                continue


def _int(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def summarize(events: Iterable[dict]) -> dict[str, GroupStats]:
    """Per job group totals. Jobs and stages without a group are dropped."""
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get(GROUP_PROP)
            if group is None:
                continue
            g = out[group]
            g.jobs += 1
            if props.get(PHASE_PROP) == "construct":
                g.construct_jobs += 1
            if props.get(SUPERSTEP_PROP) is not None:
                g.superstep_jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            group = props.get(GROUP_PROP)
            if group is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group is None:
                continue
            g = out[group]
            g.stages += 1
            start, end = info.get("Submission Time"), info.get("Completion Time")
            if start is not None and end is not None:
                g.stage_intervals.append((int(start), int(end)))
            accs = {a.get("Name"): _int(a.get("Value")) for a in info.get("Accumulables", [])}
            sent, received = accs.get(PY_SENT, 0), accs.get(PY_RECEIVED, 0)
            g.to_python_bytes += sent
            g.from_python_bytes += received
            if (PY_SENT in accs or PY_RECEIVED in accs) and start is not None and end is not None:
                g.python_stage_ms += int(end) - int(start)
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if group is None:
                continue
            g = out[group]
            g.tasks += 1
            m = ev.get("Task Metrics") or {}
            g.executor_run_ms += _int(m.get("Executor Run Time"))
            g.gc_ms += _int(m.get("JVM GC Time"))
            g.spill_bytes += _int(m.get("Memory Bytes Spilled")) + _int(m.get("Disk Bytes Spilled"))
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_bytes += _int(sr.get("Remote Bytes Read")) + _int(sr.get("Local Bytes Read"))
            g.fetch_wait_ms += _int(sr.get("Fetch Wait Time"))
            sw = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write_bytes += _int(sw.get("Shuffle Bytes Written"))
            im = m.get("Input Metrics") or {}
            g.input_bytes += _int(im.get("Bytes Read"))
            g.input_rows += _int(im.get("Records Read"))
    return dict(out)


def union_ms(intervals: Iterable[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0
    cur_start = cur_end = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
