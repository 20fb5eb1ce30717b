"""Property tests for __spark_entry__._audit_order under SYNTHETIC
evidence ledgers.

test_registry.py pins the invariants against the repo's REAL ledger;
these tests instead fabricate ledger states (fresh greens, fails,
hash-staled entries, brand-new queries, a missing ledger file) and
assert the grouping semantics directly — the control loop that
composes each round's 50-slot driver audit window must not regress
when the ledger looks different from today's.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

import __spark_entry__ as entrymod


def _q_a(spark, sf):  # pragma: no cover - never executed
    return None


def _q_b(spark, sf):  # pragma: no cover - never executed
    return None


def _q_c(spark, sf):  # pragma: no cover - never executed
    return None


def _q_d(spark, sf):  # pragma: no cover - never executed
    return None


def _order_with_ledger(q, o, ledger) -> list[str]:
    """Run _audit_order against a temp ledger file (or a missing one)."""
    real_path = entrymod._EVIDENCE_PATH
    path = None
    try:
        if ledger is None:
            entrymod._EVIDENCE_PATH = os.path.join(
                tempfile.gettempdir(), "no_such_evidence_file.json"
            )
        else:
            fd, path = tempfile.mkstemp(suffix=".json")
            with os.fdopen(fd, "w") as f:
                json.dump(ledger, f)
            entrymod._EVIDENCE_PATH = path
        return entrymod._audit_order(q, o)
    finally:
        entrymod._EVIDENCE_PATH = real_path
        if path is not None:
            os.unlink(path)


def test_backlog_classes_sort_before_green():
    q = {"alpha": _q_a, "beta": _q_b, "gamma": _q_c, "delta": _q_d}
    o = {n: f"SELECT 1 AS {n}" for n in q}
    ledger = {
        # alpha: genuinely green (driver pass, hash matches current source)
        "alpha": {"driver": "pass", "hash": entrymod.query_hash(_q_a, o["alpha"])},
        # beta: never driver-checked -> group 0
        "beta": {"driver": "never", "hash": "x"},
        # gamma: driver FAILED -> group 1
        "gamma": {"driver": "fail:r8", "hash": "x"},
        # delta: green but hash-staled by a source edit -> group 1
        "delta": {"driver": "pass", "hash": "stale-hash-0000"},
    }
    order = _order_with_ledger(q, o, ledger)
    assert order.index("beta") < order.index("gamma")  # never before fail
    assert order.index("gamma") < order.index("alpha")  # fail before green
    assert order.index("delta") < order.index("alpha")  # stale before green
    assert order[-1] == "alpha"  # the only green sorts last


def test_brand_new_queues_behind_recorded_backlog():
    # A query added mid-round (absent from the ledger) needs evidence
    # but must NOT evict recorded backlog from an exactly-full window.
    q = {"newbie": _q_a, "old_never": _q_b}
    o = {n: "SELECT 1 AS v" for n in q}
    ledger = {"old_never": {"driver": "never", "hash": "x"}}
    order = _order_with_ledger(q, o, ledger)
    assert order == ["old_never", "newbie"]


def test_missing_ledger_treats_all_as_new_in_registration_order():
    q = {"one": _q_a, "two": _q_b, "three": _q_c}
    o = {n: "SELECT 1 AS v" for n in q}
    order = _order_with_ledger(q, o, None)
    assert order == ["one", "two", "three"]


def test_rows_only_sentinel_always_sorts_dead_last():
    # agg_approx_distinct is rows-only by design: its driver row can
    # never earn a value-hash green, so it must never occupy a window
    # slot — even when it is itself never-checked and everything else
    # is green.
    q = {"agg_approx_distinct": _q_a, "green_one": _q_b}
    o = {"green_one": "SELECT 1 AS v"}
    ledger = {
        "agg_approx_distinct": {"driver": "never", "hash": "x"},
        "green_one": {
            "driver": "pass",
            "hash": entrymod.query_hash(_q_b, o["green_one"]),
        },
    }
    order = _order_with_ledger(q, o, ledger)
    assert order[-1] == "agg_approx_distinct"


def test_deferred_set_sorts_after_green_but_before_rows_only():
    # Pick a real member of the deferral constant so the group()
    # membership check exercises the actual frozenset.
    deferred = sorted(entrymod._DEFER_TO_NEXT_ROUND)
    if not deferred:
        return
    dname = deferred[0]
    q = {dname: _q_a, "green_one": _q_b, "agg_approx_distinct": _q_c}
    o = {"green_one": "SELECT 1 AS v"}
    ledger = {
        dname: {"driver": "never", "hash": "x"},
        "green_one": {
            "driver": "pass",
            "hash": entrymod.query_hash(_q_b, o["green_one"]),
        },
        "agg_approx_distinct": {"driver": "never", "hash": "x"},
    }
    order = _order_with_ledger(q, o, ledger)
    assert order.index("green_one") < order.index(dname)
    assert order.index(dname) < order.index("agg_approx_distinct")

