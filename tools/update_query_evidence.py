"""Regenerate query_evidence.json — the staleness ledger that drives the
driver-audit ordering in __spark_entry__._audit_order.

For every registered query it records:
  driver : "pass-rN" | "fail-rN" | "rows-only-rN" | "never"
           (latest CORRECTNESS_r*.json that mentions the query wins)
  hash   : __spark_entry__.query_hash(fn, oracle) for the source state
           the recorded driver verdict certified.

Re-pinning discipline: a fresh hash is computed ONLY when the query's
driver verdict CHANGED since the previous ledger (a new CORRECTNESS_r*.json
certified the current source) or the query has no ledger entry. A query
whose verdict is unchanged keeps its previously recorded hash, so
regenerating mid-round can never re-bless a green query that was edited
after its certification — the edit keeps it hash-stale (audit group 1)
until a driver round re-certifies it.

Queries edited after their last driver check whose recorded hash predates
the ledger (e.g. the ledger file was lost) can be force-staled:

    python tools/update_query_evidence.py [--stale name ...]
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--stale", nargs="*", default=[], help="force-stale these green queries")
    ap.add_argument(
        "--repin-green",
        action="store_true",
        help="recompute hash pins for green entries with the CURRENT "
        "query_hash function. ONLY valid immediately after changing the "
        "hash algorithm, from a tree verified to have no unaudited edits "
        "to green queries — it re-blesses current source. Combine with "
        "--stale for any green query known to be edited.",
    )
    ns = ap.parse_args()
    stale = set(ns.stale)

    import __spark_entry__ as entrymod

    q = entrymod.queries()
    o = entrymod.oracle_sql()

    unknown = stale - set(q)
    if unknown:
        print(f"unknown --stale names: {sorted(unknown)}")
        return 1

    # Latest driver verdict per query across all recorded rounds.
    verdicts: dict[str, str] = {}
    # Numeric round sort: lexicographic order breaks once zero-padding is
    # inconsistent (r4 vs r10), and "latest verdict wins" depends on it.
    paths = sorted(
        glob.glob(os.path.join(REPO_ROOT, "CORRECTNESS_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", p).group(1)),
    )
    for path in paths:
        rnd = re.search(r"r(\d+)", path).group(1)
        rows = json.load(open(path))
        for name, res in rows.items():
            if name not in q:
                continue  # renamed/removed since that round
            if res.get("err") == "no_oracle" or res.get("hash_match") is None:
                verdicts[name] = f"rows-only-r{int(rnd)}"
            elif res.get("rows_match") and res.get("schema_match") and res.get("hash_match"):
                verdicts[name] = f"pass-r{int(rnd)}"
            else:
                verdicts[name] = f"fail-r{int(rnd)}"

    try:
        with open(entrymod._EVIDENCE_PATH) as f:
            prev = json.load(f)
    except (OSError, json.JSONDecodeError):
        prev = {}

    evidence = {}
    for name, fn in q.items():
        driver = verdicts.get(name, "never")
        old = prev.get(name)
        if old is not None and old.get("driver") == driver and not ns.repin_green:
            h = old["hash"]  # verdict unchanged -> keep the certified pin
        else:
            h = entrymod.query_hash(fn, o.get(name))
        if name in stale and driver.startswith("pass"):
            h = "STALE"  # force group 1: green no longer matches source
        evidence[name] = {"driver": driver, "hash": h}

    with open(entrymod._EVIDENCE_PATH, "w") as f:
        json.dump(evidence, f, indent=1, sort_keys=True)

    groups: list[list[str]] = [[] for _ in entrymod.AUDIT_GROUPS]
    for n, fn in q.items():
        groups[entrymod.audit_group(n, fn, o.get(n), evidence)].append(n)
    print(f"wrote {entrymod._EVIDENCE_PATH}: {len(evidence)} queries")
    for label, names in zip(entrymod.AUDIT_GROUPS, groups):
        print(f"  {label:<14}: {len(names)}")
    print(f"  fail/stale names: {groups[entrymod.STALE]}")
    demand = sum(map(len, groups[: entrymod.NEW + 1]))
    window = entrymod.AUDIT_WINDOW
    print(f"  audit-window demand: {demand}/{window}" +
          (" — OVERFLOW, driver evidence will lag" if demand > window else ""))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
