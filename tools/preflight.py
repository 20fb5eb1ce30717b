"""One-command pre-driver gate: everything that must be true before a
correctness round, in the order a failure is cheapest to catch.

1. registry sanity — queries()/oracle_sql() load, every oracle key has a
   query, audit-window demand fits the 50-slot window;
2. window composition — the first 50 audit slots are exactly the
   never-checked + stale/failed backlog (no green query wastes a slot,
   no backlog query is stranded past slot 50 unless demand > 50);
3. canonicalization audit (tools/canon_audit.py) over every oracle;
4. local oracle replica (tools/check_oracle.py) over the WINDOW queries
   (the ones the driver will actually grade this round).

Usage: python tools/preflight.py [sf_dir]      (default sf0.01)
Exit 0 = ready for the driver round.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    import __spark_entry__ as entrymod

    q, o = entrymod.registry()
    extra_oracles = set(o) - set(q)
    if extra_oracles:
        print(f"FAIL registry: oracles without queries: {sorted(extra_oracles)}")
        return 1
    print(f"ok  registry: {len(q)} queries, {len(o)} oracles")

    with open(entrymod._EVIDENCE_PATH) as f:
        ev = json.load(f)
    needs = {
        n for n in q if entrymod.audit_group(n, q[n], o.get(n), ev) <= entrymod.NEW
    }
    window_size = entrymod.AUDIT_WINDOW
    window = list(q)[:window_size]
    demand = len(needs)
    print(f"ok  audit demand: {demand}/{window_size}" if demand <= window_size else
          f"WARN audit demand {demand} exceeds the {window_size}-slot window")
    stranded = sorted(needs - set(window))
    if stranded and demand <= window_size:
        print(f"FAIL window: backlog stranded past slot {window_size}: {stranded}")
        return 1
    wasted = [n for n in window if n not in needs]
    if demand >= window_size and wasted:
        print(f"FAIL window: green queries occupying needed slots: {wasted}")
        return 1

    py = sys.executable
    if os.environ.get("SPARK_GRAFT_PREFLIGHT_CODEGEN", "1") != "0":
        # Whole-stage-codegen gate (VERDICT r10 next #6): a silent
        # interpreted fallback is invisible to walls at local SF but a
        # 2-10x per-row tax at 100 TB; fail the round before the driver
        # sees it. SPARK_GRAFT_PREFLIGHT_CODEGEN=0 skips (iterating).
        print("-- codegen sweep (full registry, sf0.001) --")
        r = subprocess.run(
            [py, os.path.join(here, "tools", "codegen_sweep.py")]
        )
        if r.returncode:
            return r.returncode
    print("-- canon audit --")
    r = subprocess.run([py, os.path.join(here, "tools", "canon_audit.py"),
                        "/root/testdata/sf0.001"])
    if r.returncode:
        return r.returncode
    print("-- oracle replica over the audit window --")
    r = subprocess.run(
        [py, os.path.join(here, "tools", "check_oracle.py"), sf_dir, *window]
    )
    return r.returncode


if __name__ == "__main__":
    raise SystemExit(main())
