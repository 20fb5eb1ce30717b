"""Registry audit-order invariants (VERDICT r2 Next #2/#3).

The driver's correctness gate only checks the first 50 registry entries,
so ordering IS the evidence policy. These tests pin it:

- every query that needs driver evidence (never-checked, last-check
  failed, or source changed since its last green) sorts before every
  already-green entry, so stale greens cannot coast;
- the evidence ledger stays in sync with the registry;
- every query has an oracle except the documented rows-only exception.
"""

from __future__ import annotations

import json

import __spark_entry__ as entrymod

ROWS_ONLY_BY_DESIGN = {"agg_approx_distinct"}


def _groups():
    """Split the registry into (order, recorded-backlog, brand-new, green).

    recorded-backlog = ledger says never-checked / failed / hash-stale;
    brand-new        = absent from the ledger (added mid-round) — still
                       needs evidence, but queues behind the backlog so an
                       exactly-full window is never evicted."""
    q, o = entrymod.registry()
    with open(entrymod._EVIDENCE_PATH) as f:
        evidence = json.load(f)
    deferred = getattr(entrymod, "_DEFER_TO_NEXT_ROUND", frozenset())
    backlog, new, green = [], [], []
    for name in q:
        ev = evidence.get(name)
        if name in ROWS_ONLY_BY_DESIGN or name in deferred:
            # explicitly deferred entries sit past the window by design
            # (registered after the round's window filled); they must
            # not count as backlog NOR as green (a green would trip the
            # ordering invariant since they sort last).
            continue
        if ev is None:
            new.append(name)
        elif (
            ev["driver"] == "never"
            or ev["driver"].startswith("fail")
            or ev["hash"] != entrymod.query_hash(q[name], o.get(name))
        ):
            backlog.append(name)
        else:
            green.append(name)
    return list(q), backlog, new, green


def test_needs_evidence_sorts_before_green():
    order, backlog, new, green = _groups()
    needs = backlog + new
    if not needs or not green:
        return
    last_needs = max(order.index(n) for n in needs)
    first_green = min(order.index(n) for n in green)
    assert last_needs < first_green, (
        f"query needing driver evidence sorts after a green one: "
        f"{order[last_needs]} (#{last_needs}) vs {order[first_green]} "
        f"(#{first_green}) — regenerate with tools/update_query_evidence.py"
    )


def test_audit_window_covers_recorded_backlog():
    order, backlog, _, _ = _groups()
    outside = [n for n in backlog if order.index(n) >= 50]
    assert not outside, (
        f"{len(backlog)} recorded queries need driver evidence but only 50 "
        f"audit slots exist; outside the window: {outside}"
    )


def test_brand_new_queues_behind_backlog():
    order, backlog, new, _ = _groups()
    if not backlog or not new:
        return
    last_backlog = max(order.index(n) for n in backlog)
    first_new = min(order.index(n) for n in new)
    assert last_backlog < first_new, (
        f"brand-new query {order[first_new]} would evict recorded-backlog "
        f"query {order[last_backlog]} from the audit window"
    )


def _ledger_missing(q_names, evidence, artifacts):
    """Names with driver history that the ledger should already hold.

    A query whose ONLY history is the single newest artifact is exempt:
    that artifact is written by the driver AFTER the round's final
    commit, so between driver grading and the next round's
    update_query_evidence.py run it is legitimately unfolded (VERDICT
    r10 — the test must stay green across the grading window, not only
    on the tree the builder last saw).

    artifacts: list of (round_number, set_of_query_names)."""
    if not artifacts:
        return set()
    newest = max(r for r, _ in artifacts)
    rounds_by_name: dict[str, set[int]] = {}
    for rnd, names in artifacts:
        for n in names:
            rounds_by_name.setdefault(n, set()).add(rnd)
    missing = set()
    for n in set(q_names) & set(rounds_by_name):
        if n in evidence:
            continue
        if rounds_by_name[n] == {newest}:
            continue  # only-unfolded-newest: the grading-window exemption
        missing.add(n)
    return missing


def _real_artifacts():
    import glob
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = []
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        out.append((rnd, set(json.load(open(path)))))
    return out


def test_evidence_ledger_in_sync():
    """Every query with driver history OLDER than the newest artifact must
    be in the ledger; queries whose only history is the newest artifact
    are legitimately absent until tools/update_query_evidence.py folds it
    at the round boundary (the driver writes CORRECTNESS_r{N}.json after
    the round's final commit)."""
    q = entrymod.queries()
    with open(entrymod._EVIDENCE_PATH) as f:
        evidence = json.load(f)
    missing = _ledger_missing(q, evidence, _real_artifacts())
    assert not missing, (
        f"driver-checked queries missing from query_evidence.json (run "
        f"tools/update_query_evidence.py): {sorted(missing)}"
    )


def test_evidence_ledger_survives_grading_window():
    """Fixture for the exemption: a synthetic newest artifact containing a
    brand-new name (the exact state between driver grading and round
    open) must NOT trip the sync check — but the same name appearing in
    an OLDER artifact must."""
    q = dict(entrymod.queries())
    q["zz_brand_new_query"] = lambda spark, sf_dir: None
    with open(entrymod._EVIDENCE_PATH) as f:
        evidence = json.load(f)
    artifacts = _real_artifacts()
    newest = max(r for r, _ in artifacts) + 1
    synthetic = artifacts + [(newest, {"zz_brand_new_query", "agg_median"})]
    assert _ledger_missing(q, evidence, synthetic) == set()

    # The exemption is narrow: history in any OLDER round still flags.
    stale_hist = artifacts + [
        (newest, {"zz_brand_new_query"}),
        (newest - 1 if newest > 1 else 0, {"zz_brand_new_query"}),
    ]
    assert _ledger_missing(q, evidence, stale_hist) == {"zz_brand_new_query"}


def test_every_query_has_oracle():
    q, o = entrymod.registry()
    missing = set(q) - set(o) - ROWS_ONLY_BY_DESIGN
    assert not missing, f"queries without DuckDB oracles: {sorted(missing)}"


def test_rows_only_exception_sorts_last():
    order = list(entrymod.queries())
    assert order[-1] in ROWS_ONLY_BY_DESIGN


def test_query_hash_captures_transitive_helpers():
    """Editing an operator module a query depends on must change that
    query's hash (-> audit group 1, re-earns its green). The hash payload
    therefore includes the transitively-resolved sources of every engine
    function the query calls — module-level imports AND function-local
    `from <pkg> import name` imports (ADVICE r3 low #3)."""
    q = entrymod.queries()

    # Module-scope helper chain: window_percent_rank -> global_percent_rank
    # -> global_row_number (operators/ranking.py).
    deps = "".join(entrymod._dependency_sources(q["window_percent_rank"]))
    assert "def global_percent_rank" in deps
    assert "def global_row_number" in deps

    # Function-local import chain: dedup_clusters imports
    # connected_components inside its body; cut_lineage is two hops deep.
    deps = "".join(entrymod._dependency_sources(q["dedup_clusters"]))
    assert "def connected_components" in deps
    assert "def cut_lineage" in deps

    # And the hash actually moves when a dependency's source changes.
    fn = q["window_percent_rank"]
    base = entrymod.query_hash(fn, "SELECT 1")
    real = entrymod._dependency_sources
    try:
        entrymod._dependency_sources = lambda f: ["def global_percent_rank: EDITED"]
        assert entrymod.query_hash(fn, "SELECT 1") != base
    finally:
        entrymod._dependency_sources = real


def test_round_pins_are_consistent():
    """The next-round deferral set must name real registry entries and
    sit past the audit window: a typo would silently burn a window slot
    or defer nothing."""
    order = list(entrymod.queries())
    deferred = entrymod._DEFER_TO_NEXT_ROUND
    missing = deferred - set(order)
    assert not missing, f"deferred names not in registry: {missing}"
    assert all(order.index(n) >= 50 for n in deferred), (
        "a deferred name sits inside the 50-slot window"
    )


def test_duplicate_registration_raises():
    """Two modules registering one name must fail loudly; a silent
    shadow would drop a query from the registry and the audit."""
    import types

    import pytest

    from page_rank_mapreduce_java_spark.cli import merge_registries

    a = types.ModuleType("fake_a")
    a.QUERIES, a.ORACLES = {"shared": len, "only_a": len}, {"shared": "SELECT 1"}
    b = types.ModuleType("fake_b")
    b.QUERIES, b.ORACLES = {"shared": abs}, {}
    helper = types.ModuleType("fake_helper")  # registers nothing
    q, o = merge_registries([a, helper])
    assert q == {"shared": len, "only_a": len} and o == {"shared": "SELECT 1"}
    with pytest.raises(ValueError, match="shared"):
        merge_registries([a, b])
    c = types.ModuleType("fake_c")
    c.QUERIES, c.ORACLES = {}, {"shared": "SELECT 2"}
    with pytest.raises(ValueError, match="ORACLES"):
        merge_registries([a, c])


def test_every_registering_module_is_discovered():
    """Every module under the package whose source defines QUERIES is in
    full_registry(), found here by scanning the files, not by the
    discovery walk under test."""
    import importlib
    import pathlib
    import re

    import page_rank_mapreduce_java_spark as pkg
    from page_rank_mapreduce_java_spark.cli import full_registry

    q, o = full_registry()
    root = pathlib.Path(pkg.__file__).parent
    found = 0
    for path in sorted(root.rglob("*.py")):
        if not re.search(r"^QUERIES\b", path.read_text(), re.MULTILINE):
            continue
        rel = path.relative_to(root.parent).with_suffix("")
        mod = importlib.import_module(".".join(rel.parts))
        found += 1
        for name, fn in mod.QUERIES.items():
            assert q.get(name) is fn, f"{mod.__name__}.{name} not registered"
        for name, sql in getattr(mod, "ORACLES", {}).items():
            assert o.get(name) == sql, f"{mod.__name__} oracle {name} not registered"
    assert found >= 52
