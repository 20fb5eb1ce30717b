"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship iterative PageRank on the sf0.001 corpus.
``queries()`` / ``oracle_sql()`` serve the engine's one registry
(``cli.full_registry``): a module registers by defining module-level
``QUERIES``/``ORACLES`` dicts anywhere under the package. Every query has
a DuckDB oracle except ``agg_approx_distinct``, which gets the driver's
weaker rows-only check.

Audit ordering: the driver's per-round correctness gate checks the FIRST
``AUDIT_WINDOW`` (50) registry entries, so iteration order decides what
earns driver-side evidence. ``audit_group`` derives each query's group
from ``query_evidence.json`` (written by tools/update_query_evidence.py
after each driver round):

  0 never-checked — in the ledger with "never";
  1 fail/stale    — last driver check FAILED, or the query's (function
                    source + oracle SQL) hash changed since the recorded
                    green: a changed query must re-earn its green (the r2
                    stale-green incident: two queries rewritten in r2
                    kept coasting on r1 greens);
  2 new           — absent from the ledger: queries added mid-round queue
                    BEHIND the recorded backlog so they cannot evict a
                    failed/stale recertification from an exactly-full
                    window; they earn driver evidence next round;
  3 green         — green and unchanged;
  4 deferred      — ``_DEFER_TO_NEXT_ROUND``;
  5 rows-only     — agg_approx_distinct (oracle-less by design; HLL
                    estimates are engine-specific) never occupies a slot.

Within each group, module registration order is kept (deterministic).
If the evidence file is missing, every query counts as new — strictly
safe, just wasteful.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_EVIDENCE_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "query_evidence.json")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from page_rank_mapreduce_java_spark.graph.queries import q_pagerank

    return q_pagerank(spark, "/root/testdata/sf0.001")


_ENGINE_PKG = "page_rank_mapreduce_java_spark"
_IMPORT_RE = None  # compiled lazily; re imported only if needed


def _fn_source(fn) -> str:
    try:
        return inspect.getsource(fn)
    except (OSError, TypeError):  # builtins/partials: fall back to repr
        return repr(fn)


def _dependency_sources(fn: Callable) -> list[str]:
    """Sources of every ENGINE function the query transitively calls.

    Editing an operator helper (global_percent_rank, salted joins,
    interval pairing, ...) must stale its dependent green queries exactly
    like editing the query function itself (ADVICE r3: the stale-green
    class the ledger was built to prevent). Resolution is mechanical and
    deterministic: a function's referenced names (``co_names``) looked up
    in its module globals, plus ``from <engine pkg> import name`` lines in
    its body (local imports don't land in globals), recursively over any
    resolved engine-package function. Appending an UNRELATED function to
    a module stales nothing — only functions on the call path count.
    Caveat (same as before): hashes must be computed in a process that
    imported the CURRENT on-disk source; inspect.getsource after an
    in-process edit returns garbage line ranges."""
    global _IMPORT_RE
    import importlib
    import re as _re
    import types

    if _IMPORT_RE is None:
        _IMPORT_RE = _re.compile(
            rf"from\s+({_ENGINE_PKG}[\w.]*)\s+import\s+\(?([\w,\s]+?)\)?\s*$",
            _re.MULTILINE,
        )
    out: dict[tuple[str, str], str] = {}
    stack = [fn]
    while stack:
        f = stack.pop()
        code = getattr(f, "__code__", None)
        if code is None:
            continue
        src = _fn_source(f)
        candidates = []
        gl = getattr(f, "__globals__", {})
        for name in code.co_names:
            candidates.append(gl.get(name))
        for mod_name, names in _IMPORT_RE.findall(src):
            try:
                mod = importlib.import_module(mod_name)
            except ImportError:
                continue
            for n in _re.split(r"[,\s]+", names):
                if n:
                    candidates.append(getattr(mod, n, None))
        for obj in candidates:
            if (
                isinstance(obj, types.FunctionType)
                and getattr(obj, "__module__", "").startswith(_ENGINE_PKG)
            ):
                key = (obj.__module__, obj.__qualname__)
                if key not in out:
                    out[key] = _fn_source(obj)
                    stack.append(obj)
    return [out[k] for k in sorted(out)]


def query_hash(fn: Callable, oracle: str | None) -> str:
    """Source hash for staleness detection: the query function's own
    source, the sources of every engine helper it transitively calls
    (see _dependency_sources), and its fully-rendered oracle SQL (which
    captures SQL-building helpers because the strings are rendered at
    import)."""
    payload = "\x00".join(
        [_fn_source(fn), *_dependency_sources(fn), oracle or ""]
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


# The keyed-edge refactor (graph/keyed.py) stales every query over
# pagerank, connected_components, BFS/SSSP, SCC and LPA: with the 41
# entries already stale that is 56 for 50 slots. These six derived
# consumers wait one round; the query each derives from (graph_pagerank,
# graph_connected_components, dedup_clusters) keeps its slot. All six
# match their oracles locally at sf0.001 and sf0.01 and under shuffle
# partitions 3 and 17. Empty this set in the next round.
_DEFER_TO_NEXT_ROUND: frozenset[str] = frozenset(
    {
        "graph_pagerank_topk",
        "graph_pagerank_weighted",
        "graph_wcc_size_histogram",
        "embedding_dup_clusters",
        "dedup_cluster_size_histogram",
        "dedup_savings_tokens",
    }
)


# The driver's correctness gate grades the first AUDIT_WINDOW entries.
AUDIT_WINDOW = 50

# Audit groups, in audit order (see the module docstring).
AUDIT_GROUPS = ("never-checked", "fail/stale", "new", "green", "deferred", "rows-only")
NEVER, STALE, NEW, GREEN, DEFERRED, ROWS_ONLY = range(len(AUDIT_GROUPS))


def audit_group(name: str, fn: Callable, oracle: str | None, evidence: dict) -> int:
    """The audit group of query ``name`` (an index into AUDIT_GROUPS)
    under the ledger ``evidence``."""
    if name == "agg_approx_distinct":
        return ROWS_ONLY
    if name in _DEFER_TO_NEXT_ROUND:
        return DEFERRED
    ev = evidence.get(name)
    if ev is None:
        return NEW  # brand-new this round: behind the recorded backlog
    if ev.get("driver") == "never":
        return NEVER
    if str(ev.get("driver", "")).startswith("fail"):
        return STALE
    if ev.get("hash") != query_hash(fn, oracle):
        return STALE  # changed since last driver green -> re-earn it
    return GREEN


def _audit_order(q: dict, o: dict) -> list[str]:
    try:
        with open(_EVIDENCE_PATH) as f:
            evidence = json.load(f)
    except (OSError, json.JSONDecodeError):
        evidence = {}
    # sorted() is stable: registration order is kept within a group.
    return sorted(q, key=lambda n: audit_group(n, q[n], o.get(n), evidence))


def registry() -> tuple[dict[str, Callable[[SparkSession, str], DataFrame]], dict[str, str]]:
    """(queries, oracles) in audit order, built by one pass over
    ``cli.full_registry`` and the ledger; each call builds it anew."""
    from page_rank_mapreduce_java_spark.cli import full_registry

    q, o = full_registry()
    order = _audit_order(q, o)
    return {n: q[n] for n in order}, {n: o[n] for n in order if n in o}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return registry()[0]


def oracle_sql() -> dict[str, str]:
    return registry()[1]
