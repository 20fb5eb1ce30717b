"""The benchmark's workloads and the checks of their outputs.

A workload is a list of named steps, each building one DataFrame: a
registry query over the corpus, or ``pagerank()`` over the chain graph.
The benchmark times the step (query construction, which includes the
eager actions the iterative code runs) and the write of its result to the
``noop`` sink.

Why these workloads (see README.md for the layer table):

- ``pagerank_chain``: the reference's chain graph through ``pagerank()``;
  the superstep chassis does nearly all the work and each superstep
  re-shuffles a 250k-row rank vector. At k=500 (250 000 edges)
  ``pagerank()`` sizes its state at ~75k edges per partition, which gives
  4 partitions, so the state is spread over the cores of a 4-core host and
  the seeded ids move rows between partitions.
- ``multimodal_arrow``: the only workload whose time goes to Arrow
  ``mapInPandas`` legs.
"""

from __future__ import annotations

import math
import os
import random
from dataclasses import dataclass

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")
DAMPING = 0.85


@dataclass(frozen=True)
class Chain:
    """PageRank over ``chain_edges(k)`` with seeded node ids."""

    k: int
    iterations: int


@dataclass(frozen=True)
class Corpus:
    """Registry queries over the fixed seed-42 corpus in ``data/<sf>``."""

    queries: tuple[str, ...]
    sf: str


WORKLOADS = {
    "pagerank_chain": Chain(k=500, iterations=10),
    "multimodal_arrow": Corpus(
        (
            "mm_image_phash",
            "mm_audio_fingerprint",
            "mm_video_fingerprint",
            "mm_image_phash_pairs",
            "mm_phash_keepers",
        ),
        "sf0.01",
    ),
}

# The size the benchmark's smoke test runs every workload at.
TINY = {
    name: Chain(k=30, iterations=2) if isinstance(w, Chain) else Corpus(w.queries, "sf0.001")
    for name, w in WORKLOADS.items()
}


def sf_dir(w: Corpus) -> str:
    return os.path.join(DATA_DIR, w.sf)


# --- pagerank_chain ------------------------------------------------------


def id_bijection(seed: int, n: int) -> tuple[int, int]:
    """(a, b) of the relabelling id -> (a*id + b) mod n, a bijection on
    0..n-1 because gcd(a, n) = 1. The seed moves ids across partitions
    without changing the graph's shape, so the answer stays the same."""
    rng = random.Random(seed)
    b = rng.randrange(n)
    while True:
        a = rng.randrange(1, n)
        if math.gcd(a, n) == 1:
            return a, b


def relabel(edges, a: int, b: int, n: int):
    """Apply the id bijection to both endpoints of an edge DataFrame."""
    from pyspark.sql import functions as F

    def f(c: str):
        return ((F.col(c) * F.lit(a) + F.lit(b)) % F.lit(n)).alias(c)

    return edges.select(f("src"), f("dst"))


def chain_ranks(k: int, iterations: int, damping: float = DAMPING) -> tuple[np.ndarray, float]:
    """Expected ranks on the k-chains graph: one rank per chain position
    (all k chains are alike) and the rank of the sink node 0.

    The recurrence is ``pagerank()``'s update written over positions:
    position 1 has no in-edge, position j gets position j-1's rank (every
    chain node has out-degree 1), and the sink gets the k tails. The sink
    is the only dangling node, so its rank is spread uniformly."""
    n = k * k + 1
    pos = np.full(k, 1.0 / n)
    sink = 1.0 / n
    for _ in range(iterations):
        base = (1.0 - damping) / n + damping * sink / n
        new_sink = base + damping * k * pos[-1]
        pos = np.concatenate(([base], base + damping * pos[:-1]))
        sink = new_sink
    return pos, sink


def check_chain(ids: np.ndarray, ranks: np.ndarray, k: int, iterations: int, a: int, b: int) -> list[str]:
    """Problems found in the (id, rank) columns of a pagerank_chain run."""
    n = k * k + 1
    pos, sink = chain_ranks(k, iterations)
    ids = np.asarray(ids, dtype=np.int64)
    ranks = np.asarray(ranks, dtype=np.float64)
    problems = []
    if len(ids) != n:
        problems.append(f"{len(ids)} ranks for {n} nodes")
    # Undo the relabelling; every product stays below n**2 < 2**63.
    old = (ids - b) % n * pow(a, -1, n) % n
    if len(np.unique(old)) != len(old):
        problems.append("duplicate node ids")
    want = np.where(old == 0, sink, pos[(old - 1) % k])
    worst = float(np.abs(ranks - want).max(initial=0.0))
    if worst > 1e-12:
        problems.append(f"rank off the recurrence by {worst:.3g}")
    total = math.fsum(ranks.tolist())
    if abs(total - 1.0) > 1e-9:
        problems.append(f"ranks sum to {total!r}")
    return problems


# --- corpus workloads ------------------------------------------------------


def oracle_hashes(sf: str, names: list[str], oracles: dict[str, str]) -> dict[str, tuple | str]:
    """(sorted columns, row count, value hash) of each query's DuckDB oracle,
    hashed with the repository's own correctness gate (tools/check_oracle),
    or the error DuckDB raised."""
    import duckdb
    from check_oracle import TABLES, table_hash

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(sf, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS FROM read_parquet('{path}')")
        out: dict[str, tuple | str] = {}
        for name in names:
            if name not in oracles:
                out[name] = "no oracle"
                continue
            try:
                rel = con.execute(oracles[name])
                cols = [d[0] for d in rel.description]
                rows = rel.fetchall()
            except duckdb.Error as e:
                out[name] = f"duckdb error: {e}"
                continue
            out[name] = (sorted(cols), len(rows), table_hash(rows, cols))
        return out
    finally:
        con.close()


def spark_hash(cols: list[str], rows: list[tuple]) -> tuple:
    from check_oracle import table_hash

    return (sorted(cols), len(rows), table_hash(rows, cols))
