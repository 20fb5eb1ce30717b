"""The pagerank_chain output check against a direct PageRank computation."""

from __future__ import annotations

import math
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from workloads import DAMPING, chain_ranks, check_chain, id_bijection


def _direct_pagerank(k: int, iterations: int) -> dict[int, float]:
    """PageRank over every node of the k-chains graph, written out per node
    (pagerank()'s update with the sink 0 as the only dangling node)."""
    n = k * k + 1
    out = {i: (0 if i % k == 0 else i + 1) for i in range(1, k * k + 1)}
    rank = {i: 1.0 / n for i in range(n)}
    for _ in range(iterations):
        contrib = dict.fromkeys(rank, 0.0)
        for src, dst in out.items():
            contrib[dst] += rank[src]
        dm = rank[0]
        rank = {v: (1 - DAMPING) / n + DAMPING * (contrib[v] + dm / n) for v in rank}
    return rank


def _relabelled(rank: dict[int, float], a: int, b: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    ids = np.array([(a * i + b) % n for i in rank], dtype=np.int64)
    return ids, np.array(list(rank.values()))


def test_recurrence_matches_direct_pagerank():
    for k, iterations in ((3, 1), (4, 10), (7, 5)):
        pos, sink = chain_ranks(k, iterations)
        want = _direct_pagerank(k, iterations)
        assert math.isclose(sink, want[0], rel_tol=1e-12)
        for i in range(1, k * k + 1):
            assert math.isclose(pos[(i - 1) % k], want[i], rel_tol=1e-12)


def test_bijection_is_a_permutation_and_check_accepts_relabelled_ranks():
    k, iterations = 5, 3
    n = k * k + 1
    for seed in range(5):
        a, b = id_bijection(seed, n)
        assert sorted((a * i + b) % n for i in range(n)) == list(range(n))
        ids, ranks = _relabelled(_direct_pagerank(k, iterations), a, b, n)
        assert check_chain(ids, ranks, k, iterations, a, b) == []


def test_check_reports_wrong_ranks():
    k, iterations = 4, 2
    n = k * k + 1
    a, b = id_bijection(0, n)
    ids, ranks = _relabelled(_direct_pagerank(k, iterations), a, b, n)
    ranks[3] *= 1.01
    assert any("off the recurrence" in p for p in check_chain(ids, ranks, k, iterations, a, b))
    assert any("ranks for" in p for p in check_chain(ids[:-1], ranks[:-1], k, iterations, a, b))
    ids[1] = ids[0]
    assert any("duplicate" in p for p in check_chain(ids, ranks, k, iterations, a, b))
