"""Connected components + BFS semantics on hand-built graphs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from page_rank_mapreduce_java_spark.graph.algorithms import (
    _symmetrize,
    bfs_distances,
    connected_components,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src LONG, dst LONG")


def test_cc_two_components(spark):
    # component {1,2,3} and {10,11}; direction must not matter
    e = _edges(spark, [(1, 2), (3, 2), (10, 11)])
    got = {r.id: r.component for r in connected_components(e, max_iterations=5).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_cc_chain_propagation_depth(spark):
    # a path 1-2-3-4-5: min label needs 4 rounds to reach the far end
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    got = {r.id: r.component for r in connected_components(e, max_iterations=4).collect()}
    assert set(got.values()) == {1}
    # with too few rounds the far end hasn't converged yet — documents the
    # max_iterations/diameter contract
    partial = {r.id: r.component for r in connected_components(e, max_iterations=1).collect()}
    assert partial[5] == 4 and partial[1] == 1


def test_cc_early_stop_matches_fixed_rounds(spark):
    # the free fixpoint exit must land on the known components, and on
    # the labels of the exact budget the 5-node path needs (fixpoints are
    # stable under further propagation)
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (12, 11)])
    loose = sorted(map(tuple, connected_components(e, max_iterations=8).collect()))
    expected = [(i, 1) for i in range(1, 6)] + [(i, 10) for i in (10, 11, 12)]
    assert loose == expected
    exact = sorted(map(tuple, connected_components(e, max_iterations=4).collect()))
    assert loose == exact


def test_bfs_directed_vs_symmetrized(spark):
    e = _edges(spark, [(1, 2), (2, 3), (4, 3)])
    srcs = spark.createDataFrame([(1,)], "id LONG")
    directed = {r.id: r.dist for r in bfs_distances(e, srcs, max_hops=3).collect()}
    assert directed == {1: 0, 2: 1, 3: 2, 4: -1}  # 4 unreachable downstream
    undirected = {
        r.id: r.dist for r in bfs_distances(_symmetrize(e), srcs, max_hops=3).collect()
    }
    assert undirected == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_multiple_sources_take_min(spark):
    e = _edges(spark, [(1, 2), (2, 3), (9, 3)])
    srcs = spark.createDataFrame([(1,), (9,)], "id LONG")
    got = {r.id: r.dist for r in bfs_distances(e, srcs, max_hops=3).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 9: 0}


def test_sssp_unit_weights_equals_bfs(spark):
    from page_rank_mapreduce_java_spark.graph.algorithms import (
        bfs_distances,
        sssp_weighted,
    )

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (0, 10)],
        "src LONG, dst LONG",
    )
    sources = spark.createDataFrame([(0,)], "src LONG")
    bfs = {(r.id, r.dist) for r in bfs_distances(edges, sources, max_hops=4).collect()}
    w1 = edges.withColumn("w", F.lit(1))
    got = {(r.id, r.dist) for r in sssp_weighted(w1, sources, rounds=4).collect()}
    assert got == bfs


def test_sssp_prefers_cheaper_longer_path(spark):
    from page_rank_mapreduce_java_spark.graph.algorithms import sssp_weighted

    # 0 -> 3 direct costs 10; 0 -> 1 -> 2 -> 3 costs 3.
    edges = spark.createDataFrame(
        [(0, 3, 10), (0, 1, 1), (1, 2, 1), (2, 3, 1)],
        "src LONG, dst LONG, w LONG",
    )
    sources = spark.createDataFrame([(0,)], "src LONG")
    got = {(r.id, r.dist) for r in sssp_weighted(edges, sources, rounds=4).collect()}
    assert (3, 3) in got and (2, 2) in got and (1, 1) in got and (0, 0) in got


def test_sssp_rejects_sources_outside_graph(spark):
    from page_rank_mapreduce_java_spark.graph.algorithms import sssp_weighted

    edges = spark.createDataFrame([(0, 1, 1), (1, 2, 1)], "src LONG, dst LONG, w LONG")
    sources = spark.createDataFrame([(7,), (8,)], "src LONG")
    with pytest.raises(ValueError, match="no ids present"):
        sssp_weighted(edges, sources, rounds=2)


def test_hits_three_node_graph(spark):
    # 1->2, 1->3, 2->3. Iteration 1: auth sums (1, 2) -> (1/3, 2/3), hub
    # sums (1, 2/3) -> (3/5, 2/5). Iteration 2: auth sums (3/5, 1) ->
    # (3/8, 5/8), hub sums (1, 5/8) -> (8/13, 5/13).
    from page_rank_mapreduce_java_spark.graph.algorithms import hits

    got = {
        (r.kind, r.id): r.score
        for r in hits(_edges(spark, [(1, 2), (1, 3), (2, 3)]), iterations=2).collect()
    }
    want = {
        ("hub", 1): 8 / 13,
        ("hub", 2): 5 / 13,
        ("auth", 2): 3 / 8,
        ("auth", 3): 5 / 8,
    }
    assert got == pytest.approx(want, rel=1e-12)


def test_hits_rejects_zero_iterations(spark):
    from page_rank_mapreduce_java_spark.graph.algorithms import hits

    with pytest.raises(ValueError, match="iterations"):
        hits(_edges(spark, [(1, 2)]), iterations=0)


# --- FW-BW/coloring SCC vs a pure-Python Kosaraju reference ---------------


def _kosaraju(n_edges):
    """Reference SCC (Kosaraju) over an edge list; returns {node: min
    member id of its SCC}. Pure Python, iterative (no recursion limits)."""
    from collections import defaultdict

    fwd, rev = defaultdict(list), defaultdict(list)
    nodes = set()
    for s, d in n_edges:
        nodes.update((s, d))
        if s != d:
            fwd[s].append(d)
            rev[d].append(s)
    order, seen = [], set()
    for root in nodes:
        if root in seen:
            continue
        stack = [(root, iter(fwd[root]))]
        seen.add(root)
        while stack:
            v, it = stack[-1]
            adv = next(it, None)
            if adv is None:
                order.append(v)
                stack.pop()
            elif adv not in seen:
                seen.add(adv)
                stack.append((adv, iter(fwd[adv])))
    comp = {}
    for root in reversed(order):
        if root in comp:
            continue
        stack, members = [root], [root]
        comp[root] = root
        while stack:
            v = stack.pop()
            for u in rev[v]:
                if u not in comp:
                    comp[u] = root
                    members.append(u)
                    stack.append(u)
        m = min(members)
        for v in members:
            comp[v] = m
    return comp


def _scc_spark(spark, pairs):
    from page_rank_mapreduce_java_spark.graph.algorithms import (
        strongly_connected_components,
    )

    df = spark.createDataFrame(pairs, "src long, dst long")
    return {r.id: r.scc_id for r in strongly_connected_components(df).collect()}


def test_scc_two_cycles_and_bridge(spark):
    # 1->2->3->1 and 10->11->10 with a one-way bridge 3->10.
    pairs = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 10), (3, 10)]
    got = _scc_spark(spark, pairs)
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_scc_pure_dag_all_singletons(spark):
    pairs = [(a, b) for a in range(8) for b in range(8) if a < b]
    got = _scc_spark(spark, pairs)
    assert got == {i: i for i in range(8)}


def test_scc_random_graphs_match_kosaraju(spark):
    """Three adversarial shapes x seeds: sparse G(n,p), a DAG of small
    cliques (many same-size SCCs), and a long cycle with random chords
    (one big high-diameter SCC). Exact partition match with Kosaraju."""
    import random

    shapes = []
    for seed in (7, 23):
        rng = random.Random(seed)
        n = 40
        shapes.append(
            [
                (a, b)
                for a in range(n)
                for b in range(n)
                if a != b and rng.random() < 0.06
            ]
        )
    for seed in (5,):
        rng = random.Random(seed)
        pairs = []
        for c in range(6):  # 6 cliques of 4, chained one-way
            base = c * 4
            ids = list(range(base, base + 4))
            pairs += [(a, b) for a in ids for b in ids if a != b]
            if c:
                pairs.append((base - 4, base))
        shapes.append(pairs)
    for seed in (11,):
        rng = random.Random(seed)
        n = 30
        pairs = [(i, (i + 1) % n) for i in range(n)]
        pairs += [(rng.randrange(n), rng.randrange(n)) for _ in range(10)]
        shapes.append([(a, b) for a, b in pairs if a != b])

    for pairs in shapes:
        got = _scc_spark(spark, pairs)
        want = _kosaraju(pairs)
        assert got == want, (sorted(got.items())[:10], sorted(want.items())[:10])


def test_scc_self_loops_only(spark):
    """Self-loops are dropped before the loop, so every node is trimmed
    in the first outer round: the trim cut observes zero nodes left and
    the outer loop exits on that count."""
    pairs = [(i, i) for i in (3, 1, 7, 20)]
    got = _scc_spark(spark, pairs)
    assert got == _kosaraju(pairs) == {1: 1, 3: 3, 7: 7, 20: 20}


def test_scc_empty_edge_set(spark):
    """No edges: the node cut observes zero rows, no round runs, and the
    result is empty, as in the reference."""
    assert _scc_spark(spark, []) == _kosaraju([]) == {}


def test_scc_agrees_with_doubling_closure_query(spark, sf_dir):
    """The engine operator and q_scc's oracle-checkable doubling closure
    must produce the identical labeling on the corpus graph."""
    from page_rank_mapreduce_java_spark.graph.algorithms import (
        strongly_connected_components,
    )
    from page_rank_mapreduce_java_spark.graph.queries import (
        directed_supplier_edges,
        q_scc,
    )

    want = {r.id: r.scc_id for r in q_scc(spark, sf_dir).collect()}
    got = {
        r.id: r.scc_id
        for r in strongly_connected_components(
            directed_supplier_edges(spark, sf_dir)
        ).collect()
    }
    assert got == want


def test_scc_agrees_on_dense_corpus_graph(spark, sf_dir):
    """FW-BW (registered on the DENSE giant-SCC graph, round 8) agrees
    with the doubling closure on that same graph."""
    from page_rank_mapreduce_java_spark.graph.algorithms import (
        strongly_connected_components,
    )
    from page_rank_mapreduce_java_spark.graph.queries import (
        directed_supplier_edges_dense,
        doubling_scc,
    )

    dense = directed_supplier_edges_dense(spark, sf_dir)
    want = {r.id: r.scc_id for r in doubling_scc(dense).collect()}
    got = {
        r.id: r.scc_id
        for r in strongly_connected_components(dense).collect()
    }
    assert got == want


def test_lpa_two_cliques_bridged(spark):
    """Two 4-cliques joined by a single bridge edge: LPA must separate
    them (each clique converges to its own min label) even though
    connected components would merge everything into one."""
    from page_rank_mapreduce_java_spark.graph.algorithms import (
        connected_components,
        label_propagation,
    )

    def clique(ids):
        return [(a, b) for a in ids for b in ids if a < b]

    pairs = clique([0, 1, 2, 3]) + clique([10, 11, 12, 13]) + [(3, 10)]
    edges = spark.createDataFrame(pairs, "src long, dst long")

    got = {r.id: r.community for r in label_propagation(edges, rounds=3).collect()}
    assert {got[i] for i in (0, 1, 2)} == {0}
    assert {got[i] for i in (11, 12, 13)} == {10}
    # ...while CC sees one component.
    cc = {r.component for r in connected_components(edges).collect()}
    assert cc == {0}
