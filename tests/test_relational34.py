"""Batch-34 addition: the k-core decomposition curve. Value-level
correctness is oracle-gated (tools/check_oracle.py at sf0.001 + sf0.01
under shuffle.partitions 3/17/32); these tests pin the decomposition's
structural laws."""

from __future__ import annotations

from pyspark.sql import functions as F

from page_rank_mapreduce_java_spark.operators.relational34 import (
    KCORE_CURVE_MAX_K,
    q_graph_kcore_decomposition,
)


def test_kcore_curve_is_monotone_and_consistent(spark, sf_dir):
    rows = sorted(
        q_graph_kcore_decomposition(spark, sf_dir).collect(),
        key=lambda r: r.k,
    )
    assert [r.k for r in rows] == list(range(1, KCORE_CURVE_MAX_K + 1))
    sizes = [r.core_size for r in rows]
    masses = [r.core_degree_sum for r in rows]
    # cores are nested: size and edge mass are non-increasing in k
    assert sizes == sorted(sizes, reverse=True)
    assert masses == sorted(masses, reverse=True)
    for r in rows:
        assert r.core_degree_sum % 2 == 0  # 2·|E(core)| exactly
        # every survivor has degree >= k inside the core
        assert r.core_degree_sum >= r.k * r.core_size
    # k=1 core is every non-isolated node of the co-occurrence graph
    from page_rank_mapreduce_java_spark.graph.queries import (
        cooccurrence_edges,
    )

    e = cooccurrence_edges(spark, sf_dir)
    n_nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
        .count()
    )
    assert rows[0].core_size == n_nodes


# Known graph for the fused single-peel curve (round-9 rewrite): a
# 5-clique with a 3-node tail hanging off node 5. Exact curve:
#   k=1: all 8 nodes, degsum 2*13; the tail peels at k=2 (a 3-round
#   synchronous cascade 8 -> 7 -> 6, exercising multi-round peeling
#   AND the chained continuation from the k=1 fixpoint);
#   k=2..4: the clique (size 5, degsum 20); k>=5: empty.
_KNOWN_EDGES = [
    (a, b) for a in range(1, 6) for b in range(a + 1, 6)
] + [(5, 6), (6, 7), (7, 8)]
_KNOWN_CURVE = [
    (1, 8, 26),
    (2, 5, 20),
    (3, 5, 20),
    (4, 5, 20),
    (5, 0, 0),
    (6, 0, 0),
]


def test_kcore_curve_known_graph_spark(spark):
    from page_rank_mapreduce_java_spark.graph.motifs import kcore_curve

    edges = spark.createDataFrame(_KNOWN_EDGES, "src long, dst long")
    rows = sorted(kcore_curve(edges, max_k=6, rounds=8).collect())
    assert [tuple(r) for r in rows] == _KNOWN_CURVE


def test_kcore_curve_known_graph_oracle():
    import duckdb

    from page_rank_mapreduce_java_spark.graph.motifs import kcore_curve_sql

    vals = ", ".join(f"({a}, {b})" for a, b in _KNOWN_EDGES)
    cte = f"SELECT * FROM (VALUES {vals}) AS t(src, dst)"
    rows = sorted(duckdb.sql(kcore_curve_sql(cte, max_k=6, rounds=8)).fetchall())
    assert rows == _KNOWN_CURVE


# The same graph with a 1-round budget per k: k=2's round leaves node 8's
# degree 1 behind (budget exhausted, minimum 1 < 2), so k=3 must peel
# again from {1..7}; node 5 then still counts its edge to 6 (degsum 21),
# and k=4 reaches the clique.
_KNOWN_CURVE_ONE_ROUND = [
    (1, 8, 26),
    (2, 7, 25),
    (3, 5, 21),
    (4, 5, 20),
    (5, 0, 0),
    (6, 0, 0),
]


def _random_edges(seed, n=14, p=0.28):
    import random

    rng = random.Random(seed)
    return [
        (a, b) for a in range(1, n) for b in range(a + 1, n + 1) if rng.random() < p
    ]


def test_kcore_curve_exhausted_budget_matches_oracle(spark):
    """With a 1-round budget most peels stop with nodes below k, so the
    plateau skip must not reuse their vectors; the curve must equal the
    DuckDB oracle's unrolled chain (the seeded graphs also catch a skip
    taken one k early)."""
    import duckdb

    from page_rank_mapreduce_java_spark.graph.motifs import kcore_curve, kcore_curve_sql

    for edges, max_k in ((_KNOWN_EDGES, 6), (_random_edges(7), 4), (_random_edges(23), 4)):
        vals = ", ".join(f"({a}, {b})" for a, b in edges)
        cte = f"SELECT * FROM (VALUES {vals}) AS t(src, dst)"
        want = sorted(duckdb.sql(kcore_curve_sql(cte, max_k=max_k, rounds=1)).fetchall())
        if edges is _KNOWN_EDGES:
            assert want == _KNOWN_CURVE_ONE_ROUND
        df = spark.createDataFrame(edges, "src long, dst long")
        got = sorted(tuple(r) for r in kcore_curve(df, max_k=max_k, rounds=1).collect())
        assert got == want, (edges, got, want)


def test_kcore_curve_equals_per_k_peels_on_random_graphs(spark):
    """Chassis equivalence: the fused chained peel must produce, at
    every k, exactly the (core_size, core_degree_sum) that the
    r2-certified per-k `kcore` fixpoint computes from the full graph —
    the confluence property the round-9 rewrite rests on. Seeded random
    graphs so the check covers shapes the corpus graph doesn't
    (multi-component, self-contained tails, dense pockets)."""
    from page_rank_mapreduce_java_spark.graph.motifs import kcore, kcore_curve

    for seed in (7, 23):
        df = spark.createDataFrame(_random_edges(seed), "src long, dst long")
        got = {
            r.k: (r.core_size, r.core_degree_sum)
            for r in kcore_curve(df, max_k=4, rounds=8).collect()
        }
        for k in range(1, 5):
            core = kcore(df, k=k, rounds=8).collect()
            want = (len(core), sum(r.core_degree for r in core))
            assert got[k] == want, (seed, k, got[k], want)
