"""k-truss, deterministic hash walks, and item-item CF sanity tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from page_rank_mapreduce_java_spark.graph.motifs import ktruss


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_ktruss_keeps_clique_drops_pendant(spark):
    # K4 on {1,2,3,4}: every edge in 2 triangles -> survives k=4.
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    # pendant edge + a lone triangle (each edge in exactly 1 triangle)
    extra = [(4, 5), (10, 11), (10, 12), (11, 12)]
    out = {(r.src, r.dst): r.support for r in ktruss(_edges(spark, k4 + extra), k=4).collect()}
    assert set(out) == set(k4)
    assert all(s == 2 for s in out.values())


def test_ktruss_fixpoint_exit_matches_unrolled_peel(spark):
    # The loop exits at the fixpoint its support cut observes; the
    # reference runs every one of the 6 rounds.
    from tests.test_properties_r5 import _python_ktruss

    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5), (1, 4), (2, 4)]
    got = {(r.src, r.dst): r.support for r in ktruss(_edges(spark, edges), k=3, rounds=6).collect()}
    assert got == _python_ktruss(edges, k=3, rounds=6)


def test_hash_walks_deterministic_and_edge_respecting(spark, sf_dir):
    from page_rank_mapreduce_java_spark.graph.queries import (
        cooccurrence_edges,
        q_hash_walks,
    )

    t1 = {(r.walk_id, r.step): r.node for r in q_hash_walks(spark, sf_dir).collect()}
    t2 = {(r.walk_id, r.step): r.node for r in q_hash_walks(spark, sf_dir).collect()}
    assert t1 == t2
    edges = cooccurrence_edges(spark, sf_dir).collect()
    und = {(r.src, r.dst) for r in edges} | {(r.dst, r.src) for r in edges}
    steps = max(s for _, s in t1)
    for (w, s), node in t1.items():
        if s < steps:
            assert (node, t1[(w, s + 1)]) in und


def test_item_item_cosine_identical_items_rank_first(spark):
    """Two items bought by exactly the same users with the same counts
    have cosine 1 (cos2_micro == 1e6) and must rank as each other's top
    neighbor."""
    import page_rank_mapreduce_java_spark.operators.recommend as rec

    inter = spark.createDataFrame(
        [
            (1, 100, 2), (1, 101, 2), (1, 102, 1),
            (2, 100, 3), (2, 101, 3),
            (3, 100, 1), (3, 101, 1), (3, 103, 5),
        ],
        "user_id long, item_id long, c long",
    )
    sims = rec.item_item_topk(inter, k=3).collect()
    # 100 and 101 are identical across users -> perfect cosine
    first_100 = min((r for r in sims if r.item_id == 100), key=lambda r: -r.cos2_micro)
    assert first_100.neighbor_id == 101
    assert first_100.cos2_micro == 1_000_000
