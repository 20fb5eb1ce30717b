"""Relational/analytics surface, batch 34 (round 8 growth, final
wave): the k-core decomposition curve — core size and internal edge
mass for k = 1..6, computed in ONE chained peel (round-9 rewrite of
the round-8 six-independent-fixpoints shape, per VERDICT r8 #3).

Beyond-reference extension surface (SURVEY §2.9 / LLM-pipeline family).
Registered after the round-8 audit window filled; enters the round-9
window with this fused plan.

Exactness: pure integer counting over the chained peeling fixpoints
(the graph_kcore contract — a peel exits at the fixpoint the unrolled
oracle also lands on; both sides share the per-k rounds budget, so even
a non-converged k is bit-identical)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from page_rank_mapreduce_java_spark.graph.motifs import kcore_curve, kcore_curve_sql
from page_rank_mapreduce_java_spark.graph.queries import (
    COOC_EDGES_SQL,
    cooccurrence_edges,
)

KCORE_CURVE_MAX_K = 6
KCORE_CURVE_ROUNDS = 8


def q_graph_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-core decomposition curve of the supplier co-occurrence
    graph: for each k = 1..6, how many nodes survive k-core peeling
    and how much internal edge mass they retain — the cohesion profile
    in one relation (graph_kcore reports the single k=3 shell; the
    CURVE is what locates the graph's degeneracy and how abruptly the
    dense nucleus shears off). Output per k:
    (k, core_size, core_degree_sum) — core_degree_sum = 2·|E(core)|.

    Scale shape: ONE chained peel computes the whole curve
    (graph/motifs.kcore_curve).
    """
    edges = cooccurrence_edges(spark, sf_dir)
    return kcore_curve(edges, max_k=KCORE_CURVE_MAX_K, rounds=KCORE_CURVE_ROUNDS)


QUERIES = {
    "graph_kcore_decomposition": q_graph_kcore_decomposition,
}

ORACLES = {
    "graph_kcore_decomposition": kcore_curve_sql(
        COOC_EDGES_SQL, max_k=KCORE_CURVE_MAX_K, rounds=KCORE_CURVE_ROUNDS
    ),
}
