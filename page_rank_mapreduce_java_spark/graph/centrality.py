"""Sampled stress centrality — the integer-exact member of the
betweenness family (Shimbel 1953; the Brandes 2001 two-phase
accumulation, counting paths instead of summing fractional pair
dependencies).

stress(v) = Σ_{s,t} σ_st(v): the number of shortest s→t paths passing
through v as an INTERIOR vertex. Betweenness divides each term by
σ_st — a ratio whose floating accumulation is summation-order-dependent
and therefore violates this repo's partition-invariance bar (see
tests/test_determinism.py); stress keeps the identical two-phase
structure with pure BIGINT arithmetic, so results are bit-exact on any
partitioning and exactly oracle-mirrorable.

Algorithm (per sampled source s, all sources batched in one DataFrame
keyed by ``s`` — S sources cost one superstep sequence, not S):

- forward, level-synchronous BFS: level l+1 = neighbors of level l not
  yet visited for that source; σ(s,v) = Σ σ over level-l predecessors
  (level-synchronous BFS puts EVERY shortest-path predecessor of a
  level-(l+1) node exactly at level l, so one grouped sum per level is
  the complete path count);
- backward: g(s,v) = Σ_{w ∈ DAG-succ(v)} (1 + g(s,w)) = number of
  shortest-path continuations from v (the "+1" counts the path ending
  at w itself, g(w) the ones continuing past it), accumulated from the
  deepest level upward;
- stress(v) = Σ_s σ(s,v)·g(s,v) over levels ≥ 1 (a level-0 row is v=s,
  where v is an endpoint, not interior).

Scale shape: identical to the BFS chassis (graph/algorithms.py) — per
level one frontier⋈edges join keyed on the node id plus one (s, id)
grouped sum; state is frontier-sized × |sources|, never edge-sized;
``max_depth`` bounds the rounds (the oracle unrolls the same depth, so
truncation is part of the certified semantics, as with BFS_HOPS /
SSSP_ROUNDS). Sampling sources is the standard scale lever for
betweenness-family centralities (Brandes–Pich 2007): cost is linear in
|sources| with an unbiased rank estimate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from page_rank_mapreduce_java_spark.graph.keyed import keyed_edges
from page_rank_mapreduce_java_spark.plans.checkpoints import cut_lineage


def _sigma_levels(
    sym: DataFrame, sources: DataFrame, max_depth: int
) -> list[DataFrame]:
    """Forward pass shared by stress and betweenness: ``levels[l]`` is
    DataFrame[s, id, sigma] for the nodes at distance ``l`` from source
    ``s``, with ``sigma`` = the number of shortest s→id paths (BIGINT).
    ``sym`` must be the keyed edge relation."""
    lvl0 = cut_lineage(
        sources.select(
            F.col("src").alias("s"),
            F.col("src").alias("id"),
            F.lit(1).cast("long").alias("sigma"),
        )
    )
    levels = [lvl0]
    # ``visited`` is only ever a union of already-checkpointed levels, so
    # it needs no cut of its own (one eager job per level saved): the
    # union lineage is depth-bounded by max_depth and each leg scans a
    # checkpoint.
    visited = lvl0.select("s", "id")
    for _ in range(max_depth):
        prev = levels[-1]
        cand = (
            prev.join(sym, prev.id == sym.src)
            .select("s", F.col("dst").alias("id"), "sigma")
            .groupBy("s", "id")
            .agg(F.sum("sigma").alias("sigma"))
        )
        nxt = cut_lineage(cand.join(visited, ["s", "id"], "left_anti"))
        levels.append(nxt)
        visited = visited.unionByName(nxt.select("s", "id"))
    return levels


def _accumulate(
    sym: DataFrame,
    levels: list[DataFrame],
    term: Column,
    total: Column,
    name: str,
) -> DataFrame:
    """Backward pass shared by stress and betweenness, deepest level up:
    acc(s,v) = Σ_{w ∈ DAG-succ(v)} ``term``, where ``term`` reads
    ``sv``/``sw`` (σ of v and w) and ``aw`` (acc of w). Then ``total``
    (over ``sigma`` and ``acc``) sums per node over levels ≥ 1 — a
    level-0 row is v = s, an endpoint, not interior. Returns
    DataFrame[id, <name>] over every node of ``sym`` (0 where never
    interior), checkpointed so the caller may release the keyed edges."""
    max_depth = len(levels) - 1
    above = levels[max_depth].select(
        "s", "id", "sigma", F.lit(0).cast("long").alias("acc")
    )
    interior = above
    for l in range(max_depth - 1, -1, -1):
        cur = levels[l]
        succ = (
            cur.select("s", F.col("id").alias("v"), F.col("sigma").alias("sv"))
            .join(sym, F.col("v") == sym.src)
            .select("s", "v", "sv", F.col("dst").alias("w"))
            .join(
                above.select(
                    "s",
                    F.col("id").alias("w"),
                    F.col("sigma").alias("sw"),
                    F.col("acc").alias("aw"),
                ),
                ["s", "w"],
            )
            .groupBy("s", F.col("v").alias("id"))
            .agg(F.sum(term).alias("acc"))
        )
        above = cut_lineage(
            cur.join(succ, ["s", "id"], "left").select(
                "s",
                "id",
                "sigma",
                F.coalesce("acc", F.lit(0)).cast("long").alias("acc"),
            )
        )
        if l > 0:
            interior = interior.unionByName(above)
    per_node = interior.groupBy("id").agg(total.alias(name))
    nodes = sym.select(F.col("src").alias("id")).distinct()
    return cut_lineage(
        nodes.join(per_node, "id", "left").select(
            "id", F.coalesce(name, F.lit(0)).cast("long").alias(name)
        )
    )


def stress_centrality_sampled(
    sym: DataFrame,
    sources: DataFrame,
    max_depth: int = 4,
    cache_key: str | None = None,
) -> DataFrame:
    """Exact depth-bounded stress centrality over the sampled sources.

    ``sym``: symmetrized simple edge relation DataFrame[src, dst]
    (distinct pairs — parallel edges would double-count paths).
    ``sources``: DataFrame[src]. Returns DataFrame[id, stress] covering
    every node of ``sym`` (0 where never interior).
    """
    with keyed_edges(sym.select("src", "dst"), memo=cache_key) as (sym, _):
        levels = _sigma_levels(sym, sources, max_depth)
        return _accumulate(
            sym,
            levels,
            F.col("aw") + 1,
            F.sum(F.col("sigma") * F.col("acc")),
            "stress",
        )


def betweenness_sampled(
    sym: DataFrame,
    sources: DataFrame,
    max_depth: int = 4,
    scale: int = 10_000,
    cache_key: str | None = None,
) -> DataFrame:
    """Depth-bounded, source-sampled betweenness centrality (Brandes
    2001 two-phase accumulation; Brandes–Pich 2007 source sampling) —
    the FRACTIONAL member of the family next to stress_centrality_
    sampled's integer path counts.

    Brandes' dependency δ(v) = Σ_{w ∈ DAG-succ(v)} σ(v)/σ(w)·(1+δ(w))
    sums true rationals, and floating accumulation of those ratios is
    summation-order-dependent — the reason this repo shipped stress
    first. The determinism fix is the money convention transplanted to
    rank space: δ is carried as a BIGINT in 1/scale units and every
    edge contribution rounds ONCE through integer division,

        δ_fp(v) = Σ_w (σ(v) · (scale + δ_fp(w))) div σ(w),

    which both engines evaluate bit-identically in any summation order
    (integer sums commute; the div happens at a fixed place in the
    level recursion, not "at the end"). σ(v) ≤ σ(w) along DAG edges
    (σ(w) sums over ALL its predecessors), so each term is ≤
    scale + δ_fp(w) and the per-term floor error is < 1 unit; the
    result is betweenness in 1/scale units with a deterministic,
    documented rounding — a SKETCH-grade rank statistic, not the exact
    rational (which no fixed-width engine returns anyway).

    Overflow: the product σ(v)·(scale + δ_fp(w)) is the widest value.
    Both engines run it in BIGINT with loud overflow (Spark under the
    pinned ANSI mode, DuckDB natively), so a graph that exceeds int64
    headroom FAILS rather than silently wrapping; tests pin the
    measured headroom at the certified SFs.

    ``sym``: symmetrized simple edge relation DataFrame[src, dst];
    ``sources``: DataFrame[src]. Returns DataFrame[id, betweenness_fp]
    over every node of ``sym`` (0 where never interior), fp = 1/scale
    units, endpoints excluded exactly as in stress.

    Scale shape: identical to stress_centrality_sampled — per level one
    frontier⋈edges join + one (s, id) grouped sum each way; state is
    frontier-sized × |sources|, never edge-sized.
    """
    with keyed_edges(sym.select("src", "dst"), memo=cache_key) as (sym, _):
        levels = _sigma_levels(sym, sources, max_depth)
        return _accumulate(
            sym,
            levels,
            F.expr(f"(sv * ({scale} + aw)) div sw"),
            F.sum("acc"),
            "betweenness_fp",
        )


def labeled_bfs_levels(
    sym: DataFrame,
    sources: DataFrame,
    max_depth: int = 4,
    cache_key: str | None = None,
) -> DataFrame:
    """Per-source BFS level labels: DataFrame[s, id, level] with level =
    d(s, id) ∈ [0, max_depth], one row per (source, first-visited node)
    — the shared forward pass of the distance-centrality family
    (harmonic/closeness, eccentricity, mean path length), identical to
    ``_sigma_levels`` minus the path counts. It keeps its own pass on
    purpose: carrying σ would let those distance queries fail on a
    BIGINT overflow under ANSI mode, which they cannot do without it.

    ``sym``: symmetrized simple edge relation DataFrame[src, dst];
    ``sources``: DataFrame[src]. Scale shape: one frontier⋈edges join
    per level keyed on the node id + a (s, id) anti-join against the
    visited set; state is visited-sized × |sources|, never edge-sized.
    The edge cache is released before returning (result materialized
    via localCheckpoint first).
    """
    with keyed_edges(sym.select("src", "dst"), memo=cache_key) as (sym, _):
        lvl = cut_lineage(
            sources.select(
                F.col("src").alias("s"),
                F.col("src").alias("id"),
                F.lit(0).cast("long").alias("level"),
            )
        )
        out = lvl
        # The union of checkpointed levels needs no cut (see _sigma_levels).
        visited = lvl.select("s", "id")
        for depth in range(1, max_depth + 1):
            cand = (
                lvl.join(sym, lvl.id == sym.src)
                .select("s", F.col("dst").alias("id"))
                .distinct()
            )
            nxt = cut_lineage(
                cand.join(visited, ["s", "id"], "left_anti").withColumn(
                    "level", F.lit(depth).cast("long")
                )
            )
            out = out.unionByName(nxt)
            visited = visited.unionByName(nxt.select("s", "id"))
            lvl = nxt
        return cut_lineage(out)
