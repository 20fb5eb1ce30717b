"""Further iterative graph algorithms on the PageRank engine's chassis.

Same execution skeleton as pagerank.py (SURVEY.md §7: the GraphFrames-style
DataFrame loop = Pregel's gather-sum-apply on Spark): a persisted,
key-partitioned edge relation; per-superstep join + aggregate; lineage cut
per iteration. All state is integer-typed, so results are exactly
reproducible in any engine (and DuckDB-oracle-checkable with an unrolled
CTE chain).

- connected_components: min-label propagation (HashMin, Kiveris et al.'s
  baseline). Converges in graph-diameter supersteps.
- bfs_distances: frontier relaxation producing hop counts from a source
  set (unweighted SSSP).

Scale: identical story to PageRank — edges shuffle once onto the join
key (graph/keyed.py), supersteps re-shuffle only the (id, label/dist)
state vector.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from page_rank_mapreduce_java_spark.graph.keyed import keyed_edges
from page_rank_mapreduce_java_spark.plans.checkpoints import (
    cut_lineage,
    iterate,
    observed_cut,
)


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def connected_components(
    edges: DataFrame,
    max_iterations: int = 10,
) -> DataFrame:
    """Undirected connected components: label = min node id in component.

    Returns DataFrame[id long, component long]. ``max_iterations`` bounds
    the label-propagation rounds; propagation reaches fixpoint once every
    shortest path to its component's minimum is covered (≤ diameter).

    The loop exits after the first round that changes no label; the test
    rides the checkpoint's own job (``iterate``), so it costs no job.
    """
    with keyed_edges(_symmetrize(edges)) as (sym, partitions):
        nodes = sym.select(F.col("src").alias("id")).distinct().repartition(partitions, "id")

        def step(labels: DataFrame) -> DataFrame:
            nbr_min = (
                labels.join(sym, labels.id == sym.src)
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("component").alias("nbr"))
            )
            new = F.least(F.col("component"), F.coalesce("nbr", F.col("component")))
            return labels.join(nbr_min, "id", "left").select(
                "id", new.alias("component"), (new != F.col("component")).alias("_moved")
            )

        labels = cut_lineage(nodes.select("id", F.col("id").alias("component")))
        labels = iterate(labels, step, max_iterations)
    return labels


def hits(
    edges: DataFrame,
    iterations: int = 5,
) -> DataFrame:
    """HITS (Kleinberg'99) hubs-and-authorities with L1 normalization per
    half-step: auth(v) = Σ hub(u) over in-edges, hub(u) = Σ auth(v) over
    out-edges, each vector rescaled to sum 1.

    Returns DataFrame[id long, kind string ('hub'|'auth'), score double] —
    one hub row per node with out-edges, one auth row per node with
    in-edges (a node can be both on general graphs).

    Same chassis as pagerank.py: the edge relation shuffles once and is
    persisted; every half-step moves only a score vector, the L1 scale is
    a broadcast 1-row aggregate inside the same job, and lineage is cut
    once per iteration."""
    ed = edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    ).persist()
    hubs = ed.select(F.col("src").alias("id")).distinct()
    hub = cut_lineage(hubs.select("id", F.lit(1.0).alias("h")))
    auth = None
    for _ in range(iterations):
        ar = (
            hub.join(ed, hub.id == ed.src)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("h").alias("s"))
        )
        at = ar.agg(F.sum("s").alias("t"))
        auth = cut_lineage(ar.join(F.broadcast(at)).select("id", (F.col("s") / F.col("t")).alias("a")))
        hr = (
            auth.join(ed, auth.id == ed.dst)
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("a").alias("s"))
        )
        ht = hr.agg(F.sum("s").alias("t"))
        hub = cut_lineage(hr.join(F.broadcast(ht)).select("id", (F.col("s") / F.col("t")).alias("h")))
    out = hub.select("id", F.lit("hub").alias("kind"), F.col("h").alias("score")).unionByName(
        auth.select("id", F.lit("auth").alias("kind"), F.col("a").alias("score"))
    )
    out = cut_lineage(out)
    ed.unpersist()
    return out


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 6,
) -> DataFrame:
    """Unweighted hop distance from a source id set, following edge
    direction. Unreached nodes get distance -1.

    Returns DataFrame[id long, dist long]. The unit-weight case of
    ``sssp_weighted``: ``max_hops`` min-plus rounds with w = 1.
    """
    return sssp_weighted(
        edges.select("src", "dst", F.lit(1).alias("w")), sources, rounds=max_hops
    )


def sssp_weighted(
    edges: DataFrame,
    sources: DataFrame,
    rounds: int = 4,
) -> DataFrame:
    """Single-source(-set) shortest paths with non-negative integer edge
    weights: ``rounds`` Bellman-Ford min-plus supersteps over the keyed
    edges (``bfs_distances`` is the unweighted special case, w = 1).
    ``edges``: DataFrame[src, dst, w] (w coerced to long). Unreached
    nodes get distance -1; after r rounds distances are exact for all
    shortest paths of <= r edges (the oracle unrolls the identical round
    count, so the comparison holds at any r). The loop exits after the
    first round that lowers no distance, a fixpoint the unrolled oracle
    also lands on; the test rides the checkpoint's job (``iterate``).

    Returns DataFrame[id long, dist long].
    """
    with keyed_edges(
        edges.select("src", "dst", F.col("w").cast("long").alias("w"))
    ) as (ed, partitions):
        nodes = (
            ed.select(F.col("src").alias("id"))
            .unionByName(ed.select(F.col("dst").alias("id")))
            .distinct()
            .repartition(partitions, "id")
        )
        src_ids = (
            sources.select(F.col(sources.columns[0]).alias("id"))
            .distinct()
            .join(nodes, "id", "left_semi")
        )
        if src_ids.first() is None:
            raise ValueError("source set has no ids present in the graph")

        def step(dist: DataFrame) -> DataFrame:
            reached = dist.filter(F.col("dist") >= 0)
            relax = (
                reached.join(ed, reached.id == ed.src)
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min(F.col("dist") + F.col("w")).alias("cand"))
            )
            new = (
                F.when(F.col("dist") < 0, F.coalesce("cand", F.lit(-1)))
                .otherwise(F.least(F.col("dist"), F.coalesce("cand", F.col("dist"))))
                .cast("long")
            )
            return dist.join(relax, "id", "left").select(
                "id", new.alias("dist"), (new != F.col("dist")).alias("_moved")
            )

        dist = cut_lineage(
            nodes.join(src_ids.withColumn("d0", F.lit(0)), "id", "left").select(
                "id", F.coalesce("d0", F.lit(-1)).cast("long").alias("dist")
            )
        )
        dist = iterate(dist, step, rounds)
    return dist


def _live_edges(ed: DataFrame, nodes: DataFrame) -> DataFrame:
    """The cut edges of ``ed`` whose endpoints are both in ``nodes``."""
    return cut_lineage(
        ed.join(nodes.select(F.col("id").alias("src")), "src", "left_semi")
        .join(nodes.select(F.col("id").alias("dst")), "dst", "left_semi")
        .select("src", "dst")
    )


def strongly_connected_components(
    edges: DataFrame,
    max_outer: int = 64,
    max_inner: int = 256,
) -> DataFrame:
    """Strongly connected components via Trim + forward-max coloring +
    backward confirmation (the FW-BW/coloring family: Fleischer-Hendrickson
    -Pinar FW-BW, Orzan's coloring, Slota et al.'s Multistep) — the
    production SCC algorithm at scale, replacing q_scc's doubling closure
    whose intermediate relation is quadratic in component size (VERDICT r3
    directive #3). Every relation this loop moves is node- or edge-linear.

    Returns DataFrame[id long, scc_id long] with scc_id = min member id
    (q_scc's convention), one row per node appearing in ``edges``.

    Per outer round, on the still-unassigned subgraph:
      1. TRIM to fixpoint: a node with no remaining in-edges or no
         remaining out-edges is a singleton SCC (classic trim step —
         most real graphs are dominated by these).
      2. COLOR forward to fixpoint: color(v) = max id that reaches v
         (init color = own id; propagate max along edges). Each color
         class is closed under reachability-from-root, so distinct SCCs
         sharing a color are impossible unless the root can reach them.
      3. CONFIRM backward within color: starting from each root
         (color(v) == v), walk edges BACKWARD restricted to same-color
         nodes; confirmed nodes both reach and are reached by their
         root => they form root's SCC. All colors run in the same
         superstep jobs — this is coloring's advantage over single-pivot
         FW-BW: every outer round peels ONE SCC PER COLOR ROOT, not one
         SCC total.
      4. Assign confirmed nodes scc_id = min member id of their color
         class, remove them, restrict edges, repeat.

    Chassis identical to connected_components: edges shuffled once onto
    their join key (graph/keyed.py), then trimmed to the live subgraph
    each outer round; supersteps move only (id, color/mark) vectors;
    lineage cut per step. The coloring and confirmation fixpoints exit
    through ``iterate``; the trim and outer loops exit on the row counts
    their node cuts observe (``observed_cut``). No loop exit costs a
    Spark job of its own. Rounds are
    data-dependent (max_outer/max_inner are safety bounds ~ graph
    diameter, not tuning knobs), which is exactly why this form trades
    away the unrolled-SQL oracle — q_scc's fixed-round doubling closure
    stays registered as the cross-engine-checkable formulation, and
    tests/test_graph_algorithms.py proves the two agree.
    """
    ed0 = (
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    with keyed_edges(ed0) as (ed, partitions):
        all_nodes = (
            edges.select(F.col("src").cast("long").alias("id"))
            .unionByName(edges.select(F.col("dst").cast("long").alias("id")))
            .distinct()
            .repartition(partitions, "id")
        )

        count = F.count(F.lit(1))
        nodes, n = observed_cut(all_nodes, count)
        found: list[DataFrame] = []  # cut [id, scc_id] pieces, unioned at the end

        for _ in range(max_outer):
            if not n:
                break

            # --- 1. trim singleton SCCs to fixpoint ----------------------
            for _ in range(max_inner):
                has_out = ed.select(F.col("src").alias("id"))
                has_in = ed.select(F.col("dst").alias("id"))
                core, n_core = observed_cut(
                    nodes.join(has_out.distinct(), "id", "left_semi")
                    .join(has_in.distinct(), "id", "left_semi"),
                    count,
                )
                if n_core == n:
                    break
                trimmed = nodes.join(core, "id", "left_anti")
                found.append(cut_lineage(trimmed.select("id", F.col("id").alias("scc_id"))))
                nodes, n = core, n_core
                ed = _live_edges(ed, nodes)
            if not n:
                break

            # --- 2. forward max-coloring to fixpoint ---------------------
            def color_step(color: DataFrame) -> DataFrame:
                nbr = (
                    color.join(ed, color.id == ed.src)
                    .groupBy(F.col("dst").alias("id"))
                    .agg(F.max("color").alias("c"))
                )
                new = F.greatest(F.col("color"), F.coalesce("c", F.col("color")))
                return color.join(nbr, "id", "left").select(
                    "id", new.alias("color"), (new != F.col("color")).alias("_moved")
                )

            color = cut_lineage(nodes.select("id", F.col("id").alias("color")))
            color = iterate(color, color_step, max_inner)

            # --- 3. backward confirmation within each color --------------
            def confirm_step(mark: DataFrame) -> DataFrame:
                reach = (
                    mark.filter("m")
                    .join(ed, mark.id == ed.dst)
                    .select(F.col("src").alias("id"), F.col("color").alias("vc"))
                    .distinct()
                )
                newly = (
                    mark.filter(~F.col("m"))
                    .join(reach, "id")
                    .filter(F.col("color") == F.col("vc"))
                    .select("id", F.lit(True).alias("_moved"))
                )
                hit = F.coalesce("_moved", F.lit(False))
                return mark.join(newly, "id", "left").select(
                    "id", "color", (F.col("m") | hit).alias("m"), hit.alias("_moved")
                )

            mark = cut_lineage(
                color.select(
                    "id", "color", (F.col("id") == F.col("color")).alias("m")
                )
            )
            mark = iterate(mark, confirm_step, max_inner)

            members = mark.filter("m").select("id", "color")
            scc_lbl = members.groupBy("color").agg(F.min("id").alias("scc_id"))
            found.append(
                cut_lineage(members.join(scc_lbl, "color").select("id", "scc_id"))
            )

            # --- 4. peel confirmed nodes and their edges -----------------
            nodes, n = observed_cut(
                nodes.join(members.select("id"), "id", "left_anti"), count
            )
            ed = _live_edges(ed, nodes)

    if not found:
        return all_nodes.select("id", F.col("id").alias("scc_id"))
    return reduce(DataFrame.unionByName, found)


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al.'07) for community
    detection over the symmetrized edge set, made DETERMINISTIC: each
    round every node adopts the most frequent label among its neighbors,
    ties broken by the minimum label (the classic async coin-flip variant
    is not reproducible; min-tiebreak synchronous LPA is, and is what an
    unrolled SQL oracle can mirror). A FIXED round count — LPA has no
    fixpoint guarantee (labels can oscillate on bipartite-ish structure),
    so bounded rounds are the algorithm, not a compromise. A round that
    changes no label is a fixpoint (the step is deterministic), so the
    loop exits there through ``iterate`` at no extra job.

    Returns DataFrame[id long, community long] (community = final label).

    Chassis: edges shuffled once onto the join key (graph/keyed.py); each
    round moves one (id, label) vector through a count aggregate keyed
    on (node, label) — bounded by degree sum — then a per-node argmax.
    The argmax is NOT a window (Window.partitionBy(id) serializes a hub
    node's label counts through one task and cannot pre-aggregate): it
    is max(struct(count, -label)) — struct ordering compares count
    first, then -label, so the max is exactly 'highest count, ties to
    the MINIMUM label', and as a plain aggregate it partial-aggregates
    map-side and rides AQE skew handling. Lineage cut per round.
    Distinct from connected_components: HashMin converges to components
    regardless of density, LPA finds denser-than-cut groups INSIDE a
    component.
    """
    with keyed_edges(_symmetrize(edges)) as (sym, partitions):
        nodes = sym.select(F.col("src").alias("id")).distinct().repartition(partitions, "id")
        def step(labels: DataFrame) -> DataFrame:
            counts = (
                labels.join(sym, labels.id == sym.src)
                .groupBy(F.col("dst").alias("id"), F.col("label"))
                .agg(F.count(F.lit(1)).alias("c"))
            )
            best = (
                counts.groupBy("id")
                .agg(F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias("m"))
                .select("id", (-F.col("m.nl")).alias("new"))
            )
            new = F.coalesce("new", F.col("label"))
            return labels.join(best, "id", "left").select(
                "id", new.alias("label"), (new != F.col("label")).alias("_moved")
            )

        labels = cut_lineage(nodes.select("id", F.col("id").alias("label")))
        labels = iterate(labels, step, rounds)
    return labels.select("id", F.col("label").alias("community"))
