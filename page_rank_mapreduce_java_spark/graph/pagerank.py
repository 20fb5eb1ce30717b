"""Iterative PageRank, Spark-first.

The reference (pageRank_v2.java, see SURVEY.md §2-3) runs one MapReduce job
per iteration, circulating the adjacency list through every shuffle to avoid
a join, and feeding the dangling mass back through a Hadoop Counter. The
Spark-idiomatic plan replaces all of that:

- the adjacency ("links") DataFrame is computed once from the keyed edges
  (graph/keyed.py: hash-partitioned on ``src``) and persisted —
  circulation (reference pageRank_v2.java:141,160) is unnecessary because
  executors keep it resident;
- the per-iteration scatter+gather is one join + one aggregation
  (``ranks ⋈ links`` on id, then ``groupBy(dst).sum``), which is exactly the
  GraphX/GraphFrames triplet step (Gonzalez et al., OSDI'14);
- the dangling-mass counter (reference pageRank_v2.java:216-222, :79-83)
  becomes a broadcast 1-row aggregate folded into the same per-iteration
  action (no driver round-trip; the reference needed a counter RPC per job);
- lineage is cut every iteration with ``localCheckpoint`` — the #1
  Spark-specific hazard for iterative dataflow (SURVEY.md §4.3). The
  checkpoint doubles as the one action that executes the iteration. That
  is one action, not one job: under AQE every shuffle stage runs as its
  own job, so the traced perfbench ``pagerank_chain`` run (250k edges, 4
  partitions, 10 supersteps, 4-core host) counts 86 Spark jobs for its 11
  lineage cuts.

Scale notes (100 TB design point): ranks and links are co-partitioned on
the join key with the same partition count, so the per-iteration join
reshuffles only the (small) ranks side; the links side is shuffled once at
setup. Contributions aggregate map-side first (hash aggregate partial).
No driver-side collections anywhere except the two scalars (N, dangling
mass) per iteration.

Semantics (general form): with damping d (reference: 0.85, Makefile:24) and
N nodes,

    rank'(v) = (1-d)/N + d * (Σ_{u→v} rank(u)/outdeg(u) + D/N)

where D = Σ rank(u) over dangling u (outdeg 0). The reference's update
(pageRank_v2.java:126-127) is this formula with its synthetic graph's
outdeg ≡ 1; see SURVEY.md §2.6 M1 for the divergence note.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from page_rank_mapreduce_java_spark.graph.keyed import keyed_edges
from page_rank_mapreduce_java_spark.plans.checkpoints import cut_lineage


@dataclass
class PageRankResult:
    ranks: DataFrame  # id LONG, rank DOUBLE
    num_nodes: int
    iterations_run: int
    l1_deltas: list[float] = field(default_factory=list)


def pagerank(
    edges: DataFrame,
    num_iterations: int = 10,
    damping: float = 0.85,
    tol: float | None = None,
    partitions: int | None = None,
    personalize: DataFrame | None = None,
    reliable_checkpoint_every: int = 0,
    weight_col: str | None = None,
) -> PageRankResult:
    """Damped PageRank with dangling-mass redistribution over an edge list.

    ``edges``: DataFrame[src long, dst long]. Self-loops and duplicate
    edges are kept (duplicates weight the contribution, matching the
    multigraph reading of an edge list); pass ``edges.distinct()`` for
    simple-graph semantics.

    ``weight_col``: optional edge-weight column — each node scatters
    ``rank·w/Σw_out`` instead of ``rank/out_degree`` (weighted PageRank).
    Unweighted runs use a constant 1.0 weight through the same code path:
    for integral degrees the arithmetic (÷count vs ·1.0÷Σ1.0) is
    IEEE-identical, so existing unweighted results are bit-stable.

    One action per iteration: the dangling 1-row aggregate rides the
    plan as a broadcast, and the eager localCheckpoint executes it.
    ``tol`` adds one small action per iteration.

    ``personalize``: optional DataFrame whose first column is a node-id
    source set S. Teleport mass then resets to uniform-over-S instead of
    uniform-over-all (personalized PageRank; dangling mass follows the
    same reset vector). Source ids absent from the graph are ignored.

    Scale: the edges are shuffled once onto the join key (graph/keyed.py)
    and ``links`` is persisted on that partitioning —
    iterations re-shuffle only the rank vector (8·N bytes·3 cols), never
    the edges. Contribution sums aggregate map-side before the exchange.

    ``reliable_checkpoint_every=k``: every k-th iteration cuts lineage
    with a RELIABLE ``checkpoint()`` to the session's checkpoint dir
    instead of ``localCheckpoint``. localCheckpoint blocks live on
    executors — on a real cluster losing ANY executor after iteration 1
    kills the job; the reliable cadence bounds recomputation to k
    supersteps at the cost of a checkpoint-dir write per cadence. Requires
    ``spark.sparkContext.setCheckpointDir(...)``.
    """
    spark = edges.sparkSession
    if reliable_checkpoint_every and spark.sparkContext.getCheckpointDir() is None:
        raise ValueError(
            "reliable_checkpoint_every requires "
            "spark.sparkContext.setCheckpointDir(<fault-tolerant path>)"
        )

    # links: one row per edge with the emitting node's out-degree. The
    # keyed edges are already hash-partitioned on src, so the per-src
    # degree window needs no exchange and links inherits the partitioning
    # every iteration's join reuses. Everything else (nodes, dangling set)
    # derives from the persisted links so an expensive upstream edge
    # computation runs exactly once.
    w = (
        F.col(weight_col).cast("double") if weight_col is not None else F.lit(1.0)
    )
    with keyed_edges(
        edges.select("src", "dst", w.alias("w")), partitions=partitions
    ) as (ed, partitions):
        links = ed.select(
            F.col("src").alias("id"),
            "dst",
            "w",
            F.sum("w").over(Window.partitionBy("src")).alias("deg"),
        ).persist()
        nodes = (
            links.select("id")
            .unionByName(links.select(F.col("dst").alias("id")))
            .distinct()
            .repartition(partitions, "id")
            .persist()
        )
        n = nodes.count()
    if n == 0:
        empty = nodes.withColumn("rank", F.lit(0.0)).localCheckpoint(eager=True)
        links.unpersist()
        nodes.unpersist()
        return PageRankResult(ranks=empty, num_nodes=0, iterations_run=0)

    # Dangling = nodes with no out-edges (the reference's sink node 0 is the
    # special case; reference pageRank_v2.java:35,216-222).
    dangling = nodes.join(links.select("id"), "id", "left_anti").persist()

    # Reset-probability vector p: uniform, or uniform-over-sources when
    # personalized. Co-partitioned with nodes; joined every superstep.
    if personalize is not None:
        srcs = (
            personalize.select(F.col(personalize.columns[0]).alias("id"))
            .distinct()
            .join(nodes, "id", "left_semi")
        )
        n_src = srcs.count()
        if n_src == 0:
            raise ValueError("personalize set has no ids present in the graph")
        pvec = (
            nodes.join(srcs.withColumn("p0", F.lit(1.0 / n_src)), "id", "left")
            .select("id", F.coalesce("p0", F.lit(0.0)).alias("p"))
            .repartition(partitions, "id")
            .persist()
        )
    else:
        # A constant column over the persisted nodes: nothing to cache.
        pvec = nodes.select("id", F.lit(1.0 / n).alias("p"))

    ranks = cut_lineage(pvec.select("id", F.col("p").alias("rank")))

    result = PageRankResult(ranks=ranks, num_nodes=n, iterations_run=0)

    for it in range(num_iterations):
        # 1-row dangling-mass aggregate, broadcast into the update — stays
        # inside this iteration's one action (contrast: the reference's
        # Counter needed a job boundary + client RPC to move this scalar).
        d_df = (
            ranks.join(dangling, "id", "left_semi")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )

        contribs = (
            ranks.join(links, "id")
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") * F.col("w") / F.col("deg")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("contrib"))
        )
        new_ranks = (
            pvec.join(contribs, "id", "left")
            .crossJoin(F.broadcast(d_df))
            .select(
                "id",
                (
                    F.lit(1.0 - damping) * F.col("p")
                    + F.lit(damping)
                    * (F.coalesce(F.col("contrib"), F.lit(0.0)) + F.col("dm") * F.col("p"))
                ).alias("rank"),
            )
        )
        # The one action per iteration; reliable on the cadence boundary.
        reliable = bool(
            reliable_checkpoint_every and (it + 1) % reliable_checkpoint_every == 0
        )
        new_ranks = cut_lineage(new_ranks, reliable=reliable)

        if tol is not None:
            delta = (
                new_ranks.alias("a")
                .join(ranks.alias("b"), "id")
                .agg(F.sum(F.abs(F.col("a.rank") - F.col("b.rank"))).alias("d"))
                .first()["d"]
            )
            result.l1_deltas.append(delta)
            ranks = new_ranks
            result.iterations_run = it + 1
            if delta < tol:
                break
        else:
            ranks = new_ranks
            result.iterations_run = it + 1

    result.ranks = ranks
    nodes.unpersist()
    links.unpersist()
    dangling.unpersist()
    pvec.unpersist()
    return result


def reference_init_state(edges: DataFrame, k: int) -> DataFrame:
    """The reference's *init pass* ("Links-Ranks-Gen" job) as typed state.

    Reproduces the semantics pinned by the golden output
    (reference output/check3/part-r-00000): uniform init rank 1/k², each
    node scatters its FULL rank to each out-neighbor (no out-degree
    division — reference pageRank_v2.java:163; valid on its graph where
    outdeg ≡ 1), chain heads get explicit contrib 0.0, and the sink node 0
    is excluded from the output (its mass goes to the dangling counter).

    Returns DataFrame[id long, rank double, contrib double, out array<long>]
    sorted by id (the MR shuffle's LongWritable key order, SURVEY §2.7 O1).
    """
    n = k * k
    init = 1.0 / n
    contribs = (
        edges.groupBy(F.col("dst").alias("id"))
        .agg(F.sum(F.lit(init)).alias("contrib"))
    )
    adjacency = edges.groupBy(F.col("src").alias("id")).agg(
        F.array_sort(F.collect_set("dst")).alias("out")
    )
    return (
        adjacency.join(contribs, "id", "left")
        .select(
            "id",
            F.lit(init).alias("rank"),
            F.coalesce("contrib", F.lit(0.0)).alias("contrib"),
            "out",
        )
        .filter(F.col("id") != 0)
        .orderBy("id")
    )


def reference_dangling_mass(edges: DataFrame, k: int) -> float:
    """Init-pass dangling mass: total contribution arriving at sink node 0
    (the value the reference routes into Counters.DanglingMass,
    pageRank_v2.java:216-222)."""
    n = k * k
    row = (
        edges.filter(F.col("dst") == 0)
        .agg(F.sum(F.lit(1.0 / n)).alias("m"))
        .first()
    )
    return row["m"] or 0.0
