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
  becomes ``DataFrame.observe`` on the checkpoint job that cuts each state:
  the scalar D_t comes back with that job and superstep t+1 reads it as a
  literal, the reference's Counter channel at no extra job;
- lineage is cut every iteration with ``localCheckpoint`` — the #1
  Spark-specific hazard for iterative dataflow (SURVEY.md §4.3).

Measured plan (traced perfbench ``pagerank_chain``: 250k edges, width 4,
10 supersteps, 4-core host). ``pagerank`` plans under
``checkpoints.static_planning``: AQE off and ``spark.sql.shuffle.partitions``
set to the keyed width. The keyed edges, links, the node table
(``repartition(width, "id")``) and every cut state then report
``hashpartitioning(id, width)``, so both joins, hinted ``shuffle_hash``
(links is under the broadcast threshold), read all three relations in
place. The one exchange is the contribution aggregate's, after its
map-side partial sum. A superstep is 1 Spark job, the checkpoint, whose
stages include that exchange; a pass is 14 jobs (4 set-up, 10 cuts), and
nothing node- or edge-sized passes the driver. At width 1 the planner
also re-shuffles the node table and moves the aggregate's exchange above
its final sum (both ``hashpartitioning(id, 1)``), because a cut keeps the
estimate of the plan it cut, a product over the superstep's joins, which
passes ``spark.sql.maxSinglePartitionBytes`` within two supersteps; it is
still 1 job.

Semantics (general form): with damping d (reference: 0.85, Makefile:24) and
N nodes,

    rank'(v) = (1-d)/N + d * (Σ_{u→v} rank(u)/outdeg(u) + D/N)

where D = Σ rank(u) over dangling u (outdeg 0). The reference's update
(pageRank_v2.java:126-127) is this formula with its synthetic graph's
outdeg ≡ 1; see SURVEY.md §2.6 M1 for the divergence note.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from page_rank_mapreduce_java_spark.graph.keyed import keyed_edges
from page_rank_mapreduce_java_spark.plans.checkpoints import (
    cut_lineage,
    observed_cut,
    release,
    static_planning,
    without_partitioning,
)


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

    One action per iteration, the eager checkpoint, which also returns
    the dangling mass through ``observe``; state 0 is the reset vector
    read from the node table, with D_0 from the set-up counts. ``tol``
    adds one L1 action per iteration, a join of the two cut states. Each
    superseded state's blocks are released once the next is cut.

    ``personalize``: optional DataFrame whose first column is a node-id
    source set S. Teleport mass then resets to uniform-over-S instead of
    uniform-over-all (personalized PageRank; dangling mass follows the
    same reset vector). Source ids absent from the graph are ignored.

    Scale: the edges are shuffled once onto the join key (graph/keyed.py)
    and ``links`` is persisted on that partitioning; a superstep ships
    only the contributions' map-side partial sums (module docstring). The
    whole call plans with AQE off and the shuffle width pinned; the confs
    are restored on return, but other threads planning on the same
    session meanwhile see them. The returned ranks report no partitioning
    (``checkpoints.without_partitioning``).

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

    # links: one row per edge with the emitting node's out-degree. AQE is
    # off from here on, so the keyed edges are cached hash-partitioned on
    # src; the per-src degree window needs no exchange and links keeps
    # that partitioning.
    w = F.col(weight_col).cast("double") if weight_col is not None else F.lit(1.0)
    with static_planning(spark), keyed_edges(
        edges.select("src", "dst", w.alias("w")), partitions=partitions
    ) as (ed, width):
        deg = F.sum("w").over(Window.partitionBy("src")).alias("deg")
        links = ed.select(F.col("src").alias("id"), "dst", "w", deg).persist()
        # The node table, keyed like links: an id is dangling iff it is
        # never a source (the reference's sink node 0, pageRank_v2.java:35),
        # and a reset target iff it is in ``personalize``. Ids only in
        # ``personalize`` have a NULL ``dang`` and are dropped.
        ids = [
            links.select("id", F.lit(False).alias("dang"), F.lit(False).alias("reset")),
            links.select(F.col("dst").alias("id"), F.lit(True), F.lit(False)),
        ]
        if personalize is not None:
            first = F.col(personalize.columns[0])
            ids.append(personalize.select(first.alias("id"), F.lit(None), F.lit(True)))
        nodes = (
            reduce(DataFrame.union, ids)
            .repartition(width, "id")
            .groupBy("id")
            .agg(F.bool_and("dang").alias("dang"), F.bool_or("reset").alias("reset"))
            .filter(F.col("dang").isNotNull())
            .persist()
        )
        dang, reset = F.col("dang"), F.col("reset")
        n, n_reset, n_dang, n_dang_reset = nodes.agg(
            F.count("*"), F.count_if(reset), F.count_if(dang), F.count_if(dang & reset)
        ).first()
    with static_planning(spark, width):
        try:
            if n == 0:
                ranks = cut_lineage(nodes.select("id", F.lit(0.0).alias("rank")))
                return PageRankResult(without_partitioning(ranks), 0, 0)
            # dm: the current state's dangling mass, D_0 from the counts.
            if personalize is None:
                p, dm = F.lit(1.0 / n), n_dang / n
            elif n_reset == 0:
                raise ValueError("personalize set has no ids present in the graph")
            else:
                p = F.when(reset, F.lit(1.0 / n_reset)).otherwise(F.lit(0.0))
                dm = n_dang_reset / n_reset
            node = nodes.select("id", p.alias("p"), "dang")
            # The superstep's expressions; only the dm literal is new per
            # superstep. Each cut returns the dangling mass of its state.
            mass = F.sum(F.when(dang, F.col("rank")))
            share = (F.col("rank") * F.col("w") / F.col("deg")).alias("c")
            scatter = [F.col("dst").alias("id"), share]
            gather = F.sum("c").alias("contrib")
            teleport = F.lit(1.0 - damping) * F.col("p")
            received = F.coalesce(F.col("contrib"), F.lit(0.0))
            ranks = node.select("id", F.col("p").alias("rank"))
            result = PageRankResult(ranks=ranks, num_nodes=n, iterations_run=0)
            for it in range(num_iterations):
                # State, links and node share hashpartitioning(id, width):
                # both joins read them in place; only the contributions'
                # partial sums are exchanged.
                contribs = ranks.hint("shuffle_hash").join(links, "id").select(*scatter)
                contribs = contribs.groupBy("id").agg(gather).hint("shuffle_hash")
                rank = teleport + F.lit(damping) * (received + F.lit(dm or 0.0) * F.col("p"))
                new_ranks = node.join(contribs, "id", "left")
                new_ranks = new_ranks.select("id", "dang", rank.alias("rank"))
                k = reliable_checkpoint_every
                reliable = bool(k) and (it + 1) % k == 0
                new_ranks, dm = observed_cut(new_ranks, mass, "dang", reliable)
                result.iterations_run = it + 1
                if tol is not None:
                    delta = (
                        new_ranks.alias("a")
                        .join(ranks.alias("b").hint("shuffle_hash"), "id")
                        .agg(F.sum(F.abs(F.col("a.rank") - F.col("b.rank"))).alias("d"))
                        .first()["d"]
                    )
                    result.l1_deltas.append(delta)
                if it:  # state 0 reads the node table, not a cut
                    release(ranks)
                ranks = new_ranks
                if tol is not None and delta < tol:
                    break
            # The result outlives the node table, so state 0 is cut too;
            # callers get it without the partitioning (checkpoints.py).
            ranks = ranks if result.iterations_run else cut_lineage(ranks)
            result.ranks = without_partitioning(ranks)
            return result
        finally:
            nodes.unpersist()
            links.unpersist()


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
