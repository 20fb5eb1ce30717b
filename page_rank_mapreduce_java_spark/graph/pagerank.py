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
10 supersteps, 4-core host). Under AQE a cut state reports
``UnknownPartitioning``, and links (7.6 MB) and the contribution aggregate
fall below the broadcast threshold, so planner-chosen joins would collect
both to the driver and broadcast them every superstep (7 Spark jobs).
Both joins are hinted ``shuffle_hash`` instead: the cut state is
re-shuffled onto links' partitioning, and the contributions leave through
the aggregate's own exchange (after its map-side partial sum) at
``spark.sql.shuffle.partitions``, the width the node table is keyed on;
links and the node table are read in place. A superstep is 3 jobs (the
rank exchange, the contribution exchange, the checkpoint), 44 per pass of
11 cuts, and nothing node- or edge-sized passes the driver. At width 1
Spark plans links as a single partition, and it re-shuffles a
single-partition join side to ``spark.sql.shuffle.partitions`` once the
planner's size estimate passes ``spark.sql.maxSinglePartitionBytes``. A
cut keeps the estimate of the plan it cut, a product over the superstep's
joins, which passes that bound within two supersteps, so below ~75k edges
links is re-shuffled every superstep (4 jobs).

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
from page_rank_mapreduce_java_spark.plans.checkpoints import cut_lineage, observed_cut


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
    the dangling mass through ``observe``. ``tol`` adds one L1 action per
    iteration, a shuffle join of the two cut states.

    ``personalize``: optional DataFrame whose first column is a node-id
    source set S. Teleport mass then resets to uniform-over-S instead of
    uniform-over-all (personalized PageRank; dangling mass follows the
    same reset vector). Source ids absent from the graph are ignored.

    Scale: the edges are shuffled once onto the join key (graph/keyed.py)
    and ``links`` is persisted on that partitioning; each superstep
    re-shuffles the rank vector and the contributions' map-side partial
    sums, never the edges (see the module docstring for the plan and its
    width-1 case).

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
    # degree window needs no exchange and links keeps that partitioning.
    w = (
        F.col(weight_col).cast("double") if weight_col is not None else F.lit(1.0)
    )
    with keyed_edges(
        edges.select("src", "dst", w.alias("w")), partitions=partitions
    ) as (ed, _):
        links = ed.select(
            F.col("src").alias("id"),
            "dst",
            "w",
            F.sum("w").over(Window.partitionBy("src")).alias("deg"),
        ).persist()
        # The node table, keyed where the contribution aggregate lands: an
        # id is dangling iff it is never a source (the reference's sink
        # node 0, pageRank_v2.java:35), and a reset target iff it is in
        # ``personalize``. Ids only in ``personalize`` have a NULL ``dang``
        # and are dropped.
        ids = [
            links.select("id", F.lit(False).alias("dang"), F.lit(False).alias("reset")),
            links.select(F.col("dst").alias("id"), F.lit(True), F.lit(False)),
        ]
        if personalize is not None:
            first = F.col(personalize.columns[0])
            ids.append(personalize.select(first.alias("id"), F.lit(None), F.lit(True)))
        nodes = (
            reduce(DataFrame.union, ids)
            .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")), "id")
            .groupBy("id")
            .agg(F.bool_and("dang").alias("dang"), F.bool_or("reset").alias("reset"))
            .filter(F.col("dang").isNotNull())
            .persist()
        )
        n, n_reset = nodes.agg(F.count("*"), F.count_if("reset")).first()
    try:
        if n == 0:
            return PageRankResult(
                ranks=cut_lineage(nodes.select("id", F.lit(0.0).alias("rank"))),
                num_nodes=0,
                iterations_run=0,
            )
        if personalize is None:
            p = F.lit(1.0 / n)
        elif n_reset == 0:
            raise ValueError("personalize set has no ids present in the graph")
        else:
            p = F.when(F.col("reset"), F.lit(1.0 / n_reset)).otherwise(F.lit(0.0))
        node = nodes.select("id", p.alias("p"), "dang")
        # Each cut returns the dangling mass of the state it cuts.
        mass = F.sum(F.when(F.col("dang"), F.col("rank")))
        init = node.select("id", F.col("p").alias("rank"), "dang")
        ranks, dm = observed_cut(init, mass, "dang")
        result = PageRankResult(ranks=ranks, num_nodes=n, iterations_run=0)
        for it in range(num_iterations):
            # Shuffle joins: the cut state is re-shuffled onto links'
            # partitioning and the contributions onto the node table's;
            # links and node are read in place.
            contribs = (
                ranks.hint("shuffle_hash")
                .join(links, "id")
                .select(
                    F.col("dst").alias("id"),
                    (F.col("rank") * F.col("w") / F.col("deg")).alias("c"),
                )
                .groupBy("id")
                .agg(F.sum("c").alias("contrib"))
            )
            new_ranks = node.join(contribs.hint("shuffle_hash"), "id", "left").select(
                "id",
                "dang",
                (
                    F.lit(1.0 - damping) * F.col("p")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.lit(dm or 0.0) * F.col("p")
                    )
                ).alias("rank"),
            )
            reliable = bool(
                reliable_checkpoint_every and (it + 1) % reliable_checkpoint_every == 0
            )
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
            ranks = new_ranks
            if tol is not None and delta < tol:
                break
        result.ranks = ranks
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
