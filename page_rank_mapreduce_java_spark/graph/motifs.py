"""Motif counting and core decomposition on the iterative-graph chassis.

New operator family beyond the reference's single algorithm (SURVEY.md §2
covers PageRank only; these extend the graph surface the way a user of a
real engine expects): triangle counting and k-core decomposition, both
pure DataFrame ops with integer-exact, DuckDB-oracle-checkable results.

Corpus graph: suppliers co-occurring in an order (distinct
(l_suppkey_a < l_suppkey_b) pairs per l_orderkey). Lines-per-order is
bounded by the order's size (single digits at any SF), so the
pair-generating self-join on l_orderkey emits O(orders) rows — never
quadratic, no skew concentration.

Triangle counting (the Cohen / Suri-Vassilvitskii MapReduce formulation,
re-expressed relationally):
- orient each undirected edge from its (degree, id)-smaller endpoint to
  the larger; every out-neighborhood is then ≤ O(√m), so the wedge
  self-join — the only superlinear step — is bounded by m^{3/2} total
  wedge rows rather than Σdeg² (the celebrity-node blowup).
- a triangle is a wedge (u→v, u→w) whose closing pair (v,w) exists in
  the canonical src<dst edge set: one equi-join, counted exactly once.

k-core and k-truss: synchronous peeling — each round drops every node
(edge) whose degree (triangle support) within the surviving subgraph is
too low. Deterministic for a fixed round count, so the oracle unrolls
the same rounds as a CTE chain. Each round's cut observes the vector's
minimum, and the loop exits at the fixpoint without a probe job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from page_rank_mapreduce_java_spark.plans.checkpoints import cut_lineage, observed_cut


def _undirect(edges: DataFrame) -> DataFrame:
    """Both directions of a canonical (src<dst) simple edge set."""
    return edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over an undirected simple
    graph given as canonical ``src < dst`` pairs.

    Returns DataFrame[id long, triangles long] covering every node that
    appears in ``edges`` (0 for triangle-free nodes).
    """
    edges = edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )
    und = _undirect(edges)
    deg = und.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("d"))

    # Orient by (degree, id): guarantees out-degree ≤ O(√m) and a total
    # order, so each triangle closes from exactly one apex wedge.
    o = (
        und.join(deg.select(F.col("id").alias("src"), F.col("d").alias("ds")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("d").alias("dd")), "dst")
        .filter(
            (F.col("ds") < F.col("dd"))
            | ((F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst")))
        )
        .select("src", "dst")
    )
    w1 = o.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    w2 = o.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    wedges = w1.join(w2, "u").filter(F.col("v") < F.col("w"))
    closing = edges.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tris = wedges.join(closing, ["v", "w"])

    per_node = (
        tris.select(F.explode(F.array("u", "v", "w")).alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    nodes = deg.select("id")
    return nodes.join(per_node, "id", "left").select(
        "id", F.coalesce("t", F.lit(0)).cast("long").alias("triangles")
    )


def _peel(
    und: DataFrame, active: DataFrame, k: int, rounds: int
) -> tuple[DataFrame, Row]:
    """Up to ``rounds`` synchronous peels of the undirected edges ``und``
    from the survivor ids ``active``: each round drops every node whose
    degree inside the surviving subgraph is < k.

    Returns the last cut degree vector DataFrame[id long, core_degree
    long] and ``seen``, observed on the cut's own job: its minimum degree
    ``low``, and the count ``size`` and sum ``total`` of its degrees
    ``>= k`` (NULL when none). The loop stops once ``low`` is NULL or
    ``>= k``: the round removed no node, so every later round is the
    identity and the oracle's full unroll lands on the same vector. A
    node isolated inside the survivors drops by absence from the vector;
    no other degree changes.
    """
    degrees, seen = None, None
    kept = F.col("core_degree") >= k
    for _ in range(rounds):
        alive = und.join(active.select(F.col("id").alias("src")), "src").join(
            active.select(F.col("id").alias("dst")), "dst"
        )
        degrees, seen = observed_cut(
            alive.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).alias("core_degree")
            ),
            F.struct(
                F.min("core_degree").alias("low"),
                F.count_if(kept).alias("size"),
                F.sum(F.when(kept, F.col("core_degree"))).alias("total"),
            ),
        )
        active = degrees.filter(kept).select("id")
        if seen.low is None or seen.low >= k:
            break
    return degrees, seen


def kcore(edges: DataFrame, k: int = 3, rounds: int = 8) -> DataFrame:
    """Synchronous k-core peeling (``_peel``), exiting at the fixpoint.

    Returns DataFrame[id long, core_degree long]: nodes surviving
    ``rounds`` peels with their degree inside the surviving subgraph.
    Peeling depth on the co-occurrence corpus graph is 1–2 rounds, so
    most of the default 8-round budget is never run.
    """
    edges = edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )
    und = _undirect(edges).persist()
    try:
        active = cut_lineage(und.select(F.col("src").alias("id")).distinct())
        degrees, _ = _peel(und, active, k, rounds)
        # A filter over the cut vector: reads none of the edge cache.
        return degrees.filter(F.col("core_degree") >= k)
    finally:
        und.unpersist()


def _edge_support(edges: DataFrame) -> DataFrame:
    """Per-edge triangle support over a canonical (src<dst) edge set:
    DataFrame[src, dst, support] covering every input edge (0 if
    triangle-free). Uses the degree-oriented wedge join (triangle_counts
    chassis, m^{3/2}-bounded), then explodes each triangle into its three
    canonical edges and counts."""
    und = _undirect(edges)
    deg = und.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("d"))
    o = (
        und.join(deg.select(F.col("id").alias("src"), F.col("d").alias("ds")), "src")
        .join(deg.select(F.col("id").alias("dst"), F.col("d").alias("dd")), "dst")
        .filter(
            (F.col("ds") < F.col("dd"))
            | ((F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst")))
        )
        .select("src", "dst")
    )
    w1 = o.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    w2 = o.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    wedges = w1.join(w2, "u").filter(F.col("v") < F.col("w"))
    closing = edges.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tris = wedges.join(closing, ["v", "w"])
    tri_edges = tris.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("u", "v").alias("src"), F.greatest("u", "v").alias("dst")
                ),
                F.struct(
                    F.least("u", "w").alias("src"), F.greatest("u", "w").alias("dst")
                ),
                F.struct(F.col("v").alias("src"), F.col("w").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    counts = tri_edges.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("support"))
    return edges.join(counts, ["src", "dst"], "left").select(
        "src", "dst", F.coalesce("support", F.lit(0)).cast("long").alias("support")
    )


def ktruss(edges: DataFrame, k: int = 4, rounds: int = 4) -> DataFrame:
    """k-truss edge peeling (Cohen, "Trusses: Cohesive Subgraphs for
    Social Network Analysis", NSA technical report 2008 — public
    literature): repeatedly drop edges in fewer than k-2 triangles of the
    surviving subgraph. Returns DataFrame[src, dst, support] — the truss
    edges with their within-truss support after ``rounds`` peels.

    Each round checkpoints the support vector and observes its minimum
    on the checkpoint's job; the loop stops once that minimum is NULL or
    ``>= k-2`` (a stable truss, unchanged by the oracle's further
    rounds). Each round costs one degree-oriented wedge join — the
    m^{3/2}-bounded triangle pass — against the current (shrinking) edge
    set.
    """
    edges = edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )
    cur = cut_lineage(edges.distinct())
    sup = None
    for _ in range(rounds):
        sup, low = observed_cut(_edge_support(cur), F.min("support"))
        cur = sup.filter(F.col("support") >= k - 2).select("src", "dst")
        if low is None or low >= k - 2:
            break
    return sup.filter(F.col("support") >= k - 2)


# --- DuckDB oracle builders ---------------------------------------------------


def triangles_sql(edges_cte: str) -> str:
    """Oracle for ``triangle_counts``: ``edges_cte`` must yield canonical
    (src, dst) pairs with src < dst."""
    return f"""
        WITH edges AS MATERIALIZED ({edges_cte}),
        und AS MATERIALIZED (
          SELECT src, dst FROM edges
          UNION ALL SELECT dst AS src, src AS dst FROM edges
        ),
        deg AS (SELECT src AS id, COUNT(*) AS d FROM und GROUP BY 1),
        o AS (
          SELECT u.src, u.dst FROM und u
          JOIN deg a ON u.src = a.id JOIN deg b ON u.dst = b.id
          WHERE (a.d < b.d) OR (a.d = b.d AND u.src < u.dst)
        ),
        tris AS (
          SELECT w1.src AS u, w1.dst AS v, w2.dst AS w
          FROM o w1 JOIN o w2 ON w1.src = w2.src AND w1.dst < w2.dst
          JOIN edges e ON e.src = w1.dst AND e.dst = w2.dst
        ),
        per_node AS (
          SELECT id, COUNT(*) AS t
          FROM (
            SELECT u AS id FROM tris
            UNION ALL SELECT v FROM tris
            UNION ALL SELECT w FROM tris
          ) GROUP BY 1
        )
        SELECT deg.id, COALESCE(per_node.t, 0) AS triangles
        FROM deg LEFT JOIN per_node ON deg.id = per_node.id
    """


def ktruss_sql(edges_cte: str, k: int = 4, rounds: int = 4) -> str:
    """Oracle for ``ktruss``: the same synchronous edge peel unrolled as
    a CTE chain (degree → orientation → wedge-closed triangles →
    per-edge support → filter, once per round)."""
    parts = [
        f"""WITH e0 AS MATERIALIZED ({edges_cte})"""
    ]
    prev = "e0"
    for r in range(1, rounds + 1):
        parts.append(
            f"""u{r} AS MATERIALIZED (
          SELECT src, dst FROM {prev}
          UNION ALL SELECT dst AS src, src AS dst FROM {prev}
        ),
        d{r} AS (SELECT src AS id, COUNT(*) AS d FROM u{r} GROUP BY 1),
        o{r} AS MATERIALIZED (
          SELECT u.src, u.dst FROM u{r} u
          JOIN d{r} a ON u.src = a.id JOIN d{r} b ON u.dst = b.id
          WHERE (a.d < b.d) OR (a.d = b.d AND u.src < u.dst)
        ),
        t{r} AS MATERIALIZED (
          SELECT w1.src AS u, w1.dst AS v, w2.dst AS w
          FROM o{r} w1 JOIN o{r} w2 ON w1.src = w2.src AND w1.dst < w2.dst
          JOIN {prev} e ON e.src = w1.dst AND e.dst = w2.dst
        ),
        s{r} AS MATERIALIZED (
          SELECT src, dst, COUNT(*) AS n FROM (
            SELECT LEAST(u, v) AS src, GREATEST(u, v) AS dst FROM t{r}
            UNION ALL SELECT LEAST(u, w), GREATEST(u, w) FROM t{r}
            UNION ALL SELECT v, w FROM t{r}
          ) GROUP BY 1, 2
        ),
        e{r} AS MATERIALIZED (
          SELECT e.src, e.dst, COALESCE(s.n, 0) AS support
          FROM {prev} e LEFT JOIN s{r} s ON e.src = s.src AND e.dst = s.dst
          WHERE COALESCE(s.n, 0) >= {k - 2}
        )"""
        )
        prev = f"e{r}"
    return (
        ",\n        ".join(parts)
        + f"""
        SELECT src, dst, CAST(support AS BIGINT) AS support FROM e{rounds}
    """
    )


def kcore_sql(edges_cte: str, k: int = 3, rounds: int = 8) -> str:
    """Oracle for ``kcore``: the same synchronous peel unrolled as a CTE
    chain (one degree + one filter CTE per round)."""
    parts = [
        f"""WITH edges AS MATERIALIZED ({edges_cte}),
        und AS MATERIALIZED (
          SELECT src, dst FROM edges
          UNION ALL SELECT dst AS src, src AS dst FROM edges
        ),
        a0 AS (SELECT DISTINCT src AS id FROM und)"""
    ]
    prev = "a0"
    for r in range(1, rounds + 1):
        parts.append(
            f"""d{r} AS (
          SELECT u.src AS id, COUNT(*) AS core_degree FROM und u
          JOIN {prev} x ON u.src = x.id JOIN {prev} y ON u.dst = y.id
          GROUP BY 1
        ),
        a{r} AS (SELECT id FROM d{r} WHERE core_degree >= {k})"""
        )
        prev = f"a{r}"
    return (
        ",\n        ".join(parts)
        + f"""
        SELECT d{rounds}.id, core_degree FROM d{rounds}
        JOIN a{rounds} ON d{rounds}.id = a{rounds}.id
    """
    )


def kcore_curve(edges: DataFrame, max_k: int = 6, rounds: int = 8) -> DataFrame:
    """The full k-core decomposition curve in ONE chained peel.

    Returns DataFrame[k long, core_size long, core_degree_sum long] for
    k = 1..max_k, where core_degree_sum = 2·|E(k-core)|.

    The k-core is a subgraph of the (k-1)-core and peeling is confluent,
    so the peel CONTINUES: k's ``_peel`` starts from the (k-1)-core's
    survivors. k's row is the size and degree sum of the last degree
    vector's nodes with degree ``>= k``, observed on that vector's cut,
    so the curve is built from literals and runs no job of its own. One
    edge persist serves the whole curve. The oracle (kcore_curve_sql)
    unrolls the full per-k budget and lands on the same vectors, since a
    peel that stops early stopped at a fixpoint.

    Plateau skip: when the last observed minimum degree is already
    ``>= k``, that vector is a fixpoint with no node below k, so it is
    also k's vector, its observed size and sum are k's row, and no round
    runs. A vector left by an exhausted budget has a minimum below the
    previous k, so it never skips.
    """
    spark = edges.sparkSession
    edges = edges.select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )
    und = _undirect(edges).persist()
    try:
        active = cut_lineage(und.select(F.col("src").alias("id")).distinct())
        seen = None  # no vector yet: k=1 always peels
        rows = []
        for k in range(1, max_k + 1):
            if seen is None or (seen.low is not None and seen.low < k):
                degrees, seen = _peel(und, active, k, rounds)
                active = degrees.filter(F.col("core_degree") >= k).select("id")
            rows.append((k, seen.size, seen.total or 0))
    finally:
        und.unpersist()
    return spark.createDataFrame(rows, "k long, core_size long, core_degree_sum long")


def kcore_curve_sql(edges_cte: str, max_k: int = 6, rounds: int = 8) -> str:
    """Oracle for ``kcore_curve``: the same CHAINED peel unrolled as one
    CTE chain — k's rounds continue from a{k-1}'s final survivor set,
    one (edges, und, a0) materialization serves all of k = 1..max_k, and
    each k's snapshot reads its final degree CTE. Mirrors kcore_sql's
    round shape; only the starting set differs per k. Every a-CTE is
    MATERIALIZED: each is referenced twice by the next degree join, and
    at 48 chained levels letting the optimizer inline doubles the plan
    per level — materialization keeps planning and execution linear in
    rounds (each CTE is node-sized)."""
    parts = [
        f"""WITH edges AS MATERIALIZED ({edges_cte}),
        und AS MATERIALIZED (
          SELECT src, dst FROM edges
          UNION ALL SELECT dst AS src, src AS dst FROM edges
        ),
        a0 AS (SELECT DISTINCT src AS id FROM und)"""
    ]
    prev = "a0"
    snaps = []
    for k in range(1, max_k + 1):
        for r in range(1, rounds + 1):
            d, a = f"d{k}_{r}", f"a{k}_{r}"
            parts.append(
                f"""{d} AS MATERIALIZED (
          SELECT u.src AS id, COUNT(*) AS core_degree FROM und u
          JOIN {prev} x ON u.src = x.id JOIN {prev} y ON u.dst = y.id
          GROUP BY 1
        ),
        {a} AS MATERIALIZED (SELECT id FROM {d} WHERE core_degree >= {k})"""
            )
            prev = a
        snaps.append(
            f"""SELECT CAST({k} AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS core_size,
       CAST(COALESCE(SUM(core_degree), 0) AS BIGINT) AS core_degree_sum
FROM d{k}_{rounds} WHERE core_degree >= {k}"""
        )
    return ",\n        ".join(parts) + "\n" + "\nUNION ALL\n".join(snaps)
