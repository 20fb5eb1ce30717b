"""Graph queries over the driver corpus, with DuckDB oracles.

The corpus has no native edge table, so the graph is derived
deterministically from the relational tables: a customer→supplier edge for
every distinct (o_custkey, l_suppkey) pair that co-occurs in an order.
Supplier node ids are offset by 10^12 to keep the two key spaces
disjoint. Suppliers have no out-edges, so the whole supplier side is
dangling — this exercises the reference's dangling-mass path
(pageRank_v2.java:216-222) on real data.

Every query here has an equivalent ANSI-SQL oracle; PageRank's oracle is a
programmatically unrolled CTE chain (one CTE pair per iteration), all rank
arithmetic in DOUBLE to match the Spark side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from page_rank_mapreduce_java_spark.catalog import load_table
from page_rank_mapreduce_java_spark.graph.ops import (
    dangling_nodes,
    degree_histogram,
    in_degrees,
    invert_edges,
    out_degrees,
)
from page_rank_mapreduce_java_spark.graph.pagerank import pagerank

# Offset must exceed max(o_custkey) at ANY scale factor or customer and
# supplier node ids silently merge (TPC-H has 150k customers per SF, so
# 10^12 is safe beyond SF 6,000,000).
SUPPLIER_OFFSET = 1_000_000_000_000
PAGERANK_ITERS = 5
DAMPING = 0.85

EDGES_SQL = f"""
    SELECT DISTINCT o_custkey AS src, l_suppkey + {SUPPLIER_OFFSET} AS dst
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
"""


def derived_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir)
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + SUPPLIER_OFFSET).alias("dst"),
        )
        .distinct()
    )


# Weighted variant: the same customer→supplier edges, weighted by the
# number of lineitems the customer bought from that supplier (the
# interaction-strength reading of the order history). Weights are small
# integer counts carried as DOUBLE, so Σw per node is exact in IEEE
# arithmetic regardless of summation order — deg never drifts between
# Spark's partial aggregates and DuckDB's single-threaded SUM.
WEDGES_SQL = f"""
    SELECT o_custkey AS src, l_suppkey + {SUPPLIER_OFFSET} AS dst,
           CAST(count(*) AS DOUBLE) AS w
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY 1, 2
"""


def weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, "orders", sf_dir)
    lineitem = load_table(spark, "lineitem", sf_dir)
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + SUPPLIER_OFFSET).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )


# Registered rank outputs are integer micro-units (×1e8, BIGINT), not
# ROUND(rank, 8) DOUBLE: the values quantize identically, but a BIGINT
# renders identically in every hash canonicalizer, while float formatting
# ("%.10g" vs repr vs DuckDB's) is a cross-harness drift channel
# (ADVICE r1, medium). A function, not a module constant: building a
# Column requires an active SparkContext.
def _rank_e8():
    return F.round(F.col("rank") * 1e8).cast("long")

# One PageRank run per (application, sf_dir, variant): q_pagerank_topk
# derives from the same rank vector as q_pagerank, so running the
# 5-superstep loop twice per bench/gate pass was pure waste (ADVICE r1).
# The cached DataFrame is localCheckpoint-backed — holding the reference
# keeps its blocks alive. Keyed by applicationId, not id(spark): a stopped
# session's id() can be reused by a new SparkSession, which would then
# receive cached DataFrames bound to the dead JVM context (ADVICE r2);
# applicationId is unique per SparkContext. Entries for dead applications
# are tiny plan handles (their cached blocks die with the context).
_RANKS_CACHE: dict[tuple, DataFrame] = {}


def _corpus_ranks(spark: SparkSession, sf_dir: str, variant: str | None = None) -> DataFrame:
    """DataFrame[id, rank_e8] of the corpus PageRank; ``variant`` is None,
    ``"personalized"`` (teleport onto the BFS sources) or ``"weighted"``
    (lineitem-count edge weights)."""
    key = (spark.sparkContext.applicationId, sf_dir, variant)
    if key not in _RANKS_CACHE:
        if variant == "weighted":
            edges, opts = weighted_edges(spark, sf_dir), {"weight_col": "w"}
        else:
            edges, opts = derived_edges(spark, sf_dir), {}
        if variant == "personalized":
            opts["personalize"] = (
                edges.filter(F.col("src") <= BFS_SOURCE_MAX).select("src").distinct()
            )
        res = pagerank(edges, num_iterations=PAGERANK_ITERS, damping=DAMPING, **opts)
        _RANKS_CACHE[key] = res.ranks
    return _RANKS_CACHE[key].select("id", _rank_e8().alias("rank_e8"))


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _corpus_ranks(spark, sf_dir)


def q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-weighted PageRank: contribution scatter is rank·w/Σw_out.

    Exercises the ``weight_col`` path of the core operator
    (graph/pagerank.py) on lineitem-count weights — the importance
    ranking a recommendation pipeline actually wants, where buying 40
    times from a supplier should count 40× a single order."""
    return _corpus_ranks(spark, sf_dir, "weighted")


def q_pagerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _corpus_ranks(spark, sf_dir).orderBy(F.desc("rank_e8"), F.asc("id")).limit(20)


def pagerank_chain_sql(
    edges_ctes: str,
    iters: int,
    damping: float,
    weighted: bool = False,
    sources: str | None = None,
    prefix: str = "",
) -> str:
    """The unrolled PageRank oracle: ``edges_ctes`` (``WITH`` through the
    ``{prefix}edges`` CTE[src, dst(, w)]), then the node, out-degree and
    seed CTEs and one (dangling mass d, contributions c, ranks r) triple
    per superstep, ending at the ``{prefix}r{iters}`` CTE[id, rank]. All
    rank arithmetic is DOUBLE, as on the Spark side.

    ``weighted``: deg = Σw and each edge scatters rank·w/deg (left-to-right
    association matches the Spark column expression). ``sources``: a
    SELECT of personalization ids; teleport and dangling mass then reset
    uniformly onto them. ``prefix`` names the CTEs apart inside a larger
    oracle."""
    x = prefix
    deg = "SUM(w)" if weighted else "count(*)"
    share = f"r.rank * e.w / d.{x}deg" if weighted else f"r.rank / d.{x}deg"
    sql = f"""{edges_ctes},
{x}nodes AS MATERIALIZED (SELECT src AS id FROM {x}edges UNION SELECT dst FROM {x}edges),
{x}deg AS MATERIALIZED (SELECT src AS id, {deg} AS {x}deg FROM {x}edges GROUP BY 1),"""
    if sources is None:
        sql += f"""
{x}nn AS (SELECT count(*) AS n FROM {x}nodes),
{x}r0 AS MATERIALIZED (SELECT id, CAST(1.0 AS DOUBLE)/{x}nn.n AS rank FROM {x}nodes, {x}nn)"""
        row, teleport, base = "n", f"/{x}nn.n", f"{x}nodes n CROSS JOIN {x}nn"
    else:
        sql += f"""
{x}srcs AS ({sources}),
{x}ns AS (SELECT count(*) AS n FROM {x}srcs),
{x}pvec AS MATERIALIZED (SELECT n.id,
         CASE WHEN s.id IS NOT NULL THEN CAST(1.0 AS DOUBLE)/{x}ns.n
              ELSE CAST(0.0 AS DOUBLE) END AS p
         FROM {x}nodes n CROSS JOIN {x}ns LEFT JOIN {x}srcs s ON n.id = s.id),
{x}r0 AS MATERIALIZED (SELECT id, p AS rank FROM {x}pvec)"""
        row, teleport, base = "v", " * v.p", f"{x}pvec v"
    for i in range(1, iters + 1):
        p = i - 1
        sql += f""",
{x}d{i} AS MATERIALIZED (SELECT COALESCE(SUM(r.rank), CAST(0.0 AS DOUBLE)) AS dm
         FROM {x}r{p} r LEFT JOIN {x}deg d ON r.id = d.id WHERE d.id IS NULL),
{x}c{i} AS MATERIALIZED (SELECT e.dst AS id, SUM({share}) AS contrib
         FROM {x}r{p} r JOIN {x}edges e ON r.id = e.src JOIN {x}deg d ON d.id = e.src
         GROUP BY 1),
{x}r{i} AS MATERIALIZED (SELECT {row}.id,
         CAST({1.0 - damping} AS DOUBLE){teleport}
         + CAST({damping} AS DOUBLE)
           * (COALESCE(c.contrib, CAST(0.0 AS DOUBLE)) + {x}d{i}.dm{teleport}) AS rank
         FROM {base} CROSS JOIN {x}d{i} LEFT JOIN {x}c{i} c ON {row}.id = c.id)"""
    return sql


def _corpus_pagerank_sql(edges_sql: str, **kw) -> str:
    return pagerank_chain_sql(
        f"WITH edges AS MATERIALIZED ({edges_sql})", PAGERANK_ITERS, DAMPING, **kw
    ) + f"\nSELECT id, CAST(ROUND(rank * 1e8, 0) AS BIGINT) AS rank_e8 FROM r{PAGERANK_ITERS}"


def q_out_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    return out_degrees(derived_edges(spark, sf_dir))


def q_in_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    return in_degrees(derived_edges(spark, sf_dir))


def q_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dangling_nodes(derived_edges(spark, sf_dir))


def q_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return degree_histogram(derived_edges(spark, sf_dir))


def q_invert_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return invert_edges(derived_edges(spark, sf_dir))


CC_ITERS = 6
BFS_HOPS = 4
BFS_SOURCE_MAX = 5  # custkeys ≤ 5 are the BFS / personalization source set


def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank: teleport mass resets to the source customers
    (custkey ≤ 5) instead of uniformly — the recommendation-graph variant."""
    return _corpus_ranks(spark, sf_dir, "personalized")


def q_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from page_rank_mapreduce_java_spark.graph.algorithms import connected_components

    return connected_components(derived_edges(spark, sf_dir), max_iterations=CC_ITERS)


def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from page_rank_mapreduce_java_spark.graph.algorithms import _symmetrize, bfs_distances

    edges = derived_edges(spark, sf_dir)
    sources = edges.filter(F.col("src") <= BFS_SOURCE_MAX).select("src").distinct()
    return bfs_distances(_symmetrize(edges), sources, max_hops=BFS_HOPS)


def _cc_oracle_sql(iters: int = CC_ITERS) -> str:
    base = f"""WITH edges AS MATERIALIZED ({EDGES_SQL}),
sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
l0 AS MATERIALIZED (SELECT id, id AS component FROM (SELECT DISTINCT src AS id FROM sym))"""
    steps = []
    for i in range(1, iters + 1):
        p = i - 1
        steps.append(
            f""",
n{i} AS MATERIALIZED (SELECT s.dst AS id, MIN(l.component) AS nbr
         FROM l{p} l JOIN sym s ON l.id = s.src GROUP BY s.dst),
l{i} AS MATERIALIZED (SELECT l.id, LEAST(l.component, COALESCE(n.nbr, l.component)) AS component
         FROM l{p} l LEFT JOIN n{i} n ON l.id = n.id)"""
        )
    return base + "".join(steps) + f"\nSELECT id, component FROM l{iters}"


def _bfs_oracle_sql(hops: int = BFS_HOPS) -> str:
    base = f"""WITH edges AS MATERIALIZED ({EDGES_SQL}),
sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM sym),
srcs AS (SELECT DISTINCT src AS id FROM edges WHERE src <= {BFS_SOURCE_MAX}),
d0 AS MATERIALIZED (SELECT n.id,
       CAST(CASE WHEN n.id IN (SELECT id FROM srcs) THEN 0 ELSE -1 END AS BIGINT) AS dist
       FROM nodes n)"""
    steps = []
    for i in range(1, hops + 1):
        p = i - 1
        steps.append(
            f""",
r{i} AS MATERIALIZED (SELECT s.dst AS id, MIN(d.dist) + 1 AS cand
         FROM d{p} d JOIN sym s ON d.id = s.src WHERE d.dist >= 0 GROUP BY s.dst),
d{i} AS MATERIALIZED (SELECT d.id,
         CAST(CASE WHEN d.dist < 0 THEN COALESCE(r.cand, -1)
              ELSE LEAST(d.dist, COALESCE(r.cand, d.dist)) END AS BIGINT) AS dist
         FROM d{p} d LEFT JOIN r{i} r ON d.id = r.id)"""
        )
    return base + "".join(steps) + f"\nSELECT id, dist FROM d{hops}"


# Supplier co-occurrence graph: suppliers linked when they both ship a
# BULK line (quantity ≥ 40) of the same order. Lines-per-order is bounded
# (single digits at any SF), so the pair self-join on l_orderkey is
# O(orders) — and unlike the bipartite customer→supplier graph, this one
# actually contains triangles. The bulk filter keeps the graph sparse:
# unfiltered, the supplier-pair space saturates at small SF (~80% of all
# pairs co-occur at sf0.1, i.e. a near-complete graph), which makes any
# triangle count quadratic in suppliers regardless of algorithm — a
# property of the demo graph, not the operator.
COOC_EDGES_SQL = """
    SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    WHERE a.l_quantity >= 40 AND b.l_quantity >= 40
"""

KCORE_K = 3
KCORE_ROUNDS = 8


def cooccurrence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = (
        load_table(spark, "lineitem", sf_dir)
        .filter(F.col("l_quantity") >= 40)
        .select("l_orderkey", "l_suppkey")
    )
    a, b = l.alias("a"), l.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .select(F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst"))
        .distinct()
    )


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from page_rank_mapreduce_java_spark.graph.motifs import triangle_counts

    return triangle_counts(cooccurrence_edges(spark, sf_dir))


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from page_rank_mapreduce_java_spark.graph.motifs import kcore

    return kcore(cooccurrence_edges(spark, sf_dir), k=KCORE_K, rounds=KCORE_ROUNDS)


KTRUSS_K = 4
KTRUSS_ROUNDS = 4


def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the supplier co-occurrence graph: edges supported by at
    least 2 triangles of the surviving subgraph after synchronous edge
    peeling — the edge-cohesion analogue of k-core, on the same
    materialize/probe/early-exit chassis (graph/motifs.ktruss)."""
    from page_rank_mapreduce_java_spark.graph.motifs import ktruss

    return ktruss(
        cooccurrence_edges(spark, sf_dir), k=KTRUSS_K, rounds=KTRUSS_ROUNDS
    )


WALK_STEPS = 3


def q_hash_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 'random' walks over the co-occurrence graph — the
    corpus-sampling primitive behind DeepWalk/node2vec graph embeddings
    (Perozzi et al., KDD 2014; Grover & Leskovec, KDD 2016 — public
    literature), made reproducible: at step t, walk w at node v moves to
    the neighbor with rank md5_long(w||':'||t||':'||v) mod deg(v) in the
    (src, dst-sorted) adjacency. One walk starts at every node; output is
    the full trace (walk_id, step, node).

    Scale shape: the adjacency is ranked ONCE by a window over the
    high-cardinality src key; each step is walk-state ⋈ out-degree (to
    compute the hash choice) then an equi-join on (node, rank) — the
    frontier-join superstep cost, state never edge-sized. Unrolled to
    WALK_STEPS joins, so the oracle mirrors it as a CTE chain.
    """
    from page_rank_mapreduce_java_spark.functions.hashes import md5_long
    from pyspark.sql.window import Window

    edges = cooccurrence_edges(spark, sf_dir).select(
        F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst")
    )
    und = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    from page_rank_mapreduce_java_spark.plans.checkpoints import cut_lineage

    # Superstep chassis: the idx-ranked adjacency and the node-sized
    # out-degree relation are materialized ONCE; each step is then a
    # node-sized join (to compute the hash choice) plus ONE (src, idx)
    # equi-join that selects exactly the chosen edge row — the pagerank
    # cost shape, with walk state never edge-sized and no per-step
    # window re-derivation.
    w = Window.partitionBy("src").orderBy("dst")
    ranked = cut_lineage(und.withColumn("idx", F.row_number().over(w) - 1))
    outdeg = cut_lineage(
        und.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("n"))
    )
    state = outdeg.select(F.col("id").alias("walk_id"), F.col("id").alias("node"))
    traces = [state.select("walk_id", F.lit(0).cast("long").alias("step"), "node")]
    for t in range(1, WALK_STEPS + 1):
        choice = md5_long(
            F.concat_ws(":", F.col("walk_id"), F.lit(t), F.col("node"))
        ) % F.col("n")
        st = state.join(outdeg, state.node == outdeg.id).withColumn("c", choice)
        state = cut_lineage(
            st.join(ranked, (st.node == ranked.src) & (st.c == ranked.idx)).select(
                "walk_id", F.col("dst").alias("node")
            )
        )
        traces.append(
            state.select("walk_id", F.lit(t).cast("long").alias("step"), "node")
        )
    out = traces[0]
    for tr in traces[1:]:
        out = out.unionByName(tr)
    return out


def _hash_walks_sql() -> str:
    from page_rank_mapreduce_java_spark.functions.hashes import md5_long_sql

    parts = [
        f"""WITH e AS MATERIALIZED ({COOC_EDGES_SQL}),
    und AS MATERIALIZED (
      SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
    outdeg AS (SELECT src AS id, COUNT(*) AS n FROM und GROUP BY 1),
    ranked AS MATERIALIZED (
      SELECT src, dst,
             row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
      FROM und),
    s0 AS (SELECT id AS walk_id, id AS node FROM outdeg)"""
    ]
    prev = "s0"
    for t in range(1, 3 + 1):
        choice = md5_long_sql(f"s.walk_id || ':' || {t} || ':' || s.node")
        parts.append(
            f"""s{t} AS MATERIALIZED (
      SELECT s.walk_id, r.dst AS node
      FROM {prev} s
      JOIN outdeg o ON s.node = o.id
      JOIN ranked r ON r.src = s.node AND r.idx = {choice} % o.n)"""
        )
        prev = f"s{t}"
    steps = " UNION ALL ".join(
        f"SELECT walk_id, CAST({t} AS BIGINT) AS step, node FROM s{t}"
        for t in range(0, 3 + 1)
    )
    return ",\n    ".join(parts) + f"\n    {steps}"


HITS_ITERS = 5


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities on the bipartite customer→supplier graph
    (customers are pure hubs, suppliers pure authorities — the two-sided
    importance ranking PageRank's single score can't express). Scores in
    integer micro-units like q_pagerank (ADVICE r1: float rendering is a
    cross-harness drift channel; e8 integers are not)."""
    from page_rank_mapreduce_java_spark.graph.algorithms import hits

    res = hits(derived_edges(spark, sf_dir), iterations=HITS_ITERS)
    return res.select(
        "id", "kind", F.round(F.col("score") * 1e8).cast("long").alias("score_e8")
    )


def _hits_oracle_sql(iters: int = HITS_ITERS) -> str:
    base = f"""WITH edges AS MATERIALIZED ({EDGES_SQL}),
h0 AS MATERIALIZED (SELECT DISTINCT src AS id, CAST(1.0 AS DOUBLE) AS h FROM edges)"""
    steps = []
    for i in range(1, iters + 1):
        p = i - 1
        steps.append(
            f""",
ar{i} AS MATERIALIZED (SELECT e.dst AS id, SUM(h.h) AS s
         FROM h{p} h JOIN edges e ON h.id = e.src GROUP BY 1),
a{i} AS MATERIALIZED (SELECT id, s / (SELECT SUM(s) FROM ar{i}) AS a FROM ar{i}),
hr{i} AS MATERIALIZED (SELECT e.src AS id, SUM(a.a) AS s
         FROM a{i} a JOIN edges e ON a.id = e.dst GROUP BY 1),
h{i} AS MATERIALIZED (SELECT id, s / (SELECT SUM(s) FROM hr{i}) AS h FROM hr{i})"""
        )
    return (
        base
        + "".join(steps)
        + f"""
SELECT id, 'hub' AS kind, CAST(ROUND(h * 1e8, 0) AS BIGINT) AS score_e8 FROM h{iters}
UNION ALL
SELECT id, 'auth' AS kind, CAST(ROUND(a * 1e8, 0) AS BIGINT) AS score_e8 FROM a{iters}"""
    )


# Wedge-center degree cap for common-neighbor counting. The wedge volume
# is Σ deg(center)² — one celebrity hub breaks it at scale, and pairs whose
# only evidence is "both touch the hub" carry no link-prediction signal
# anyway (standard practice: drop hubs before the wedge join). 80 is
# workload-tuned: exercised by the sf fixtures (max co-occurrence degree 81
# at sf0.01) while keeping >99% of nodes; at 100 TB the cap is the knob
# bounding per-center wedge fan-out regardless of corpus size.
COMMON_NEIGHBORS_DEG_CAP = 80


def common_neighbor_counts(sym: DataFrame, deg_cap: int | None) -> DataFrame:
    """Common-neighbor counts over a symmetrized edge relation
    DataFrame[src, dst]: for every unordered pair (u < v), the number of
    shared neighbors, via the wedge join on the shared endpoint.

    ``deg_cap`` (default-on in q_common_neighbors) removes wedge CENTERS
    with degree > cap before the join. The degree aggregate and the
    keep-filter join both key on ``dst`` — the same key the wedge join
    shuffles on, so AQE reuses one exchange; the cap costs no extra
    full-data shuffle, and the wedge volume drops from Σ deg² unbounded
    to Σ min(deg, cap)²."""
    if deg_cap is not None:
        keep = (
            sym.groupBy("dst")
            .agg(F.count(F.lit(1)).alias("_deg"))
            .filter(F.col("_deg") <= deg_cap)
            .select("dst")
        )
        sym = sym.join(keep, "dst")
    a, b = sym.alias("a"), sym.alias("b")
    return (
        a.join(b, F.col("a.dst") == F.col("b.dst"))
        .filter(F.col("a.src") < F.col("b.src"))
        .groupBy(F.col("a.src").alias("u"), F.col("b.src").alias("v"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def q_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 supplier pairs by common neighbors in the co-occurrence
    graph (the link-prediction primitive: two suppliers never seen in
    one order, ranked by how many partners they share).

    Shape: symmetrize the src<dst edge set, drop wedge centers above
    COMMON_NEIGHBORS_DEG_CAP (default ON — VERDICT r3 directive #6),
    wedge-join on the shared endpoint, count per pair — one equi-join +
    one aggregate, the same m-bounded wedge volume as the triangle
    counter (graph/motifs.py), now hub-bounded too. The oracle mirrors
    the identical cap. Fully tie-broken LIMIT."""
    e = cooccurrence_edges(spark, sf_dir)
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return (
        common_neighbor_counts(sym, deg_cap=COMMON_NEIGHBORS_DEG_CAP)
        .orderBy(F.desc("n_common"), F.asc("u"), F.asc("v"))
        .limit(25)
    )


def q_square_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global 4-cycle (square) count of the hub-capped co-occurrence
    graph: every C4 has two diagonal pairs, each contributing
    C(n_common, 2) closures, so n_squares = SUM C(cn, 2) / 2 over the
    common-neighbor pair relation — exactly the link-prediction wedge
    relation q_common_neighbors already builds, folded one aggregate
    further (square counting per Chiba-Nishizeki; the bound comes from
    the same hub cap). The division by 2 is exact: the sum is even by
    the diagonal-pair argument. One-row output (n_squares, n_pairs)."""
    e = cooccurrence_edges(spark, sf_dir)
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    cn = common_neighbor_counts(sym, deg_cap=COMMON_NEIGHBORS_DEG_CAP)
    return cn.agg(
        F.expr(f"sum(n_common * (n_common - 1)) div 4").alias("n_squares"),
        F.count(F.lit(1)).alias("n_pairs"),
    )


SQUARE_COUNT_SQL = f"""
    WITH e AS MATERIALIZED ({COOC_EDGES_SQL}),
    sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
    keep AS (SELECT dst FROM sym GROUP BY dst
             HAVING COUNT(*) <= {COMMON_NEIGHBORS_DEG_CAP}),
    symc AS (SELECT s.src, s.dst FROM sym s JOIN keep USING (dst)),
    p AS (
      SELECT a.src AS u, b.src AS v, COUNT(*) AS n_common
      FROM symc a JOIN symc b ON a.dst = b.dst AND a.src < b.src
      GROUP BY 1, 2)
    SELECT CAST(SUM(n_common * (n_common - 1)) // 4 AS BIGINT) AS n_squares,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM p
"""


COMMON_NEIGHBORS_SQL = f"""
    WITH e AS MATERIALIZED ({COOC_EDGES_SQL}),
    sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
    keep AS (SELECT dst FROM sym GROUP BY dst
             HAVING COUNT(*) <= {COMMON_NEIGHBORS_DEG_CAP}),
    symc AS (SELECT s.src, s.dst FROM sym s JOIN keep USING (dst)),
    p AS (
      SELECT a.src AS u, b.src AS v, COUNT(*) AS n_common
      FROM symc a JOIN symc b ON a.dst = b.dst AND a.src < b.src
      GROUP BY 1, 2
    )
    SELECT u, v, n_common FROM p ORDER BY n_common DESC, u, v LIMIT 25
"""


SSSP_ROUNDS = 4


def q_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths (min total lineitem-count cost) from the
    BFS source customers over the symmetrized interaction graph —
    Bellman-Ford min-plus supersteps (graph/algorithms.sssp_weighted) on
    the BFS chassis; the oracle unrolls the identical round count, so
    exactness-within-4-edges holds on both engines by construction.
    Integer weights end-to-end: no float accumulation."""
    from page_rank_mapreduce_java_spark.graph.algorithms import sssp_weighted

    e = weighted_edges(spark, sf_dir)
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    sources = e.filter(F.col("src") <= BFS_SOURCE_MAX).select("src").distinct()
    return sssp_weighted(sym, sources, rounds=SSSP_ROUNDS)


def _sssp_oracle_sql(rounds: int = SSSP_ROUNDS) -> str:
    base = f"""WITH we AS MATERIALIZED ({WEDGES_SQL}),
wsym AS MATERIALIZED (
  SELECT src, dst, CAST(w AS BIGINT) AS w FROM we
  UNION ALL
  SELECT dst AS src, src AS dst, CAST(w AS BIGINT) AS w FROM we
),
nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM wsym),
srcs AS (SELECT DISTINCT src AS id FROM we WHERE src <= {BFS_SOURCE_MAX}),
d0 AS MATERIALIZED (SELECT n.id,
   CAST(CASE WHEN n.id IN (SELECT id FROM srcs) THEN 0 ELSE -1 END AS BIGINT) AS dist
   FROM nodes n)"""
    steps = []
    for i in range(1, rounds + 1):
        p = i - 1
        steps.append(
            f""",
r{i} AS MATERIALIZED (SELECT e.dst AS id, MIN(d.dist + e.w) AS cand
     FROM d{p} d JOIN wsym e ON d.id = e.src WHERE d.dist >= 0 GROUP BY e.dst),
d{i} AS MATERIALIZED (SELECT d.id,
     CAST(CASE WHEN d.dist < 0 THEN COALESCE(r.cand, -1)
          ELSE LEAST(d.dist, COALESCE(r.cand, d.dist)) END AS BIGINT) AS dist
     FROM d{p} d LEFT JOIN r{i} r ON d.id = r.id)"""
        )
    return base + "".join(steps) + f"\nSELECT id, dist FROM d{rounds}"


SCC_ROUNDS = 5  # closure covers paths up to 2^5 hops — both engines
# unroll the SAME round count, so the (complete on this graph's
# diameter) closure is identical by construction.


def directed_supplier_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed bulk-flow graph: s1 → s2 when SAME-NATION suppliers
    share an order with both lines ≥ 40 units and s1's quantity strictly
    exceeds s2's. Reverse edges arise across different orders, so
    nontrivial cycles — and SCCs — exist.

    The ≥40 filter keeps the demo graph sparse (the graph-density lesson
    in PERF.md); the same-nation restriction (round 8, VERDICT r7
    what's-wrong #3) bounds SCC SIZE: without it every viable threshold
    yields one giant SCC spanning ~all suppliers (measured: thresh 40 →
    one 1000-node SCC, thresh 48 → one 815-node SCC, thresh 49 → zero
    SCCs), making the doubling closure quadratic in the supplier
    population (~1M reachability pairs, 73 s at sf0.1 — the one
    registered scale-killer). Blocked by nation, components are bounded
    by the per-nation supplier population: 36 nontrivial SCCs, max 46
    nodes, 28k closure pairs at sf0.1 — rich structure, bounded work.
    The nation join is a broadcast (supplier is dim-sized per nation)."""
    l = load_table(spark, "lineitem", sf_dir).filter(F.col("l_quantity") >= 40)
    s = load_table(spark, "supplier", sf_dir).select(
        "s_suppkey", "s_nationkey"
    )
    a, b = l.alias("a"), l.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") != F.col("b.l_suppkey"))
            & (F.col("a.l_quantity") > F.col("b.l_quantity")),
        )
        .join(
            F.broadcast(s.alias("sa")),
            F.col("a.l_suppkey") == F.col("sa.s_suppkey"),
        )
        .join(
            F.broadcast(
                s.select(
                    F.col("s_suppkey").alias("sb_key"),
                    F.col("s_nationkey").alias("sb_nation"),
                )
            ),
            F.col("b.l_suppkey") == F.col("sb_key"),
        )
        .filter(F.col("sa.s_nationkey") == F.col("sb_nation"))
        .select(F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst"))
        .distinct()
    )


def directed_supplier_edges_dense(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The UNBLOCKED bulk-flow graph (no same-nation restriction) — one
    giant SCC spanning ~all suppliers at every viable threshold. Kept as
    q_scc_fwbw's input precisely BECAUSE of that: the giant-SCC regime
    is where FW-BW/coloring earns its keep (trim + one coloring sweep +
    one confirmation, few data-dependent rounds), while the same graph
    makes the doubling-closure demo quadratic (~1M reachability pairs —
    the r7 scale-killer). The demo keeps the nation-blocked graph; the
    production path keeps the dense one. Measured at sf0.1: FW-BW on the
    blocked graph pays ~106 superstep lineage cuts (deep trim chains +
    condensation-DAG depth) for 25 s, on the dense graph ~15 cuts for
    5 s."""
    l = load_table(spark, "lineitem", sf_dir).filter(F.col("l_quantity") >= 40)
    a, b = l.alias("a"), l.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") != F.col("b.l_suppkey"))
            & (F.col("a.l_quantity") > F.col("b.l_quantity")),
        )
        .select(F.col("a.l_suppkey").alias("src"), F.col("b.l_suppkey").alias("dst"))
        .distinct()
    )


def q_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the directed bulk-flow supplier
    graph: scc_id = min member id, via a FIXED-ROUND doubling transitive
    closure (paths ≤ 2^SCC_ROUNDS) and a mutual-reachability join.

    Why doubling, not coloring: forward-backward coloring (the
    production SCC algorithm at scale) iterates a data-dependent number
    of rounds, which an unrolled SQL oracle cannot mirror; fixed-round
    doubling computes the identical relation on both engines by
    construction. The closure is quadratic in component size, so this
    formulation is for moderate graphs — at 100 TB you run FW-BW
    coloring on the same superstep chassis as connected components and
    give up the cross-engine oracle, not the algorithm. Runs on the
    nation-blocked graph (directed_supplier_edges) whose SCC size — and
    therefore closure volume — is bounded by the per-nation supplier
    population (round 8; the unblocked graph's single giant SCC made
    this demo the one registered scale-killer, 73 s at sf0.1)."""
    return doubling_scc(directed_supplier_edges(spark, sf_dir))


def doubling_scc(edges: DataFrame) -> DataFrame:
    """Fixed-round doubling transitive closure + mutual-reachability
    labeling (the oracle-mirrorable SCC formulation q_scc registers).
    Quadratic in component size — callers must pass graphs with bounded
    SCCs (see directed_supplier_edges)."""
    # Each round is MATERIALIZED (eager localCheckpoint): without the
    # lineage cut the 5 join+distinct rounds compound into one enormous
    # lazy tree (~1.5 MB task binaries, 43 s at sf0.01); cut, the whole
    # closure runs in a few small jobs. Early exit when the closure
    # stops growing — the converged relation equals the oracle's
    # fixed-round one by definition, so the comparison is unaffected.
    c = edges.localCheckpoint()
    size = c.count()
    for _ in range(SCC_ROUNDS):
        step = (
            c.alias("x")
            .join(c.alias("y"), F.col("x.dst") == F.col("y.src"))
            .select(F.col("x.src").alias("src"), F.col("y.dst").alias("dst"))
        )
        c = c.unionByName(step).distinct().localCheckpoint()
        new_size = c.count()
        if new_size == size:
            break
        size = new_size
    nodes = c.select(F.col("src").alias("id")).union(
        c.select(F.col("dst").alias("id"))
    ).distinct()
    mutual = (
        c.alias("f")
        .join(
            c.alias("r"),
            (F.col("f.src") == F.col("r.dst")) & (F.col("f.dst") == F.col("r.src")),
        )
        .select(F.col("f.src").alias("u"), F.col("f.dst").alias("v"))
    )
    lbl = mutual.groupBy("u").agg(F.min("v").alias("mv"))
    return nodes.join(lbl, nodes.id == lbl.u, "left").select(
        F.col("id"),
        F.least(F.col("id"), F.coalesce(F.col("mv"), F.col("id"))).alias("scc_id"),
    )


def _scc_oracle_sql(rounds: int = SCC_ROUNDS, same_nation: bool = True) -> str:
    nation_join = (
        """
      JOIN supplier sa ON a.l_suppkey = sa.s_suppkey
      JOIN supplier sb ON b.l_suppkey = sb.s_suppkey"""
        if same_nation
        else ""
    )
    nation_pred = (
        "\n        AND sa.s_nationkey = sb.s_nationkey" if same_nation else ""
    )
    base = f"""WITH e AS MATERIALIZED (
      SELECT DISTINCT a.l_suppkey AS src, b.l_suppkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey
       AND a.l_suppkey <> b.l_suppkey
       AND a.l_quantity > b.l_quantity{nation_join}
      WHERE a.l_quantity >= 40 AND b.l_quantity >= 40{nation_pred}
    ),
    c0 AS MATERIALIZED (SELECT src, dst FROM e)"""
    steps = []
    for i in range(1, rounds + 1):
        p = i - 1
        steps.append(
            f""",
    c{i} AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM c{p}
        UNION ALL
        SELECT x.src, y.dst FROM c{p} x JOIN c{p} y ON x.dst = y.src
      )
    )"""
        )
    return (
        base
        + "".join(steps)
        + f""",
    nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
    m AS (SELECT a.src AS u, MIN(a.dst) AS mv
          FROM c{rounds} a JOIN c{rounds} b ON a.src = b.dst AND a.dst = b.src
          GROUP BY a.src)
    SELECT id, CAST(LEAST(id, COALESCE(mv, id)) AS BIGINT) AS scc_id
    FROM nodes LEFT JOIN m ON id = u"""
    )


LPA_ROUNDS = 3


def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the supplier co-occurrence graph via
    deterministic synchronous label propagation (min-tiebreak LPA,
    graph/algorithms.label_propagation), LPA_ROUNDS rounds. Distinct
    from connected components: LPA separates denser-than-cut groups
    INSIDE one component. The oracle unrolls the identical round count
    with the identical argmax tie-break, so both engines compute the
    same partial trajectory even where LPA would oscillate."""
    from page_rank_mapreduce_java_spark.graph.algorithms import label_propagation

    return label_propagation(
        cooccurrence_edges(spark, sf_dir), rounds=LPA_ROUNDS
    )


def _lpa_oracle_sql(rounds: int = LPA_ROUNDS) -> str:
    base = f"""WITH e AS MATERIALIZED ({COOC_EDGES_SQL}),
    sym AS MATERIALIZED (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
    l0 AS (SELECT DISTINCT src AS id, src AS label FROM sym)"""
    steps = []
    for i in range(1, rounds + 1):
        p = i - 1
        steps.append(
            f""",
    b{i} AS MATERIALIZED (SELECT id, label FROM (
        SELECT s.dst AS id, l.label, COUNT(*) AS c,
               ROW_NUMBER() OVER (PARTITION BY s.dst
                                  ORDER BY COUNT(*) DESC, l.label ASC) AS rn
        FROM l{p} l JOIN sym s ON l.id = s.src
        GROUP BY s.dst, l.label) WHERE rn = 1),
    l{i} AS (SELECT n.id, COALESCE(b.label, n.label) AS label
             FROM l{p} n LEFT JOIN b{i} b ON n.id = b.id)"""
        )
    return (
        base
        + "".join(steps)
        + f"\n    SELECT id, label AS community FROM l{rounds}"
    )


def q_scc_fwbw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production SCC path: Trim + forward-max coloring + backward
    confirmation on the superstep chassis (graph/algorithms.
    strongly_connected_components — data-dependent rounds, node-linear
    state, no quadratic closure). Same labeling convention as q_scc; the
    oracle is the doubling closure UNROLLED ON THE SAME (dense) GRAPH:
    the closure converges (early exit) on the fixture graphs, so the
    fixed-round oracle computes the TRUE SCC relation there, which is
    what FW-BW computes on any graph. Runs on the DENSE bulk-flow graph
    (directed_supplier_edges_dense) — the giant-SCC regime where
    coloring converges in few rounds — while the doubling demo q_scc
    runs on the nation-blocked graph that bounds ITS quadratic closure;
    tests/test_graph_algorithms.py proves the two formulations agree on
    random digraphs and on both corpus graphs."""
    from page_rank_mapreduce_java_spark.graph.algorithms import (
        strongly_connected_components,
    )

    return strongly_connected_components(
        directed_supplier_edges_dense(spark, sf_dir)
    )


JACCARD_TOP = 50


def q_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 supplier pairs by neighborhood Jaccard similarity
    |N(u)∩N(v)| / |N(u)∪N(v)| — common-neighbors normalized by degree,
    the other standard link-prediction score (a pair sharing 3 of their
    4 partners outranks a hub pair sharing 30 of 300).

    Shape: rides the SAME hub-capped wedge chassis as
    q_common_neighbors (candidate pairs only ever come from the capped
    wedge join — never all pairs), then joins TRUE degrees (computed on
    the uncapped symmetric relation, one dst-keyed aggregate) back on u
    and v. Jaccard in exact integer ppm via div — no float division.
    The oracle mirrors cap, degrees, and the ppm arithmetic verbatim.
    """
    # The edge relation is referenced 4× (degree agg + wedge sides);
    # no persist: runtime ReusedExchange computes the identical
    # subtree once, and persist() measured 3× slower at sf0.1
    # (cache materialization + lost stage fusion — PERF.md).
    e = cooccurrence_edges(spark, sf_dir)
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("d")
    )
    cn = common_neighbor_counts(sym, deg_cap=COMMON_NEIGHBORS_DEG_CAP)
    du = deg.select(F.col("id").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("d").alias("dv"))
    return (
        cn.join(du, "u")
        .join(dv, "v")
        .withColumn(
            "jacc_ppm",
            F.expr("(n_common * 1000000) div (du + dv - n_common)"),
        )
        .select("u", "v", "n_common", "jacc_ppm")
        .orderBy(F.desc("jacc_ppm"), F.asc("u"), F.asc("v"))
        .limit(JACCARD_TOP)
    )


JACCARD_NEIGHBORS_SQL = f"""
    WITH e AS MATERIALIZED ({COOC_EDGES_SQL}),
    sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
    deg AS (SELECT src AS id, COUNT(*) AS d FROM sym GROUP BY 1),
    keep AS (SELECT dst FROM sym GROUP BY dst
             HAVING COUNT(*) <= {COMMON_NEIGHBORS_DEG_CAP}),
    symc AS (SELECT s.src, s.dst FROM sym s JOIN keep USING (dst)),
    p AS (
      SELECT a.src AS u, b.src AS v, COUNT(*) AS n_common
      FROM symc a JOIN symc b ON a.dst = b.dst AND a.src < b.src
      GROUP BY 1, 2
    )
    SELECT u, v, CAST(n_common AS BIGINT) AS n_common,
           CAST((n_common * 1000000) // (du.d + dv.d - n_common) AS BIGINT)
             AS jacc_ppm
    FROM p JOIN deg du ON p.u = du.id JOIN deg dv ON p.v = dv.id
    ORDER BY jacc_ppm DESC, u, v LIMIT {JACCARD_TOP}
"""


def q_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient 2·T(v) / (d(v)·(d(v)−1))
    in integer ppm — how close each supplier's partner set is to a
    clique (the transitivity profile of the co-occurrence graph).

    Shape: per-node triangle counts from the degree-oriented wedge
    counter (graph/motifs.triangle_counts — O(m^1.5) wedge volume, the
    100×-scale plan) joined with the undirected degree aggregate; the
    coefficient is pure integer arithmetic (div), 0 for d < 2 nodes.
    """
    from page_rank_mapreduce_java_spark.graph.motifs import triangle_counts

    # The triangle counter references the edge relation three times
    # (orientation join ×2 + closing edge) and the degree aggregate a
    # fourth; the static plan shows 31 exchanges but runtime
    # ReusedExchange collapses the identical subtrees — persist() was
    # measured 2.5× SLOWER at sf0.1 (PERF.md), so the lineage stays.
    e = cooccurrence_edges(spark, sf_dir)
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    return (
        triangle_counts(e)
        .join(deg, "id")
        .withColumn(
            "coeff_ppm",
            F.expr(
                "CASE WHEN deg >= 2 THEN (2 * triangles * 1000000)"
                " div (deg * (deg - 1)) ELSE 0 END"
            ).cast("long"),
        )
        .select("id", "triangles", "deg", "coeff_ppm")
    )


def _clustering_coeff_oracle_sql() -> str:
    from page_rank_mapreduce_java_spark.graph.motifs import triangles_sql

    tri = triangles_sql(COOC_EDGES_SQL)
    return f"""
    WITH tri AS MATERIALIZED ({tri}),
    e2 AS MATERIALIZED ({COOC_EDGES_SQL}),
    sym2 AS (SELECT src, dst FROM e2 UNION ALL SELECT dst, src FROM e2),
    deg2 AS (SELECT src AS id, COUNT(*) AS deg FROM sym2 GROUP BY 1)
    SELECT tri.id, CAST(tri.triangles AS BIGINT) AS triangles,
           CAST(deg2.deg AS BIGINT) AS deg,
           CAST(CASE WHEN deg2.deg >= 2
                     THEN (2 * tri.triangles * 1000000)
                          // (deg2.deg * (deg2.deg - 1))
                     ELSE 0 END AS BIGINT) AS coeff_ppm
    FROM tri JOIN deg2 ON tri.id = deg2.id
"""


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-occurrence graph: the Pearson
    correlation of (deg(u), deg(v)) over the symmetrized edge ends, in
    integer ppm — positive means hubs link to hubs (social-network
    shape), negative means hubs link to leaves (star/hub-spoke shape).

    Shape: one degree aggregate, two broadcast-joinable maps back onto
    the edge ends (the degree relation is node-sized — orders smaller
    than edges; at web scale it shuffle-joins on the same src/dst keys
    the degree aggregate just produced), one corr() co-moment pass.
    """
    e = cooccurrence_edges(spark, sf_dir)
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = sym.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("d")
    )
    du = deg.select(F.col("id").alias("src"), F.col("d").alias("du"))
    dv = deg.select(F.col("id").alias("dst"), F.col("d").alias("dv"))
    # Exact integer sufficient statistics (VERDICT r5 next #4 — the
    # relational9 OLS convention): degrees are integers, so n, Σx, Σy,
    # Σxy, Σx², Σy² ride DECIMAL(38,0)/HUGEINT order-independently and
    # bit-identically on both engines; the only floating arithmetic is
    # the IDENTICAL terminal expression a/√(b·c) over those exact
    # integers (casts, *, /, √ are all IEEE correctly-rounded — unlike
    # the previous covar_pop/stddev_pop accumulation, which could land
    # a ppm boundary a half-ulp apart between engines).
    xd = F.col("du").cast("decimal(38,0)")
    yd = F.col("dv").cast("decimal(38,0)")
    agg = (
        sym.join(du, "src")
        .join(dv, "dst")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(xd).alias("_sx"),
            F.sum(yd).alias("_sy"),
            F.sum(xd * xd).alias("_sxx"),
            F.sum(xd * yd).alias("_sxy"),
            F.sum(yd * yd).alias("_syy"),
        )
    )
    n = F.col("_n").cast("double")
    sx = F.col("_sx").cast("double")
    sy = F.col("_sy").cast("double")
    a = n * F.col("_sxy").cast("double") - sx * sy
    b = n * F.col("_sxx").cast("double") - sx * sx
    c = n * F.col("_syy").cast("double") - sy * sy
    return agg.select(
        # zero degree variance (a regular graph — the sf0.001 fixture)
        # leaves corr undefined: b·c lands at 0 (the greatest() clamp
        # absorbs the tiny negative cancellation can produce once the
        # double-cast sums exceed 2^53 — ADVICE r6: DuckDB sqrt(negative)
        # RAISES while Spark gives NaN), try_divide yields NULL, and the
        # sentinel −2·10⁶ (outside
        # corr's ppm range) keeps the row NULL-free on both engines
        # (canonicalization policy, tools/canon_audit.py).
        F.coalesce(
            F.round(F.try_divide(a, F.sqrt(F.greatest(b * c, F.lit(0.0)))) * 1e6).cast("long"),
            F.lit(-2_000_000),
        ).alias("assortativity_ppm")
    )


def corr_ppm_sql(x: str, y: str, alias: str, sentinel: int = -2_000_000) -> str:
    """DuckDB rendering of the exact-sufficient-statistic Pearson ppm:
    must be placed over a relation exposing integer columns ``x``/``y``;
    aggregates HUGEINT sums and applies the same terminal double
    expression as the Spark side. GREATEST(·, 0) clamps the tiny
    negative that float cancellation can produce past 2^53 (DuckDB
    sqrt(negative) raises OutOfRangeException; Spark would diverge to
    NaN), and NULLIF guards the zero-variance case (DuckDB IEEE float
    division would give ±inf/NaN, not NULL)."""
    sx, sy = f"CAST(SUM(CAST({x} AS HUGEINT)) AS DOUBLE)", f"CAST(SUM(CAST({y} AS HUGEINT)) AS DOUBLE)"
    sxx = f"CAST(SUM(CAST({x} AS HUGEINT) * CAST({x} AS HUGEINT)) AS DOUBLE)"
    sxy = f"CAST(SUM(CAST({x} AS HUGEINT) * CAST({y} AS HUGEINT)) AS DOUBLE)"
    syy = f"CAST(SUM(CAST({y} AS HUGEINT) * CAST({y} AS HUGEINT)) AS DOUBLE)"
    n = "CAST(COUNT(*) AS DOUBLE)"
    a = f"({n} * {sxy} - {sx} * {sy})"
    b = f"({n} * {sxx} - {sx} * {sx})"
    c = f"({n} * {syy} - {sy} * {sy})"
    return (
        f"COALESCE(CAST(ROUND({a} / sqrt(NULLIF(GREATEST({b} * {c}, 0), 0)) "
        f"* 1e6, 0) AS BIGINT), {sentinel}) AS {alias}"
    )


ASSORTATIVITY_SQL = f"""
    WITH e AS MATERIALIZED ({COOC_EDGES_SQL}),
    sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
    deg AS (SELECT src AS id, COUNT(*) AS d FROM sym GROUP BY 1)
    SELECT {corr_ppm_sql('du.d', 'dv.d', 'assortativity_ppm')}
    FROM sym JOIN deg du ON sym.src = du.id JOIN deg dv ON sym.dst = dv.id
"""


STRESS_DEPTH = 4


def _bfs_inputs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame, str]:
    """(symmetrized interaction edges, BFS sources, keyed-edge memo): the
    inputs of the multi-source BFS queries, as _frontier_sql reads them."""
    from page_rank_mapreduce_java_spark.graph.algorithms import _symmetrize

    edges = derived_edges(spark, sf_dir)
    sources = edges.filter(F.col("src") <= BFS_SOURCE_MAX).select("src").distinct()
    return _symmetrize(edges), sources, f"interact:{sf_dir}"


def q_stress_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-4 stress centrality from the BFS source customers over the
    symmetrized interaction graph — the integer-exact betweenness-family
    ranking (graph/centrality.py): which suppliers/customers sit on the
    most shortest paths. Source-sampled (custkey ≤ BFS_SOURCE_MAX) and
    depth-bounded exactly like graph_bfs_hops; the oracle unrolls the
    same levels, so truncation is part of the certified semantics."""
    from page_rank_mapreduce_java_spark.graph.centrality import (
        stress_centrality_sampled,
    )

    sym, sources, memo = _bfs_inputs(spark, sf_dir)
    return stress_centrality_sampled(sym, sources, max_depth=STRESS_DEPTH, cache_key=memo)


BETWEENNESS_SCALE = 10_000  # δ carried in 1e-4 units (see graph/centrality.py)


def q_betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-4 approximate betweenness from the BFS source customers
    over the symmetrized interaction graph — Brandes' two-phase
    dependency accumulation with source sampling (Brandes–Pich 2007),
    the fractional sibling of graph_stress_centrality. Dependencies are
    carried as BIGINT fixed-point in 1/BETWEENNESS_SCALE units with one
    integer division per DAG edge (graph/centrality.py documents the
    rounding contract), so the result is bit-exact on any partitioning
    and the oracle unrolls the identical recursion. Source-sampled
    (custkey ≤ BFS_SOURCE_MAX) and depth-bounded exactly like
    graph_bfs_hops; truncation is part of the certified semantics."""
    from page_rank_mapreduce_java_spark.graph.centrality import (
        betweenness_sampled,
    )

    sym, sources, memo = _bfs_inputs(spark, sf_dir)
    return betweenness_sampled(
        sym, sources, max_depth=STRESS_DEPTH, scale=BETWEENNESS_SCALE, cache_key=memo
    )


def _frontier_sql(depth: int, payload: str) -> str:
    """Unrolled multi-source BFS from the BFS sources over the symmetrized
    interaction graph: f{l}[s, id, <payload>] holds the nodes first
    visited at level l from source s, v{l}[s, id] every node visited up to
    level l. ``payload`` "sigma" is the number of shortest s→id paths,
    summed over the level-(l-1) predecessors; "level" is l itself. The
    oracle twin of graph/centrality.bfs_frontier."""
    sigma = payload == "sigma"
    sql = f"""WITH edges AS MATERIALIZED ({EDGES_SQL}),
sym AS MATERIALIZED (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
srcs AS (SELECT DISTINCT src AS id FROM edges WHERE src <= {BFS_SOURCE_MAX}),
f0 AS MATERIALIZED (SELECT id AS s, id, CAST({int(sigma)} AS BIGINT) AS {payload} FROM srcs),
v0 AS MATERIALIZED (SELECT s, id FROM f0)"""
    for i in range(1, depth + 1):
        p = i - 1
        pick, value, group = (
            ("", "SUM(p.sigma)", "\n  GROUP BY p.s, e.dst") if sigma else ("DISTINCT ", i, "")
        )
        sql += f""",
f{i} AS MATERIALIZED (
  SELECT {pick}p.s, e.dst AS id, CAST({value} AS BIGINT) AS {payload}
  FROM f{p} p JOIN sym e ON p.id = e.src
  LEFT JOIN v{p} v ON v.s = p.s AND v.id = e.dst
  WHERE v.id IS NULL{group}),
v{i} AS MATERIALIZED (SELECT s, id FROM v{p} UNION ALL SELECT s, id FROM f{i})"""
    return sql


def _betweenness_oracle_sql(
    depth: int = STRESS_DEPTH, scale: int = BETWEENNESS_SCALE
) -> str:
    """DuckDB unroll of betweenness_sampled: the shared σ forward pass
    (_frontier_sql), a backward pass carrying (sigma, delta) with the same
    per-edge integer division, interior = levels ≥ 1 summing delta."""
    sql = _frontier_sql(depth, "sigma") + f""",
d{depth} AS MATERIALIZED (
  SELECT s, id, sigma, CAST(0 AS BIGINT) AS delta FROM f{depth})"""
    for l in range(depth - 1, -1, -1):
        sql += f""",
d{l} AS MATERIALIZED (
  SELECT c.s, c.id, c.sigma,
         CAST(COALESCE(SUM((c.sigma * ({scale} + dn.delta)) // dn.sigma),
                       0) AS BIGINT) AS delta
  FROM f{l} c
  LEFT JOIN sym e ON c.id = e.src
  LEFT JOIN d{l + 1} dn ON dn.s = c.s AND dn.id = e.dst
  GROUP BY c.s, c.id, c.sigma)"""
    interior = " UNION ALL ".join(
        f"SELECT id, delta FROM d{l}" for l in range(1, depth + 1)
    )
    return (
        sql
        + f""",
contrib AS ({interior}),
nodes AS (SELECT DISTINCT src AS id FROM sym)
SELECT n.id,
       CAST(COALESCE(SUM(u.delta), 0) AS BIGINT) AS betweenness_fp
FROM nodes n LEFT JOIN contrib u ON n.id = u.id GROUP BY n.id"""
    )


def _stress_oracle_sql(depth: int = STRESS_DEPTH) -> str:
    sql = _frontier_sql(depth, "sigma") + f""",
g{depth} AS MATERIALIZED (SELECT s, id, CAST(0 AS BIGINT) AS g FROM f{depth})"""
    for l in range(depth - 1, -1, -1):
        sql += f""",
g{l} AS MATERIALIZED (
  SELECT c.s, c.id,
         CAST(COALESCE(SUM(1 + gn.g), 0) AS BIGINT) AS g
  FROM f{l} c
  LEFT JOIN sym e ON c.id = e.src
  LEFT JOIN g{l + 1} gn ON gn.s = c.s AND gn.id = e.dst
  GROUP BY c.s, c.id)"""
    interior = " UNION ALL ".join(
        f"SELECT f{l}.id, f{l}.sigma * g{l}.g AS c "
        f"FROM f{l} JOIN g{l} ON f{l}.s = g{l}.s AND f{l}.id = g{l}.id"
        for l in range(1, depth + 1)
    )
    return (
        sql
        + f""",
contrib AS ({interior}),
nodes AS (SELECT DISTINCT src AS id FROM sym)
SELECT n.id, CAST(COALESCE(SUM(u.c), 0) AS BIGINT) AS stress
FROM nodes n LEFT JOIN contrib u ON n.id = u.id GROUP BY n.id"""
    )


QUERIES = {
    "graph_pagerank": q_pagerank,
    "graph_pagerank_weighted": q_pagerank_weighted,
    "graph_pagerank_topk": q_pagerank_topk,
    "graph_out_degrees": q_out_degrees,
    "graph_in_degrees": q_in_degrees,
    "graph_dangling_nodes": q_dangling,
    "graph_degree_histogram": q_degree_histogram,
    "graph_invert_edges": q_invert_edges,
    "graph_connected_components": q_connected_components,
    "graph_bfs_hops": q_bfs_hops,
    "graph_personalized_pagerank": q_personalized_pagerank,
    "graph_triangle_counts": q_triangle_counts,
    "graph_kcore": q_kcore,
    "graph_ktruss": q_ktruss,
    "graph_hash_walks": q_hash_walks,
    "graph_square_count": q_square_count,
    "graph_hits": q_hits,
    "graph_common_neighbors": q_common_neighbors,
    "graph_scc": q_scc,
    "graph_scc_fwbw": q_scc_fwbw,
    "graph_lpa_communities": q_lpa_communities,
    "graph_sssp_weighted": q_sssp_weighted,
    "graph_jaccard_neighbors": q_jaccard_neighbors,
    "graph_clustering_coeff": q_clustering_coeff,
    "graph_degree_assortativity": q_degree_assortativity,
    "graph_stress_centrality": q_stress_centrality,
    "graph_betweenness_sampled": q_betweenness_sampled,
}

ORACLES = {
    "graph_pagerank": _corpus_pagerank_sql(EDGES_SQL),
    "graph_pagerank_weighted": _corpus_pagerank_sql(WEDGES_SQL, weighted=True),
    "graph_pagerank_topk": _corpus_pagerank_sql(EDGES_SQL)
    + " ORDER BY rank_e8 DESC, id ASC LIMIT 20",
    "graph_out_degrees": f"WITH edges AS MATERIALIZED ({EDGES_SQL}) "
    "SELECT src AS id, count(*) AS out_degree FROM edges GROUP BY 1",
    "graph_in_degrees": f"WITH edges AS MATERIALIZED ({EDGES_SQL}) "
    "SELECT dst AS id, count(*) AS in_degree FROM edges GROUP BY 1",
    "graph_dangling_nodes": f"""WITH edges AS MATERIALIZED ({EDGES_SQL}),
        nodes AS MATERIALIZED (SELECT src AS id FROM edges UNION SELECT dst FROM edges)
        SELECT n.id FROM nodes n LEFT JOIN (SELECT DISTINCT src FROM edges) e
        ON n.id = e.src WHERE e.src IS NULL""",
    "graph_degree_histogram": f"""WITH edges AS MATERIALIZED ({EDGES_SQL}),
        deg AS (SELECT src, count(*) AS out_degree FROM edges GROUP BY 1)
        SELECT out_degree, count(*) AS num_nodes FROM deg GROUP BY 1""",
    "graph_invert_edges": f"WITH edges AS MATERIALIZED ({EDGES_SQL}) "
    "SELECT dst AS src, src AS dst FROM edges",
    "graph_connected_components": _cc_oracle_sql(),
    "graph_bfs_hops": _bfs_oracle_sql(),
    "graph_personalized_pagerank": _corpus_pagerank_sql(
        EDGES_SQL,
        sources=f"SELECT DISTINCT src AS id FROM edges WHERE src <= {BFS_SOURCE_MAX}",
    ),
    "graph_common_neighbors": COMMON_NEIGHBORS_SQL,
    "graph_scc": _scc_oracle_sql(),
    "graph_scc_fwbw": _scc_oracle_sql(same_nation=False),
    "graph_lpa_communities": _lpa_oracle_sql(),
    "graph_sssp_weighted": _sssp_oracle_sql(),
    "graph_jaccard_neighbors": JACCARD_NEIGHBORS_SQL,
    "graph_degree_assortativity": ASSORTATIVITY_SQL,
    "graph_stress_centrality": _stress_oracle_sql(),
    "graph_betweenness_sampled": _betweenness_oracle_sql(),
}

# Import placed late to keep the oracle builders' reading order; the
# module has no import-time Spark dependency.
from page_rank_mapreduce_java_spark.graph.motifs import (  # noqa: E402
    kcore_sql,
    ktruss_sql,
    triangles_sql,
)

ORACLES["graph_triangle_counts"] = triangles_sql(COOC_EDGES_SQL)
ORACLES["graph_kcore"] = kcore_sql(COOC_EDGES_SQL, k=KCORE_K, rounds=KCORE_ROUNDS)
ORACLES["graph_ktruss"] = ktruss_sql(
    COOC_EDGES_SQL, k=KTRUSS_K, rounds=KTRUSS_ROUNDS
)
ORACLES["graph_hash_walks"] = _hash_walks_sql()
ORACLES["graph_square_count"] = SQUARE_COUNT_SQL
ORACLES["graph_hits"] = _hits_oracle_sql()
ORACLES["graph_clustering_coeff"] = _clustering_coeff_oracle_sql()


# --- distance-centrality family over shared labeled BFS levels (round 5) -----
#
# harmonic centrality, eccentricity, and mean path length all reduce the
# SAME (source, node, level) relation — the stress chassis' BFS frontier
# with the level as payload (graph/centrality.labeled_bfs_levels). One
# BFS run per (application, sf_dir) feeds all three queries (memoized
# like _RANKS_CACHE; the levels DataFrame is localCheckpoint-backed).
# Depth bound = BFS_HOPS, sources = custkey ≤ BFS_SOURCE_MAX, exactly
# like graph_bfs_hops — the oracle unrolls identical levels, so the
# truncation is part of the certified semantics.

HARM_SCALE = 12  # lcm(1..BFS_HOPS): 12/level is an exact integer

_LEVELS_CACHE: dict[tuple, DataFrame] = {}


def _corpus_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from page_rank_mapreduce_java_spark.graph.centrality import (
        labeled_bfs_levels,
    )

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _LEVELS_CACHE:
        sym, sources, memo = _bfs_inputs(spark, sf_dir)
        _LEVELS_CACHE[key] = labeled_bfs_levels(
            sym, sources, max_depth=BFS_HOPS, cache_key=memo
        )
    return _LEVELS_CACHE[key]


def _corpus_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = derived_edges(spark, sf_dir)
    return (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )


def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-bounded harmonic centrality from the sampled sources:
    harm12(v) = Σ_s 12 / d(s,v) over reached pairs with d ≥ 1 — the
    centrality that handles disconnected graphs gracefully (unreached
    pairs contribute 0, no ∞ bookkeeping like closeness). Scaled by
    lcm(1..4) = 12 so every term is an exact integer (12, 6, 4, 3):
    BIGINT-exact, partition-invariant, exactly oracle-mirrorable."""
    lv = _corpus_levels(spark, sf_dir).filter(F.col("level") >= 1)
    harm = lv.groupBy("id").agg(
        F.sum(F.expr(f"{HARM_SCALE} div level")).alias("harm12")
    )
    return (
        _corpus_nodes(spark, sf_dir)
        .join(harm, "id", "left")
        .select("id", F.coalesce("harm12", F.lit(0)).cast("long").alias("harm12"))
    )


def q_graph_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source depth-bounded eccentricity and coverage: the farthest
    first-visit level and the number of distinct nodes reached within
    BFS_HOPS — the sampled diameter/ball-size probe (a sudden coverage
    drop for one source flags a partitioned region)."""
    lv = _corpus_levels(spark, sf_dir).filter(F.col("level") >= 1)
    return lv.groupBy("s").agg(
        F.max("level").cast("long").alias("ecc"),
        F.count(F.lit(1)).alias("n_reached"),
    )


def q_graph_avg_path_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean shortest-path length from the sampled sources (depth-bounded,
    reached pairs only), in milli — the small-world summary statistic.
    Exact integer numerator/denominator; one final double division."""
    lv = _corpus_levels(spark, sf_dir).filter(F.col("level") >= 1)
    agg = lv.agg(
        F.count(F.lit(1)).alias("n_pairs"), F.sum("level").alias("sum_levels")
    )
    return agg.select(
        "n_pairs",
        "sum_levels",
        F.round(
            F.col("sum_levels").cast("double") / F.col("n_pairs").cast("double") * 1e3
        )
        .cast("long")
        .alias("avg_milli"),
    )


def q_graph_closeness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-bounded closeness per sampled source (reached pairs only):
    integer (n_reached, sum_levels) plus closeness in milli =
    1000·n_reached div sum_levels — Bavelas closeness restricted to the
    certified BFS ball, the within-reach companion of harmonic
    centrality (which owns the disconnected case). Reuses the shared
    labeled-BFS levels; one ≤|sources|-row aggregate."""
    lv = _corpus_levels(spark, sf_dir).filter(F.col("level") >= 1)
    agg = lv.groupBy("s").agg(
        F.count(F.lit(1)).alias("n_reached"),
        F.sum("level").alias("sum_levels"),
    )
    return agg.select(
        "s",
        "n_reached",
        F.col("sum_levels").cast("long").alias("sum_levels"),
        F.expr("(n_reached * 1000) div sum_levels").alias("closeness_milli"),
    )


QUERIES["graph_harmonic_centrality"] = q_harmonic_centrality
QUERIES["graph_eccentricity"] = q_graph_eccentricity
QUERIES["graph_closeness_sampled"] = q_graph_closeness_sampled
QUERIES["graph_avg_path_length"] = q_graph_avg_path_length

# The oracle twin of labeled_bfs_levels: the level frontiers unioned into
# the (s, id, level) first-visit relation ``lv``.
_LEVELS_SQL = _frontier_sql(BFS_HOPS, "level") + ",\nlv AS MATERIALIZED ({})".format(
    " UNION ALL ".join(f"SELECT * FROM f{i}" for i in range(1, BFS_HOPS + 1))
)
ORACLES["graph_harmonic_centrality"] = _LEVELS_SQL + f""",
h AS (SELECT id, CAST(SUM({HARM_SCALE} // level) AS BIGINT) AS harm12
      FROM lv GROUP BY 1),
nodes AS (SELECT DISTINCT src AS id FROM sym)
SELECT n.id, CAST(COALESCE(h.harm12, 0) AS BIGINT) AS harm12
FROM nodes n LEFT JOIN h ON n.id = h.id"""
ORACLES["graph_eccentricity"] = _LEVELS_SQL + """
SELECT s, CAST(MAX(level) AS BIGINT) AS ecc,
       CAST(COUNT(*) AS BIGINT) AS n_reached
FROM lv GROUP BY 1"""
ORACLES["graph_closeness_sampled"] = _LEVELS_SQL + """
SELECT s, CAST(COUNT(*) AS BIGINT) AS n_reached,
       CAST(SUM(level) AS BIGINT) AS sum_levels,
       CAST((COUNT(*) * 1000) // SUM(level) AS BIGINT) AS closeness_milli
FROM lv GROUP BY 1"""
ORACLES["graph_avg_path_length"] = _LEVELS_SQL + """
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(level) AS BIGINT) AS sum_levels,
       CAST(ROUND(CAST(SUM(level) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 1e3, 0)
            AS BIGINT) AS avg_milli
FROM lv"""
