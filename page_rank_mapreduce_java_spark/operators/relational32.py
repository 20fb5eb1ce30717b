"""Relational/analytics surface, batch 32 (round 8 growth, fourteenth
wave): the churn-risk census (each customer judged against their OWN
cadence) and the PageRank↔Katz rank-agreement score — a capstone
composition of three certified chassis (two iterative centralities +
the ties-averaged rank machinery).

Beyond-reference extension surface (SURVEY §2.9 / LLM-pipeline family).
Like batches 19-31, registered after the round-8 audit window filled:
locally oracle-certified at two scale factors and deferred to the
round-9 driver window via `_DEFER_TO_NEXT_ROUND`.

Exactness: churn is pure integer day arithmetic with per-customer
nearest-rank picks; rank agreement reuses the lineitem_spearman
contract (exact integer 2·avg-ranks, DECIMAL/HUGEINT sufficient
statistics, the identical correctly-rounded a/(√b·√c) terminal)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from page_rank_mapreduce_java_spark.catalog import load_table
from page_rank_mapreduce_java_spark.graph.pagerank import pagerank
from page_rank_mapreduce_java_spark.graph.queries import (
    COOC_EDGES_SQL,
    cooccurrence_edges,
    pagerank_chain_sql,
)
from page_rank_mapreduce_java_spark.operators.relational25 import (
    KATZ_ITERS,
    _katz_sql,
)


# --- churn-risk census -----------------------------------------------------------

CHURN_MIN_ORDERS = 3  # need a cadence history to judge against


def q_customer_churn_risk_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-risk customer census: a customer is AT RISK when their
    current silence (days from their last order to the corpus's last
    date) exceeds their OWN p90 inter-order gap — the personalized
    churn flag (a weekly buyer quiet for a month is at risk; a
    quarterly buyer isn't). Customers with < CHURN_MIN_ORDERS orders
    have no cadence and are unscored. One row:
    (n_scored, n_at_risk, at_risk_ppm).

    Exactness: exact integer day gaps; the p90 is the nearest-rank
    pick (position ceil(0.9·k)) within each customer's own gap list —
    computed with a per-customer rank window, no interpolation; the
    census ppm is integer `div`.

    Scale shape: two windows per CUSTOMER (lag for gaps, rank for the
    positional pick — high-cardinality keyed windows), one broadcast
    1-row corpus-max date, one census aggregate. No global order.
    """
    o = load_table(spark, "orders", sf_dir).select(
        "o_custkey", F.to_date("o_orderdate").alias("day"), "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    seq = o.withColumn("_prev", F.lag("day").over(w))
    gaps = seq.filter(F.col("_prev").isNotNull()).select(
        "o_custkey", F.datediff("day", "_prev").alias("gap")
    )
    w_rank = Window.partitionBy("o_custkey").orderBy("gap")
    ranked = gaps.withColumn("_r", F.row_number().over(w_rank))
    per_c = ranked.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("k"),
        F.max("gap").alias("_maxgap"),
    )
    p90 = (
        ranked.join(per_c, "o_custkey")
        .filter(F.col("_r") == F.expr("(9 * k + 9) div 10"))
        .select("o_custkey", F.col("gap").alias("p90_gap"), "k")
    )
    last = o.groupBy("o_custkey").agg(F.max("day").alias("last_day"))
    corpus_max = o.agg(F.max("day").alias("max_day"))
    scored = (
        p90.filter(F.col("k") >= CHURN_MIN_ORDERS - 1)  # k gaps = k+1 orders
        .join(last, "o_custkey")
        .crossJoin(F.broadcast(corpus_max))
        .select(
            (F.datediff("max_day", "last_day") > F.col("p90_gap"))
            .cast("int")
            .alias("at_risk")
        )
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        F.sum("at_risk").cast("long").alias("n_at_risk"),
    ).select(
        "n_scored",
        "n_at_risk",
        F.expr("CAST(1000000 * n_at_risk div n_scored AS BIGINT)").alias(
            "at_risk_ppm"
        ),
    )


CHURN_SQL = f"""
    WITH o AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS day, o_orderkey
      FROM orders),
    gaps AS (
      SELECT o_custkey,
             date_diff('day', lag(day) OVER (PARTITION BY o_custkey
                                             ORDER BY day, o_orderkey),
                       day) AS gap
      FROM o QUALIFY gap IS NOT NULL),
    ranked AS (
      SELECT o_custkey, gap,
             row_number() OVER (PARTITION BY o_custkey ORDER BY gap) AS r,
             COUNT(*) OVER (PARTITION BY o_custkey) AS k
      FROM gaps),
    p90 AS (
      SELECT o_custkey, gap AS p90_gap, k
      FROM ranked WHERE r = (9 * k + 9) // 10),
    last AS (SELECT o_custkey, MAX(day) AS last_day FROM o GROUP BY 1),
    cm AS (SELECT MAX(day) AS max_day FROM o),
    scored AS (
      SELECT CASE WHEN date_diff('day', l.last_day, cm.max_day) > p.p90_gap
                  THEN 1 ELSE 0 END AS at_risk
      FROM p90 p JOIN last l ON p.o_custkey = l.o_custkey
      CROSS JOIN cm
      WHERE p.k >= {CHURN_MIN_ORDERS - 1})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_scored,
           CAST(SUM(at_risk) AS BIGINT) AS n_at_risk,
           CAST(1000000 * SUM(at_risk) // COUNT(*) AS BIGINT)
             AS at_risk_ppm
    FROM scored
"""


# --- PageRank ↔ Katz rank agreement ------------------------------------------------

AGREE_PR_ITERS = 5
AGREE_DAMPING = 0.85


def q_graph_centrality_rank_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Do PageRank and Katz agree on who matters? Spearman rank
    correlation between the two centralities over the supplier
    co-occurrence graph — the robustness check before acting on any
    single centrality (high agreement = the ranking is a property of
    the graph, not the algorithm). One row: (n_nodes, rho_ppm).

    Composition capstone: the PageRank superstep chassis
    (graph/pagerank.py, the reference's algorithm) + the integer-exact
    Katz recursion (relational25) + the ties-averaged-rank Spearman
    machinery (the lineitem_spearman contract — node-sized relation,
    so the rank windows are dim-bounded at any corpus scale; ranks on
    (value, id) total orders, 2·avg-rank tie collapse, DECIMAL/HUGEINT
    sufficient statistics, identical correctly-rounded terminal).
    """
    from page_rank_mapreduce_java_spark.graph.keyed import keyed_edges
    from page_rank_mapreduce_java_spark.operators.relational25 import (
        _katz_from_sym,
    )

    # One persisted, src-keyed edge relation (graph/keyed.py) feeds both
    # iterative chains, so the co-occurrence self-join runs once. Katz
    # iterates over it directly; pagerank keys its own weighted copy of
    # it at the same width, so it skips its sizing count. Both chains
    # return materialized vectors, so the edges are released at the
    # block's end.
    e = cooccurrence_edges(spark, sf_dir)
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    with keyed_edges(sym, memo=f"cooc:{sf_dir}") as (keyed, width):
        pr = (
            pagerank(
                keyed,
                num_iterations=AGREE_PR_ITERS,
                damping=AGREE_DAMPING,
                partitions=width,
            )
            .ranks.withColumn("pr_e8", F.round(F.col("rank") * 1e8).cast("long"))
            .select("id", "pr_e8")
        )
        kz = _katz_from_sym(keyed)
    both = pr.join(kz, "id")
    # ties-averaged 2·avg-ranks per metric via the global-ranking
    # chassis (nodes are dim-scale but GROW with the corpus — the
    # window_dense_rank_suppliers lesson — so no single-task window):
    # rank over the (value, id) total order, then 2·min(rn)+cnt−1 per
    # distinct value, joined back (the lineitem_spearman machinery).
    # r13 (VERDICT r12 next #2): the two global rankings are FUSED —
    # both metrics' value streams are tagged and unioned, ONE
    # range-exchange ranking runs over (metric, value, id), and each
    # metric's within-metric rank is recovered by subtracting the
    # metric's global min-rank − 1 (for metric 0 that is 0; for metric
    # 1 it is n, the row count of ``both``). Per-metric tie groups and
    # their min-rank/count — hence ra/rb — are exactly the r12 values:
    # restricted to one metric the fused order IS (value, id).
    from page_rank_mapreduce_java_spark.operators.ranking import (
        global_row_number,
    )

    tagged = both.select(
        F.lit(0).alias("_m"), F.col("pr_e8").alias("_val"), "id"
    ).unionByName(
        both.select(F.lit(1).alias("_m"), F.col("katz_e8").alias("_val"), "id")
    )
    rk = global_row_number(
        tagged, [F.asc("_m"), F.asc("_val"), F.asc("id")], "_rn"
    )
    offs = rk.groupBy("_m").agg((F.min("_rn") - F.lit(1)).alias("_moff"))
    rk = rk.join(F.broadcast(offs), "_m").withColumn(
        "_rnm", F.col("_rn") - F.col("_moff")
    )
    ta = (
        rk.filter(F.col("_m") == 0)
        .groupBy(F.col("_val").alias("pr_e8"))
        .agg(
            (F.lit(2) * F.min("_rnm") + F.count(F.lit(1)) - F.lit(1)).alias("ra")
        )
    )
    tb = (
        rk.filter(F.col("_m") == 1)
        .groupBy(F.col("_val").alias("katz_e8"))
        .agg(
            (F.lit(2) * F.min("_rnm") + F.count(F.lit(1)) - F.lit(1)).alias("rb")
        )
    )
    r = both.join(ta, "pr_e8").join(tb, "katz_e8").select("ra", "rb")
    rad = F.col("ra").cast("decimal(38,0)")
    rbd = F.col("rb").cast("decimal(38,0)")
    s = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(rad).alias("_sa"),
        F.sum(rbd).alias("_sb"),
        F.sum(rad * rad).alias("_saa"),
        F.sum(rad * rbd).alias("_sab"),
        F.sum(rbd * rbd).alias("_sbb"),
    )
    nd = F.col("n").cast("double")
    sa = F.col("_sa").cast("double")
    sb = F.col("_sb").cast("double")
    saa = F.col("_saa").cast("double")
    sab = F.col("_sab").cast("double")
    sbb = F.col("_sbb").cast("double")
    rho = F.try_divide(
        nd * sab - sa * sb,
        F.sqrt(F.greatest(nd * saa - sa * sa, F.lit(0.0)))
        * F.sqrt(F.greatest(nd * sbb - sb * sb, F.lit(0.0))),
    )
    return s.select(
        F.col("n").cast("long").alias("n_nodes"),
        F.coalesce(F.round(rho * 1e6).cast("long"), F.lit(-2_000_000)).alias(
            "rho_ppm"
        ),
    )


def _agreement_sql() -> str:
    # PageRank chain on the SYMMETRIC co-occurrence edges (both
    # directions — matching the Spark side), then Katz, then Spearman.
    chain = pagerank_chain_sql(
        f"""WITH pr_e0 AS MATERIALIZED ({COOC_EDGES_SQL}),
pr_edges AS MATERIALIZED (SELECT src, dst FROM pr_e0 UNION ALL SELECT dst, src FROM pr_e0)""",
        AGREE_PR_ITERS,
        AGREE_DAMPING,
        prefix="pr_",
    )
    katz = _katz_sql(KATZ_ITERS)
    return (
        chain
        + f""",
pr AS (SELECT id, CAST(ROUND(rank * 1e8, 0) AS BIGINT) AS pr_e8
       FROM pr_r{AGREE_PR_ITERS}),
kz AS ({katz}),
both_c AS (SELECT pr.id, pr.pr_e8, kz.katz_e8
           FROM pr JOIN kz ON pr.id = kz.id),
rka AS (SELECT pr_e8, id,
               row_number() OVER (ORDER BY pr_e8, id) AS rna
        FROM both_c),
ta AS (SELECT pr_e8, 2 * MIN(rna) + COUNT(*) - 1 AS ra
       FROM rka GROUP BY 1),
rkb AS (SELECT katz_e8, id,
               row_number() OVER (ORDER BY katz_e8, id) AS rnb
        FROM both_c),
tb AS (SELECT katz_e8, 2 * MIN(rnb) + COUNT(*) - 1 AS rb
       FROM rkb GROUP BY 1),
rr AS (
  SELECT ta.ra, tb.rb
  FROM both_c b JOIN ta ON b.pr_e8 = ta.pr_e8
                JOIN tb ON b.katz_e8 = tb.katz_e8),
s AS (SELECT COUNT(*) AS n,
             SUM(CAST(ra AS HUGEINT)) AS sa,
             SUM(CAST(rb AS HUGEINT)) AS sb,
             SUM(CAST(ra AS HUGEINT) * ra) AS saa,
             SUM(CAST(ra AS HUGEINT) * rb) AS sab,
             SUM(CAST(rb AS HUGEINT) * rb) AS sbb
      FROM rr)
SELECT CAST(n AS BIGINT) AS n_nodes,
       COALESCE(CAST(ROUND(
         (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
          - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
         / (SQRT(GREATEST(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                          - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE), 0.0))
            * SQRT(GREATEST(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                            - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE), 0.0)))
         * 1e6, 0) AS BIGINT), -2000000) AS rho_ppm
FROM s"""
    )


QUERIES = {
    "customer_churn_risk_census": q_customer_churn_risk_census,
    "graph_centrality_rank_agreement": q_graph_centrality_rank_agreement,
}

ORACLES = {
    "customer_churn_risk_census": CHURN_SQL,
    "graph_centrality_rank_agreement": _agreement_sql(),
}
