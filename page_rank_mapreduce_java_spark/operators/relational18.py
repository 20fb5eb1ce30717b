"""Relational/analytics surface, batch 18 (round 8 close-out): the
capacity/quality audits a production deployment reads next to the
operators they audit — ingest throughput percentiles (the sizing input
for the watermark family of batch 17), IVF cell balance (the tail-
latency input for the ANN serving path), recommendation popularity
lift (the beyond-accuracy bias twin of rec_catalog_coverage), and the
per-language document-length Gini (the corpus-balance audit a training
mixture is tuned against).

Beyond-reference extension surface (SURVEY §2.9); all four are
audits OVER relations the certified operators already produce, so each
reuses a certified chassis (kmeans/ivf_assign, item_item_topk with the
shared memoized pair bound, the two-pass global ranking) rather than
re-deriving it.

Exactness: counts and sums are integers end-to-end; ratios are
rendered in ppm via positive integer division (truncation == floor on
both engines for non-negative operands) or via the shared terminal
PERCENTILE_CONT / round(×1e6) conventions the sibling batches use.
Gini's Σ rank·x accumulates in DECIMAL(38,0)/HUGEINT (the PPS
overflow-headroom convention).

Scale shape notes live per query; the recurring theme: reduce the
fact-scale relation to a bounded one (minutes, cells, one scalar pair)
with ONE map-side-combined aggregate, then do the statistics on the
bounded relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from page_rank_mapreduce_java_spark.catalog import load_table
from page_rank_mapreduce_java_spark.functions.textfn import words
from page_rank_mapreduce_java_spark.functions.text_queries2 import WORDS_SQL
from page_rank_mapreduce_java_spark.operators.ranking import global_row_number
from page_rank_mapreduce_java_spark.operators.recommend import (
    _INTER_CTE,
    _SIMS_CTE,
    _interactions,
    item_item_topk,
)
from page_rank_mapreduce_java_spark.similarity.ann import ivf_assign, kmeans_train
from page_rank_mapreduce_java_spark.similarity.queries import (
    IVF_CENTROIDS,
    IVF_PROBES,
    KMEANS_ITERS,
    N_QUERY_VECS,
    _ivf_ctes,
)


def q_events_throughput_percentiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ingest-rate distribution: exact p50/p95/max of events-per-minute
    — the capacity number a streaming deployment sizes executors and
    state stores against, and the companion to batch 17's watermark
    loss curve (lateness tells you WHEN to close windows; throughput
    tells you how much state is open at once). One row:
    (n_minutes, p50_epm, p95_epm, max_epm).

    Exactness: per-minute counts are integers; the percentiles use the
    shared PERCENTILE_CONT rule (F.percentile == DuckDB quantile_cont,
    the agg_percentiles_exact contract) rounded to 2 decimals on both
    engines.

    Scale shape: ONE map-side-combined aggregate reduces the fact table
    to the minute grain — bounded by the time span (≈5×10⁵ rows for a
    year of minutes), not by data volume — then a 1-row aggregate over
    the bounded relation. No windows, no fact-scale sort."""
    e = load_table(spark, "events", sf_dir)
    per_min = e.groupBy(
        F.date_trunc("minute", F.col("ts")).alias("minute")
    ).agg(F.count(F.lit(1)).alias("epm"))
    pct = F.percentile(F.col("epm"), F.array(F.lit(0.5), F.lit(0.95)))
    return per_min.agg(
        F.count(F.lit(1)).alias("n_minutes"),
        pct.alias("_p"),
        F.max("epm").alias("max_epm"),
    ).select(
        "n_minutes",
        F.round(F.element_at("_p", 1), 2).alias("p50_epm"),
        F.round(F.element_at("_p", 2), 2).alias("p95_epm"),
        F.col("max_epm").cast("long").alias("max_epm"),
    )


THROUGHPUT_SQL = """
    WITH per_min AS (
      SELECT date_trunc('minute', ts) AS minute, COUNT(*) AS epm
      FROM events GROUP BY 1)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_minutes,
           ROUND(quantile_cont(epm, 0.5), 2) AS p50_epm,
           ROUND(quantile_cont(epm, 0.95), 2) AS p95_epm,
           CAST(MAX(epm) AS BIGINT) AS max_epm
    FROM per_min
"""


def q_ann_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-size balance: how many vectors each centroid owns and
    its corpus share in ppm — the skew audit behind IVF tail latency (a
    probe into an oversized cell re-ranks that cell's whole population;
    a starved cell wastes a centroid). One row per centroid.

    Reuses the certified deterministic k-means + assignment chassis of
    ann_ivf_topk (same training constants), so the audited partition is
    EXACTLY the one the serving queries probe.

    Scale shape: training/assignment is the certified broadcast-
    centroid pass; the audit itself is one map-side-combined count on
    the bounded centroid key plus a broadcast 1-row total."""
    e = load_table(spark, "embeddings", sf_dir)
    cent = kmeans_train(e, k=IVF_CENTROIDS, iters=KMEANS_ITERS)
    assign = ivf_assign(e, cent)
    sizes = assign.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    total = sizes.agg(F.sum("n_vecs").alias("_tot"))
    return (
        sizes.crossJoin(F.broadcast(total))
        .select(
            F.col("centroid_id").cast("long").alias("centroid_id"),
            F.col("n_vecs").cast("long").alias("n_vecs"),
            F.expr("CAST(n_vecs * 1000000 div _tot AS BIGINT)").alias(
                "share_ppm"
            ),
        )
    )


def _cell_balance_sql() -> str:
    # the ann_ivf_topk chain; only its cent/assign CTEs are read here
    return f"""
    WITH {_ivf_ctes(N_QUERY_VECS, IVF_PROBES)},
    sizes AS (SELECT centroid_id, COUNT(*) AS n_vecs
              FROM assign GROUP BY 1),
    tot AS (SELECT SUM(n_vecs) AS t FROM sizes)
    SELECT CAST(centroid_id AS BIGINT) AS centroid_id,
           CAST(n_vecs AS BIGINT) AS n_vecs,
           CAST(n_vecs * 1000000 // t AS BIGINT) AS share_ppm
    FROM sizes, tot
    """


def q_rec_popularity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Popularity lift of the item-item recommender: mean popularity
    (interaction count) of the items it recommends vs the mean
    popularity of the catalog, in ppm — >1e6 means the neighbor lists
    skew toward bestsellers (the popularity-bias diagnostic paired with
    rec_catalog_coverage: coverage counts WHO gets recommended, lift
    measures HOW mainstream they are). One row:
    (rec_n, rec_pop_sum, base_n, base_pop_sum, lift_ppm).

    Exactness: popularity is an integer count; the lift ratio is a
    DECIMAL(38,0)/HUGEINT cross-multiplication with positive integer
    division — no floats.

    Scale shape: the neighbor lists come from the certified
    item_item_topk chassis (volume-sized pair exchange, shared memoized
    bound); popularity is one map-side-combined count on the item key;
    the final combine is a broadcast cross of two 1-row aggregates."""
    inter = _interactions(spark, sf_dir)
    pop = inter.groupBy("item_id").agg(F.count(F.lit(1)).alias("pop"))
    sims = item_item_topk(inter, bound_key=f"rec_inter:{sf_dir}")
    rec = (
        sims.select(F.col("neighbor_id").alias("item_id"))
        .join(pop, "item_id")
        .agg(
            F.count(F.lit(1)).alias("rec_n"),
            F.sum("pop").alias("rec_pop_sum"),
        )
    )
    base = pop.agg(
        F.count(F.lit(1)).alias("base_n"),
        F.sum("pop").alias("base_pop_sum"),
    )
    return rec.crossJoin(F.broadcast(base)).select(
        "rec_n",
        "rec_pop_sum",
        "base_n",
        "base_pop_sum",
        F.expr(
            "CAST((CAST(rec_pop_sum AS DECIMAL(38,0)) * base_n * 1000000)"
            " div (CAST(rec_n AS DECIMAL(38,0)) * base_pop_sum) AS BIGINT)"
        ).alias("lift_ppm"),
    )


POPULARITY_LIFT_SQL = f"""
    WITH {_INTER_CTE},
    {_SIMS_CTE},
    pop AS (SELECT item_id, COUNT(*) AS pop FROM inter GROUP BY 1),
    rec AS (SELECT COUNT(*) AS rec_n, SUM(p.pop) AS rec_pop_sum
            FROM sims s JOIN pop p ON s.neighbor_id = p.item_id),
    base AS (SELECT COUNT(*) AS base_n, SUM(pop) AS base_pop_sum FROM pop)
    SELECT CAST(rec_n AS BIGINT) AS rec_n,
           CAST(rec_pop_sum AS BIGINT) AS rec_pop_sum,
           CAST(base_n AS BIGINT) AS base_n,
           CAST(base_pop_sum AS BIGINT) AS base_pop_sum,
           CAST((CAST(rec_pop_sum AS HUGEINT) * base_n * 1000000)
                // (CAST(rec_n AS HUGEINT) * base_pop_sum) AS BIGINT)
               AS lift_ppm
    FROM rec, base
"""


def q_text_doc_len_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Gini of document token counts, in ppm — the corpus-
    balance audit behind a training mixture: a language whose token
    mass concentrates in a few long documents (high Gini) contributes
    less effective diversity than its document count suggests, and
    packs/shards differently than a flat one. One row per language:
    (lang, n_docs, total_tokens, gini_ppm).

    G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ), xᵢ ascending-sorted token
    counts, i the 1-based within-language rank — the gini_nation_spend
    formula on the (lang, doc) axis.

    Scale shape: the within-language rank does NOT use a per-language
    window (5 languages = 5 tasks = the skew trap). It rides ONE
    two-pass global row number over (lang, n_tokens, doc_id) minus each
    language's broadcast prefix offset; Σ i·xᵢ accumulates in
    DECIMAL(38,0) (rank ≤ 10¹² docs × 10⁶ tokens overflows BIGINT at
    design scale)."""
    d = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", F.size(words(F.col("text"))).alias("n_tokens")
    )
    ranked = global_row_number(
        d, [F.asc("lang"), F.asc("n_tokens"), F.asc("doc_id")], out_col="_grn"
    )
    per_lang = ranked.groupBy("lang").agg(F.count(F.lit(1)).alias("_nl"))
    w_off = Window.orderBy("lang").rowsBetween(Window.unboundedPreceding, -1)
    offs = per_lang.select(
        "lang", F.coalesce(F.sum("_nl").over(w_off), F.lit(0)).alias("_loff")
    )
    r = ranked.join(F.broadcast(offs), "lang").withColumn(
        "_rk", F.col("_grn") - F.col("_loff")
    )
    agg = r.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(
            F.col("_rk").cast("decimal(38,0)")
            * F.col("n_tokens").cast("decimal(38,0)")
        ).alias("_t"),
    )
    gini = (
        F.lit(2.0) * F.col("_t").cast("double")
        - (F.col("n_docs") + 1).cast("double")
        * F.col("total_tokens").cast("double")
    ) / (F.col("n_docs").cast("double") * F.col("total_tokens").cast("double"))
    return agg.select(
        "lang",
        "n_docs",
        F.col("total_tokens").cast("long").alias("total_tokens"),
        F.round(gini * 1e6).cast("long").alias("gini_ppm"),
    )


DOC_LEN_GINI_SQL = f"""
    WITH tok AS (
      SELECT doc_id, lang, len({WORDS_SQL}) AS n_tokens FROM documents),
    r AS (SELECT lang, n_tokens,
                 ROW_NUMBER() OVER (PARTITION BY lang
                                    ORDER BY n_tokens, doc_id) AS rk
          FROM tok),
    a AS (SELECT lang, COUNT(*) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                 SUM(CAST(rk AS HUGEINT) * CAST(n_tokens AS HUGEINT)) AS t
          FROM r GROUP BY 1)
    SELECT lang, n_docs, total_tokens,
           CAST(ROUND((2.0 * CAST(t AS DOUBLE)
                       - CAST(n_docs + 1 AS DOUBLE)
                         * CAST(total_tokens AS DOUBLE))
                      / (CAST(n_docs AS DOUBLE)
                         * CAST(total_tokens AS DOUBLE))
                      * 1e6, 0) AS BIGINT) AS gini_ppm
    FROM a
"""


QUERIES = {
    "events_throughput_percentiles": q_events_throughput_percentiles,
    "ann_ivf_cell_balance": q_ann_ivf_cell_balance,
    "rec_popularity_lift": q_rec_popularity_lift,
    "text_doc_len_gini": q_text_doc_len_gini,
}

ORACLES = {
    "events_throughput_percentiles": THROUGHPUT_SQL,
    "ann_ivf_cell_balance": _cell_balance_sql(),
    "rec_popularity_lift": POPULARITY_LIFT_SQL,
    "text_doc_len_gini": DOC_LEN_GINI_SQL,
}
