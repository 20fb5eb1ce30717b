"""Relational/analytics surface, batch 25 (round 8 growth, seventh
wave): TextRank keyword extraction — the reference's own PageRank
(graph/pagerank.py, the engine's flagship iterative operator; cf.
pageRank_v2.java:80-103) applied to the LLM-pipeline text surface via
a derived word-adjacency graph — plus Katz centrality on the same
superstep chassis, an event-arrival-order data-quality audit, and the
month-of-year revenue seasonality index.

Beyond-reference extension surface (SURVEY §2.9 / LLM-pipeline family).
Like batches 19-24, registered after the round-8 audit window filled:
locally oracle-certified at two scale factors and deferred to the
round-9 driver window via `_DEFER_TO_NEXT_ROUND`.

Exactness conventions (inherited): the iterative queries follow the
graph_pagerank contract — double-precision ranks whose oracle is the
IDENTICAL arithmetic unrolled as a fixed SQL CTE chain, snapped to e8
at the end; everything else is integer-exact with `div` truncation
parity."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from page_rank_mapreduce_java_spark.catalog import load_table
from page_rank_mapreduce_java_spark.functions.hashes import md5_long, md5_long_sql
from page_rank_mapreduce_java_spark.functions.money import cents, cents_sql
from page_rank_mapreduce_java_spark.functions.text_queries2 import WORDS_SQL
from page_rank_mapreduce_java_spark.functions.textfn import words
from page_rank_mapreduce_java_spark.graph.pagerank import pagerank
from page_rank_mapreduce_java_spark.graph.queries import (
    COOC_EDGES_SQL,
    cooccurrence_edges,
    pagerank_chain_sql,
)


# --- TextRank keyword extraction ---------------------------------------------

TEXTRANK_ITERS = 5
TEXTRANK_DAMPING = 0.85
TEXTRANK_TOP_N = 10


def _word_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric weighted word-adjacency edges: consecutive word pairs
    per document (the TextRank window-2 co-occurrence graph), weight =
    corpus-wide pair count, node ids via the portable md5 hash family
    (functions/hashes.py) so both engines agree on the integer ids."""
    d = load_table(spark, "documents", sf_dir)
    tok = d.select(
        "doc_id", F.posexplode(words(F.col("text"))).alias("i", "w")
    )
    win = Window.partitionBy("doc_id").orderBy("i")
    adj = (
        tok.withColumn("_nxt", F.lead("w").over(win))
        .filter(F.col("_nxt").isNotNull() & (F.col("w") != F.col("_nxt")))
        .select(
            F.least("w", "_nxt").alias("wa"),
            F.greatest("w", "_nxt").alias("wb"),
        )
    )
    und = adj.groupBy("wa", "wb").agg(
        F.count(F.lit(1)).cast("double").alias("w")
    )
    fwd = und.select(
        md5_long(F.col("wa")).alias("src"),
        md5_long(F.col("wb")).alias("dst"),
        "w",
    )
    rev = und.select(
        md5_long(F.col("wb")).alias("src"),
        md5_long(F.col("wa")).alias("dst"),
        "w",
    )
    return fwd.unionByName(rev)


def q_text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004, public
    literature): damped PageRank over the symmetric word-adjacency
    graph, through the SAME core iterative operator the reference
    implements (graph/pagerank.py — join-scatter-aggregate supersteps,
    dangling redistribution; weight_col path) — the flagship showpiece
    that the engine's one reference algorithm drives an LLM-pipeline
    task unchanged. Output: top-10 (keyword, rank_e8), ties on the
    word.

    Exactness: the graph_pagerank contract — identical double
    recursion on both engines (the oracle unrolls the five supersteps
    as a CTE chain with the exact Spark association order), e8 snap at
    the end; node ids via the portable md5 family.

    Scale shape: token-grain lead window per DOCUMENT (high-cardinality
    key), pair-keyed count, then the certified PageRank chassis — the
    word graph is vocabulary-sized, tiny relative to the corpus scan.
    """
    edges = _word_edges(spark, sf_dir)
    res = pagerank(
        edges,
        num_iterations=TEXTRANK_ITERS,
        damping=TEXTRANK_DAMPING,
        weight_col="w",
    )
    d = load_table(spark, "documents", sf_dir)
    vocab = (
        d.select(F.explode(words(F.col("text"))).alias("word"))
        .distinct()
        .select("word", md5_long(F.col("word")).alias("id"))
    )
    ranked = res.ranks.withColumn(
        "rank_e8", F.round(F.col("rank") * 1e8).cast("long")
    )
    return (
        ranked.join(vocab, "id")
        .orderBy(F.desc("rank_e8"), F.asc("word"))
        .limit(TEXTRANK_TOP_N)
        .select(F.col("word").alias("keyword"), "rank_e8")
    )


_WORD_EDGES_SQL = f"""
    SELECT {md5_long_sql("wa")} AS src, {md5_long_sql("wb")} AS dst,
           CAST(COUNT(*) AS DOUBLE) AS w
    FROM (
      SELECT LEAST(t1.w, t2.w) AS wa, GREATEST(t1.w, t2.w) AS wb
      FROM (SELECT doc_id, unnest(range(1, len(arr) + 1)) AS i,
                   unnest(arr) AS w
            FROM (SELECT doc_id, {WORDS_SQL} AS arr FROM documents)) t1
      JOIN (SELECT doc_id, unnest(range(1, len(arr) + 1)) AS i,
                   unnest(arr) AS w
            FROM (SELECT doc_id, {WORDS_SQL} AS arr FROM documents)) t2
        ON t1.doc_id = t2.doc_id AND t2.i = t1.i + 1
      WHERE t1.w <> t2.w)
    GROUP BY 1, 2
    UNION ALL
    SELECT {md5_long_sql("wb")} AS src, {md5_long_sql("wa")} AS dst,
           CAST(COUNT(*) AS DOUBLE) AS w
    FROM (
      SELECT LEAST(t1.w, t2.w) AS wa, GREATEST(t1.w, t2.w) AS wb
      FROM (SELECT doc_id, unnest(range(1, len(arr) + 1)) AS i,
                   unnest(arr) AS w
            FROM (SELECT doc_id, {WORDS_SQL} AS arr FROM documents)) t1
      JOIN (SELECT doc_id, unnest(range(1, len(arr) + 1)) AS i,
                   unnest(arr) AS w
            FROM (SELECT doc_id, {WORDS_SQL} AS arr FROM documents)) t2
        ON t1.doc_id = t2.doc_id AND t2.i = t1.i + 1
      WHERE t1.w <> t2.w)
    GROUP BY 1, 2
"""


def _textrank_sql(
    iters: int = TEXTRANK_ITERS, damping: float = TEXTRANK_DAMPING
) -> str:
    # The weighted PageRank oracle chain over the word-adjacency edges,
    # finished by the vocab join + top-10.
    chain = pagerank_chain_sql(
        f"WITH edges AS MATERIALIZED ({_WORD_EDGES_SQL})", iters, damping, weighted=True
    )
    return (
        chain
        + f""",
vocab AS (SELECT DISTINCT word, {md5_long_sql("word")} AS id
          FROM (SELECT unnest({WORDS_SQL}) AS word FROM documents)),
final AS (SELECT v.word AS keyword,
                 CAST(ROUND(r.rank * 1e8, 0) AS BIGINT) AS rank_e8
          FROM r{iters} r JOIN vocab v ON r.id = v.id)
SELECT keyword, rank_e8 FROM final
ORDER BY rank_e8 DESC, keyword LIMIT {TEXTRANK_TOP_N}"""
    )


# --- Katz centrality -----------------------------------------------------------

KATZ_ALPHA = 0.05
KATZ_ITERS = 6


def q_graph_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality on the supplier co-occurrence graph: the
    truncated attenuated-path sum x = Σ_{k≤6} α^k·(Aᵀ)^k·1, iterated
    as x ← 1 + α·Aᵀx (Katz 1953, public literature) — the
    prestige measure that, unlike eigenvector centrality, stays
    well-defined on the graph's acyclic fringes. α = 0.05 attenuates a
    6-hop path by 64×; the finite unroll is exact regardless of the
    spectral radius. Output: (id, katz_e8) for every node.

    Exactness: STRONGER than the pagerank double contract — because
    1/α = 20 is integral, the recursion runs on scaled integers
    X_i = x_i·20^i (X_{i+1} = 20^{i+1} + Σ_in X_i), order-independent
    DECIMAL(38,0) sums everywhere, so the result is partition-
    invariant by construction (a first double draft FAILED the
    shuffle-partitions 3/17 sweep on half-ulp fold-order flips — the
    integer form is the fix, not a luxury). katz_e8 = round(x·10⁸) =
    (25·X₆ + 8) div 16 exactly (10⁸/20⁶ = 25/16).

    Scale shape: per superstep ONE equi-join of the rank vector
    against the symmetric edge list + one dst-keyed aggregate — the
    certified iterative-chassis shape; six fixed rounds. r13: the edge
    relation is shuffled once onto the superstep join key and persisted
    (graph/keyed.py — the pagerank links recipe, guide §2.4): the
    unpersisted ``sym`` used to re-run the lineitem self-join + distinct
    subtree in EVERY one of the six supersteps (each level materializes
    through its own localCheckpoint job, so exchange reuse never fires
    across rounds).
    """
    from page_rank_mapreduce_java_spark.graph.keyed import keyed_edges

    e = cooccurrence_edges(spark, sf_dir)
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    with keyed_edges(sym, memo=f"cooc:{sf_dir}") as (keyed, _):
        return _katz_from_sym(keyed)


def _katz_from_sym(sym: DataFrame) -> DataFrame:
    """Katz recursion over an already src-keyed, PERSISTED symmetric
    edge relation — shared between q_graph_katz_centrality and the
    rank-agreement capstone (relational32), which feeds ONE persisted
    edge relation to both of its iterative chains. The returned vector
    is materialized, so the caller may release ``sym`` right after."""
    nodes = sym.select(F.col("src").alias("id")).distinct().persist()
    x = nodes.withColumn("x", F.lit(1).cast("decimal(38,0)"))
    for i in range(1, KATZ_ITERS + 1):
        contrib = (
            sym.join(x.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("x").alias("s"))
        )
        x = nodes.join(contrib, "id", "left").select(
            "id",
            (
                F.lit(20**i).cast("decimal(38,0)")
                + F.coalesce("s", F.lit(0).cast("decimal(38,0)"))
            ).alias("x"),
        )
        x = x.localCheckpoint(eager=i == KATZ_ITERS)
    nodes.unpersist()
    return x.select(
        "id", F.expr("CAST((25 * x + 8) div 16 AS BIGINT)").alias("katz_e8")
    )


def _katz_sql(iters: int = KATZ_ITERS) -> str:
    base = f"""WITH e AS MATERIALIZED ({COOC_EDGES_SQL}),
sym AS MATERIALIZED (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
nodes AS MATERIALIZED (SELECT DISTINCT src AS id FROM sym),
x0 AS (SELECT id, CAST(1 AS HUGEINT) AS x FROM nodes)"""
    steps = []
    for i in range(1, iters + 1):
        p = i - 1
        steps.append(
            f""",
c{i} AS MATERIALIZED (SELECT s.dst AS id, SUM(x.x) AS s
        FROM x{p} x JOIN sym s ON x.id = s.src GROUP BY 1),
x{i} AS MATERIALIZED (SELECT n.id,
        CAST({20**i} AS HUGEINT) + COALESCE(c.s, CAST(0 AS HUGEINT)) AS x
        FROM nodes n LEFT JOIN c{i} c ON n.id = c.id)"""
        )
    return (
        base
        + "".join(steps)
        + f"\nSELECT id, CAST((25 * x + 8) // 16 AS BIGINT) AS katz_e8 FROM x{iters}"
    )


# --- event arrival-order inversions audit ----------------------------------------


def q_dq_event_order_inversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-order data-quality audit: per user, events should carry
    non-decreasing event times in arrival order (event_id is the
    arrival proxy) — each adjacent pair where time goes BACKWARDS is
    an inversion, the out-of-order-delivery rate that sizes streaming
    watermarks. One row: (n_pairs, n_inversions, inversion_ppm,
    max_backstep_ms).

    Exactness: pure integer microsecond comparisons; the ppm is
    integer `div` (truncation parity).

    Scale shape: one LAG window per USER (high-cardinality keyed
    window convention) + a 1-row aggregate; no global order.
    """
    e = load_table(spark, "events", sf_dir).select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    pairs = (
        e.withColumn("_prev", F.lag("us").over(w))
        .filter(F.col("_prev").isNotNull())
        .select((F.col("us") - F.col("_prev")).alias("d_us"))
    )
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("d_us") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_inversions"),
        F.coalesce(
            -F.min(F.when(F.col("d_us") < 0, F.col("d_us"))), F.lit(0)
        ).alias("_mb_us"),
    ).select(
        "n_pairs",
        "n_inversions",
        F.expr("CAST(1000000 * n_inversions div n_pairs AS BIGINT)").alias(
            "inversion_ppm"
        ),
        F.expr("CAST(_mb_us div 1000 AS BIGINT)").alias("max_backstep_ms"),
    )


INVERSIONS_SQL = """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
    pairs AS (
      SELECT us - lag(us) OVER (PARTITION BY user_id
                                ORDER BY event_id) AS d_us
      FROM e QUALIFY d_us IS NOT NULL)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN d_us < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_inversions,
           CAST(1000000 * SUM(CASE WHEN d_us < 0 THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS inversion_ppm,
           CAST(COALESCE(-MIN(CASE WHEN d_us < 0 THEN d_us END), 0)
                // 1000 AS BIGINT) AS max_backstep_ms
    FROM pairs
"""


# --- month-of-year revenue seasonality index ---------------------------------------


def q_orders_month_of_year_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year revenue seasonality: mean revenue of each calendar
    month relative to the overall monthly mean, in ppm — the annual-
    cycle companion to events_dow_seasonality, on the same
    cross-multiplied integer form (rev_m·k_total)/(k_m·rev_total).
    Output per calendar month (≤12 rows):
    (month, n_month_slots, revenue_cents, idx_ppm).

    Exactness: exact cent sums and slot counts; the terminal ratio is
    the identical correctly-rounded double expression on both engines.

    Scale shape: fact table → (year, month) slots (calendar-bounded)
    → 12 rows; the normalizing totals ride a 1-row broadcast cross.
    """
    o = load_table(spark, "orders", sf_dir)
    slots = o.groupBy(
        F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
    ).agg(F.sum(cents("o_totalprice")).alias("rev"))
    per_m = slots.groupBy(F.col("m").alias("month")).agg(
        F.count(F.lit(1)).alias("n_month_slots"),
        F.sum("rev").alias("revenue_cents"),
    )
    tot = per_m.agg(
        F.sum("n_month_slots").alias("_kt"), F.sum("revenue_cents").alias("_rt")
    )
    idx = (
        (F.col("revenue_cents") * F.col("_kt")).cast("double")
        / (F.col("n_month_slots") * F.col("_rt")).cast("double")
        * 1e6
    )
    return per_m.crossJoin(F.broadcast(tot)).select(
        F.col("month").cast("long").alias("month"),
        F.col("n_month_slots").cast("long").alias("n_month_slots"),
        F.col("revenue_cents").cast("long").alias("revenue_cents"),
        F.round(idx).cast("long").alias("idx_ppm"),
    )


MONTH_INDEX_SQL = f"""
    WITH slots AS (
      SELECT YEAR(o_orderdate) AS y, MONTH(o_orderdate) AS m,
             SUM({cents_sql("o_totalprice")}) AS rev
      FROM orders GROUP BY 1, 2),
    per_m AS (
      SELECT m AS month, CAST(COUNT(*) AS BIGINT) AS n_month_slots,
             CAST(SUM(rev) AS BIGINT) AS revenue_cents
      FROM slots GROUP BY 1),
    t AS (SELECT CAST(SUM(n_month_slots) AS BIGINT) AS kt,
                 CAST(SUM(revenue_cents) AS BIGINT) AS rt FROM per_m)
    SELECT CAST(month AS BIGINT) AS month, n_month_slots, revenue_cents,
           CAST(ROUND(CAST(revenue_cents * kt AS DOUBLE)
                      / CAST(n_month_slots * rt AS DOUBLE) * 1e6, 0)
                AS BIGINT) AS idx_ppm
    FROM per_m, t
"""


QUERIES = {
    "text_textrank_keywords": q_text_textrank_keywords,
    "graph_katz_centrality": q_graph_katz_centrality,
    "dq_event_order_inversions": q_dq_event_order_inversions,
    "orders_month_of_year_index": q_orders_month_of_year_index,
}

ORACLES = {
    "text_textrank_keywords": _textrank_sql(),
    "graph_katz_centrality": _katz_sql(),
    "dq_event_order_inversions": INVERSIONS_SQL,
    "orders_month_of_year_index": MONTH_INDEX_SQL,
}
