"""Approximate-nearest-neighbor library over array<float> embeddings.

Three paths (SURVEY.md §7 M5):
- brute_force_topk: exact cosine top-k. Plan shape: broadcast the (small)
  query set against the (huge) corpus — a broadcast nested-loop producing
  |Q|·|C| rows that immediately collapse through a per-query top-k window.
  Scales in the corpus dimension (embarrassingly parallel per partition).
- lsh_buckets: random-hyperplane signed projections → integer bucket.
  Candidate generation becomes an equi-join on bucket; recall is tuned by
  n_planes (fewer planes → bigger buckets) and by probing neighboring
  buckets. Hyperplane weights come from a deterministic LCG so the same
  buckets are computable in any engine (and in the DuckDB oracle).
- ivf_topk: IVF coarse quantizer — k-means-trained centroids (Lloyd
  iterations as pure DataFrame ops, deterministic and oracle-checkable),
  ``probe_cells`` ranks the nearest cells per query, and only their
  members are searched. Candidate generation is an equi-join on
  centroid_id. The same probe step feeds the IVF recall sweep and the
  IVF-PQ queries (similarity/pq.adc_topk scores their candidates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from page_rank_mapreduce_java_spark.functions.vectors import cosine, cosine_sql

LCG_A = 1103515245
LCG_C = 12345
LCG_M = 2_147_483_648  # 2^31


def _parallel_corpus(df: DataFrame) -> DataFrame:
    """Floor the corpus relation's parallelism at the session's shuffle
    parallelism (r13; guide §2.5 input parallelism / §6 split sizing).

    The embeddings parquet is a single ~2-20 MB split at the bench SFs,
    and every chassis in this module evaluates its per-row k-cosine
    scoring IN THE SCAN STAGE (below the first exchange) — so the
    dominant compute of the brute/kmeans/IVF paths ran in 1-2 tasks
    regardless of core count. Measured on the 10× replica: brute top-k
    64 queries × 20k vectors 17.5-23.6 s as-is vs 1.6-2.3 s floored.
    A corpus whose scan already carries ≥ session parallelism (any real
    cluster-scale input) is left untouched — the floor can only raise
    parallelism, never coalesce it. (Shared engine-wide implementation:
    plans/parallelism.floor_scan_parallelism; the multimodal encode
    legs ride the same floor.)"""
    from page_rank_mapreduce_java_spark.plans.parallelism import (
        floor_scan_parallelism,
    )

    return floor_scan_parallelism(df)


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact cosine top-k of ``corpus`` for every row of ``queries``."""
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    c = _parallel_corpus(
        corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec"))
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qvec"), F.col("cvec")).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cos"),
                F.col("rn").cast("long").alias("rn"))
    )


def plane_weight_expr(j: int, dim_var: str = "d", dim: int = 64) -> str:
    """SQL fragment for hyperplane j's weight at dimension ``d`` — a
    deterministic LCG mapped to [-0.5, 0.5); identical text works in Spark
    SQL and DuckDB. The LCG seed stride is ``dim`` so consecutive planes
    never share weight subsequences."""
    return (
        f"(((CAST({LCG_A} AS BIGINT) * ({dim} * {j} + {dim_var}) + {LCG_C}) % {LCG_M}) "
        f"/ CAST({LCG_M} AS DOUBLE) - 0.5)"
    )


def lsh_bucket_col(
    vec_col: str = "embedding", n_planes: int = 8, dim: int = 64
):
    """Column expression: sign-random-projection bucket in [0, 2^n_planes).
    Pure JVM arithmetic (no UDF); ``lsh_buckets_sql`` renders the
    bit-identical DuckDB expression (driver-certified portable in
    ann_lsh_buckets r2)."""
    bucket = None
    for j in range(n_planes):
        dot_j = F.expr(
            f"aggregate(transform(sequence(0, {dim - 1}), "
            f"d -> CAST(element_at({vec_col}, d + 1) AS DOUBLE) * {plane_weight_expr(j, dim=dim)}), "
            f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        bit = (dot_j > 0).cast("long") * F.lit(2**j)
        bucket = bit if bucket is None else bucket + bit
    return bucket


def lsh_buckets(
    df: DataFrame,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector a sign-random-projection bucket in [0, 2^n_planes)."""
    return df.select(
        F.col(id_col),
        lsh_bucket_col(vec_col, n_planes, dim).alias("bucket"),
    )


def _centroids_as_row(centroids: DataFrame) -> DataFrame:
    """The centroid set collapsed to ONE broadcastable row: the id-sorted
    array of (centroid_id, cvec) structs. Joining this single row to the
    corpus lets nearest-centroid assignment run as a per-row array
    expression — no |corpus|×k explode feeding a per-vector window or
    aggregate exchange (guide §2.4: the assignment stage becomes fully
    narrow; the only data movement left is the 1-row broadcast)."""
    return centroids.agg(
        F.array_sort(F.collect_list(F.struct("centroid_id", "cvec"))).alias(
            "_cents"
        )
    )


def ivf_assign(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign every vector to its nearest centroid (max cosine, centroid-id
    tiebreak). Centroids broadcast; assignment is one corpus scan plus a
    per-vector top-1 window over the k candidates — the IVF build step.
    At 100 TB the centroid set comes from a k-means sample; here it is
    any small DataFrame[centroid_id, cvec].

    r12 note: an array-argmin form (broadcast the centroid set as one
    array row, per-row argmin — zero exchanges) was A/B'd here and did
    NOT win: consumer-level interleaved medians read ann_ivf_topk 4.83 s
    (array) vs 4.33 s (window) at sf0.1 — the exploded window's exchange
    is narrow (id, centroid_id, score) while the nested-lambda argmin
    projection runs interpreted. The certified window shape stays."""
    corp = _parallel_corpus(corpus.select("vec_id", "embedding"))
    scored = corp.join(F.broadcast(centroids), F.lit(True))
    w = Window.partitionBy("vec_id").orderBy(
        F.desc(cosine(F.col("embedding"), F.col("cvec"))), F.asc("centroid_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "centroid_id")
    )


def probe_cells(queries: DataFrame, centroids: DataFrame, n_probe: int) -> DataFrame:
    """The IVF probe step: each query's ``n_probe`` nearest centroid cells
    (max cosine, centroid-id tiebreak) as DataFrame[query_id, qvec,
    centroid_id, prn], ``prn`` being the cell's 1-based probe rank. The
    window runs over |queries| × |centroids| bounded rows against a
    broadcast centroid set."""
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc(cosine(F.col("qvec"), F.col("cvec"))), F.asc("centroid_id")
    )
    return (
        q.join(F.broadcast(centroids), F.lit(True))
        .withColumn("prn", F.row_number().over(w))
        .filter(F.col("prn") <= n_probe)
        .select("query_id", "qvec", "centroid_id", "prn")
    )


def kmeans_train(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    parallel_corpus: bool = True,
) -> DataFrame:
    """Deterministic Lloyd k-means (cosine assignment, per-dimension mean
    update) as pure DataFrame ops. Returns DataFrame[centroid_id LONG,
    cvec ARRAY<DOUBLE>].

    Determinism/exactness (the oracle contract): init = first-k vectors by
    id; assignment = argmax cosine with centroid-id tiebreak (sequential-
    fold cosine, bit-identical to the DuckDB rendering); the E-step mean
    snaps every element to integer micro-units BEFORE the sum, so the sum
    is order-independent and the mean is the same IEEE double in any
    engine. Empty clusters keep their previous centroid.

    Scale: centroids broadcast (k rows); assignment is one narrow pass +
    per-vector top-1 window over k candidates; the update is one shuffle
    of (k × dim) partial sums — Lloyd's standard MapReduce shape. The
    corpus is never collected or cross-joined with itself.
    """
    c = (
        corpus.orderBy(id_col)
        .limit(k)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).cast("array<double>").alias("cvec"),
        )
    )
    # ``parallel_corpus``: floor the scan's parallelism (see
    # _parallel_corpus) so the per-row k-cosine assignment runs wide —
    # measured interleaved at sf0.1: single-train consumers WIN
    # (embedding_kmeans_centroids 2.4→1.7 s, the recall sweep's shared
    # train rides along), but the PQ chassis — which replays FIVE
    # trains (coarse + 4 subspaces) per materialization — pays the
    # repartition exchange once per replay and LOSES (quiet medians:
    # ann_ivfpq_topk 6.35→7.21 s, ann_pq_topk 4.97→5.93 s), so pq.py
    # opts out.
    corp = corpus.select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"))
    if parallel_corpus:
        corp = _parallel_corpus(corp)
    for _ in range(iters):
        # r12 note: the array-argmin assignment (see ivf_assign) was
        # A/B'd HERE and LOST (3.6 s vs 2.6 s for the window+persist
        # form at sf0.1, interleaved in one session): inside the train
        # loop the argmin higher-order expression feeds the posexplode
        # E-step directly and the interpreted nested-lambda projection
        # costs more than the window exchange it saves. The window form
        # stays (guide §1.1: empirical loop beats the first-principles
        # ideal when measurement disagrees).
        w = Window.partitionBy("vid").orderBy(
            F.desc(cosine(F.col("v"), F.col("cvec"))), F.asc("centroid_id")
        )
        assign = (
            corp.join(F.broadcast(c), F.lit(True))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vid", "v", "centroid_id")
        )
        x = assign.select("centroid_id", F.posexplode("v").alias("pos", "x"))
        micro = F.round(F.col("x").cast("double") * 1e6).cast("long")
        dims = x.groupBy("centroid_id", "pos").agg(
            F.sum(micro).alias("s"), F.count(F.lit(1)).alias("n")
        )
        means = (
            dims.withColumn("val", F.col("s").cast("double") / F.col("n") / 1e6)
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "val"))),
                    lambda s: s["val"],
                ).alias("mvec")
            )
        )
        c = c.join(means, "centroid_id", "left").select(
            "centroid_id", F.coalesce("mvec", "cvec").alias("cvec")
        )
        # r12 A/B note: a k-row persist per Lloyd round (cut the chain
        # replay the recall sweep's executed plan shows — 153 exchanges,
        # 16 reused) was measured interleaved across five consumers at
        # sf0.1 and did NOT win: ~5% better on single-train consumers,
        # clearly WORSE on ann_ivfpq_topk's five trains (quiet reps
        # 8.7/10.8 s vs 7.3/9.1 s) — the replayed subtrees are tiny JVM
        # jobs while each persist adds a materialization sync point.
        # Ties go to no-persist (PERF.md r4 lesson).
    return c


def kmeans_sql(
    k: int = 16, iters: int = 2, table: str = "embeddings",
    id_col: str = "vec_id", vec_col: str = "embedding", prefix: str = "",
) -> tuple[str, str]:
    """DuckDB CTE chain computing the identical trained centroids.
    Returns (cte_body, final_cte_name); embed as ``WITH {cte_body} ...``.
    ``prefix`` namespaces the CTE names (c0, a1, d1, ...) so several
    chains can coexist in one statement (the PQ per-subspace codebooks);
    the default "" renders byte-identically to the pre-prefix form, so
    existing oracle hashes are unchanged."""
    parts = [
        f"""{prefix}c0 AS MATERIALIZED (
        SELECT {id_col} AS centroid_id,
               list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS cvec
        FROM {table} ORDER BY {id_col} LIMIT {k})"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f"""{prefix}a{i} AS MATERIALIZED (
        SELECT vid, centroid_id FROM (
          SELECT e.{id_col} AS vid, c.centroid_id,
                 row_number() OVER (PARTITION BY e.{id_col}
                   ORDER BY {cosine_sql(f'e.{vec_col}', 'c.cvec')} DESC,
                            c.centroid_id ASC) AS rn
          FROM {table} e CROSS JOIN {prefix}c{p} c) WHERE rn = 1),
      {prefix}d{i} AS MATERIALIZED (
        SELECT centroid_id, pos,
               CAST(SUM(CAST(ROUND(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 1e6 AS val
        FROM (SELECT a.centroid_id,
                     unnest(range(1, len(e.{vec_col}) + 1)) AS pos,
                     unnest(e.{vec_col}) AS x
              FROM {prefix}a{i} a JOIN {table} e ON e.{id_col} = a.vid)
        GROUP BY centroid_id, pos),
      {prefix}m{i} AS MATERIALIZED (
        SELECT centroid_id, list(val ORDER BY pos) AS mvec
        FROM {prefix}d{i} GROUP BY centroid_id),
      {prefix}c{i} AS MATERIALIZED (
        SELECT c.centroid_id, COALESCE(m.mvec, c.cvec) AS cvec
        FROM {prefix}c{p} c LEFT JOIN {prefix}m{i} m USING (centroid_id))"""
        )
    return ",\n      ".join(parts), f"{prefix}c{iters}"


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    n_centroids: int = 16,
    train_iters: int = 2,
) -> DataFrame:
    """IVF approximate top-k: probe the ``n_probe`` nearest centroid cells
    per query and search only their members. The candidate join is an
    equi-join on centroid_id — the same never-cross-join shape as LSH,
    with recall tuned by n_probe/n_centroids.

    Centroids come from the deterministic ``kmeans_train`` quantizer
    (``train_iters`` Lloyd rounds seeded with the first ``n_centroids``
    vectors), so cells track the data distribution — the recall profile a
    first-N centroid pick cannot give on clustered data.
    """
    centroids = kmeans_train(corpus, k=n_centroids, iters=train_iters)
    assignment = ivf_assign(corpus, centroids)
    probes = probe_cells(queries, centroids, n_probe)

    members = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec2")
    ).join(assignment.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    cands = probes.join(members, "centroid_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc(cosine(F.col("qvec"), F.col("cvec2"))), F.asc("neighbor_id")
    )
    return (
        cands.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qvec"), F.col("cvec2")), 6).alias("cos"),
            F.col("rn").cast("long").alias("rn"),
        )
    )


def lsh_buckets_sql(n_planes: int = 8, dim: int = 64, vec_col: str = "embedding") -> str:
    """DuckDB expression computing the identical bucket value."""
    bits = []
    for j in range(n_planes):
        dot_j = (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(0, {dim}), "
            f"d -> CAST({vec_col}[d + 1] AS DOUBLE) * {plane_weight_expr(j, dim=dim)})), "
            f"(acc, x) -> acc + x)"
        )
        bits.append(f"(CASE WHEN {dot_j} > 0 THEN {2**j} ELSE 0 END)")
    return " + ".join(bits)
