"""Similarity-search driver-contract queries with DuckDB oracles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from page_rank_mapreduce_java_spark.catalog import load_table
from page_rank_mapreduce_java_spark.functions.vectors import cosine, cosine_sql
from page_rank_mapreduce_java_spark.similarity.ann import (
    brute_force_topk,
    ivf_assign,
    ivf_topk,
    kmeans_sql,
    kmeans_train,
    lsh_buckets,
    lsh_buckets_sql,
    probe_cells,
)
from page_rank_mapreduce_java_spark.similarity.pq import adc_topk, pq_encode, pq_train

N_QUERY_VECS = 8
TOP_K = 10
IVF_CENTROIDS = 16
IVF_PROBES = 4
KMEANS_ITERS = 2


def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "embeddings", sf_dir)
    queries = e.filter(F.col("vec_id") < N_QUERY_VECS)
    return brute_force_topk(e, queries, k=TOP_K)


def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "embeddings", sf_dir)
    return lsh_buckets(e)


def q_ann_lsh_bucket_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-occupancy histogram — the recall/skew diagnostic for LSH."""
    e = load_table(spark, "embeddings", sf_dir)
    return (
        lsh_buckets(e)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, "embeddings", sf_dir)
    queries = e.filter(F.col("vec_id") < N_QUERY_VECS)
    return ivf_topk(
        e, queries, k=TOP_K, n_probe=IVF_PROBES, n_centroids=IVF_CENTROIDS,
        train_iters=KMEANS_ITERS,
    )


def q_embedding_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF coarse quantizer's trained centroids as a first-class query:
    k-means (Lloyd, cosine assignment, micro-unit-exact means) unrolled to
    a fixed deterministic iteration count on both engines."""
    e = load_table(spark, "embeddings", sf_dir)
    c = kmeans_train(e, k=IVF_CENTROIDS, iters=KMEANS_ITERS)
    # centroid_e6 BIGINT, not ROUND(v, 6): fractional-scale double rounding
    # diverges between engines on non-representable decimals (Spark goes
    # through the shortest decimal repr, DuckDB multiplies), while
    # round-to-integer of the identical double agrees everywhere.
    return c.select(
        "centroid_id", F.posexplode("cvec").alias("pos0", "v")
    ).select(
        "centroid_id",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        F.round(F.col("v") * 1e6).cast("long").alias("centroid_e6"),
    )


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vector, emitted as (label, pos, value) — the
    IVF/k-means building block as a first-class query.

    Exactness: each float element is snapped to integer micro-units
    BEFORE summation, so the sum is order-independent (the repo's money
    convention applied to vectors); only the final mean division is
    floating-point. posexplode keeps the fan-out JVM-side — dim × rows,
    one shuffle on (label, pos), map-side partial sums.
    """
    e = load_table(spark, "embeddings", sf_dir)
    x = e.select("label", F.posexplode("embedding").alias("pos0", "x"))
    micro = F.round(F.col("x").cast("double") * 1e6).cast("long")
    return (
        x.groupBy("label", "pos0")
        .agg(F.sum(micro).alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "label",
            (F.col("pos0") + 1).alias("pos"),
            F.round(F.col("s").cast("double") / F.col("n") / 1e6, 6).alias("centroid"),
        )
    )


PQ_DIM = 64
PQ_QUERY_VECS = 10
PQ_TOP_K = 5


def q_ann_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained product-quantization codebook as a first-class query:
    (m, centroid_id, pos, centroid_e6) — per-subspace Lloyd centroids in
    integer micro-units (the embedding_kmeans_centroids convention).
    Training is the deterministic k-means chassis per 16-dim slice, so
    the DuckDB oracle unrolls FOUR namespaced kmeans chains over sliced
    list columns and must match bit-for-bit."""
    from page_rank_mapreduce_java_spark.similarity.pq import pq_train

    e = load_table(spark, "embeddings", sf_dir)
    cb = pq_train(e, dim=PQ_DIM)
    return cb.select(
        F.col("m").cast("long").alias("m"),
        "centroid_id",
        F.posexplode("cvec").alias("pos0", "v"),
    ).select(
        "m",
        "centroid_id",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        F.round(F.col("v") * 1e6).cast("long").alias("centroid_e6"),
    )


def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-5 per query over PQ codes, fully integer: each of the M
    partial squared-L2 distances is snapped to micro-units BEFORE the
    sum (order-independent integer addition — the vector variant of the
    money convention), so `adc_micro` and its ranking are bit-identical
    across engines. Corpus side reads ONLY the codes relation.

    Scale shape: encode = one narrow corpus pass (broadcast codebook,
    per-(vec, subspace) argmin window on a high-cardinality key);
    search = similarity/pq.adc_topk — no raw vectors at query time."""
    e = load_table(spark, "embeddings", sf_dir)
    cb = pq_train(e, dim=PQ_DIM)
    codes = pq_encode(e, cb, dim=PQ_DIM)
    q = e.filter(F.col("vec_id") < PQ_QUERY_VECS)
    return adc_topk(cb, q, codes, PQ_DIM, PQ_TOP_K)


def _embeddings_fingerprint(sf_dir: str) -> str:
    """Content-identity of the embeddings source: relative file names,
    sizes, and mtimes under the parquet path (file or directory). Folded
    into every serve-index cache tag (ADVICE r5, medium): regenerating
    the parquet at the same path must invalidate the on-disk index, or a
    stale index would silently diverge from the oracle, which always
    recomputes from live data."""
    import hashlib
    import os

    ap = os.path.join(os.path.abspath(sf_dir), "embeddings.parquet")
    parts = []
    if os.path.isdir(ap):
        for root, _dirs, files in os.walk(ap):
            for fn in sorted(files):
                p = os.path.join(root, fn)
                st = os.stat(p)
                parts.append(
                    f"{os.path.relpath(p, ap)}:{st.st_size}:{st.st_mtime_ns}"
                )
    elif os.path.exists(ap):
        st = os.stat(ap)
        parts.append(f".:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:12]


def _serve_index_dir(spark: SparkSession, sf_dir: str, kind: str, build) -> str:
    """Resolve (building at most once, atomically) the on-disk serving
    index for ``sf_dir``. The tag covers params + the quantizer SOURCE
    of ``pq.py`` and ``ann.py`` (the index holds codebooks and codes
    from the one, IVF centroids and cells from the other, so an edit to
    either must rebuild) + the embeddings DATA fingerprint
    (a regenerated corpus must rebuild). The build writes into a
    process-private temp dir that is renamed into place only when
    complete, so concurrent sessions can race the build without a reader
    ever observing a half-written index; the rename loser discards its
    copy (ADVICE r5)."""
    import hashlib
    import inspect
    import os
    import shutil
    import uuid

    from page_rank_mapreduce_java_spark.similarity import ann, pq
    from page_rank_mapreduce_java_spark.similarity.pq import PQ_K, PQ_M

    code = inspect.getsource(pq) + inspect.getsource(ann)
    code_v = hashlib.md5(code.encode()).hexdigest()[:8]
    data_v = _embeddings_fingerprint(sf_dir)
    tag = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{kind}|{PQ_DIM}|{PQ_M}|{PQ_K}"
        f"|{IVF_CENTROIDS}|{KMEANS_ITERS}|{code_v}|{data_v}".encode()
    ).hexdigest()[:12]
    base = f"/tmp/spark_graft_pq_index/{tag}"
    marker = os.path.join(base, "_BUILT")
    if os.path.exists(marker):
        return base
    tmp = f"{base}.tmp-{os.getpid()}-{uuid.uuid4().hex[:6]}"
    try:
        build(tmp)
        with open(os.path.join(tmp, "_BUILT"), "w") as f:
            f.write("ok\n")
    except BaseException:
        # ADVICE r6: a build that dies mid-write must not strand a
        # partial tmp index under /tmp/spark_graft_pq_index
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, base)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(marker):  # lost the race AND no winner: real error
            raise
    return base


def q_ann_pq_serve_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-5 from a PERSISTED PQ index (VERDICT r4 next #6): the
    codebook and codes relations are built OFFLINE (once per corpus
    content, parquet under /tmp — the 'index build' a serving system
    amortizes) and the registered query is ONLY the serving plan: two
    parquet scans ⋈ broadcast LUT + keyed sum + per-query top-k window
    (~5 exchanges vs ann_pq_topk's 91, which compiles training+encode+
    search into one static plan). Training is deterministic, so output —
    and the DuckDB oracle — is identical to ann_pq_topk's."""
    import os

    def build(tmp: str) -> None:
        e = load_table(spark, "embeddings", sf_dir)
        cb = pq_train(e, dim=PQ_DIM)
        cb.write.mode("overwrite").parquet(os.path.join(tmp, "codebook"))
        pq_encode(e, cb, dim=PQ_DIM).write.mode("overwrite").parquet(
            os.path.join(tmp, "codes")
        )

    base = _serve_index_dir(spark, sf_dir, "pq", build)
    cb = spark.read.parquet(os.path.join(base, "codebook"))
    codes = spark.read.parquet(os.path.join(base, "codes"))
    q = load_table(spark, "embeddings", sf_dir).filter(
        F.col("vec_id") < PQ_QUERY_VECS
    )
    return adc_topk(cb, q, codes, PQ_DIM, PQ_TOP_K)


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ADC top-5, fully oracle-certified: the coarse quantizer
    prunes WHICH vectors are scored (candidates shrink ~n_probe/
    n_centroids), the PQ codes decide HOW — the integer micro-unit ADC
    of q_ann_pq_topk (similarity/pq.adc_topk) over the codes of the
    (query, candidate) pair set. The DuckDB mirror renders the coarse
    kmeans chain, cell assignment and probe ranking (_ivf_ctes), the four
    per-subspace codebook chains and the cell-pruned integer ADC.

    Scale shape: candidate generation is probes ⋈ cells on the centroid
    key; scoring reads ONLY the codes of candidates (codes ⋈ broadcast
    LUT + keyed sum); the probe ranking is a window over ≤ |queries|
    × n_centroids bounded rows."""
    e = load_table(spark, "embeddings", sf_dir)
    cent = kmeans_train(e, k=IVF_CENTROIDS, iters=KMEANS_ITERS)
    q = e.filter(F.col("vec_id") < PQ_QUERY_VECS)
    cand = (
        probe_cells(q, cent, IVF_PROBES)
        .join(ivf_assign(e, cent), "centroid_id")
        .select("query_id", "vec_id")
    )
    cb = pq_train(e, dim=PQ_DIM)
    codes = cand.join(pq_encode(e, cb, dim=PQ_DIM), "vec_id")
    return adc_topk(cb, q, codes, PQ_DIM, PQ_TOP_K)


def q_ann_ivfpq_serve_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ADC top-5 from a PERSISTED index (VERDICT r5 next #2 —
    the serving-shape registration ann_pq_serve_topk got in r5, extended
    to the IVF-PQ composition): coarse centroids, per-subspace codebooks,
    and CELL-ASSIGNED codes are built offline (once per corpus content,
    version-pinned to the quantizer source and the embeddings data
    fingerprint); the registered query is ONLY the serving plan.

    Serving plan: three parquet scans; probes = queries × broadcast
    centroids (bounded |q|·n_centroids window); one scan of the codes
    relation ⋈ broadcast probes on the centroid key (the cell prune —
    candidates shrink ~n_probe/n_centroids BEFORE any scoring) ⋈
    broadcast LUT + keyed sum + per-query top-k window. No raw corpus
    vectors and no training at query time; at 100 TB the codes relation
    is ~64× smaller than the embeddings and the only large scan.
    Training is deterministic, so output — and the DuckDB oracle — is
    identical to ann_ivfpq_topk's."""
    import os

    def build(tmp: str) -> None:
        e = load_table(spark, "embeddings", sf_dir)
        cent = kmeans_train(e, k=IVF_CENTROIDS, iters=KMEANS_ITERS)
        cent.write.mode("overwrite").parquet(os.path.join(tmp, "centroids"))
        cb = pq_train(e, dim=PQ_DIM)
        cb.write.mode("overwrite").parquet(os.path.join(tmp, "codebook"))
        # Codes carry their coarse cell so serving prunes with ONE
        # equi-join on the already-stored key — no assignment at query
        # time. (At scale this relation would also be PARTITIONED BY
        # centroid_id so a probe touches only its cells' files.)
        pq_encode(e, cb, dim=PQ_DIM).join(ivf_assign(e, cent), "vec_id").write.mode(
            "overwrite"
        ).parquet(os.path.join(tmp, "codes"))

    base = _serve_index_dir(spark, sf_dir, "ivfpq", build)
    cent = spark.read.parquet(os.path.join(base, "centroids"))
    cb = spark.read.parquet(os.path.join(base, "codebook"))
    q = load_table(spark, "embeddings", sf_dir).filter(
        F.col("vec_id") < PQ_QUERY_VECS
    )
    probes = probe_cells(q, cent, IVF_PROBES).select("query_id", "centroid_id")
    codes = spark.read.parquet(os.path.join(base, "codes")).join(
        F.broadcast(probes), "centroid_id"
    )
    return adc_topk(cb, q, codes, PQ_DIM, PQ_TOP_K)


def _pq_oracle_parts() -> tuple[str, str]:
    """(cte_body, codebook_cte): four namespaced kmeans chains over the
    16-dim slices + the union codebook + the per-vector slice relation."""
    from page_rank_mapreduce_java_spark.similarity.pq import PQ_K, PQ_M

    width = PQ_DIM // PQ_M
    subs, chains, unions, slices = [], [], [], []
    for m in range(PQ_M):
        lo, hi = m * width + 1, (m + 1) * width
        subs.append(
            f"sub{m} AS MATERIALIZED (SELECT vec_id, "
            f"embedding[{lo}:{hi}] AS embedding FROM embeddings)"
        )
        ctes, final = kmeans_sql(
            k=PQ_K, iters=KMEANS_ITERS, table=f"sub{m}", prefix=f"s{m}_"
        )
        chains.append(ctes)
        unions.append(
            f"SELECT {m} AS m, centroid_id, cvec FROM {final}"
        )
        slices.append(
            f"SELECT vec_id, {m} AS m, embedding[{lo}:{hi}] AS sv FROM embeddings"
        )
    body = (
        ",\n    ".join(subs)
        + ",\n    "
        + ",\n    ".join(chains)
        + ",\n    cb AS MATERIALIZED ("
        + " UNION ALL ".join(unions)
        + "),\n    slices AS MATERIALIZED ("
        + " UNION ALL ".join(slices)
        + ")"
    )
    return body, "cb"


def _pq_codebook_sql() -> str:
    body, cb = _pq_oracle_parts()
    return f"""
    WITH {body}
    SELECT CAST(m AS BIGINT) AS m, centroid_id,
           CAST(pos AS BIGINT) AS pos,
           CAST(ROUND(CAST(v AS DOUBLE) * 1e6, 0) AS BIGINT) AS centroid_e6
    FROM (SELECT m, centroid_id,
                 unnest(range(1, len(cvec) + 1)) AS pos,
                 unnest(cvec) AS v
          FROM {cb})
"""


def _adc_sql(ivf: bool) -> str:
    """DuckDB mirror of similarity/pq.adc_topk over every (query, vector)
    pair, or with ``ivf`` only over the probed-cell candidates of
    _ivf_ctes (the IVF-PQ queries)."""
    from page_rank_mapreduce_java_spark.functions.vectors import sq_l2_sql

    body, cb = _pq_oracle_parts()
    head, pairs = "", "enc e JOIN lut l ON e.m = l.m AND e.code = l.code"
    if ivf:
        head = _ivf_ctes(PQ_QUERY_VECS, IVF_PROBES) + ",\n    "
        pairs = """cand cd
      JOIN enc e ON e.vec_id = cd.neighbor_id
      JOIN lut l ON l.query_id = cd.query_id
                AND e.m = l.m AND e.code = l.code"""
    return f"""
    WITH {head}{body},
    enc AS MATERIALIZED (
      SELECT vec_id, m, centroid_id AS code FROM (
        SELECT s.vec_id, s.m, c.centroid_id,
               row_number() OVER (PARTITION BY s.vec_id, s.m
                 ORDER BY {sq_l2_sql('s.sv', 'c.cvec')} ASC,
                          c.centroid_id ASC) AS rn
        FROM slices s JOIN {cb} c ON s.m = c.m) WHERE rn = 1),
    lut AS MATERIALIZED (
      SELECT q.vec_id AS query_id, c.m, c.centroid_id AS code,
             CAST(ROUND({sq_l2_sql('q.sv', 'c.cvec')} * 1e6, 0) AS BIGINT)
               AS dmicro
      FROM slices q JOIN {cb} c ON q.m = c.m
      WHERE q.vec_id < {PQ_QUERY_VECS}),
    scored AS (
      SELECT l.query_id, e.vec_id AS neighbor_id,
             CAST(SUM(l.dmicro) AS BIGINT) AS adc_micro
      FROM {pairs}
      WHERE e.vec_id <> l.query_id
      GROUP BY 1, 2)
    SELECT query_id, neighbor_id, adc_micro FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY adc_micro, neighbor_id) AS rn FROM scored)
    WHERE rn <= {PQ_TOP_K}
"""


# --- int8 quantization profile ------------------------------------------------

# Shared quantize/dequantize/error terminal over (v, lo, hi): symmetric
# 255-level affine int8 (q ∈ [-127, 127]); reconstruction error snaps
# to integer nano-units BEFORE summation (money convention in vector
# space), so per-dim sums are order-independent on both engines.
# Degenerate constant dims (hi = lo) quantize to 0 with zero error.
_QUANT_Q = """
    CAST(COALESCE(ROUND((CAST(v AS DOUBLE) - lo)
                        / NULLIF(hi - lo, 0.0) * 254.0, 0) - 127.0, 0.0)
         AS BIGINT)
"""
_QUANT_ERR_NANO = """
    CAST(ROUND(abs(
      CAST(v AS DOUBLE)
      - (lo + (CAST(q AS DOUBLE) + 127.0) * (hi - lo) / 254.0)
    ) * 1e9, 0) AS BIGINT)
"""


def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension int8 quantization audit: affine-quantize every
    embedding element to 255 levels over the dimension's [min, max]
    and report the reconstruction-error profile — the calibration step
    before shipping a quantized ANN index. Output per dim (64 rows):
    (pos, lo_micro, hi_micro, sum_abs_err_nano, max_abs_err_nano).

    Exactness: quantize/dequantize are shared terminal expressions;
    errors accumulate as integer nano-units.

    Scale shape: posexplode → per-dim min/max (bounded 64-row relation,
    broadcast back) → one more pass for the error aggregate. At corpus
    scale both passes are map-side-combined shuffles on the dim key."""
    e = load_table(spark, "embeddings", sf_dir)
    x = e.select(F.posexplode("embedding").alias("pos0", "x")).select(
        (F.col("pos0") + 1).alias("pos"), F.col("x").cast("double").alias("v")
    )
    rng = x.groupBy("pos").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    scored = (
        x.join(F.broadcast(rng), "pos")
        .withColumn("q", F.expr(_QUANT_Q))
        .withColumn("err", F.expr(_QUANT_ERR_NANO))
    )
    return scored.groupBy("pos").agg(
        F.round(F.first("lo") * 1e6).cast("long").alias("lo_micro"),
        F.round(F.first("hi") * 1e6).cast("long").alias("hi_micro"),
        F.sum("err").alias("sum_abs_err_nano"),
        F.max("err").alias("max_abs_err_nano"),
    )


QUANTIZE_SQL = f"""
    WITH x AS (
      SELECT unnest(range(1, len(embedding) + 1)) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ),
    rng AS (SELECT pos, MIN(v) AS lo, MAX(v) AS hi FROM x GROUP BY 1),
    quant AS (
      SELECT pos, v, lo, hi, {_QUANT_Q} AS q
      FROM x JOIN rng USING (pos)
    ),
    scored AS (SELECT pos, lo, hi, {_QUANT_ERR_NANO} AS err FROM quant)
    SELECT CAST(pos AS BIGINT) AS pos,
           CAST(ROUND(ANY_VALUE(lo) * 1e6, 0) AS BIGINT) AS lo_micro,
           CAST(ROUND(ANY_VALUE(hi) * 1e6, 0) AS BIGINT) AS hi_micro,
           CAST(SUM(err) AS BIGINT) AS sum_abs_err_nano,
           CAST(MAX(err) AS BIGINT) AS max_abs_err_nano
    FROM scored GROUP BY 1
"""


# --- norm distribution --------------------------------------------------------


def q_embedding_norm_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of embedding L2 norms (p25/p50/p75/p99 of ‖v‖², in
    integer nano-units) — the drift/scale sanity check before cosine
    vs dot-product decisions. Output one row.

    Exactness: each element² snaps to nano-units before the per-vector
    sum (order-independent integers — no float fold order to disagree
    on); percentiles interpolate over integers identically.

    Scale shape: posexplode → per-vector integer sum (shuffle on
    vec_id) → a global percentile over one value per vector."""
    e = load_table(spark, "embeddings", sf_dir)
    x = e.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "v")
    ).select(
        "vec_id",
        F.round(
            F.col("v").cast("double") * F.col("v").cast("double") * 1e9
        ).cast("long").alias("e2"),
    )
    norms = x.groupBy("vec_id").agg(F.sum("e2").alias("n2_nano"))
    pct = F.percentile(
        "n2_nano",
        F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75), F.lit(0.99)),
    )
    return norms.agg(pct.alias("_p")).select(
        F.round(F.element_at("_p", 1), 1).alias("p25"),
        F.round(F.element_at("_p", 2), 1).alias("p50"),
        F.round(F.element_at("_p", 3), 1).alias("p75"),
        F.round(F.element_at("_p", 4), 1).alias("p99"),
    )


NORM_PCT_SQL = """
    WITH x AS (
      SELECT vec_id,
             CAST(ROUND(CAST(unnest(embedding) AS DOUBLE)
                        * CAST(unnest(embedding) AS DOUBLE) * 1e9, 0)
                  AS BIGINT) AS e2
      FROM embeddings
    ),
    norms AS (SELECT vec_id, SUM(e2) AS n2_nano FROM x GROUP BY 1)
    SELECT ROUND(quantile_cont(n2_nano, 0.25), 1) AS p25,
           ROUND(quantile_cont(n2_nano, 0.50), 1) AS p50,
           ROUND(quantile_cont(n2_nano, 0.75), 1) AS p75,
           ROUND(quantile_cont(n2_nano, 0.99), 1) AS p99
    FROM norms
"""


# Fixed-size pairwise sample for the cosine histogram: a mod-based
# sample would GROW with the corpus and make the pair set quadratic at
# 100 TB; a fixed id cap keeps the pair volume constant (~131k pairs)
# at every scale factor.
EMB_HIST_SAMPLE = 512


def q_embedding_cosine_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise-cosine distribution of a fixed 512-vector sample,
    bucketed by 0.1-wide bins — the corpus-geometry diagnostic read
    before choosing dedup/ANN thresholds (a mass near 1.0 means
    near-dup pressure; mass near 0 means well-spread embeddings).

    Exactness: the bucket comes from integer flooring of cos·10⁶ via
    the SAME sign-split CASE on both engines (integer division
    truncates toward zero on Spark `div` AND DuckDB BIGINT `//` —
    measured; DuckDB floors only for doubles), never from flooring a
    float — ROUND(cos·1e6) is the engine-parity contract the certified
    ANN queries already rely on.

    Scale shape: the pair generator is a broadcast self-join of a
    CONSTANT-size sample (bounded-cross convention) → one bounded
    aggregate; the corpus scan is a pushed-down id filter."""
    e = load_table(spark, "embeddings", sf_dir).filter(
        F.col("vec_id") < EMB_HIST_SAMPLE
    )
    a = e.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    pairs = F.broadcast(a).join(b, F.col("ia") < F.col("ib"))
    cm = F.round(cosine(F.col("va"), F.col("vb")) * 1e6).cast("long")
    return (
        pairs.select(cm.alias("cm"))
        .select(
            F.expr(
                "CAST(CASE WHEN cm < 0 THEN -((-cm + 99999) div 100000)"
                " ELSE cm div 100000 END AS BIGINT)"
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


COSINE_HIST_SQL = f"""
    WITH s AS (SELECT vec_id, embedding FROM embeddings
               WHERE vec_id < {EMB_HIST_SAMPLE}),
    pairs AS (
      SELECT CAST(ROUND({cosine_sql('a.embedding', 'b.embedding')} * 1e6, 0)
                  AS BIGINT) AS cm
      FROM s a JOIN s b ON a.vec_id < b.vec_id)
    SELECT CAST(CASE WHEN cm < 0 THEN -((-cm + 99999) // 100000)
                     ELSE cm // 100000 END AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY 1
"""


# Probe counts swept by the recall curve (max must stay <= IVF_CENTROIDS).
RECALL_PROBES = (1, 2, 4, 8)


def q_ann_ivf_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of IVF as a function of n_probe ∈ {1,2,4,8} against the
    exact brute-force top-10 — the tuning curve an ANN deployment reads
    to pick its recall/latency point (VERDICT r7 next #8's suggested
    sweep). One row per probe count: (n_probe, hits, base, recall_ppm).

    The quantizer trains ONCE (shared centroids + cell assignment);
    candidates are scored ONCE at the maximum probe level and each
    candidate is replicated to every swept level ≥ its probe rank
    (prn ≤ 1 ⊂ prn ≤ 2 ⊂ ... — the levels are nested filters of one
    relation), so a SINGLE (n_probe, query_id) top-k window ranks all
    four levels in one pass. r13 rewrite (guide §2.4/§1.2 — the
    distributed algorithm first): the r12 executed plan replayed the
    kmeans→assign→score chain once per probe level and per consumer
    branch — 153 exchanges, 16 reused; the level-replicated form
    evaluates that chain once.

    Equivalence: the exploded relation restricted to n_probe = p is
    exactly cand.filter(prn <= p), ranked by the same (cosine DESC,
    neighbor_id ASC) order, so per-level top-k sets are unchanged; a
    level whose top-k intersects nothing of the brute baseline still
    emits its row via the literal level spine (hits = 0).

    Scale shape: training/assignment is the certified ann_ivf_topk
    chassis (broadcast centroids, one narrow corpus pass); the brute
    baseline broadcasts 8 query vectors; the level replication is a
    ≤|RECALL_PROBES|-element explode of candidate KEYS (never vectors)
    and the sweep is one grouped count joined to a 4-row spine."""
    from pyspark.sql.window import Window

    e = load_table(spark, "embeddings", sf_dir)
    q = e.filter(F.col("vec_id") < N_QUERY_VECS)
    # r12 A/B note (guide §1.1 empirical loop): persisting brute and a
    # score-precomputed, query-keyed candidate relation was measured
    # interleaved at sf0.1 and LOST (quiet medians: both-persist ~6.6 s
    # and brute-only ~7.1 s vs ~6.2-6.5 s as-is): kmeans_train remains
    # persist-free and its replayed subtrees are tiny JVM jobs, while
    # cache materialization serializes the first pass — the PERF.md r4
    # lesson extended to this site. The r13 fix above removes the
    # replay ALGEBRAICALLY (one consumer branch) instead of caching it.
    brute = brute_force_topk(e, q, k=TOP_K).select("query_id", "neighbor_id")
    cent = kmeans_train(e, k=IVF_CENTROIDS, iters=KMEANS_ITERS)
    assign = ivf_assign(e, cent)
    probes = probe_cells(q, cent, max(RECALL_PROBES))
    members = e.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nvec")
    ).join(assign.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
    cand = probes.join(members, "centroid_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    # Replicate each scored candidate to the levels it participates in:
    # prn in (0,1] -> {1,2,4,8}, (1,2] -> {2,4,8}, ... — a plain CASE
    # over literal arrays (codegen-friendly; no lambda HOF).
    level_arrays = " ".join(
        f"WHEN prn <= {p} THEN array({', '.join(str(l) + 'L' for l in RECALL_PROBES if l >= p)})"
        for p in RECALL_PROBES
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("qvec"), F.col("nvec")).alias("score"),
        F.explode(F.expr(f"CASE {level_arrays} END")).alias("n_probe"),
    )
    wr = Window.partitionBy("n_probe", "query_id").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    hits = (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= TOP_K)
        .select("n_probe", "query_id", "neighbor_id")
        .join(brute, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("n_probe")
        .agg(F.count(F.lit(1)).alias("_h"))
    )
    spine = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(p).cast("long") for p in RECALL_PROBES])
        ).alias("n_probe")
    )
    sweep = spine.join(F.broadcast(hits), "n_probe", "left").select(
        "n_probe", F.coalesce(F.col("_h"), F.lit(0)).cast("long").alias("hits")
    )
    base = brute.agg(F.count(F.lit(1)).alias("base"))
    return sweep.crossJoin(F.broadcast(base)).select(
        "n_probe",
        "hits",
        "base",
        F.expr("CAST(hits * 1000000 div base AS BIGINT)").alias(
            "recall_ppm"
        ),
    )


QUERIES = {
    "ann_bruteforce_topk": q_ann_bruteforce,
    "embedding_centroids": q_embedding_centroids,
    "ann_lsh_buckets": q_ann_lsh_buckets,
    "ann_lsh_bucket_sizes": q_ann_lsh_bucket_sizes,
    "ann_ivf_topk": q_ann_ivf_topk,
    "embedding_kmeans_centroids": q_embedding_kmeans_centroids,
    "ann_pq_codebook": q_ann_pq_codebook,
    "ann_pq_topk": q_ann_pq_topk,
    "ann_pq_serve_topk": q_ann_pq_serve_topk,
    "ann_ivfpq_topk": q_ann_ivfpq_topk,
    "ann_ivfpq_serve_topk": q_ann_ivfpq_serve_topk,
    "embedding_quantize_int8": q_embedding_quantize_int8,
    "embedding_norm_percentiles": q_embedding_norm_percentiles,
    "embedding_cosine_histogram": q_embedding_cosine_histogram,
    "ann_ivf_recall_sweep": q_ann_ivf_recall_sweep,
}

_KMEANS_CTES, _KMEANS_FINAL = kmeans_sql(k=IVF_CENTROIDS, iters=KMEANS_ITERS)


def _ivf_ctes(n_queries: int, n_probe: int) -> str:
    """DuckDB CTE chain of the IVF probe step, shared by every IVF oracle:
    kmeans → cent → assign (vector → nearest cell) → probes (each of the
    first ``n_queries`` queries' ``n_probe`` nearest cells, probe rank
    ``prn`` kept) → cand (query_id, neighbor_id, prn), self-matches
    dropped. Embed as ``WITH {_ivf_ctes(...)}, ...``."""
    return f"""{_KMEANS_CTES},
    cent AS (SELECT centroid_id, cvec FROM {_KMEANS_FINAL}),
    assign AS (
      SELECT vec_id AS neighbor_id, centroid_id FROM (
        SELECT e.vec_id, c.centroid_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {cosine_sql('e.embedding', 'c.cvec')} DESC,
                          c.centroid_id ASC) AS rn
        FROM embeddings e CROSS JOIN cent c) WHERE rn = 1),
    probes AS (
      SELECT query_id, centroid_id, rn AS prn FROM (
        SELECT q.vec_id AS query_id, c.centroid_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {cosine_sql('q.embedding', 'c.cvec')} DESC,
                          c.centroid_id ASC) AS rn
        FROM embeddings q CROSS JOIN cent c
        WHERE q.vec_id < {n_queries}) WHERE rn <= {n_probe}),
    cand AS (
      SELECT p.query_id, a.neighbor_id, p.prn
      FROM probes p JOIN assign a USING (centroid_id)
      WHERE p.query_id != a.neighbor_id)"""


def _ivf_recall_sql() -> str:
    """DuckDB mirror of q_ann_ivf_recall_sweep: the IVF chain at the
    widest probe level (probe rank kept), the brute baseline, and one
    scalar hit-count per probe level."""
    per = " UNION ALL ".join(
        f"""
      SELECT CAST({np} AS BIGINT) AS n_probe, (
        SELECT COUNT(*) FROM (
          SELECT c.query_id, c.neighbor_id,
                 row_number() OVER (PARTITION BY c.query_id
                   ORDER BY {cosine_sql('q.embedding', 'n.embedding')} DESC,
                            c.neighbor_id ASC) AS rn
          FROM cand c
          JOIN embeddings q ON q.vec_id = c.query_id
          JOIN embeddings n ON n.vec_id = c.neighbor_id
          WHERE c.prn <= {np}) t
        JOIN brute b ON t.query_id = b.query_id
                    AND t.neighbor_id = b.neighbor_id
        WHERE t.rn <= {TOP_K}) AS hits"""
        for np in RECALL_PROBES
    )
    return f"""
    WITH {_ivf_ctes(N_QUERY_VECS, max(RECALL_PROBES))},
    brute AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY {cosine_sql('q.embedding', 'c.embedding')} DESC,
                          c.vec_id ASC) AS rn
        FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
        WHERE q.vec_id < {N_QUERY_VECS}) WHERE rn <= {TOP_K}),
    base AS (SELECT COUNT(*) AS base FROM brute),
    sweep AS ({per})
    SELECT n_probe, CAST(hits AS BIGINT) AS hits,
           CAST(base AS BIGINT) AS base,
           CAST(hits * 1000000 // base AS BIGINT) AS recall_ppm
    FROM sweep, base
    """


ORACLES = {
    "embedding_quantize_int8": QUANTIZE_SQL,
    "embedding_norm_percentiles": NORM_PCT_SQL,
    "embedding_centroids": """
        WITH x AS (
          SELECT label,
                 unnest(range(1, len(embedding) + 1)) AS pos,
                 unnest(embedding) AS x
          FROM embeddings
        )
        SELECT label, pos,
               ROUND(CAST(SUM(CAST(ROUND(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT))
                          AS DOUBLE) / COUNT(*) / 1e6, 6) AS centroid
        FROM x GROUP BY label, pos
    """,
    "ann_bruteforce_topk": f"""
        WITH scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 {cosine_sql('q.embedding', 'c.embedding')} AS cos
          FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
          WHERE q.vec_id < {N_QUERY_VECS}
        )
        SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id ASC) AS BIGINT) AS rn
        FROM scored
        QUALIFY rn <= {TOP_K}
    """,
    "ann_lsh_buckets": f"""
        SELECT vec_id, {lsh_buckets_sql()} AS bucket FROM embeddings
    """,
    "ann_lsh_bucket_sizes": f"""
        SELECT bucket, COUNT(*) AS n_vectors
        FROM (SELECT {lsh_buckets_sql()} AS bucket FROM embeddings)
        GROUP BY bucket
    """,
    "embedding_kmeans_centroids": f"""
        WITH {_KMEANS_CTES}
        SELECT centroid_id, pos,
               CAST(ROUND(v * 1e6, 0) AS BIGINT) AS centroid_e6 FROM (
          SELECT centroid_id,
                 unnest(range(1, len(cvec) + 1)) AS pos,
                 unnest(cvec) AS v
          FROM {_KMEANS_FINAL})
    """,
    "ann_ivf_topk": f"""
        WITH {_ivf_ctes(N_QUERY_VECS, IVF_PROBES)}
        SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos,
               CAST(rn AS BIGINT) AS rn
        FROM (
          SELECT c.query_id, c.neighbor_id,
                 {cosine_sql('q.embedding', 'n.embedding')} AS cos,
                 row_number() OVER (PARTITION BY c.query_id
                   ORDER BY {cosine_sql('q.embedding', 'n.embedding')} DESC,
                            c.neighbor_id ASC) AS rn
          FROM cand c
          JOIN embeddings q ON q.vec_id = c.query_id
          JOIN embeddings n ON n.vec_id = c.neighbor_id)
        WHERE rn <= {TOP_K}
    """,
    "ann_pq_codebook": _pq_codebook_sql(),
    "ann_pq_topk": _adc_sql(ivf=False),
    # identical output to ann_pq_topk: training is deterministic, the
    # serving variant only changes WHERE the codebook/codes come from
    "ann_pq_serve_topk": _adc_sql(ivf=False),
    "ann_ivfpq_topk": _adc_sql(ivf=True),
    # identical output to ann_ivfpq_topk: deterministic training, the
    # serving variant only changes WHERE centroids/codebook/codes come from
    "ann_ivfpq_serve_topk": _adc_sql(ivf=True),
    "embedding_cosine_histogram": COSINE_HIST_SQL,
    "ann_ivf_recall_sweep": _ivf_recall_sql(),
}
