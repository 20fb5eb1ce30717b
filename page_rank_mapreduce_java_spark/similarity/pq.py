"""Product quantization (PQ) — the compressed-domain ANN scale path.

IVF (similarity/ann.py) prunes WHICH vectors to score; PQ compresses HOW
each vector is scored (Jégou et al., "Product Quantization for Nearest
Neighbor Search", TPAMI 2011 — public literature). The d-dim embedding
is split into M subspaces; each subspace gets its own k-centroid
codebook (trained with the deterministic Lloyd chassis from
similarity/ann.kmeans_train, applied per sub-vector); a vector is then
M small integer codes (M·log2(k) bits ≈ 4 bytes here vs 256 bytes of
floats — the ~64× compression that lets a 100 TB embedding corpus fit
hot storage).

Query-time ADC (asymmetric distance computation, ``adc_topk``) never
touches raw corpus vectors: the query precomputes a |Q|·M·k lookup table
of partial squared-L2 distances to every sub-centroid (tiny, broadcast),
each snapped to integer micro-units; the codes relation joins it on
(subspace, code), and the per-(query, vector) distance is the integer SUM
of M partials — an equi-join plus a keyed aggregate, Spark's native
shapes. IVF-PQ is the same operator over a codes relation already
restricted to (query, candidate) pairs. No UDFs anywhere; the sub-vector
slice, the assignment argmin, and the distance fold are all JVM
higher-order functions (functions/vectors.py contract), and
similarity/queries._adc_sql renders the DuckDB oracle of every PQ and
IVF-PQ search query.

Plan shapes at 100 TB:
- train: M independent kmeans_train runs over sliced columns — each is
  Lloyd's broadcast-assign + (k·d/M)-sized partial-sum shuffle;
- encode: ONE narrow pass over the corpus (codebook broadcast, argmin
  over M·k candidates per row via a per-vector window keyed on the
  high-cardinality vector id);
- search: codes ⋈ broadcast LUT on (m, code) then groupBy (query_id,
  vec_id) — both keys high-cardinality, map-side partials apply; final
  per-query top-k is a window over query_id (high-cardinality).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from page_rank_mapreduce_java_spark.functions.vectors import sq_l2
from page_rank_mapreduce_java_spark.similarity.ann import kmeans_train

PQ_M = 4  # subspaces
PQ_K = 16  # centroids per subspace (codes fit one nibble)


def subvector(vec: Column | str, m: int, n_sub: int, dim: int) -> Column:
    """The m-th of n_sub equal slices of a dim-length array column
    (1-based slice; dim must divide evenly — asserted by callers)."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    width = dim // n_sub
    return F.slice(vec, m * width + 1, width)


def pq_train(
    corpus: DataFrame,
    dim: int,
    n_sub: int = PQ_M,
    k: int = PQ_K,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train per-subspace codebooks. Returns DataFrame[m INT,
    centroid_id LONG, cvec ARRAY<DOUBLE>] — M·k rows, broadcast-sized
    for any practical (M, k).

    Each subspace trains independently on its slice of the corpus via
    the deterministic Lloyd chassis (first-k init, micro-unit snapped
    means) — determinism carries over unchanged because slicing is a
    pure projection."""
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible into {n_sub} subspaces")
    parts = []
    for m in range(n_sub):
        sub = corpus.select(
            F.col(id_col).alias("vec_id"),
            subvector(vec_col, m, n_sub, dim).alias("embedding"),
        )
        parts.append(
            # parallel_corpus=False: the PQ chassis replays its five
            # trains per materialization, so the per-train corpus
            # repartition LOSES here (measured quiet A/B — see the
            # kmeans_train note).
            kmeans_train(
                sub, k=k, iters=iters, parallel_corpus=False
            ).withColumn("m", F.lit(m))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("m", "centroid_id", "cvec")


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    dim: int,
    n_sub: int = PQ_M,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as M codes: DataFrame[vec_id, m, code].

    One narrow pass: explode the M slices per vector (bounded ×M),
    broadcast-join the codebook on the subspace, argmin squared-L2 with
    centroid-id tiebreak via a per-(vec_id, m) window — the partition
    key is high-cardinality, so parallelism tracks the corpus."""
    slices = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        subvector(vec_col, m, n_sub, dim).alias("sv"),
                    )
                    for m in range(n_sub)
                ]
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))
    w = Window.partitionBy("vec_id", "m").orderBy(
        F.asc(sq_l2(F.col("sv"), F.col("cvec"))), F.asc("centroid_id")
    )
    return (
        slices.join(F.broadcast(codebook), "m")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", F.col("centroid_id").alias("code"))
    )


def adc_topk(
    codebook: DataFrame, queries: DataFrame, codes: DataFrame, dim: int, k: int
) -> DataFrame:
    """ADC top-k: DataFrame[query_id, neighbor_id, adc_micro] — for every
    query, the k vectors of ``codes`` with the smallest code-approximated
    squared L2 (ties → neighbor id), self-matches dropped.

    query slices ⋈ broadcast codebook → integer-micro LUT; codes ⋈
    broadcast LUT on (m, code) — plus query_id when ``codes`` carries
    one, i.e. holds IVF (query, candidate) pairs — then a keyed sum and
    a per-query top-k window. Each partial is rounded BEFORE the sum, so
    ``adc_micro`` and its ranking are order-independent integers,
    bit-identical across engines."""
    qs = queries.select(
        F.col("vec_id").alias("query_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        subvector("embedding", m, PQ_M, dim).alias("qv"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("s"),
    ).select("query_id", F.col("s.m").alias("m"), F.col("s.qv").alias("qv"))
    lut = qs.join(F.broadcast(codebook), "m").select(
        "query_id",
        "m",
        F.col("centroid_id").alias("code"),
        F.round(sq_l2(F.col("qv"), F.col("cvec")) * 1e6).cast("long").alias("dmicro"),
    )
    keys = ["query_id", "m", "code"] if "query_id" in codes.columns else ["m", "code"]
    scored = (
        codes.join(F.broadcast(lut), keys)
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("dmicro").alias("adc_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_micro"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "adc_micro")
    )
