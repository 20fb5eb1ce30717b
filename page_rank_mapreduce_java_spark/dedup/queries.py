"""Deduplication operators over the ``documents`` / ``embeddings`` tables
(SURVEY.md §7 M5; north-star LLM-data-pipeline surface), all with DuckDB
oracles via the portable md5-based hash family (functions/hashes.py).

Scale design (the 100 TB story):
- exact dedup: hash-groupBy — one shuffle on a 60-bit digest, no text
  comparison; window keeps the smallest doc_id per group.
- MinHash: shingle explode → 16 min-aggregates (map-side partial, one
  shuffle on doc_id). Signature width is a constant; no per-pair work.
- LSH: band buckets turn O(n²) near-dup search into an equi-join on
  (band, bucket-hash) — only colliding docs are ever paired. Skewed
  buckets (boilerplate docs) are AQE skew-join territory.
- blocked Jaccard / cosine verification: candidate pairing is always
  through an equi-join key (block or bucket), never a cross join.

Cache contract: some queries ``persist()`` an intermediate that multiple
branches of the same plan read (LSH signatures, self-join inputs). These
are intra-query caches on the *returned, not-yet-executed* plan, so the
query function cannot unpersist them itself. Callers that loop over many
queries in one session (bench.py, tools/check_oracle.py) call
``spark.catalog.clearCache()`` after materializing each result; one-off
callers can rely on the ContextCleaner reclaiming blocks when the
DataFrame goes out of scope.

The persists that remain are the A/B WINNERS (PERF.md r5 ledger item 3,
measured interleaved at sf0.1 against the runtime-ReusedExchange
alternative); ``_PERSIST_SHARED`` flips all sites in one place, so an
A/B (tools/ab.py) needs no edit to query code.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from page_rank_mapreduce_java_spark.catalog import load_table
from page_rank_mapreduce_java_spark.functions.hashes import (
    LSH_BANDS,
    NUM_MINHASH,
    md5_long,
    md5_long_sql,
    minhash_slot,
    minhash_slot_sql,
)
from page_rank_mapreduce_java_spark.functions.textfn import word_shingles, shingles_sql, words
from page_rank_mapreduce_java_spark.functions.vectors import cosine, cosine_sql

WORDS_SQL = r"regexp_split_to_array(lower(text), '\s+')"

# Toggle for the shared-subtree persists below (flip it in one checkout
# to A/B persist vs runtime ReusedExchange on otherwise identical code).
_PERSIST_SHARED = True


def _maybe_persist(df: DataFrame) -> DataFrame:
    return df.persist() if _PERSIST_SHARED else df


# --- exact ------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content digest: doc → (keeper, is_dup)."""
    d = load_table(spark, "documents", sf_dir)
    w = Window.partitionBy("digest").orderBy("doc_id")
    return (
        d.select("doc_id", F.md5("text").alias("digest"))
        .withColumn("keeper", F.min("doc_id").over(w))
        .withColumn("is_dup", (F.row_number().over(w) > 1).cast("long"))
        .select("doc_id", "keeper", "is_dup")
    )


# --- MinHash / LSH ------------------------------------------------------------


def _signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, "documents", sf_dir)
    sh = (
        d.select("doc_id", words(F.col("text")).alias("w"))
        .select("doc_id", F.explode(word_shingles("w")).alias("s"))
    )
    base = md5_long(F.col("s"))
    return sh.groupBy("doc_id").agg(
        *[F.min(minhash_slot(base, i)).alias(f"mh{i}") for i in range(NUM_MINHASH)]
    )


def _signatures_sql() -> str:
    mins = ",\n               ".join(
        f"min({minhash_slot_sql('b', i)}) AS mh{i}" for i in range(NUM_MINHASH)
    )
    return f"""
        WITH w AS (SELECT doc_id, {WORDS_SQL} AS w FROM documents),
        sh AS (SELECT doc_id, unnest({shingles_sql('w')}) AS s FROM w),
        hashed AS (SELECT doc_id, {md5_long_sql('s')} AS b FROM sh)
        SELECT doc_id, {mins}
        FROM hashed GROUP BY doc_id
    """


def q_dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _signatures(spark, sf_dir)


def q_dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket.

    The signature pipeline feeds 4 band branches × 2 self-join sides —
    without the persist Spark would recompute the shingle explode + 16
    min-aggregates 8×; with it, one pass."""
    sig = _maybe_persist(_signatures(spark, sf_dir))
    rows_per_band = NUM_MINHASH // LSH_BANDS
    bands = None
    for j in range(LSH_BANDS):
        cols = [F.col(f"mh{j * rows_per_band + k}").cast("string") for k in range(rows_per_band)]
        b = sig.select(
            "doc_id", F.lit(j).alias("band"), F.md5(F.concat_ws(",", *cols)).alias("bh")
        )
        bands = b if bands is None else bands.unionByName(b)
    x, y = bands.alias("x"), bands.alias("y")
    return (
        x.join(y, ["band", "bh"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )


def _lsh_pairs_sql() -> str:
    rows_per_band = NUM_MINHASH // LSH_BANDS
    band_selects = []
    for j in range(LSH_BANDS):
        concat = " || ',' || ".join(
            f"CAST(mh{j * rows_per_band + k} AS VARCHAR)" for k in range(rows_per_band)
        )
        band_selects.append(f"SELECT doc_id, {j} AS band, md5({concat}) AS bh FROM sig")
    bands = " UNION ALL ".join(band_selects)
    return f"""
        WITH sig AS ({_signatures_sql()}),
        bands AS ({bands})
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh
        WHERE x.doc_id < y.doc_id
    """


# --- SimHash ------------------------------------------------------------------


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash over the word multiset (Charikar'02 shape): bit j is
    the sign of the summed ±1 votes of each word-hash's j-th bit.

    All 32 per-bit vote sums are computed as 32 conditional-sum columns in
    ONE groupBy("doc_id") over the word rows — no row expansion, one
    shuffle of doc-cardinality partials. (The first cut crossJoined a
    32-row bit index, multiplying shuffle input ×32 for the same result —
    VERDICT r1 wrong #3.)"""
    d = load_table(spark, "documents", sf_dir)
    wx = d.select("doc_id", F.explode(words(F.col("text"))).alias("word"))
    wx = wx.select("doc_id", (md5_long(F.col("word")) % F.lit(2**32)).alias("h"))
    votes = [
        F.sum((F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1)).alias(f"v{j}")
        for j in range(32)
    ]
    per_doc = wx.groupBy("doc_id").agg(*votes)
    simhash = None
    for j in range(32):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        simhash = bit if simhash is None else simhash + bit
    return per_doc.select("doc_id", simhash.alias("simhash"))


SIMHASH_SQL = f"""
    WITH wx AS (SELECT doc_id, unnest({WORDS_SQL}) AS word FROM documents),
    hashed AS (SELECT doc_id, {md5_long_sql('word')} % 4294967296 AS h FROM wx),
    bits AS (SELECT doc_id, h, j FROM hashed CROSS JOIN range(32) t(j)),
    votes AS (SELECT doc_id, j,
                     SUM(((h // CAST(power(2, j) AS BIGINT)) % 2) * 2 - 1) AS v
              FROM bits GROUP BY doc_id, j)
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
"""
# The outer CAST matters: DuckDB SUM(BIGINT) yields HUGEINT, which the
# driver's pandas fetch renders as float64 and hash-mismatches against
# Spark's int64 even when every value is identical (the r2 dedup_simhash
# driver FAIL while dedup_simhash_pairs — whose outputs avoid HUGEINT —
# passed). tools/canon_audit.py flags these mechanically.


SIMHASH_HAMMING_MAX = 3


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: candidates share either 16-bit half of the
    32-bit fingerprint, then are verified by exact Hamming distance ≤ 3.
    With 2 blocks the pigeonhole guarantee covers distance ≤ 1; pairs at
    distance 2-3 whose differing bits span both halves are missed — the
    standard recall/cost trade of block-based SimHash search (more,
    narrower blocks buy recall with more candidates).

    Scale: candidate generation is an equi-join on (band, half-value) —
    never a cross join; the Hamming check runs only on collisions.
    """
    # A/B r5 (PERF.md item 3): persist vs ReusedExchange was a statistical
    # tie here (medians 3.01 s vs 2.90 s, overlapping spreads) — the
    # simhash relation is one doc-keyed aggregate, cheap enough that the
    # runtime ReusedExchange covers the two self-join reads. Per the r4
    # lesson, ties go to no-persist.
    sh = q_dedup_simhash(spark, sf_dir)
    hi = (F.col("simhash") / F.lit(65536)).cast("long").alias("half")
    lo = (F.col("simhash") % F.lit(65536)).alias("half")
    bands = sh.select("doc_id", "simhash", F.lit(0).alias("band"), hi).unionByName(
        sh.select("doc_id", "simhash", F.lit(1).alias("band"), lo)
    )
    x, y = bands.alias("x"), bands.alias("y")
    dist = F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash")))
    return (
        x.join(y, ["band", "half"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            dist.alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_HAMMING_MAX)
        .distinct()
    )


SIMHASH_PAIRS_SQL = f"""
    WITH sh AS MATERIALIZED ({SIMHASH_SQL}),
    bands AS (
      SELECT doc_id, simhash, 0 AS band, simhash // 65536 AS half FROM sh
      UNION ALL
      SELECT doc_id, simhash, 1 AS band, simhash % 65536 AS half FROM sh
    )
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
           bit_count(xor(x.simhash, y.simhash)) AS hamming
    FROM bands x JOIN bands y ON x.band = y.band AND x.half = y.half
    WHERE x.doc_id < y.doc_id
      AND bit_count(xor(x.simhash, y.simhash)) <= {SIMHASH_HAMMING_MAX}
"""


# --- blocked n-gram Jaccard ---------------------------------------------------


NGRAM_BAND_SLOTS = 4  # one 4-slot MinHash band: P(same band) = J^4


def _shingle_band(sh) -> F.Column:
    """Single-band MinHash bucket over a shingle ARRAY column, computed
    with higher-order functions (transform + array_min) — per-row JVM
    arithmetic, no explode, no extra shuffle. Uses slots 0..3 of the
    standard portable family (functions/hashes.py), so two docs with
    Jaccard J collide with probability J^4. Empty shingle arrays hash
    from a -1 sentinel so degenerate docs still block together instead
    of NULL-propagating."""
    def slot_fn(i):
        # Single-parameter lambda: F.transform treats a 2-arg callable as
        # (element, index) and would pass the index Column into a default
        # arg, so the slot number must be closed over instead.
        return lambda s: minhash_slot(md5_long(s), i)

    mins = [
        F.coalesce(F.array_min(F.transform(sh, slot_fn(i))), F.lit(-1)).cast("string")
        for i in range(NGRAM_BAND_SLOTS)
    ]
    return F.md5(F.concat_ws(",", *mins))


def _shingle_band_sql(sh: str) -> str:
    """DuckDB rendering of ``_shingle_band`` — same slots, same sentinel."""
    mins = ", ".join(
        f"CAST(COALESCE(list_min(list_transform({sh}, "
        f"s -> {minhash_slot_sql(md5_long_sql('s'), i)})), -1) AS VARCHAR)"
        for i in range(NGRAM_BAND_SLOTS)
    )
    return f"md5(concat_ws(',', {mins}))"


def blocked_jaccard_pairs(d: DataFrame) -> DataFrame:
    """Candidate pairs with exact 3-gram Jaccard, blocked on
    (lang, length-bucket, MinHash band).

    ``d``: DataFrame[doc_id, lang, n_chars, text]. Returns one row per
    candidate pair: (lang, bucket, jac DOUBLE).

    The band component is what bounds the block (VERDICT r2 wrong #4):
    (lang, len-bucket) alone leaves millions of docs per block at corpus
    scale and within-block pairing is O(b²). With the band in the key,
    co-blocking probability is J^4 — distinct-content docs spread over
    the band's hash range, so candidate volume tracks near-duplicate
    volume, not corpus volume (same argument as the MinHash-LSH pair
    generator; tests/test_dedup_similarity.py proves the bound on a
    pathological single-lang equal-length corpus). Trade-off: one band
    has recall J^4 (e.g. 0.66 at J=0.9); more bands = more recall, the
    4-band version IS dedup_minhash_lsh_pairs.
    """
    docs = (
        d.select("doc_id", "lang", F.expr("n_chars div 100").alias("bucket"),
                 words(F.col("text")).alias("w"))
        .select("doc_id", "lang", "bucket", word_shingles("w").alias("sh"))
        .withColumn("band", _shingle_band(F.col("sh")))
    )
    docs = _maybe_persist(docs)  # both sides of the self-join read this
    a, b = docs.alias("a"), docs.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.lang").alias("lang"), F.col("a.bucket").alias("bucket"), jac.alias("jac"))
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise 3-gram Jaccard within (lang, length-bucket, MinHash-band)
    blocks — candidate generation bounded by content, verification exact.

    Outputs per-(lang, bucket) pair stats in exact integer arithmetic
    (ppm longs) so they hash identically across engines.
    """
    pairs = blocked_jaccard_pairs(load_table(spark, "documents", sf_dir))
    # All-integer output (counts + ppm longs): raw doubles and HUGEINT
    # sums render differently under the driver's pandas oracle fetch.
    ppm = F.round(F.col("jac") * 1e6).cast("long")
    return pairs.groupBy("lang", "bucket").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.max(ppm).alias("max_jac_ppm"),
        F.sum(ppm).alias("jaccard_ppm"),
    )


NGRAM_JACCARD_SQL = f"""
    WITH shingled AS (
      SELECT doc_id, lang, n_chars // 100 AS bucket, {shingles_sql('w')} AS sh
      FROM (SELECT doc_id, lang, n_chars, {WORDS_SQL} AS w FROM documents)
    ),
    docs AS (
      SELECT doc_id, lang, bucket, sh, {_shingle_band_sql('sh')} AS band
      FROM shingled
    ),
    pairs AS (
      SELECT a.lang, a.bucket,
             len(list_intersect(a.sh, b.sh)) AS i,
             len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS u
      FROM docs a JOIN docs b
        ON a.lang = b.lang AND a.bucket = b.bucket AND a.band = b.band
        AND a.doc_id < b.doc_id
    ),
    j AS (SELECT lang, bucket,
                 CASE WHEN u > 0 THEN CAST(i AS DOUBLE) / CAST(u AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END AS jac
          FROM pairs)
    SELECT lang, bucket, COUNT(*) AS n_pairs,
           MAX(CAST(ROUND(jac * 1e6, 0) AS BIGINT)) AS max_jac_ppm,
           CAST(SUM(CAST(ROUND(jac * 1e6, 0) AS BIGINT)) AS BIGINT) AS jaccard_ppm
    FROM j GROUP BY lang, bucket
"""


# --- embedding cosine near-dup -------------------------------------------------


EMB_LSH_PLANES = 4  # 2^4 sign buckets; P(co-bucket) = (1 - theta/pi)^4


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection over embeddings, blocked on (label, sign-LSH
    bucket): per-label candidate-pair stats + count of pairs above 0.8
    cosine.

    Blocking by ``label`` alone is O(b²) within each label — millions of
    vectors per label at corpus scale (VERDICT r2 wrong #4). The
    hyperplane sign bucket (similarity/ann.py machinery, same
    deterministic LCG planes the driver certified in ann_lsh_buckets)
    bounds the block: near-identical vectors agree on all plane signs
    with probability (1 - theta/pi)^4 (~0.40 at cos 0.8, ->1 as cos->1),
    while unrelated vectors spread across the 16 buckets. Candidate
    volume tracks near-dup volume, not corpus volume; more probe tables
    raise recall (the ann_lsh query family is the multi-table shape).
    """
    from page_rank_mapreduce_java_spark.similarity.ann import lsh_bucket_col

    e = (
        load_table(spark, "embeddings", sf_dir)
        .withColumn("bkt", lsh_bucket_col("embedding", n_planes=EMB_LSH_PLANES))
    )
    e = _maybe_persist(e)  # both sides of the self-join read this
    a, b = e.alias("a"), e.alias("b")
    cos = cosine(F.col("a.embedding"), F.col("b.embedding"))
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.bkt") == F.col("b.bkt"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(F.col("a.label").alias("label"), cos.alias("cos"))
    # All-integer output: n_near_dup's SUM must not surface as DuckDB
    # HUGEINT and max cosine goes out as ppm (round(cos*1e6) long) so the
    # driver's pandas oracle fetch renders both engines identically.
    return pairs.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum((F.col("cos") >= 0.8).cast("long")).alias("n_near_dup"),
        F.max(F.round(F.col("cos") * 1e6).cast("long")).alias("max_cos_ppm"),
    )


def _emb_cosine_sql() -> str:
    from page_rank_mapreduce_java_spark.similarity.ann import lsh_buckets_sql

    return f"""
    WITH e AS (
      SELECT vec_id, label, embedding,
             {lsh_buckets_sql(n_planes=EMB_LSH_PLANES)} AS bkt
      FROM embeddings
    )
    SELECT a.label AS label, COUNT(*) AS n_pairs,
           CAST(SUM(CASE WHEN {cosine_sql('a.embedding', 'b.embedding')} >= 0.8
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
           MAX(CAST(ROUND({cosine_sql('a.embedding', 'b.embedding')} * 1e6, 0)
                    AS BIGINT)) AS max_cos_ppm
    FROM e a JOIN e b
      ON a.label = b.label AND a.bkt = b.bkt AND a.vec_id < b.vec_id
    GROUP BY a.label
"""


EMB_COSINE_SQL = _emb_cosine_sql()


# --- near-dup clustering (LSH pairs -> components -> canonical doc) ----------

# Label-propagation rounds for duplicate clusters. The oracle unrolls the
# SAME count, so Spark and DuckDB compute the identical partial fixpoint
# even if a pathological near-dup chain exceeds it.
DEDUP_CC_ITERS = 6


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup pipeline composed end-to-end: MinHash → LSH candidate
    pairs → connected components over the pair graph → every doc assigned
    a cluster id (the minimum doc_id in its near-dup cluster; singletons
    are their own cluster). ``is_dup`` marks the non-canonical members —
    the rows a training-data pipeline would drop.

    Scale: the pair graph is tiny relative to the corpus (only LSH
    collisions), so the component step runs on candidate-pair volume,
    never on document volume; the final assignment is one left join.
    """
    from page_rank_mapreduce_java_spark.graph.algorithms import connected_components

    pairs = q_dedup_minhash_lsh_pairs(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    # The LSH collision graph's diameter is 2-3 while the round budget is
    # 6; connected_components exits at the fixpoint for free, and the
    # unrolled 6-step oracle lands on the same stable labels.
    comp = connected_components(edges, max_iterations=DEDUP_CC_ITERS)
    # comp is checkpointed, so nothing reads the LSH signature cache any
    # more; an equal plan finds the cached entry to release.
    _signatures(spark, sf_dir).unpersist()
    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    return (
        docs.join(comp, docs.doc_id == comp.id, "left")
        .select("doc_id", F.coalesce("component", F.col("doc_id")).alias("cluster"))
        .withColumn("is_dup", (F.col("doc_id") != F.col("cluster")).cast("long"))
    )


def _dedup_clusters_sql(iters: int = DEDUP_CC_ITERS) -> str:
    # MATERIALIZED stops DuckDB re-inlining the expensive LSH pipeline
    # into every unrolled propagation step (each step references the
    # previous twice — inlined, the work grows exponentially in iters).
    base = f"""WITH pairs AS MATERIALIZED ({_lsh_pairs_sql()}),
sym AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
l0 AS (SELECT id, id AS component FROM (SELECT DISTINCT src AS id FROM sym))"""
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
    return (
        base
        + "".join(steps)
        + f"""
SELECT d.doc_id, COALESCE(l.component, d.doc_id) AS cluster,
       CAST(d.doc_id != COALESCE(l.component, d.doc_id) AS BIGINT) AS is_dup
FROM documents d LEFT JOIN l{iters} l ON d.doc_id = l.id"""
    )


def q_dedup_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs with prefix blocking — the classic
    record-linkage shape the hash families (MinHash/SimHash) don't cover:
    it catches small in-place edits that shift every shingle.

    Blocking keys (lang, n_chars//64) bound the quadratic comparison to
    within-block pairs, so the self-join is an equi-join Catalyst plans
    as one shuffle; ``levenshtein`` on a fixed 40-char head caps per-pair
    cost. At 100 TB the block key would add a content prefix (or an LSH
    band) to keep blocks O(1); the operator shape is unchanged.
    """
    d = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 64).cast("long").alias("lb"),
        F.substring("text", 1, 40).alias("head"),
    )
    # The probe side must be spread over the block keys: the corpus reads
    # as few parquet splits, and a broadcast join's parallelism equals the
    # probe side's partition count — without this, every levenshtein pair
    # lands on one task. The doc_id inequality sits BEFORE the levenshtein
    # conjunct so the cheap predicate halves the candidate set first.
    shuffle_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    a = d.repartition(shuffle_p, "lang", "lb").alias("a")
    b = d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.lb") == F.col("b.lb"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.levenshtein(F.col("a.head"), F.col("b.head")) <= 20),
        )
        .withColumn("dist", F.levenshtein(F.col("a.head"), F.col("b.head")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("dist").cast("long").alias("dist"),
        )
    )


FUZZY_PAIRS_SQL = """
    WITH b AS (
      SELECT doc_id, lang, n_chars // 64 AS lb, substr(text, 1, 40) AS head
      FROM documents
    )
    SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
           CAST(levenshtein(a.head, c.head) AS BIGINT) AS dist
    FROM b a JOIN b c ON a.lang = c.lang AND a.lb = c.lb AND a.doc_id < c.doc_id
    WHERE levenshtein(a.head, c.head) <= 20
"""


# --- passage-level dedup ------------------------------------------------------

PASSAGE_WORDS = 16


def q_dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup: per source, how much of the corpus is
    repeated 16-word windows (the boilerplate-removal signal — headers,
    navigation, license blocks — that doc-level dedup cannot see).

    Pipeline: chunk (narrow JVM ops, functions/chunking.py) → digest →
    one digest-keyed shuffle to count distinct docs per passage → one
    doc-keyed aggregate → one source rollup. A passage counts as
    duplicated when it appears in more than one document. At 100 TB the
    digest shuffle dominates and is the canonical hash-partition load;
    hot boilerplate digests are exactly what AQE skew handling is for.
    """
    from page_rank_mapreduce_java_spark.functions.chunking import chunk_documents

    d = load_table(spark, "documents", sf_dir)
    dgs = chunk_documents(d.select("doc_id", "text"), PASSAGE_WORDS).select(
        "doc_id", F.md5("chunk").alias("dg")
    )
    per_dg = dgs.groupBy("dg").agg(F.count_distinct("doc_id").alias("nd"))
    per_doc = (
        dgs.join(per_dg, "dg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_p"),
            F.sum((F.col("nd") > 1).cast("long")).alias("n_dup"),
        )
    )
    return (
        per_doc.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_p").alias("n_passages"),
            F.sum("n_dup").alias("n_dup_passages"),
        )
    )


def _passages_sql() -> str:
    from page_rank_mapreduce_java_spark.functions.chunking import chunk_sql

    return f"""
    WITH ch AS ({chunk_sql(PASSAGE_WORDS)}),
    dgs AS (SELECT doc_id, md5(chunk) AS dg FROM ch),
    per_dg AS (SELECT dg, COUNT(DISTINCT doc_id) AS nd FROM dgs GROUP BY dg),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_p,
             SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS n_dup
      FROM dgs JOIN per_dg USING (dg) GROUP BY doc_id
    )
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_p) AS BIGINT) AS n_passages,
           CAST(SUM(n_dup) AS BIGINT) AS n_dup_passages
    FROM per_doc JOIN documents USING (doc_id)
    GROUP BY source
"""


EMB_CC_ITERS = 4


def q_embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup clustering end-to-end: (label, sign-LSH
    bucket) candidate pairs at cosine ≥ 0.8 → connected components over
    the pair graph → every vector assigned a cluster id (min vec_id;
    singletons are their own cluster), ``is_dup`` marking non-canonical
    members — the vector-modality mirror of ``dedup_clusters``.

    Scale: identical argument — components run on candidate-pair
    volume (LSH collisions above threshold), never corpus volume; the
    final assignment is one left join against the id column only."""
    from page_rank_mapreduce_java_spark.graph.algorithms import connected_components
    from page_rank_mapreduce_java_spark.similarity.ann import lsh_bucket_col

    e = (
        load_table(spark, "embeddings", sf_dir)
        .withColumn("bkt", lsh_bucket_col("embedding", n_planes=EMB_LSH_PLANES))
        .persist()
    )
    a, b = e.alias("a"), e.alias("b")
    cos = cosine(F.col("a.embedding"), F.col("b.embedding"))
    pairs = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.bkt") == F.col("b.bkt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos >= 0.8)
        .select(F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst"))
    )
    comp = connected_components(pairs, max_iterations=EMB_CC_ITERS)
    vids = load_table(spark, "embeddings", sf_dir).select("vec_id")
    return (
        vids.join(comp, vids.vec_id == comp.id, "left")
        .select("vec_id", F.coalesce("component", F.col("vec_id")).alias("cluster"))
        .withColumn("is_dup", (F.col("vec_id") != F.col("cluster")).cast("long"))
    )


def _emb_clusters_sql(iters: int = EMB_CC_ITERS) -> str:
    from page_rank_mapreduce_java_spark.similarity.ann import lsh_buckets_sql

    base = f"""WITH e AS MATERIALIZED (
      SELECT vec_id, label, embedding,
             {lsh_buckets_sql(n_planes=EMB_LSH_PLANES)} AS bkt
      FROM embeddings
    ),
    pairs AS MATERIALIZED (
      SELECT a.vec_id AS src, b.vec_id AS dst
      FROM e a JOIN e b
        ON a.label = b.label AND a.bkt = b.bkt AND a.vec_id < b.vec_id
      WHERE {cosine_sql('a.embedding', 'b.embedding')} >= 0.8
    ),
    sym AS MATERIALIZED (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
    l0 AS (SELECT id, id AS component FROM (SELECT DISTINCT src AS id FROM sym))"""
    steps = []
    for i in range(1, iters + 1):
        p = i - 1
        steps.append(
            f""",
    n{i} AS MATERIALIZED (SELECT s.dst AS id, MIN(l.component) AS nbr
         FROM l{p} l JOIN sym s ON l.id = s.src GROUP BY s.dst),
    l{i} AS MATERIALIZED (SELECT l.id,
         LEAST(l.component, COALESCE(n.nbr, l.component)) AS component
         FROM l{p} l LEFT JOIN n{i} n ON l.id = n.id)"""
        )
    return (
        base
        + "".join(steps)
        + f"""
    SELECT v.vec_id,
           CAST(COALESCE(l.component, v.vec_id) AS BIGINT) AS cluster,
           CAST(COALESCE(l.component, v.vec_id) <> v.vec_id AS BIGINT) AS is_dup
    FROM embeddings v LEFT JOIN l{iters} l ON v.vec_id = l.id"""
    )


def q_dq_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise mining: the 1-nearest-neighbor confusion matrix over
    the embedding corpus — (label, nn_label, n) counts of vectors whose
    closest same-bucket neighbor carries each label. Off-diagonal mass
    flags candidate mislabels (the confident-learning signal a training
    pipeline reviews before fitting).

    Scale shape: candidates come from the sign-LSH bucket equi-join
    (never all-pairs); the arg-max neighbor is a per-vec_id window —
    high-cardinality partitioning; the confusion rollup is tiny.
    Cosine ties break on neighbor vec_id, so the 1-NN choice is
    deterministic on both engines."""
    from page_rank_mapreduce_java_spark.similarity.ann import lsh_bucket_col

    e = (
        load_table(spark, "embeddings", sf_dir)
        .withColumn("bkt", lsh_bucket_col("embedding", n_planes=EMB_LSH_PLANES))
        .persist()
    )
    a, b = e.alias("a"), e.alias("b")
    cos = cosine(F.col("a.embedding"), F.col("b.embedding"))
    cand = a.join(
        b,
        (F.col("a.bkt") == F.col("b.bkt"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vid"),
        F.col("a.label").alias("label"),
        F.col("b.vec_id").alias("nid"),
        F.col("b.label").alias("nn_label"),
        cos.alias("cos"),
    )
    w = Window.partitionBy("vid").orderBy(F.desc("cos"), F.asc("nid"))
    nn = cand.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return nn.groupBy("label", "nn_label").agg(F.count(F.lit(1)).alias("n"))


def _label_noise_sql() -> str:
    from page_rank_mapreduce_java_spark.similarity.ann import lsh_buckets_sql

    return f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, label, embedding,
             {lsh_buckets_sql(n_planes=EMB_LSH_PLANES)} AS bkt
      FROM embeddings
    ),
    cand AS (
      SELECT a.vec_id AS vid, a.label AS label,
             b.vec_id AS nid, b.label AS nn_label,
             {cosine_sql('a.embedding', 'b.embedding')} AS cos
      FROM e a JOIN e b ON a.bkt = b.bkt AND a.vec_id <> b.vec_id
    ),
    nn AS (
      SELECT vid, label, nn_label,
             row_number() OVER (PARTITION BY vid ORDER BY cos DESC, nid) AS rn
      FROM cand
    )
    SELECT label, nn_label, COUNT(*) AS n
    FROM nn WHERE rn = 1 GROUP BY label, nn_label
"""


# --- MinHash Jaccard estimation + exact containment over LSH candidates ------

# ppm units per agreeing signature slot; asserted exact so the estimate is
# integer arithmetic end-to-end (1e6 must divide evenly by the slot count).
assert 1_000_000 % NUM_MINHASH == 0
_PPM_PER_SLOT = 1_000_000 // NUM_MINHASH


def q_dedup_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash Jaccard ESTIMATION for every LSH candidate pair: k_agree =
    #(signature slots that match) out of NUM_MINHASH; E[k_agree/k] = J
    (the MinHash identity, Broder'97). The estimate is what a 100 TB
    pipeline uses to rank/threshold candidates WITHOUT touching document
    text — signatures are 16 longs/doc vs kilobytes of shingles, so the
    verification join moves ~100× less data than exact Jaccard.

    Shape: candidate pairs (banded equi-join, never all-pairs) joined
    twice against the signature relation on doc_id — both are doc-keyed
    equi-joins. Integer output (k_agree, ppm units).

    No persist on the signature relation: both join sides read the same
    aggregate subtree and runtime ReusedExchange computes it once —
    persist() measured ~25% slower steady-state plus a 4× cold-run
    spike at sf0.1 (the r4 persist-vs-ReusedExchange lesson, PERF.md)."""
    sig = _signatures(spark, sf_dir)
    pairs = q_dedup_minhash_lsh_pairs(spark, sf_dir)
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(NUM_MINHASH)],
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(NUM_MINHASH)],
    )
    agree = None
    for i in range(NUM_MINHASH):
        term = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        agree = term if agree is None else agree + term
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            agree.cast("long").alias("k_agree"),
            (agree * _PPM_PER_SLOT).cast("long").alias("jacc_est_ppm"),
        )
    )


def _jaccard_est_sql() -> str:
    agree = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)"
        for i in range(NUM_MINHASH)
    )
    return f"""
    WITH msig AS MATERIALIZED ({_signatures_sql()}),
    mpairs AS MATERIALIZED ({_lsh_pairs_sql()})
    SELECT p.doc_a, p.doc_b,
           CAST({agree} AS BIGINT) AS k_agree,
           CAST(({agree}) * {_PPM_PER_SLOT} AS BIGINT) AS jacc_est_ppm
    FROM mpairs p
    JOIN msig a ON p.doc_a = a.doc_id
    JOIN msig b ON p.doc_b = b.doc_id
"""


def q_dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram CONTAINMENT for LSH candidate pairs: C = |A∩B| /
    min(|A|,|B|) over distinct word shingles — the asymmetric subset-dup
    signal (a doc pasted inside a larger page has low Jaccard but high
    containment; C4/RefinedWeb-style pipelines drop on containment, not
    Jaccard).

    Scale: the shingle-intersection join is keyed (doc_b, shingle) and
    runs only over LSH candidates, so its volume is Σ_pairs |A| — the
    candidate-bounded verification pattern, never all-pairs. All-integer
    output: sizes, intersection count, and ppm via integer div."""
    d = load_table(spark, "documents", sf_dir)
    # No persist: the shingle relation's three readers share one
    # ReusedExchange; caching it measured ~20% slower steady-state with
    # a 4× cold-run spike at sf0.1 (PERF.md persist lesson).
    # r12 (guide §2.4): the distinct's exchange is keyed on doc_id alone
    # (a subset of the grouping key satisfies the aggregate), so the
    # sizes aggregate and the doc_a-keyed intersection join reuse this
    # one exchange instead of re-shuffling the shingle relation.
    # Interleaved A/B at sf0.1: 2.96 s vs 3.42 s quiet medians,
    # identical results.
    sh = (
        d.select("doc_id", words(F.col("text")).alias("w"))
        .select("doc_id", F.explode(word_shingles("w")).alias("s"))
        .repartition("doc_id")
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    pairs = q_dedup_minhash_lsh_pairs(spark, sf_dir)
    inter = (
        pairs.join(sh.select(F.col("doc_id").alias("doc_a"), "s"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "s"), ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_a",
            "n_b",
            F.expr("n_common * 1000000 div least(n_a, n_b)").alias(
                "containment_ppm"
            ),
        )
    )


def _containment_sql() -> str:
    return f"""
    WITH cw AS (SELECT doc_id, {WORDS_SQL} AS w FROM documents),
    csh AS (SELECT DISTINCT doc_id, unnest({shingles_sql('w')}) AS s FROM cw),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM csh GROUP BY doc_id),
    cpairs AS MATERIALIZED ({_lsh_pairs_sql()}),
    inter AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
      FROM cpairs p
      JOIN csh a ON a.doc_id = p.doc_a
      JOIN csh b ON b.doc_id = p.doc_b AND b.s = a.s
      GROUP BY p.doc_a, p.doc_b
    )
    SELECT i.doc_a, i.doc_b, i.n_common,
           sa.n AS n_a, sb.n AS n_b,
           (i.n_common * 1000000) // LEAST(sa.n, sb.n) AS containment_ppm
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
"""


# --- incremental dedup (new batch vs existing index) --------------------------


def _band_relation(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bh) LSH band buckets of a signature relation —
    the q_dedup_minhash_lsh_pairs banding, factored for reuse."""
    rows_per_band = NUM_MINHASH // LSH_BANDS
    bands = None
    for j in range(LSH_BANDS):
        cols = [
            F.col(f"mh{j * rows_per_band + k}").cast("string")
            for k in range(rows_per_band)
        ]
        b = sig.select(
            "doc_id",
            F.lit(j).alias("band"),
            F.md5(F.concat_ws(",", *cols)).alias("bh"),
        )
        bands = b if bands is None else bands.unionByName(b)
    return bands


def q_dedup_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL corpus dedup — the shape a 100 TB production corpus
    actually runs: a NEW batch (here: the doc_id upper half) dedups
    against the EXISTING index (lower half) without ever re-pairing the
    index with itself. A new doc is kept iff none of its LSH band
    buckets collide with (a) any index doc or (b) any earlier-arriving
    new doc (arrival = doc_id order — the greedy first-wins keeper
    convention, non-recursive so both engines agree without iteration).
    Output: (doc_id) of admitted new docs.

    Scale shape: signatures once over the whole corpus (one shingle
    pass); collision detection is two LEFT SEMI equi-joins on the
    (band, bh) key — index-vs-new volume tracks collision volume, and
    the index side never self-joins (the entire point: incremental cost
    is O(new batch), not O(corpus²))."""
    d = load_table(spark, "documents", sf_dir)
    # integer div, not /: float halving + CAST would truncate on Spark
    # but round on DuckDB at an odd midpoint
    split = d.agg(F.max("doc_id").alias("_mx"), F.min("doc_id").alias("_mn")).select(
        F.expr("(_mx + _mn + 1) div 2").alias("split")
    )
    sig = _maybe_persist(_signatures(spark, sf_dir))
    bands = _band_relation(sig)
    # Index docs all sort BELOW the split, so "collides with the index
    # OR an earlier new doc" is ONE rule — collides with ANY smaller
    # doc_id — and one semi-join instead of two + a union (the first
    # cut's three-way band fan-out compiled to 44 static exchanges).
    x = (
        bands.crossJoin(F.broadcast(split))
        .filter(F.col("doc_id") >= F.col("split"))
        .select("doc_id", "band", "bh")
        .alias("x")
    )
    y = bands.alias("y")
    dropped = x.join(
        y,
        (F.col("x.band") == F.col("y.band"))
        & (F.col("x.bh") == F.col("y.bh"))
        & (F.col("y.doc_id") < F.col("x.doc_id")),
        "left_semi",
    ).select("doc_id")
    return (
        sig.crossJoin(F.broadcast(split))
        .filter(F.col("doc_id") >= F.col("split"))
        .select("doc_id")
        .join(dropped, "doc_id", "left_anti")
    )


def _incremental_sql() -> str:
    rows_per_band = NUM_MINHASH // LSH_BANDS
    band_selects = []
    for j in range(LSH_BANDS):
        concat = " || ',' || ".join(
            f"CAST(mh{j * rows_per_band + k} AS VARCHAR)"
            for k in range(rows_per_band)
        )
        band_selects.append(
            f"SELECT doc_id, {j} AS band, md5({concat}) AS bh FROM sig"
        )
    bands = " UNION ALL ".join(band_selects)
    return f"""
        WITH sig AS ({_signatures_sql()}),
        sp AS (SELECT (MAX(doc_id) + MIN(doc_id) + 1) // 2 AS split
               FROM documents),
        bands AS ({bands}),
        dropped AS (
          SELECT DISTINCT n.doc_id FROM bands n, sp
          WHERE n.doc_id >= split
            AND EXISTS (SELECT 1 FROM bands p
                        WHERE p.band = n.band AND p.bh = n.bh
                          AND p.doc_id < n.doc_id)
        )
        SELECT doc_id FROM sig, sp
        WHERE doc_id >= split
          AND doc_id NOT IN (SELECT doc_id FROM dropped)
    """


def q_dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-method agreement census: how far the MinHash-LSH candidate
    pair set and the SimHash pair set agree — the evaluation metric a
    pipeline tracks when tuning either family (low agreement means the
    methods see DIFFERENT near-dup structure: MinHash keys on shingle
    overlap, SimHash on the word multiset). One row:
    (n_lsh, n_simhash, n_both, jaccard_ppm of the two pair sets).

    Scale shape: composes the two certified pair pipelines (each
    bounded by collision volume) and reduces with one full-outer join
    on the pair key + one aggregate — the comparison never touches the
    corpus itself."""
    lsh = q_dedup_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    simp = q_dedup_simhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    j = (
        lsh.withColumn("_l", F.lit(1))
        .join(simp.withColumn("_s", F.lit(1)), ["doc_a", "doc_b"], "full_outer")
    )
    return j.agg(
        F.sum(F.coalesce("_l", F.lit(0))).alias("n_lsh"),
        F.sum(F.coalesce("_s", F.lit(0))).alias("n_simhash"),
        F.sum(
            F.when(F.col("_l").isNotNull() & F.col("_s").isNotNull(), 1).otherwise(0)
        ).alias("n_both"),
        F.round(
            F.sum(
                F.when(
                    F.col("_l").isNotNull() & F.col("_s").isNotNull(), 1
                ).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1)).cast("double")
            * 1e6
        )
        .cast("long")
        .alias("jaccard_ppm"),
    )


def _method_agreement_sql() -> str:
    return f"""
    WITH lsh AS MATERIALIZED ({_lsh_pairs_sql()}),
    simp AS MATERIALIZED (
      SELECT doc_a, doc_b FROM ({SIMHASH_PAIRS_SQL})
    ),
    j AS (
      SELECT COALESCE(l.doc_a, s.doc_a) AS doc_a,
             COALESCE(l.doc_b, s.doc_b) AS doc_b,
             CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_l,
             CASE WHEN s.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_s
      FROM lsh l FULL OUTER JOIN simp s
        ON l.doc_a = s.doc_a AND l.doc_b = s.doc_b
    )
    SELECT CAST(SUM(in_l) AS BIGINT) AS n_lsh,
           CAST(SUM(in_s) AS BIGINT) AS n_simhash,
           CAST(SUM(in_l * in_s) AS BIGINT) AS n_both,
           CAST(ROUND(CAST(SUM(in_l * in_s) AS DOUBLE)
                      / CAST(COUNT(*) AS DOUBLE) * 1e6, 0) AS BIGINT)
             AS jaccard_ppm
    FROM j
"""


def q_dedup_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup leakage matrix between SOURCES: the MinHash-LSH
    candidate pairs rolled up by the (source, source) pair of their
    endpoints — the train/eval contamination question asked at corpus
    granularity ("how much of source X duplicates source Y?"). Output
    (source_a, source_b, n_pairs), canonical source_a ≤ source_b.

    Scale shape: the pair relation is the existing banded-LSH
    equi-join (never all-pairs); each endpoint picks up its source via
    a join on doc_id (broadcast-sized here, key-partitioned at
    corpus scale); the matrix is #sources² bounded."""
    pairs = q_dedup_minhash_lsh_pairs(spark, sf_dir)
    src = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    j = (
        pairs.join(
            src.withColumnsRenamed({"doc_id": "doc_a", "source": "sa"}),
            "doc_a",
        )
        .join(
            src.withColumnsRenamed({"doc_id": "doc_b", "source": "sb"}),
            "doc_b",
        )
    )
    return j.groupBy(
        F.least("sa", "sb").alias("source_a"),
        F.greatest("sa", "sb").alias("source_b"),
    ).agg(F.count(F.lit(1)).alias("n_pairs"))


def _cross_source_sql() -> str:
    return f"""
    WITH p AS ({_lsh_pairs_sql()})
    SELECT LEAST(a.source, b.source) AS source_a,
           GREATEST(a.source, b.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM p
      JOIN documents a ON p.doc_a = a.doc_id
      JOIN documents b ON p.doc_b = b.doc_id
    GROUP BY 1, 2
"""


QUERIES = {
    "dedup_incremental_new_docs": q_dedup_incremental_new_docs,
    "dedup_cross_source_overlap": q_dedup_cross_source_overlap,
    "dedup_method_agreement": q_dedup_method_agreement,
    "dedup_exact": q_dedup_exact,
    "dedup_fuzzy_pairs": q_dedup_fuzzy_pairs,
    "dedup_minhash_signatures": q_dedup_minhash_signatures,
    "dedup_minhash_lsh_pairs": q_dedup_minhash_lsh_pairs,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "dedup_clusters": q_dedup_clusters,
    "dedup_passages": q_dedup_passages,
    "embedding_dup_clusters": q_embedding_dup_clusters,
    "dq_label_noise": q_dq_label_noise,
    "dedup_minhash_jaccard_est": q_dedup_minhash_jaccard_est,
    "dedup_ngram_containment": q_dedup_ngram_containment,
}

ORACLES = {
    "dedup_cross_source_overlap": _cross_source_sql(),
    "dedup_fuzzy_pairs": FUZZY_PAIRS_SQL,
    "dedup_exact": """
        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY digest) AS keeper,
               CAST(row_number() OVER (PARTITION BY digest ORDER BY doc_id) > 1
                    AS BIGINT) AS is_dup
        FROM (SELECT doc_id, md5(text) AS digest FROM documents)
    """,
    "dedup_minhash_signatures": _signatures_sql(),
    "dedup_minhash_lsh_pairs": _lsh_pairs_sql(),
    "dedup_simhash": SIMHASH_SQL,
    "dedup_simhash_pairs": SIMHASH_PAIRS_SQL,
    "dedup_ngram_jaccard": NGRAM_JACCARD_SQL,
    "dedup_embedding_cosine": EMB_COSINE_SQL,
    "dedup_clusters": _dedup_clusters_sql(),
    "dedup_passages": _passages_sql(),
    "embedding_dup_clusters": _emb_clusters_sql(),
    "dq_label_noise": _label_noise_sql(),
    "dedup_minhash_jaccard_est": _jaccard_est_sql(),
    "dedup_ngram_containment": _containment_sql(),
    "dedup_incremental_new_docs": _incremental_sql(),
    "dedup_method_agreement": _method_agreement_sql(),
}
