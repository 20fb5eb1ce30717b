"""Product-quantization ANN (similarity/pq.py): structural and recall
contracts of the code the registered queries run. The DuckDB oracles
(similarity/queries._adc_sql) check whole-query values; these tests pin
deterministic codes, complete M-code coverage, the exact integer ADC
identity recomputed in Python, a recall floor against exact L2 top-k,
and the IVF-PQ ⊂ PQ score consistency."""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from page_rank_mapreduce_java_spark.catalog import load_table
from page_rank_mapreduce_java_spark.functions.vectors import sq_l2
from page_rank_mapreduce_java_spark.similarity.pq import (
    PQ_M,
    adc_topk,
    pq_encode,
    pq_train,
)

DIM = 64


@pytest.fixture(scope="module")
def corpus(spark):
    return load_table(spark, "embeddings", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def codebook(spark, corpus):
    return pq_train(corpus, dim=DIM).persist()


def test_codebook_shape(codebook):
    rows = codebook.collect()
    assert len(rows) == PQ_M * 16
    assert {r.m for r in rows} == set(range(PQ_M))
    assert all(len(r.cvec) == DIM // PQ_M for r in rows)


def test_encode_covers_every_vector_with_m_codes(corpus, codebook):
    codes = pq_encode(corpus, codebook, dim=DIM)
    n_vec = corpus.count()
    per_vec = codes.groupBy("vec_id").agg(F.count(F.lit(1)).alias("n"))
    assert per_vec.count() == n_vec
    assert per_vec.filter(F.col("n") != PQ_M).count() == 0
    # codes land in the trained id range
    assert codes.join(
        codebook.select("m", F.col("centroid_id").alias("code")),
        ["m", "code"],
        "left_anti",
    ).count() == 0


def test_encode_deterministic_across_partitionings(corpus, codebook):
    a = pq_encode(corpus.repartition(2), codebook, dim=DIM).collect()
    b = pq_encode(corpus.repartition(17), codebook, dim=DIM).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_adc_equals_sum_of_subspace_distances(spark, corpus, codebook):
    """Every ADC score equals Σ_m HALF_UP(d_m·1e6), d_m the squared L2
    from the query's m-th sub-vector to the neighbor's ASSIGNED m-th
    sub-centroid — recomputed here in Python with the same sequential
    fold — and no query is returned as its own neighbor."""
    q = corpus.orderBy("vec_id").limit(20)
    codes = pq_encode(corpus, codebook, dim=DIM)
    top = adc_topk(codebook, q, codes, DIM, 10).collect()
    assert len(top) == 200

    qvecs = {r.vec_id: r.embedding for r in q.collect()}
    assigned = {(r.vec_id, r.m): r.code for r in codes.collect()}
    cb = {(r.m, r.centroid_id): r.cvec for r in codebook.collect()}
    width = DIM // PQ_M
    for row in top:
        assert row.neighbor_id != row.query_id
        expect = 0
        for m in range(PQ_M):
            sub_q = qvecs[row.query_id][m * width : (m + 1) * width]
            d = 0.0
            for a, b in zip(sub_q, cb[(m, assigned[(row.neighbor_id, m)])]):
                d += (float(a) - b) * (float(a) - b)
            expect += int(Decimal(repr(d * 1e6)).quantize(Decimal(1), ROUND_HALF_UP))
        assert row.adc_micro == expect


def test_recall_against_exact_l2(spark, corpus, codebook):
    """PQ@10 recall vs exact squared-L2 top-10 over 20 queries. PQ with
    M=4, k=16 on 64-dim synthetic data is coarse; the floor asserts the
    ranking is far better than chance (random recall ≈ 10/499 ≈ 2%)."""
    K = 10
    q = corpus.orderBy("vec_id").limit(20)
    codes = pq_encode(corpus, codebook, dim=DIM)
    approx = adc_topk(codebook, q, codes, DIM, K)

    qs = q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    c = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
    w = Window.partitionBy("query_id").orderBy(
        F.asc(F.col("dsq")), F.asc("neighbor_id")
    )
    exact = (
        F.broadcast(qs)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sq_l2("qv", "cv").alias("dsq"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K)
    )
    got = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    want = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    recall = len(got & want) / len(want)
    assert recall >= 0.25, f"PQ recall {recall:.2f} below floor"


def test_ivfpq_serve_identity(spark):
    """The persisted-index serving plan must return EXACTLY the bundled
    train+encode+search composition's rows (VERDICT r5 next #2 done
    criterion): deterministic training means the index build changes
    WHERE centroids/codebook/codes come from, never a value."""
    from page_rank_mapreduce_java_spark.similarity.queries import (
        q_ann_ivfpq_serve_topk,
        q_ann_ivfpq_topk,
    )

    sf_dir = "/root/testdata/sf0.001"
    bundled = sorted(map(tuple, q_ann_ivfpq_topk(spark, sf_dir).collect()))
    served = sorted(map(tuple, q_ann_ivfpq_serve_topk(spark, sf_dir).collect()))
    assert served == bundled
    assert len(served) > 0


def test_serve_index_tag_tracks_data_fingerprint(tmp_path):
    """Regenerating the embeddings parquet at the same path must change
    the serve-index fingerprint (ADVICE r5 medium: a stale index would
    silently diverge from the oracle, which recomputes from live data)."""
    import os
    import shutil

    from page_rank_mapreduce_java_spark.similarity.queries import (
        _embeddings_fingerprint,
    )

    src = "/root/testdata/sf0.001/embeddings.parquet"
    dst = tmp_path / "embeddings.parquet"
    (shutil.copytree if os.path.isdir(src) else shutil.copyfile)(src, str(dst))
    before = _embeddings_fingerprint(str(tmp_path))
    # same path, same bytes, new mtime — the "regenerated corpus" case
    target = dst if dst.is_file() else next(p for p in dst.iterdir() if p.is_file())
    st = target.stat()
    os.utime(target, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    after = _embeddings_fingerprint(str(tmp_path))
    assert before != after
    assert before != _embeddings_fingerprint("/root/testdata/sf0.001")


def test_serve_index_tag_tracks_ann_source(tmp_path, monkeypatch):
    """The IVF-PQ serving index stores centroids (``ann.kmeans_train``)
    and cells (``ann.ivf_assign``), so an edit to ann.py must resolve to
    a different index directory, not keep serving the old index."""
    import inspect
    import os
    import shutil

    from page_rank_mapreduce_java_spark.similarity import ann
    from page_rank_mapreduce_java_spark.similarity.queries import _serve_index_dir

    def build(tmp: str) -> None:
        os.makedirs(tmp)

    # a private sf_dir, so no tag here names a real index
    sf_dir = str(tmp_path)
    dirs = [_serve_index_dir(None, sf_dir, "ivfpq", build)]
    try:
        dirs.append(_serve_index_dir(None, sf_dir, "ivfpq", build))
        getsource = inspect.getsource
        monkeypatch.setattr(
            inspect,
            "getsource",
            lambda obj: getsource(obj) + ("# edited\n" if obj is ann else ""),
        )
        dirs.append(_serve_index_dir(None, sf_dir, "ivfpq", build))
        assert dirs[0] == dirs[1]
        assert dirs[2] != dirs[0]
        assert os.path.exists(os.path.join(dirs[2], "_BUILT"))
    finally:
        for d in set(dirs):
            shutil.rmtree(d, ignore_errors=True)


def test_ivfpq_subset_consistency(spark, corpus, codebook):
    """The registered IVF-PQ query's rows must be a per-query subset of
    the FULL ADC ranking: every returned neighbor's adc_micro equals the
    plain-PQ adc_micro for that (query, neighbor) — cell pruning changes
    WHICH pairs are scored, never the score."""
    from collections import Counter

    from page_rank_mapreduce_java_spark.similarity.queries import (
        PQ_QUERY_VECS,
        PQ_TOP_K,
        q_ann_ivfpq_topk,
    )

    q = corpus.filter(F.col("vec_id") < PQ_QUERY_VECS)
    codes = pq_encode(corpus, codebook, dim=DIM)
    full = {
        (r.query_id, r.neighbor_id): r.adc_micro
        for r in adc_topk(codebook, q, codes, DIM, corpus.count()).collect()
    }
    got = q_ann_ivfpq_topk(spark, "/root/testdata/sf0.001").collect()
    assert len(got) > 0
    for r in got:
        assert r.adc_micro == full[(r.query_id, r.neighbor_id)]
    per_q = Counter(r.query_id for r in got)
    assert all(v <= PQ_TOP_K for v in per_q.values())
