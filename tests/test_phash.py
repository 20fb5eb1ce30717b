"""Perceptual-hash image dedup: integer exactness and collision recall."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from page_rank_mapreduce_java_spark.multimodal.fingerprint import hamming_blocked_pairs
from page_rank_mapreduce_java_spark.multimodal.phash import (
    PHASH_BLOCKS,
    PHASH_GRID,
    PHASH_HAM_MAX,
    bmp_phash,
    dct_basis_int,
    documents_to_bmp,
    _pixel,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_phash_is_deterministic_and_integer(spark):
    d = _docs(spark, [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta")])
    got = {r.doc_id: r.phash for r in bmp_phash(documents_to_bmp(d)).collect()}
    again = {r.doc_id: r.phash for r in bmp_phash(documents_to_bmp(d)).collect()}
    assert got == again
    assert all(isinstance(v, int) and 0 <= v < 1 << 63 for v in got.values())
    # identical text => identical image => identical hash
    assert got[1] == got[3]
    assert got[1] != got[2]


def test_phash_matches_pure_python_reference(spark):
    """Independent recomputation: pixel grid -> numpy-free integer DCT ->
    threshold bits. Certifies the BMP encode/decode round-trip is lossless
    and the Arrow path computes exactly the declared arithmetic."""
    text = "the quick brown fox"
    seed = hashlib.md5(text.encode()).hexdigest()
    n = PHASH_GRID
    g = [[_pixel(seed, r, c) for c in range(n)] for r in range(n)]
    B = dct_basis_int()
    t1 = [[sum(B[u][r] * g[r][c] for r in range(n)) for c in range(n)] for u in range(n)]
    coefs = [
        [sum(t1[u][c] * B[v][c] for c in range(n)) for v in range(n)] for u in range(n)
    ]
    ac = [coefs[u][v] for u in range(n) for v in range(n) if (u, v) != (0, 0)]
    tot = sum(ac)
    expected = sum((1 << i) for i, cval in enumerate(ac) if 63 * cval > tot)

    d = _docs(spark, [(7, text)])
    [row] = bmp_phash(documents_to_bmp(d)).collect()
    assert row.phash == expected


def test_phash_pairs_collision_recall(spark):
    """Planted duplicate groups must surface at hamming=0; unrelated docs
    must not pair (verified threshold keeps the candidate join honest)."""
    rows = [(i, f"unique text number {i} with drift") for i in range(20)]
    rows += [(100, "duplicated payload"), (101, "duplicated payload"), (102, "duplicated payload")]
    d = _docs(spark, rows)
    hashes = bmp_phash(documents_to_bmp(d))
    pairs = hamming_blocked_pairs(hashes, "phash", PHASH_BLOCKS, 16, PHASH_HAM_MAX).collect()
    found = {(r.doc_a, r.doc_b): r.hamming for r in pairs}
    assert found[(100, 101)] == 0
    assert found[(100, 102)] == 0
    assert found[(101, 102)] == 0
    # no unrelated pair should sneak under the Hamming threshold here
    assert all(a >= 100 and b >= 100 for a, b in found)


def test_phash_block_split_covers_hash(spark):
    """The 4x16 block decomposition must tile bits 0..62 (the 63 AC bits),
    so any pair at distance <= 3 shares at least one block (pigeonhole)."""
    assert PHASH_BLOCKS * 16 >= 63
