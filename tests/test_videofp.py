"""Video fingerprint dedup: RVID round-trip exactness."""

from __future__ import annotations

import hashlib

from page_rank_mapreduce_java_spark.multimodal.phash import (
    PHASH_GRID,
    PHASH_PER_DIGEST,
    dct_basis_int,
)
from page_rank_mapreduce_java_spark.multimodal.videofp import (
    VFP_FRAMES,
    documents_to_video,
    video_fingerprint,
)


def test_video_fingerprint_matches_pure_python_reference(spark):
    """Independent recomputation without numpy or the RVID/BMP
    containers: frame f's pixels come from digest blocks f·4+j of the
    head seed, each frame's integer DCT gives AC bits 63·coef > Σ, and
    the frame hashes XOR together."""
    text = "sit amet consectetur"
    seed = hashlib.md5(text.encode()).hexdigest()
    n = PHASH_GRID
    per_frame = n * n // PHASH_PER_DIGEST
    B = dct_basis_int()
    expected = 0
    for f in range(VFP_FRAMES):
        digests = [
            hashlib.md5(f"{seed}:{f * per_frame + j}".encode()).hexdigest()
            for j in range(per_frame)
        ]
        g = [[0] * n for _ in range(n)]
        for i in range(n * n):
            j, t = divmod(i, PHASH_PER_DIGEST)
            g[i // n][i % n] = int(digests[j][2 * t : 2 * t + 2], 16)
        t1 = [[sum(B[u][r] * g[r][c] for r in range(n)) for c in range(n)] for u in range(n)]
        coefs = [
            [sum(t1[u][c] * B[v][c] for c in range(n)) for v in range(n)] for u in range(n)
        ]
        ac = [coefs[u][v] for u in range(n) for v in range(n) if (u, v) != (0, 0)]
        tot = sum(ac)
        expected ^= sum((1 << i) for i, cval in enumerate(ac) if 63 * cval > tot)

    d = spark.createDataFrame([(9, text)], "doc_id long, text string")
    [row] = video_fingerprint(documents_to_video(d)).collect()
    assert row.vfp == expected
