"""Video fingerprint dedup: the video modality of the fingerprint chassis
(fingerprint.py).

A video is a real multi-frame container: VFP_FRAMES 8×8 grayscale BMP
frames behind an RVID header (frame count and per-frame byte lengths),
parsed back frame by frame through media.py's ``_bmp_pixels``. Frame f's
pixels come from digest blocks f·4+j of the image modality's
leading-content seed (frame 0 is the image modality's grid), so near-dup
families produce identical videos.

Fingerprint: the image modality's integer DCT pHash of every frame
(the same basis constants; all frames of a batch in one einsum),
combined by XOR. XOR is order-independent (oracle: a bit_xor aggregate
over the frame-hash relation) and keeps 63 bits, so pairs use the image
modality's 4×16-bit blocks, Hamming ≤ 3.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from page_rank_mapreduce_java_spark.catalog import load_table
from page_rank_mapreduce_java_spark.multimodal.fingerprint import (
    encode_documents,
    fingerprint_batches,
    hamming_blocked_pairs,
    keeper_stream,
    keepers_sql,
    pairs_sql,
)
from page_rank_mapreduce_java_spark.multimodal.media import _bmp_pixels, _encode_bmp
from page_rank_mapreduce_java_spark.multimodal.phash import (
    PHASH_BLOCKS,
    PHASH_GRID,
    PHASH_HAM_MAX,
    PHASH_PER_DIGEST,
    PHASH_SEED_CHARS,
    _basis_values_sql,
    dct_basis_int,
)

VFP_FRAMES = 4
_BLOCKS_PER_FRAME = PHASH_GRID * PHASH_GRID // PHASH_PER_DIGEST  # 4 digests/frame


def _encode_rvid(frames: list[bytes]) -> bytes:
    """Minimal multi-frame container: magic, frame count, per-frame
    lengths, then the concatenated BMP payloads."""
    head = b"RVID" + struct.pack("<I", len(frames))
    head += b"".join(struct.pack("<I", len(f)) for f in frames)
    return head + b"".join(frames)


def _decode_rvid(payload: bytes) -> list[bytes]:
    if payload[:4] != b"RVID":
        raise ValueError("not an RVID container")
    n = struct.unpack_from("<I", payload, 4)[0]
    lens = struct.unpack_from(f"<{n}I", payload, 8)
    off = 8 + 4 * n
    out = []
    for ln in lens:
        out.append(payload[off : off + ln])
        off += ln
    return out


def _video_payload(text: str) -> bytes:
    seed = hashlib.md5(str(text)[:PHASH_SEED_CHARS].encode()).hexdigest()
    px_bytes = b"".join(
        hashlib.md5(f"{seed}:{j}".encode()).digest()
        for j in range(VFP_FRAMES * _BLOCKS_PER_FRAME)
    )
    grids = np.frombuffer(px_bytes, dtype=np.uint8).reshape(-1, PHASH_GRID, PHASH_GRID)
    return _encode_rvid([_encode_bmp(np.repeat(g[:, :, None], 3, axis=2)) for g in grids])


def _vfp_kernel(payloads: list[bytes]) -> np.ndarray:
    n = PHASH_GRID
    basis = np.array(dct_basis_int(), dtype=np.int64)
    grids = np.stack(
        [_bmp_pixels(fr)[:, :, 0] for p in payloads for fr in _decode_rvid(p)]
    ).astype(np.int64)  # (docs*frames, 8, 8)
    coefs = np.einsum("ur,brc,vc->buv", basis, grids, basis)
    ac = coefs.reshape(len(grids), n * n)[:, 1:]
    bits = (63 * ac > ac.sum(axis=1, keepdims=True)).astype(np.int64)
    fps = (bits << np.arange(n * n - 1)).sum(axis=1).reshape(-1, VFP_FRAMES)
    return np.bitwise_xor.reduce(fps, axis=1)


def documents_to_video(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    return encode_documents(docs, _video_payload, carry)


def video_fingerprint(media: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    return fingerprint_batches(media, "vfp", _vfp_kernel, carry)


def video_keeper_stream(docs: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """One keeper document per video fingerprint: (doc_id, vfp)."""
    return keeper_stream(
        docs,
        lambda d, carry: video_fingerprint(documents_to_video(d, carry), carry),
        "vfp",
        watermark,
    )


# --- registry queries ---------------------------------------------------------


def q_mm_video_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """video_keeper_stream in batch mode: one keeper per video
    fingerprint, smallest doc_id wins."""
    d = load_table(spark, "documents", sf_dir)
    return video_keeper_stream(d)


def q_mm_video_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document video fingerprint through the full multimodal path:
    deterministic frames → real BMP-in-RVID encode → real decode →
    per-frame integer DCT pHash → XOR combine. The oracle recomputes
    the identical integers relationally (frame-indexed digest blocks +
    the shared DCT basis constants + a bit_xor aggregate)."""
    d = load_table(spark, "documents", sf_dir)
    return video_fingerprint(documents_to_video(d))


def q_mm_video_fp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate video pairs by blocked fingerprint Hamming
    distance. Exact-duplicate documents (same head → same frames) must
    appear at hamming 0."""
    d = load_table(spark, "documents", sf_dir)
    return hamming_blocked_pairs(
        video_fingerprint(documents_to_video(d)), "vfp", PHASH_BLOCKS, 16, PHASH_HAM_MAX,
        bound_key=f"videofp_pairs:{sf_dir}",
    )


def _vfp_cte() -> str:
    n_digests = VFP_FRAMES * _BLOCKS_PER_FRAME
    return f"""
    d AS (SELECT doc_id, md5(substr(text, 1, {PHASH_SEED_CHARS})) AS seed
          FROM documents),
    blkx AS (SELECT doc_id, bj, md5(seed || ':' || bj) AS h
             FROM d CROSS JOIN range({n_digests}) tj(bj)),
    px AS (SELECT doc_id, bj // {_BLOCKS_PER_FRAME} AS f,
                  ((bj % {_BLOCKS_PER_FRAME}) * {PHASH_PER_DIGEST} + t)
                    // {PHASH_GRID} AS r,
                  ((bj % {_BLOCKS_PER_FRAME}) * {PHASH_PER_DIGEST} + t)
                    % {PHASH_GRID} AS c,
                  CAST('0x' || substr(h, 2 * t + 1, 2) AS BIGINT) AS p
           FROM blkx CROSS JOIN range({PHASH_PER_DIGEST}) tt(t)),
    basis(u, r, b) AS (SELECT * FROM (VALUES {_basis_values_sql()}) t),
    t1 AS (SELECT p.doc_id, p.f, bu.u AS u, p.c AS c, SUM(p.p * bu.b) AS t
           FROM px p JOIN basis bu ON bu.r = p.r GROUP BY 1, 2, 3, 4),
    coefs AS (SELECT t1.doc_id, t1.f, t1.u, bv.u AS v, SUM(t1.t * bv.b) AS coef
              FROM t1 JOIN basis bv ON bv.r = t1.c GROUP BY 1, 2, 3, 4),
    ac AS (SELECT * FROM coefs WHERE NOT (u = 0 AND v = 0)),
    s AS (SELECT doc_id, f, SUM(coef) AS tot FROM ac GROUP BY 1, 2),
    bits AS (SELECT ac.doc_id, ac.f, ac.u * {PHASH_GRID} + ac.v - 1 AS idx,
                    CASE WHEN 63 * ac.coef > s.tot THEN 1 ELSE 0 END AS bit
             FROM ac JOIN s ON ac.doc_id = s.doc_id AND ac.f = s.f),
    fph AS (SELECT doc_id, f,
                   CAST(SUM(bit * (CAST(1 AS BIGINT) << idx)) AS BIGINT) AS fp
            FROM bits GROUP BY 1, 2),
    vf AS (SELECT doc_id, CAST(bit_xor(fp) AS BIGINT) AS vfp
           FROM fph GROUP BY 1)"""


VFP_SQL = f"""
    WITH {_vfp_cte()}
    SELECT doc_id, vfp FROM vf
"""

QUERIES = {
    "mm_video_fingerprint": q_mm_video_fingerprint,
    "mm_video_fp_pairs": q_mm_video_fp_pairs,
    "mm_video_keepers": q_mm_video_keepers,
}

ORACLES = {
    "mm_video_fingerprint": VFP_SQL,
    "mm_video_fp_pairs": pairs_sql(
        _vfp_cte(), "vf", "vfp", PHASH_BLOCKS, 16, PHASH_HAM_MAX
    ),
    "mm_video_keepers": keepers_sql(_vfp_cte(), "vf", "vfp"),
}
