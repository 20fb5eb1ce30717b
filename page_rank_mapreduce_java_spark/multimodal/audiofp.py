"""Audio fingerprint dedup: the audio modality of the fingerprint chassis
(fingerprint.py).

A windowed-energy acoustic fingerprint in the Haitsma–Kalker shape ("A
Highly Robust Audio Fingerprint System", ISMIR 2002; bits are energy
comparisons), reduced to deterministic integer arithmetic so DuckDB can
certify it:

- Audio: one real RIFF/WAV (PCM16 mono, 8 kHz) per document, decoded
  back through media.py's ``_wav_samples``. PCM16 stores each sample
  exactly, so the round-trip is lossless. Samples come 8 per digest:
  block j = md5(seed || ':' || j) yields 8 16-bit samples (4 hex chars
  each, biased to signed). The seed is the image modality's
  leading-content digest, so near-dup families produce identical audio.
- Fingerprint: 32 windows × 8 samples; window energy E_w = Σ s² (int64,
  ≤ 2^33); bit_w = 32·E_w > ΣE (above-mean energy, division-free). The
  32 bits pack into one BIGINT.
- Pairs: 4×8-bit blocks, Hamming ≤ 3.
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
from page_rank_mapreduce_java_spark.multimodal.media import _wav_samples
from page_rank_mapreduce_java_spark.multimodal.phash import PHASH_SEED_CHARS

AFP_SAMPLES = 256
AFP_WINDOW = 8  # samples per energy window → 32 windows → 32 bits
AFP_PER_DIGEST = 8  # 16-bit samples carved from each 32-hex md5 digest
AFP_RATE = 8000
AFP_BLOCKS = 4  # 8-bit Hamming blocks
AFP_HAM_MAX = 3
_N_WIN = AFP_SAMPLES // AFP_WINDOW


def _sample(seed_hex: str, i: int) -> int:
    """Python twin of the oracle's digest-block sample: block
    j = i div 8, slot t = i mod 8; sample = 16-bit slice t of
    md5(seed || ':' || j), biased to signed."""
    j, t = divmod(i, AFP_PER_DIGEST)
    h = hashlib.md5(f"{seed_hex}:{j}".encode()).hexdigest()
    return int(h[4 * t : 4 * t + 4], 16) - 32768


def _encode_wav_pcm16(samples: list[int], rate: int = AFP_RATE) -> bytes:
    """Minimal valid RIFF/WAV container around exact PCM16 mono samples."""
    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _wav_payload(text: str) -> bytes:
    seed = hashlib.md5(str(text)[:PHASH_SEED_CHARS].encode()).hexdigest()
    samples = [
        int(h[4 * t : 4 * t + 4], 16) - 32768
        for j in range(AFP_SAMPLES // AFP_PER_DIGEST)
        for h in (hashlib.md5(f"{seed}:{j}".encode()).hexdigest(),)
        for t in range(AFP_PER_DIGEST)
    ]
    return _encode_wav_pcm16(samples)


def _afp_kernel(payloads: list[bytes]) -> np.ndarray:
    mono = np.stack([_wav_samples(p)[:, 0] for p in payloads]).astype(np.int64)
    en = (mono * mono).reshape(len(mono), _N_WIN, AFP_WINDOW).sum(axis=2)
    bits = (_N_WIN * en > en.sum(axis=1, keepdims=True)).astype(np.int64)
    return (bits << np.arange(_N_WIN)).sum(axis=1)


def documents_to_wav(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    return encode_documents(docs, _wav_payload, carry)


def wav_fingerprint(media: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    return fingerprint_batches(media, "afp", _afp_kernel, carry)


def audio_keeper_stream(docs: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """One keeper document per acoustic fingerprint: (doc_id, afp)."""
    return keeper_stream(
        docs,
        lambda d, carry: wav_fingerprint(documents_to_wav(d, carry), carry),
        "afp",
        watermark,
    )


# --- registry queries ---------------------------------------------------------


def q_mm_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document acoustic fingerprint through the full multimodal
    path: deterministic PCM16 → real WAV encode → real WAV decode →
    windowed-energy bits. The oracle recomputes the identical integers
    relationally, certifying a lossless container round-trip."""
    d = load_table(spark, "documents", sf_dir)
    return wav_fingerprint(documents_to_wav(d))


def q_mm_audio_fp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate audio pairs by blocked fingerprint Hamming distance."""
    d = load_table(spark, "documents", sf_dir)
    return hamming_blocked_pairs(
        wav_fingerprint(documents_to_wav(d)), "afp", AFP_BLOCKS, 8, AFP_HAM_MAX,
        bound_key=f"audiofp_pairs:{sf_dir}",
    )


def q_mm_audio_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """audio_keeper_stream in batch mode: one keeper per acoustic
    fingerprint, smallest doc_id wins."""
    d = load_table(spark, "documents", sf_dir)
    return audio_keeper_stream(d)


def _afp_cte() -> str:
    n_blocks = AFP_SAMPLES // AFP_PER_DIGEST
    return f"""
    d AS (SELECT doc_id, md5(substr(text, 1, {PHASH_SEED_CHARS})) AS seed
          FROM documents),
    blk AS (SELECT doc_id, j, md5(seed || ':' || j) AS h
            FROM d CROSS JOIN range({n_blocks}) tj(j)),
    smp AS (SELECT doc_id,
                   (j * {AFP_PER_DIGEST} + t) // {AFP_WINDOW} AS w,
                   CAST('0x' || substr(h, 4 * t + 1, 4) AS BIGINT) - 32768 AS s
            FROM blk CROSS JOIN range({AFP_PER_DIGEST}) tt(t)),
    en AS (SELECT doc_id, w, SUM(s * s) AS e FROM smp GROUP BY 1, 2),
    tot AS (SELECT doc_id, SUM(e) AS te FROM en GROUP BY 1),
    bits AS (SELECT en.doc_id, en.w,
                    CASE WHEN {_N_WIN} * en.e > tot.te THEN 1 ELSE 0 END AS bit
             FROM en JOIN tot ON en.doc_id = tot.doc_id),
    fp AS (SELECT doc_id,
                  CAST(SUM(bit * (CAST(1 AS BIGINT) << w)) AS BIGINT) AS afp
           FROM bits GROUP BY 1)"""


AFP_SQL = f"""
    WITH {_afp_cte()}
    SELECT doc_id, afp FROM fp
"""

QUERIES = {
    "mm_audio_fingerprint": q_mm_audio_fingerprint,
    "mm_audio_fp_pairs": q_mm_audio_fp_pairs,
    "mm_audio_keepers": q_mm_audio_keepers,
}

ORACLES = {
    "mm_audio_fingerprint": AFP_SQL,
    "mm_audio_fp_pairs": pairs_sql(_afp_cte(), "fp", "afp", AFP_BLOCKS, 8, AFP_HAM_MAX),
    "mm_audio_keepers": keepers_sql(_afp_cte(), "fp", "afp"),
}
