"""Audio fingerprint dedup: WAV round-trip exactness and collision recall."""

from __future__ import annotations

import hashlib

from page_rank_mapreduce_java_spark.multimodal.audiofp import (
    AFP_SAMPLES,
    AFP_WINDOW,
    _sample,
    documents_to_wav,
    wav_fingerprint,
    q_mm_audio_fp_pairs,
)
from page_rank_mapreduce_java_spark.multimodal.fingerprint import hamming_blocked_pairs


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_wav_fingerprint_matches_pure_python_reference(spark):
    """Independent recomputation without numpy or the WAV container:
    certifies the PCM16 round-trip is lossless and the windowed-energy
    bits are the declared integers."""
    text = "lorem ipsum dolor"
    seed = hashlib.md5(text.encode()).hexdigest()
    samples = [_sample(seed, i) for i in range(AFP_SAMPLES)]
    n_win = AFP_SAMPLES // AFP_WINDOW
    en = [
        sum(s * s for s in samples[w * AFP_WINDOW : (w + 1) * AFP_WINDOW])
        for w in range(n_win)
    ]
    tot = sum(en)
    expected = sum((1 << w) for w in range(n_win) if n_win * en[w] > tot)

    d = _docs(spark, [(5, text)])
    [row] = wav_fingerprint(documents_to_wav(d)).collect()
    assert row.afp == expected


def test_audio_pairs_collision_recall(spark):
    rows = [(i, f"distinct audio doc {i} content") for i in range(15)]
    rows += [(200, "same leading audio head"), (201, "same leading audio head")]
    d = _docs(spark, rows)
    fp = wav_fingerprint(documents_to_wav(d))
    pairs = hamming_blocked_pairs(fp, "afp", 4, 8, 3).collect()
    found = {(r.doc_a, r.doc_b): r.hamming for r in pairs}
    assert found[(200, 201)] == 0


def test_audio_keeper_stream_matches_batch(spark, tmp_path):
    import tempfile

    from pyspark.sql import functions as F

    from page_rank_mapreduce_java_spark.multimodal.audiofp import audio_keeper_stream
    from page_rank_mapreduce_java_spark.streaming.events import run_stream_to_memory

    rows = [(i, f"audio stream doc {i}", f"2024-03-02 09:{i:02d}:00") for i in range(6)]
    rows += [(50, "audio stream doc 1", "2024-03-02 10:00:00")]
    batch = spark.createDataFrame(
        rows, "doc_id long, text string, ts_s string"
    ).select("doc_id", "text", F.col("ts_s").cast("timestamp").alias("ts"))
    src = tempfile.mkdtemp(prefix="audio_stream_")
    for lo, hi in ((0, 4), (4, 51)):
        batch.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
            1
        ).write.mode("append").parquet(src)
    stream = audio_keeper_stream(
        spark.readStream.schema("doc_id LONG, text STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        watermark="1 day",
    )
    assert stream.isStreaming
    run_stream_to_memory(stream, "audio_keepers_out")
    got = {(r.doc_id, r.afp) for r in spark.sql("SELECT * FROM audio_keepers_out").collect()}
    exp = {(r.doc_id, r.afp) for r in audio_keeper_stream(batch).collect()}
    assert got == exp
    assert len(got) == 6 and all(d < 50 for d, _ in got)
