"""Fingerprint chassis shared by the image, audio and video dedup modalities.

A modality (phash.py, audiofp.py, videofp.py) supplies only what is
specific to it: a ``payload(text) -> bytes`` encoder that renders a
document as a real media container, a batch ``kernel(payloads) ->
int64[]`` that decodes those containers and hashes them, and a DuckDB
CTE that recomputes the same integers relationally. This module runs
the rest:

- encode leg: one Arrow-batched mapInPandas from documents to one
  payload per document, reading columns as plain lists (per-row pandas
  views through iterrows() measured 2-5× slower on this shape);
- hash leg: a second mapInPandas that hands each batch's payloads to the
  kernel at once, so decode is per row and the arithmetic is one numpy
  pass per batch;
- keeper: one representative document per fingerprint, on a stream or
  in batch;
- pairs: Hamming-blocked near-dup pairs over the fingerprint relation;
- the DuckDB oracle SQL for the pairs and keepers.

Scale shape (100 TB of media): encode/decode/hash is one narrow
Arrow-batched pass per blob with no shuffle until the doc-keyed
fingerprint relation; candidate generation is an equi-join on (block,
value) whose volume tracks near-duplicate volume, not corpus volume (the
dedup_simhash_pairs argument); verification runs only on collisions.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from page_rank_mapreduce_java_spark.plans.pairsize import (
    sum_sq_group_bound,
    volume_repartition_pairs,
)
from page_rank_mapreduce_java_spark.plans.parallelism import floor_scan_parallelism


def _carry_schema(df: DataFrame, carry: tuple[str, ...]) -> str:
    return "".join(f", {c} {df.schema[c].dataType.simpleString()}" for c in carry)


def _frame(data: dict, pdf: pd.DataFrame, carry: tuple[str, ...]) -> pd.DataFrame:
    for c in carry:
        data[c] = pdf[c].reset_index(drop=True)
    return pd.DataFrame(data)


def encode_documents(
    docs: DataFrame, payload: Callable[[str], bytes], carry: tuple[str, ...] = ()
) -> DataFrame:
    """DataFrame[doc_id, text, *carry] -> DataFrame[doc_id LONG, payload
    BINARY, *carry]. ``carry`` columns pass through unchanged (the
    streaming keeper carries its event time)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            data = {
                "doc_id": pdf["doc_id"].tolist(),
                "payload": [payload(t) for t in pdf["text"].tolist()],
            }
            yield _frame(data, pdf, carry)

    # The documents scan is a single split at bench scale factors, so
    # without the floor this per-row Python leg runs in one worker.
    return floor_scan_parallelism(docs.select("doc_id", "text", *carry)).mapInPandas(
        run, "doc_id LONG, payload BINARY" + _carry_schema(docs, carry)
    )


def fingerprint_batches(
    media: DataFrame,
    col: str,
    kernel: Callable[[list[bytes]], object],
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """DataFrame[doc_id, payload, *carry] -> DataFrame[doc_id LONG, <col>
    LONG, *carry], with ``kernel`` hashing every payload of a batch."""
    cols = ["doc_id", col, *carry]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({c: [] for c in cols}, columns=cols)
                continue
            payloads = [bytes(p) for p in pdf["payload"].tolist()]
            data = {"doc_id": pdf["doc_id"].tolist(), col: kernel(payloads)}
            yield _frame(data, pdf, carry)

    return media.mapInPandas(run, f"doc_id LONG, {col} LONG" + _carry_schema(media, carry))


def keeper_stream(
    docs: DataFrame,
    fingerprint: Callable[[DataFrame, tuple[str, ...]], DataFrame],
    col: str,
    watermark: str,
) -> DataFrame:
    """One representative document per fingerprint: (doc_id, <col>).

    ``fingerprint(docs, carry)`` builds the doc-keyed fingerprint
    relation. Streaming inputs must carry an event-time ``ts`` column;
    state is bounded by ``dropDuplicatesWithinWatermark`` on the
    fingerprint, so an ingest dedups with watermark-window state, not
    corpus-sized state. Batch inputs keep the first row per fingerprint
    in doc_id order: the deterministic, oracle-checkable twin of the
    stream's keep-first-arrival (equal when arrival follows doc_id)."""
    if docs.isStreaming:
        fp = fingerprint(docs, ("ts",)).withWatermark("ts", watermark)
        return fp.dropDuplicatesWithinWatermark([col]).select("doc_id", col)
    w = Window.partitionBy(col).orderBy("doc_id")
    return (
        fingerprint(docs, ())
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", col)
    )


def hamming_blocked_pairs(
    hashes: DataFrame,
    hash_col: str,
    n_blocks: int,
    block_bits: int,
    ham_max: int,
    id_col: str = "doc_id",
    bound_key: str | None = None,
) -> DataFrame:
    """Hamming-blocked near-dup pairs over an integer-hash relation (the
    dedup_simhash_pairs chassis, generalized across modalities): split
    the hash into ``n_blocks`` × ``block_bits`` blocks, equi-join docs
    sharing any block value (pigeonhole: distance ≤ n_blocks - 1 ⇒ some
    block equal), verify exact Hamming on collisions only.

    The dedup exchange (the DISTINCT over surviving pairs) is
    volume-sized (plans/pairsize.py): on a heavily-duplicated corpus,
    collision-pair volume is Σ_(blk,bv) c², unbounded relative to the
    session's fixed shuffle width. The bound aggregate is one cheap pass
    over the persisted fingerprint relation; repartitioning on
    (doc_a, doc_b) satisfies the distinct's clustering, so Catalyst
    elides its own exchange and small corpora keep the
    session-parallelism plan. ``bound_key`` memoizes the bound per
    session so repeated plan builds pay it once."""
    # The block branches and both self-join sides all read ``hashes``;
    # unpersisted, each re-runs the Python encode and hash legs (measured
    # at sf0.1: image pairs 1.29 -> 0.93 s, audio 2.67 -> 1.42 s, video
    # 4.79 -> 2.09 s with the persist).
    hashes = hashes.persist()
    mask = (1 << block_bits) - 1
    blocks = None
    for b in range(n_blocks):
        part = hashes.select(
            F.col(id_col).alias("doc_id"),
            F.col(hash_col).alias("_h"),
            F.lit(b).alias("blk"),
            F.shiftright(F.col(hash_col), block_bits * b)
            .bitwiseAND(F.lit(mask))
            .alias("bv"),
        )
        blocks = part if blocks is None else blocks.unionByName(part)
    pair_bound = sum_sq_group_bound(
        blocks, ["blk", "bv"], cache_key=bound_key
    )
    x, y = blocks.alias("x"), blocks.alias("y")
    dist = F.bit_count(F.col("x._h").bitwiseXOR(F.col("y._h")))
    cand = (
        x.join(y, ["blk", "bv"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            dist.alias("hamming"),
        )
        .filter(F.col("hamming") <= ham_max)
    )
    return volume_repartition_pairs(
        cand, ["doc_a", "doc_b"], pair_bound
    ).distinct()


def pairs_sql(
    cte: str, rel: str, col: str, n_blocks: int, block_bits: int, ham_max: int
) -> str:
    """DuckDB twin of hamming_blocked_pairs over relation ``rel`` of ``cte``."""
    blocks = " UNION ALL ".join(
        f"SELECT doc_id, {col}, {b} AS blk, "
        f"({col} >> {block_bits * b}) & {(1 << block_bits) - 1} AS bv FROM {rel}"
        for b in range(n_blocks)
    )
    return f"""
    WITH {cte},
    blocks AS ({blocks})
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
           bit_count(xor(x.{col}, y.{col})) AS hamming
    FROM blocks x JOIN blocks y ON x.blk = y.blk AND x.bv = y.bv
    WHERE x.doc_id < y.doc_id
      AND bit_count(xor(x.{col}, y.{col})) <= {ham_max}
"""


def keepers_sql(cte: str, rel: str, col: str) -> str:
    """DuckDB twin of keeper_stream in batch mode."""
    return f"""
    WITH {cte}
    SELECT doc_id, {col} FROM (
      SELECT doc_id, {col},
             row_number() OVER (PARTITION BY {col} ORDER BY doc_id) AS rn
      FROM {rel})
    WHERE rn = 1
"""
