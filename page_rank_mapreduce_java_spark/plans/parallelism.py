"""Scan-parallelism floor (r13; guide §2.5 input parallelism / §6 split
sizing).

Every base table at the bench scale factors is a 1-3 split parquet file
(a parquet scan cannot be split below row-group boundaries, so
``maxPartitionBytes`` cannot widen it), which means ANY expensive
per-row work that sits BELOW a query's first exchange — the ANN
families' k-cosine scoring, the multimodal families' Python
encode→decode→fingerprint legs — runs in 1-3 tasks regardless of core
count. Measured: brute-force top-k over the 10× replica 17.5-23.6 s
as-is vs 1.6-2.3 s floored; embedding_knn_label_accuracy 25.7 → 2.5 s.

``floor_scan_parallelism`` round-robin repartitions a relation ONLY
when its current partitioning is narrower than the session's shuffle
parallelism — a cluster-scale input (≥ parallelism splits) is never
touched, so the floor can only raise parallelism, never coalesce a wide
scan. Round-robin keeps Spark's sort-before-repartition default, so the
row-to-partition assignment is deterministic under task retry.

The floor is NOT free: it is one exchange of the floored relation per
materialization. Chassis that replay their subtree many times per query
(the PQ family's five k-means trains) measurably LOSE with it and opt
out at their call sites (similarity/pq.py) — apply it where the scan
stage carries real per-row compute and the subtree materializes once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def floor_scan_parallelism(df: DataFrame) -> DataFrame:
    # A streaming relation has no RDD to inspect; micro-batches keep the
    # source's own parallelism.
    if df.isStreaming:
        return df
    spark = df.sparkSession
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df
