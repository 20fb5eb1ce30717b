"""Keyed edges: the one edge layout every graph chassis iterates over.

The superstep chassis (pagerank.py, algorithms.py, centrality.py, the
Katz recursion) all follow GraphX's cached-edge-partition design
(Gonzalez et al., OSDI'14): the edge relation is shuffled ONCE onto the
superstep join key and persisted, so each superstep re-shuffles only the
node-sized state vector, never the edges. ``keyed_edges`` owns that
decision — the partition width, the shuffle and the cache lifetime — so
no algorithm sizes or repartitions an edge relation itself.

Width rule: ~75k edge rows per partition, capped at the session's
``spark.sql.shuffle.partitions``. On a real cluster the cap is set to
total-cores×k, so big graphs use full width while small ones avoid
paying hundreds of near-empty tasks per superstep.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame

EDGE_ROWS_PER_PARTITION = 75_000

# (applicationId, memo) -> edge row count. The memo holds the count, not
# the width, so a change of shuffle.partitions mid-session re-applies the
# cap instead of reusing a stale width; a new application never reads it.
_ROWS_MEMO: dict[tuple[str, str], int] = {}


@contextmanager
def keyed_edges(
    edges: DataFrame,
    memo: str | None = None,
    partitions: int | None = None,
) -> Iterator[tuple[DataFrame, int]]:
    """Yield ``(keyed, partitions)``: ``edges`` hash-partitioned on
    ``src`` (every chassis joins its state on the edge source) and
    persisted, released when the block exits (also on error).

    ``memo``: a stable name for the graph (e.g. ``"cooc:<sf_dir>"``);
    the sizing count is then paid once per application. ``partitions``
    fixes the width instead of the data-sized rule (pagerank's CLI
    ``--partitions``).

    When the count runs, ``edges`` is persisted for it and released once
    the keyed relation is materialized, so an expensive upstream plan
    runs once. When the width is known up front the input is read once,
    by the first superstep that scans ``keyed``.
    """
    spark = edges.sparkSession
    memo_key = (spark.sparkContext.applicationId, memo) if memo else None
    rows = _ROWS_MEMO.get(memo_key) if memo_key else None
    counted = partitions is None and rows is None
    keyed = None
    try:
        if counted:
            rows = edges.persist().count()
            if memo_key:
                _ROWS_MEMO[memo_key] = rows
        if partitions is None:
            cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
            partitions = max(1, min(cap, -(-rows // EDGE_ROWS_PER_PARTITION)))
        keyed = edges.repartition(partitions, "src").persist()
        if counted:
            # A noop write fills the cache without count()'s extra
            # aggregate exchange (one Spark job fewer under AQE).
            keyed.write.format("noop").mode("overwrite").save()
            edges.unpersist()
        yield keyed, partitions
    finally:
        if counted:
            edges.unpersist()
        if keyed is not None:
            keyed.unpersist()
