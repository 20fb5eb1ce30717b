"""graph/keyed.py: the keyed edge relation's width and cache lifetime."""

from __future__ import annotations

import pytest

from page_rank_mapreduce_java_spark.cli import full_registry
from page_rank_mapreduce_java_spark.graph.generators import chain_edges
from page_rank_mapreduce_java_spark.graph.keyed import keyed_edges

# Every registered query whose chassis iterates over keyed edges.
KEYED_QUERIES = [
    "graph_pagerank",
    "graph_connected_components",
    "graph_bfs_hops",
    "graph_sssp_weighted",
    "graph_scc_fwbw",
    "graph_lpa_communities",
    "graph_stress_centrality",
    "graph_katz_centrality",
    "graph_centrality_rank_agreement",
    "dedup_clusters",
]


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _cache_ids(spark, relations) -> set[int]:
    ident = spark._jvm.System.identityHashCode
    return {ident(r.cacheBuilder()) for r in relations}


def _persisted_but_unread(spark, df) -> int:
    """How many cached relations the executed ``df`` no longer reads.

    A query may hand back a plan that still scans a relation it persisted
    (the intra-query cache contract in dedup/queries.py: callers release
    those with clearCache after materializing the result). Anything else
    still cached once the query has run outlived it: a leak."""
    cached = spark._jsparkSession.sharedState().cacheManager().cachedData()
    left = _cache_ids(
        spark, (cached.apply(i).cachedRepresentation() for i in range(cached.size()))
    )
    leaves = df._jdf.queryExecution().withCachedData().collectLeaves()
    read = _cache_ids(
        spark,
        (
            leaf
            for leaf in (leaves.apply(i) for i in range(leaves.size()))
            if leaf.getClass().getSimpleName() == "InMemoryRelation"
        ),
    )
    return len(left - read)


@pytest.mark.parametrize("name", KEYED_QUERIES)
def test_keyed_query_leaks_no_persisted_relation(spark, sf_dir, name):
    spark.catalog.clearCache()  # isolate from earlier tests in the session
    df = full_registry()[0][name](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    assert _persisted_but_unread(spark, df) == 0


def test_keyed_edges_width_follows_shuffle_partitions(spark):
    # 90k edges: one partition under a cap of 1, two (~75k rows each)
    # once the cap is 4 — the memoized count must not pin the old width.
    edges = chain_edges(spark, 300)
    memo = "test_keyed:chain300"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        with keyed_edges(edges, memo=memo) as (keyed, parts):
            assert parts == keyed.rdd.getNumPartitions() == 1
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        with keyed_edges(edges, memo=memo) as (keyed, parts):
            assert parts == keyed.rdd.getNumPartitions() == 2
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_keyed_edges_released_when_the_block_raises(spark):
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError):
        with keyed_edges(chain_edges(spark, 10)) as (keyed, _):
            assert not _cache_is_empty(spark)
            raise RuntimeError("superstep failed")
    assert _cache_is_empty(spark)
