"""Physical-plan quality gates (SURVEY.md §4 / the 100 TB design point).

These tests pin Catalyst plan *shape*, not results: pushdown, pruning,
broadcast strategy, codegen, and the absence of Python in relational
paths. A change that silently turns a broadcast join into a cartesian
product or drops a pushed filter fails here before it fails at scale.
"""

from __future__ import annotations

import pytest

from page_rank_mapreduce_java_spark.operators import relational
from page_rank_mapreduce_java_spark.graph import queries as gq
from page_rank_mapreduce_java_spark.dedup import queries as dq
from page_rank_mapreduce_java_spark.plans.checkpoints import cut_lineage
from page_rank_mapreduce_java_spark.plans.explain import (
    formatted_plan,
    has_pushed_filter,
    read_schema_columns,
    scan_pushed_filters,
    uses_broadcast_join,
    uses_python_udf,
)


def test_filter_and_projection_pushdown(spark, sf_dir):
    df = relational.q_scan_filter_project(spark, sf_dir)
    pushed = scan_pushed_filters(df)
    assert "l_quantity" in pushed and "l_shipdate" in pushed
    cols = read_schema_columns(df)
    # projection pruning: only the 4 selected + 2 filter columns are read
    assert set(cols) <= {
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_shipdate",
    }
    assert "l_comment" not in cols and "l_partkey" not in cols


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    df = relational.q_join_broadcast_region_revenue(spark, sf_dir)
    assert uses_broadcast_join(df)


def test_semi_and_anti_join_plan_shape(spark, sf_dir):
    semi = formatted_plan(relational.q_join_semi(spark, sf_dir))
    anti = formatted_plan(relational.q_join_anti(spark, sf_dir))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_range_join_is_not_cartesian(spark, sf_dir):
    """The user_id equi-key must anchor the range join — a cartesian
    product here would be quadratic at scale."""
    plan = formatted_plan(relational.q_join_range_event_pairs(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_top25_uses_take_ordered(spark, sf_dir):
    plan = formatted_plan(relational.q_order_limit_top25(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # no full global sort for LIMIT


def test_no_python_in_relational_paths(spark, sf_dir):
    from page_rank_mapreduce_java_spark.operators import relational5

    for name, fn in {
        **relational.QUERIES, **gq.QUERIES, **dq.QUERIES, **relational5.QUERIES
    }.items():
        df = fn(spark, sf_dir)
        assert not uses_python_udf(df), f"{name} lowered into Python"


def test_q6_single_scan_full_pushdown(spark, sf_dir):
    """TPC-H q6 is THE pushdown benchmark: all three predicates reach the
    parquet reader and only the 4 referenced columns are read."""
    from page_rank_mapreduce_java_spark.operators import relational5

    df = relational5.q_q6_forecast_revenue(spark, sf_dir)
    pushed = scan_pushed_filters(df)
    assert "l_shipdate" in pushed and "l_quantity" in pushed
    cols = read_schema_columns(df)
    assert set(cols) <= {"l_shipdate", "l_quantity", "l_extendedprice", "l_discount"}


def test_exists_shapes_plan_semi_and_anti(spark, sf_dir):
    """q4's EXISTS and q22's NOT EXISTS must decorrelate to semi/anti
    joins — a correlated per-row probe would be quadratic at scale."""
    from page_rank_mapreduce_java_spark.operators import relational5

    q4 = formatted_plan(relational5.q_q4_order_priority(spark, sf_dir))
    assert "LeftSemi" in q4
    q22 = formatted_plan(relational5.q_q22_dormant_customers(spark, sf_dir))
    assert "LeftAnti" in q22
    assert "CartesianProduct" not in q22  # 1-row scalar broadcasts


def test_q21_no_expand_on_fact_rows(spark, sf_dir):
    """Multiple count-distincts over one input plan an Expand that
    multiplies the fact table's rows through the shuffle; q21 must use
    the pair-granularity pre-aggregate instead."""
    from page_rank_mapreduce_java_spark.operators import relational5

    df = relational5.q_q21_late_suppliers(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Expand" not in plan


def test_q15_groupwise_max_avoids_global_window(spark, sf_dir):
    """The group-wise-max query must use the broadcast-scalar form, not
    an unpartitioned rank window (the classic single-task trap)."""
    from page_rank_mapreduce_java_spark.operators import relational5

    plan = formatted_plan(relational5.q_q15_top_supplier(spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_no_unpartitioned_window_on_fact_tables(spark, sf_dir):
    """VERDICT r1 wrong #4: a Window with an empty partition spec over a
    table that grows with the scale factor funnels the whole table
    through one task. Every registered query must either partition its
    windows or rank via the two-pass form (operators/ranking.py).
    region/nation are the only tables exempt (constant-size dims)."""
    import __spark_entry__ as entrymod
    from page_rank_mapreduce_java_spark.plans.explain import (
        unpartitioned_fact_windows,
    )

    fact = frozenset(
        {"customer", "supplier", "part", "orders", "lineitem", "events",
         "documents", "embeddings"}
    )
    offenders = {}
    for name, fn in entrymod.queries().items():
        bad = unpartitioned_fact_windows(fn(spark, sf_dir), fact)
        if bad:
            offenders[name] = bad
    assert not offenders, f"single-task windows over fact tables: {offenders}"


def test_q1_whole_stage_codegen(spark, sf_dir):
    df = relational.q1_pricing_summary(spark, sf_dir)
    df.collect()  # AQE finalizes (and codegens) only on execution
    executed = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark whole-stage-codegen'd spans in the executed plan
    assert "*(1)" in executed
    # partial + final aggregation around the exchange (map-side combine)
    assert executed.count("HashAggregate") >= 2


def _executed_ops(plan, shuffled=False):
    """(class name, node, shuffled?) for every operator of an executed
    plan, entering AQE query stages but not cached relations. An operator
    is shuffled when an exchange above it re-partitions its output, i.e.
    only single-child operators stand between them."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _executed_ops(plan.executedPlan(), shuffled)
        return
    if name.endswith("QueryStageExec"):
        yield from _executed_ops(plan.plan(), shuffled)
        return
    yield name, plan, shuffled
    cs = plan.children()
    below = name.endswith("ExchangeExec") or (shuffled and cs.length() == 1)
    for i in range(cs.length()):
        yield from _executed_ops(cs.apply(i), below)


def test_pagerank_iteration_shuffles_ranks_not_links(spark, monkeypatch):
    """A superstep plans both joins as shuffle joins, so nothing is
    broadcast. It re-shuffles the cut rank vector onto the keyed width and
    the contributions onto the session's shuffle partitions, where the
    node table is keyed; the cached node table is read in place. So are the
    cached links at width 4. At width 1 Spark plans links as one partition
    and re-shuffles it to the session width once the estimate of the cut
    state passes ``spark.sql.maxSinglePartitionBytes`` (see
    graph/pagerank.py)."""
    from page_rank_mapreduce_java_spark.graph.generators import chain_edges
    from page_rank_mapreduce_java_spark.graph.pagerank import pagerank
    from page_rank_mapreduce_java_spark.plans import checkpoints

    cuts = []

    def recording_cut(df, reliable=False):
        cuts.append(df)
        return cut_lineage(df, reliable)

    monkeypatch.setattr(checkpoints, "cut_lineage", recording_cut)
    for width in (1, 4):
        res = pagerank(chain_edges(spark, 10), num_iterations=2, partitions=width)
        ops = list(_executed_ops(cuts[-1]._jdf.queryExecution().executedPlan()))
        names = [name for name, _, _ in ops]
        assert "BroadcastExchangeExec" not in names
        assert names.count("ShuffledHashJoinExec") == 2
        scans = {
            "links" if "dst#" in op.output().toString() else "node": shuffled
            for name, op, shuffled in ops
            if name == "InMemoryTableScanExec"
        }
        assert scans.keys() == {"links", "node"} and not scans["node"]
        if width > 1:
            assert not scans["links"]
            exchanges = [op for name, op, _ in ops if name == "ShuffleExchangeExec"]
            session = int(spark.conf.get("spark.sql.shuffle.partitions"))
            assert sorted(op.numPartitions() for op in exchanges) == sorted(
                [width, session]
            )
        # The result plan is a checkpoint scan — constant size, no lineage
        # back to the edge join (the §4.3 plan-explosion guard).
        plan = formatted_plan(res.ranks)
        assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan


def test_asof_join_is_one_exchange_no_cartesian(spark, sf_dir):
    """The union-sort as-of join must cost one hash exchange on the key
    plus a within-partition sort — never a cartesian/range probe, and
    never one exchange per side after the union (the union is resolved
    before the window's single shuffle)."""
    from page_rank_mapreduce_java_spark.operators import relational3

    import re

    plan = formatted_plan(relational3.q_join_asof_latest_order(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    # hashpartitioning on the union key feeds the window; the orders-side
    # pre-dedup adds its own aggregate exchange, nothing else.
    n_exchanges = len(re.findall(r"(?m)^\(\d+\) Exchange\b", plan))
    assert 1 <= n_exchanges <= 3


def test_gapfill_spine_is_broadcast_sized(spark, sf_dir):
    """The date-spine cross join must broadcast the tiny sides — a
    shuffled cartesian here would be wrong at any scale."""
    from page_rank_mapreduce_java_spark.operators import relational3

    plan = formatted_plan(relational3.q_events_daily_gapfill(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_pit_scd2_broadcasts_versioned_dim(spark, sf_dir):
    """The SCD2 lookup must broadcast the (dimension x versions) side —
    never shuffle the fact side against an exploded history — and keep
    Python out of the plan."""
    from page_rank_mapreduce_java_spark.operators import relational16 as r16
    from page_rank_mapreduce_java_spark.operators import relational15 as r15

    df = r15.q_join_pit_scd2_lookup(spark, sf_dir)
    assert uses_broadcast_join(df)
    assert not uses_python_udf(df)
    assert "CartesianProduct" not in formatted_plan(df)
    for q in (
        r15.q_events_retention_triangle,
        r15.q_text_vocab_growth,
        r15.q_orders_updown_streaks,
        r16.q_join_null_safe_nations,
        r16.q_interval_longest_gap,
        r16.q_embedding_pca_top_component,
    ):
        d = q(spark, sf_dir)
        assert not uses_python_udf(d), q.__name__
        assert "CartesianProduct" not in formatted_plan(d), q.__name__


def test_null_safe_join_stays_equi_join(spark, sf_dir):
    """<=> must compile to a hash/sort-merge equi-join on the
    null-normalized key, not a nested-loop join."""
    from page_rank_mapreduce_java_spark.operators import relational16 as r16

    plan = formatted_plan(r16.q_join_null_safe_nations(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_kcore_curve_final_plan_is_checkpoint_scan(spark):
    """The fused decomposition curve (round-9 rewrite) executes its
    chained peel at construction; the RESULT plan must be a constant
    6-row checkpoint scan with zero exchanges — no lineage back through
    48 potential peel rounds (the §4.3 plan-explosion guard, same
    contract as the pagerank superstep chassis)."""
    from page_rank_mapreduce_java_spark.graph.motifs import kcore_curve

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    plan = formatted_plan(kcore_curve(edges, max_k=3, rounds=4))
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan
    assert "Exchange" not in plan


def test_round10_headline_capstones_stay_jvm_side(spark, sf_dir):
    """The three round-10 bench-headline additions are multi-chassis
    compositions; pin the two properties that must survive any chassis
    refactor: no cartesian product anywhere in the composed plan (the
    only cross joins are broadcast 1-row scalars) and zero Python in
    the path — every stage stays JVM-side for whole-stage codegen."""
    from page_rank_mapreduce_java_spark.operators import relational23, relational32

    for fn in (
        relational32.q_graph_centrality_rank_agreement,
        relational23.q_rec_exposure_gini,
    ):
        plan = formatted_plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
        df = fn(spark, sf_dir)
        assert not uses_python_udf(df), fn.__name__


def test_batch35_relational_paths_stay_jvm_side(spark, sf_dir):
    """Batch 35 (round-10 growth): every non-multimodal member must
    compose without a cartesian product and without Python in the path
    (mm_phash_bit_balance is the one sanctioned Arrow-batched
    exception — its hash leg is the multimodal UDF by design). The two
    bench-headline members (local bridges, clustering-by-degree) ride
    the m^(3/2) wedge chassis; a refactor that degrades the orientation
    join into a cartesian fails here before it fails at scale."""
    from page_rank_mapreduce_java_spark.operators import relational35

    for fn in (
        relational35.q_graph_local_bridges,
        relational35.q_graph_clustering_by_degree,
        relational35.q_lineitem_price_elasticity_by_brand,
        relational35.q_levene_brown_forsythe_price,
        relational35.q_rec_ndcg_popularity,
        relational35.q_rec_mrr_popularity,
        relational35.q_calibration_return_by_quantity,
        relational35.q_embedding_mahalanobis_outliers,
        relational35.q_customer_spend_gamma_moments,
    ):
        plan = formatted_plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
        df = fn(spark, sf_dir)
        assert not uses_python_udf(df), fn.__name__


def test_batch35_single_pass_aggregates_broadcast_dims(spark, sf_dir):
    """The grouped-regression and moments queries are one-fact-pass
    shapes: the dimension side (part / customer) must enter as a
    broadcast join, never a shuffled sort-merge join on the fact
    table's join key."""
    from page_rank_mapreduce_java_spark.operators import relational35

    for fn in (
        relational35.q_lineitem_price_elasticity_by_brand,
        relational35.q_customer_spend_gamma_moments,
    ):
        assert uses_broadcast_join(fn(spark, sf_dir)), fn.__name__
        assert "SortMergeJoin" not in formatted_plan(fn(spark, sf_dir)), fn.__name__


def test_batch36_relational_paths_stay_jvm_side(spark, sf_dir):
    """Batch 36 (round-10 growth, second wave): every member is a pure
    relational composition — no cartesian product, no Python anywhere.
    The bounded windows (PR sweep, runs test) must hang off bounded
    relations, which the no-cartesian + JVM-side pins protect."""
    from page_rank_mapreduce_java_spark.operators import relational36

    for fn in (
        relational36.q_auc_pr_flag_quantity,
        relational36.q_cliffs_delta_quantity,
        relational36.q_effect_size_price_flag,
        relational36.q_orders_runs_test_daily,
        relational36.q_embedding_fisher_ratio,
        relational36.q_embedding_participation_ratio,
        relational36.q_rec_novelty_itemitem,
        relational36.q_dq_ship_before_order,
    ):
        plan = formatted_plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
        df = fn(spark, sf_dir)
        assert not uses_python_udf(df), fn.__name__


def test_batch37_relational_paths_stay_jvm_side(spark, sf_dir):
    """Batch 37 (round-10 growth, final wave): the trigram explode, the
    JL sign projection, and the Benford terms are all built-in
    expression compositions — no cartesian, no Python. The JL pair
    sample must stay an equi-join (vec_id+1), never an all-pairs
    product."""
    from page_rank_mapreduce_java_spark.operators import relational37

    for fn in (
        relational37.q_text_char_trigram_entropy_by_lang,
        relational37.q_embedding_jl_projection_audit,
        relational37.q_dq_benford_chi2_totalprice,
    ):
        plan = formatted_plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, fn.__name__
        df = fn(spark, sf_dir)
        assert not uses_python_udf(df), fn.__name__
