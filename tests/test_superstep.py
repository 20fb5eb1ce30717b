"""The shared superstep loop (plans/checkpoints.iterate) on a toy state.

The step counts every value down by one to a floor of 0, so a state
whose largest value is m moves for m supersteps and is still on the
(m+1)-th. No corpus is read.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from page_rank_mapreduce_java_spark.plans.checkpoints import cut_lineage, iterate


def _countdown(df):
    new = F.greatest(F.col("v") - 1, F.lit(0))
    return df.select("id", new.alias("v"), (new != F.col("v")).cast("int").alias("_moved"))


def _state(spark, top):
    return spark.range(64).select("id", (F.col("id") % (top + 1)).alias("v"))


def _counted(step):
    """``step`` plus the list it appends to on every superstep it runs."""
    calls = []

    def run(df):
        calls.append(1)
        return step(df)

    return run, calls


def test_iterate_stops_after_first_still_superstep(spark):
    step, calls = _counted(_countdown)
    out = iterate(_state(spark, 3), step, 10)
    assert len(calls) == 4  # three supersteps move, the fourth moves nothing
    assert out.columns == ["id", "v"]
    assert out.agg(F.max("v")).first()[0] == 0
    step, calls = _counted(_countdown)
    capped = iterate(_state(spark, 3), step, 2)
    assert len(calls) == 2
    assert capped.agg(F.max("v")).first()[0] == 1


def test_iterate_exit_costs_no_job(spark):
    # Five supersteps that never converge: the observed moved-sum rides
    # each checkpoint's own job, so the job count equals a hand-written
    # loop of five cuts.
    sc = spark.sparkContext
    state = _state(spark, 20)

    def hand_loop():
        s = state
        for _ in range(5):
            s = cut_lineage(_countdown(s).drop("_moved"))

    jobs = {}
    for group, run in (
        ("superstep-iterate", lambda: iterate(state, _countdown, 5)),
        ("superstep-hand", hand_loop),
    ):
        sc.setJobGroup(group, group)
        try:
            run()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[group] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs["superstep-iterate"] == jobs["superstep-hand"] > 0


def test_iterate_empty_state_stops_after_one_superstep(spark):
    # the sum over no rows is NULL, which counts as "nothing moved"
    step, calls = _counted(_countdown)
    out = iterate(_state(spark, 3).limit(0), step, 10)
    assert len(calls) == 1
    assert out.count() == 0
