"""Lineage management for iterative dataflow (SURVEY.md §4.3 hazard #1).

Each PageRank iteration derives the next rank vector from the previous one;
without cutting lineage the logical plan doubles per iteration and the
driver eventually dies on plan explosion. ``localCheckpoint(eager=True)``
materializes the partitions on executors and truncates the plan. On a real
cluster with fault-tolerance requirements, swap for ``checkpoint()`` against
a reliable FS every ~5 iterations; local runs don't need it.

Under AQE a cut state forgets its hash partitioning: the checkpoint takes
the partitioning the adaptive plan reports, ``UnknownPartitioning``, so
every join against a cut state re-shuffles it or broadcasts it.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def cut_lineage(df: DataFrame, reliable: bool = False) -> DataFrame:
    """Block lifecycle: a localCheckpoint's blocks are freed by the
    ContextCleaner once the DataFrame becomes unreachable. Iterative loops
    rebind their state variable each superstep, so the previous vector's
    blocks are reclaimed asynchronously — peak storage is ~2 state vectors
    plus the persisted edge relation, not O(iterations)."""
    if reliable:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def observed_cut(
    df: DataFrame, metric: Column, drop: str | None = None, reliable: bool = False
) -> tuple[DataFrame, Any]:
    """Cut ``df`` (without its ``drop`` column, if given) and return the cut
    state with the value of the aggregate ``metric`` over ``df``'s rows.
    The value is read through ``DataFrame.observe`` on the checkpoint's own
    job, so it costs no Spark job; each cut gets a fresh ``Observation``,
    which can be read only once."""
    obs = Observation()
    observed = df.observe(obs, metric.alias("m"))
    if drop is not None:
        observed = observed.drop(drop)
    return cut_lineage(observed, reliable), obs.get["m"]


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
) -> DataFrame:
    """Run up to ``rounds`` supersteps ``state = cut_lineage(step(state))``
    and return the last state.

    ``step`` adds a 0/1 (or boolean) column ``_moved`` that marks the rows
    it changed. Its sum is read by ``observed_cut``, the column is dropped
    before the cut, and the loop stops after the first superstep whose sum
    is 0 or NULL (an empty state). The fixpoint exit therefore costs no
    Spark job. It only tests the sum against zero, so a retried task that
    reports its rows twice cannot flip it. A step that is a function of
    the state alone lands on the same rows as the full ``rounds`` once
    nothing moves.

    Contract for ``step``: compute the moved flag from columns already in
    the step's row (e.g. ``least(old, nbr) != old``); never join the
    previous state back in to diff it. A checkpoint keeps the statistics
    of the plan it cut, so a step that joins the old state back squares
    Catalyst's ``sizeInBytes`` estimate every superstep; a 40-superstep
    PageRank built that way died with a JVM ``OutOfMemoryError`` in
    ``SizeInBytesOnlyStatsPlanVisitor``, while the same step with the
    flag in the row grows the estimate by ~3 digits per superstep.
    """
    for _ in range(rounds):
        moved = F.sum(F.col("_moved").cast("long"))
        state, n = observed_cut(step(state), moved, "_moved")
        if not n:
            break
    return state
