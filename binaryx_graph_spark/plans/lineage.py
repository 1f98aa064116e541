"""Lineage AND statistics cutting for iterative DataFrame loops.

``localCheckpoint(eager=True)`` cuts the execution lineage, but Spark's
``LogicalRDD`` deliberately CARRIES OVER the origin plan's size
statistics (``originStats``) so the optimizer keeps making informed
broadcast decisions after a checkpoint.  For a loop whose per-round
plan JOINS several frames that are themselves products of the previous
round, that carry-over compounds multiplicatively: sizeInBytes is a
BigInt product over join children (Catalyst's
``SizeInBytesOnlyStatsPlanVisitor``), so its BIT LENGTH grows ~k× per
round (k = joins per round).  Measured on the pivot FW-BW shape: 47 →
194 → 783 → 3135 → 12547 bits over five rounds — by round ~12 the
stats are hundred-megabit BigIntegers and PLANNING (not execution)
pins a core for minutes inside ``BigInteger.multiplyToomCook3``.

:func:`checkpoint_cut` therefore rebuilds the checkpointed result as a
fresh ``LogicalRDD`` WITHOUT origin stats (sizeInBytes resets to
``spark.sql.defaultSizeInBytes``): one ``toRdd()`` handle on the
already-materialized checkpoint — no recompute, no Python round-trip —
then ``internalCreateDataFrame`` over the same JVM rows.  The traded
cost is the optimizer seeing "unknown (huge) size" instead of the
compounded estimate, i.e. no auto-broadcast of loop frames — which the
compounded estimates (astronomically large) never allowed either, and
which AQE re-derives at runtime from ACTUAL shuffle sizes.  Linear
accumulator loops (plain BFS frontiers: one join per level, bits grow
additively) don't need this; use it where the per-round plan is a
PRODUCT of several previous-round frames (FW-BW partition refinement,
anything join-recursive).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame


def frontier_levels(
    first: DataFrame, step: Callable[[DataFrame], DataFrame], max_depth: int
) -> Iterator[tuple[int, DataFrame]]:
    """The driver-side BFS loop of every frontier-shaped operator: yield
    ``(depth, level)`` for depth 1..max_depth, level d = ``step(level
    d-1)``, level 0 = ``first`` as given.  The caller's loop body runs
    before the next ``step``, so a step closing over caller state (a
    visited set) sees its update.

    Each non-final level is eagerly ``localCheckpoint``-ed and probed
    with ``isEmpty``; the first empty one ends the loop unyielded, and
    ``step`` is not called again.  Such a level feeds the next step AND
    the caller, and a lazy frame re-executes per consumer: left lazy,
    reachable took 31 jobs instead of 25, and checkpointing every second
    level measured 1.06× (enumerate_paths) to 1.14×
    (cypher_varlen_rel_pred) slower.

    The final level is yielded lazily, possibly empty: its only
    consumer is the caller's output, so a checkpoint and probe there
    cost 2 jobs and a pass over the deepest level for nothing.
    Skipping them measured graph_longest_paths_scaled 1.56×,
    cypher_varlen_rel_pred 1.39× and graph_scc 1.18× faster."""
    level = first
    for depth in range(1, max_depth + 1):
        level = step(level)
        if depth < max_depth:
            level = level.localCheckpoint(eager=True)
            if level.isEmpty():
                return
        yield depth, level


def fixed_rounds(
    state: DataFrame, step: Callable[[DataFrame], DataFrame], rounds: int
) -> DataFrame:
    """The driver-side loop of every fixed-round operator: apply
    ``step`` exactly ``rounds`` times and return the final state
    (``state`` itself when ``rounds`` is 0).

    A non-final round's state has one consumer, the next round.  Every
    second one is eagerly ``localCheckpoint``-ed to cut lineage, at half
    the job cost of a checkpoint per round: PageRank measured 3.0 →
    2.0 s warm at sf0.1 against checkpointing every round, with
    bit-identical ranks (integer math does not depend on the cadence).

    The final round's state has one consumer, the caller's output, so it
    is returned lazily.  Skipping label_propagation's final checkpoint
    measured 0.933×.  The same skip on PageRank was once reverted on
    min-of-3 wall time (1.10–1.15×), while the medians of those A/Bs
    moved 0.95–1.02×: ambiguous.  A caller that reads the final state
    more than once checkpoints it itself."""
    for r in range(1, rounds + 1):
        state = step(state)
        if r % 2 == 0 and r < rounds:
            state = state.localCheckpoint(eager=True)
    return state


def checkpoint_cut(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint + statistics reset (see module docstring).

    Falls back to the plain checkpoint if the private JVM hook is
    unavailable (non-classic sessions, future Spark versions) —
    correctness never depends on the stats cut."""
    cp = df.localCheckpoint(eager=True)
    try:
        spark = cp.sparkSession
        jdf = cp._jdf
        jrdd = jdf.queryExecution().toRdd()  # checkpointed scan — no recompute
        njdf = spark._jsparkSession.internalCreateDataFrame(jrdd, jdf.schema(), False)
        return DataFrame(njdf, spark)
    except Exception:
        return cp


def release(df: DataFrame) -> None:
    """Free what ``df`` holds: its cache entry and, for an eager
    ``localCheckpoint``, the checkpoint's blocks, which
    ``DataFrame.unpersist`` does not reach (they belong to the RDD under
    the frame's ``LogicalRDD`` plan).  Reading a released checkpoint
    fails: release a frame only once nothing reads it again."""
    df.unpersist()
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() == "LogicalRDD":
        plan.rdd().unpersist(False)
