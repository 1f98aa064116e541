"""checkpoint_cut (plans/lineage.py): the stats-compounding regression.

localCheckpoint's LogicalRDD carries origin-plan size statistics; loops
whose next state joins several copies of the previous state compound
them multiplicatively until Catalyst's BigInteger size arithmetic
dominates planning (SCALE.md addendum 32).  These tests pin (a) the
helper actually resets stats, (b) values survive the rebuild untouched,
(c) the distributed CC loop — the worst measured offender (stats bits
DOUBLED per round) — now converges on a long-diameter graph that
previously planning-stalled.  The last two tests pin the checkpoint
rules of the loop helpers ``frontier_levels`` and ``fixed_rounds``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from binaryx_graph_spark.plans.lineage import (
    checkpoint_cut,
    fixed_rounds,
    frontier_levels,
    release,
)


def _bits(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes().bit_length()


def test_checkpoint_cut_resets_stats_and_preserves_rows(spark):
    base = spark.range(100).select(
        F.col("id").alias("k"), F.col("id").alias("v")
    )
    # stack a few row-preserving self-joins (unique key) so the origin
    # stats are visibly compounded without multiplying rows
    df = base
    for _ in range(3):
        df = df.join(df.withColumnRenamed("v", "v2"), "k").select("k", "v")
    assert _bits(df) > 64  # compounded origin stats
    cut = checkpoint_cut(df)
    assert _bits(cut) <= 64  # reset to defaultSizeInBytes
    assert sorted(map(tuple, cut.collect())) == sorted(map(tuple, df.collect()))


def test_iterated_cut_stays_bounded(spark):
    # the fwbw/CC shape: state(t) = join of three views of state(t-1)
    state = checkpoint_cut(
        spark.range(20).select(F.col("id").alias("k"), F.col("id").alias("v"))
    )
    for _ in range(6):
        a = state.select(F.col("k"), F.col("v").alias("a"))
        b = state.select(F.col("k"), F.col("v").alias("b"))
        state = checkpoint_cut(
            state.join(a, "k").join(b, "k").select("k", F.least("v", "a", "b").alias("v"))
        )
        assert _bits(state) <= 64  # would be ~4x per round without the cut
    assert state.count() == 20


def test_cc_long_chain_distributed_converges(spark):
    # 256-node chain: diameter 255 forces many pointer-jumping rounds —
    # the regime where checkpoint-carried stats previously stalled
    # planning (non-terminating before the fix; seconds after)
    from binaryx_graph_spark.operators.dedup import connected_components

    pairs = spark.range(256).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    out = connected_components(pairs, local_max_edges=0)
    rows = out.collect()
    assert len(rows) == 257
    assert {r["cluster_id"] for r in rows} == {0}  # one chain, min-id root


def _is_checkpoint_scan(df) -> bool:
    return df._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD"


def test_frontier_levels_checkpoint_rule(spark):
    # chain 0→1→2→3: level d holds {d}; level 4 is the first empty one
    edges = spark.range(3).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    calls = []

    def step(frontier):
        calls.append(len(calls) + 1)
        return frontier.join(edges, frontier.v == edges.src).select(
            F.col("dst").alias("v")
        )

    first = spark.range(1).select(F.col("id").alias("v"))

    # max_depth beyond the chain: levels 1..3 are non-final, all are
    # checkpoint scans; the empty level 4 is probed, not yielded, and
    # step is never called after it
    got = []
    for depth, level in frontier_levels(first, step, 6):
        assert _is_checkpoint_scan(level)
        got.append((depth, [r.v for r in level.collect()]))
    assert got == [(1, [1]), (2, [2]), (3, [3])]
    assert calls == [1, 2, 3, 4]

    # max_depth == 3: the final level is yielded lazily (no checkpoint)
    calls.clear()
    got = list(frontier_levels(first, step, 3))
    assert [d for d, _ in got] == [1, 2, 3]
    assert all(_is_checkpoint_scan(lv) for _, lv in got[:-1])
    assert not _is_checkpoint_scan(got[-1][1])
    assert [r.v for r in got[-1][1].collect()] == [3]
    assert calls == [1, 2, 3]

    # an empty FINAL level is never probed, so it is still yielded
    calls.clear()
    got = list(frontier_levels(first, step, 4))
    assert [d for d, _ in got] == [1, 2, 3, 4]
    assert not _is_checkpoint_scan(got[-1][1])
    assert got[-1][1].collect() == []
    assert calls == [1, 2, 3, 4]


def test_fixed_rounds_checkpoint_rule(spark):
    first = spark.range(3).select(F.col("id").alias("v"))
    for rounds in range(6):
        received = []

        def step(state):
            received.append(state)
            return state.select((F.col("v") + 1).alias("v"))

        out = fixed_rounds(first, step, rounds)
        assert len(received) == rounds
        # received[r] is the state after round r (r = 0: the input); a
        # state that reaches a step is non-final, and after every
        # second round it is a checkpoint scan
        assert rounds == 0 or received[0] is first
        for r, state in enumerate(received[1:], start=1):
            assert _is_checkpoint_scan(state) == (r % 2 == 0), (rounds, r)
        if rounds == 0:
            assert out is first
        else:  # the final state is returned lazily
            assert not _is_checkpoint_scan(out)
        assert sorted(r.v for r in out.collect()) == [rounds, rounds + 1, rounds + 2]


def test_release_frees_cache_and_checkpoint_blocks(spark):
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    cp = spark.range(10).localCheckpoint(eager=True)
    cached = spark.range(5).cache()
    cached.count()
    assert len(set(jsc.getPersistentRDDs().keySet()) - before) == 2
    release(cp)
    release(cached)
    assert set(jsc.getPersistentRDDs().keySet()) - before == set()
    assert cached.count() == 5  # an uncached frame recomputes
