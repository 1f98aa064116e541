"""Invariants for operators/graphalgo.py beyond the DuckDB hash gate:
known-graph answers and fixed-point conservation properties."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest
from pyspark.sql import functions as F

from binaryx_graph_spark.operators.graphalgo import (
    PAGERANK_SCALE,
    pagerank_fixed,
    triangle_counts,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_triangles_known_graph(spark):
    # K4 minus one edge: triangles {1,2,3} and {1,2,4} → node1:2, node2:2,
    # node3:1, node4:1
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (1, 4), (2, 4)])
    got = {r.node: r.n_triangles for r in triangle_counts(e).collect()}
    assert got == {1: 2, 2: 2, 3: 1, 4: 1}


def test_triangles_ignore_direction_and_self_loops(spark):
    # same triangle expressed with mixed directions + a self loop + a dup
    e = _edges(spark, [(1, 2), (3, 2), (3, 1), (1, 1), (2, 1)])
    got = {r.node: r.n_triangles for r in triangle_counts(e).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_pagerank_cycle_is_uniform(spark):
    # 3-cycle: perfectly symmetric → every node keeps the identical rank
    e = _edges(spark, [(1, 2), (2, 3), (3, 1)])
    ranks = pagerank_fixed(e, iters=5).collect()
    vals = {r.rank_fp for r in ranks}
    assert len(vals) == 1
    # symmetric flow loses nothing to dangling/floor beyond tiny quanta
    assert abs(vals.pop() - PAGERANK_SCALE // 3) <= 5


def test_pagerank_sink_attracts_mass(spark):
    # star into node 9: 9's rank must dominate every spoke
    e = _edges(spark, [(1, 9), (2, 9), (3, 9), (9, 1)])
    ranks = {r.node: r.rank_fp for r in pagerank_fixed(e, iters=5).collect()}
    assert ranks[9] > ranks[1] > ranks[2] == ranks[3]


def test_pagerank_mass_bounded(spark):
    # total fixed-point mass never exceeds the initial total (dangling
    # and floor losses only shrink it)
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 2), (5, 1)])
    total = (
        pagerank_fixed(e, iters=5)
        .agg(F.sum("rank_fp").alias("s"))
        .collect()[0]
        .s
    )
    assert 0 < total <= PAGERANK_SCALE


def test_personalized_pagerank_zero_outside_reachable_set(spark):
    from binaryx_graph_spark.operators.graphalgo import personalized_pagerank_fixed

    # seeds = {1}; node 5 is in a separate component → rank exactly 0;
    # seed keeps the teleport share; downstream nodes get flow
    e = _edges(spark, [(1, 2), (2, 3), (5, 6)])
    ranks = {
        r.node: r.rank_fp
        for r in personalized_pagerank_fixed(spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], "src long, dst long"
        ), F.col("v") == 1, iters=4).collect()
    }
    assert ranks[5] == 0 and ranks[6] == 0
    assert ranks[1] > ranks[2] > ranks[3] > 0


def test_kcore_peel_cascades(spark):
    """k=2 peel: the triangle survives; the pendant chain dies only
    through cascading rounds (4-3 dies in round 1, then 3's degree
    drops below 2 and the next round removes it... within `rounds`)."""
    from binaryx_graph_spark.operators.graphalgo import kcore_peel

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)], "src long, dst long"
    )
    got = {r["node"]: r["degree"] for r in kcore_peel(edges, k=2, rounds=3).collect()}
    assert got == {0: 2, 1: 2, 2: 2}

    # k=1, 1 round: nothing peels (every node has degree >= 1)
    got1 = {r["node"]: r["degree"] for r in kcore_peel(edges, k=1, rounds=1).collect()}
    assert got1 == {0: 2, 1: 2, 2: 3, 3: 2, 4: 1}


def test_label_propagation_two_cliques(spark):
    from binaryx_graph_spark.operators.graphalgo import label_propagation

    # two triangles bridged by one edge: each clique converges to one
    # community (its smallest member id); the bridge doesn't merge them
    clique_a = [(1, 2), (2, 3), (1, 3)]
    clique_b = [(10, 11), (11, 12), (10, 12)]
    e = _edges(spark, clique_a + clique_b + [(3, 10)])
    got = {r.node: r.community for r in label_propagation(e, rounds=4).collect()}
    assert got[1] == got[2] == got[3]
    assert got[10] == got[11] == got[12]
    assert got[1] != got[10]


def test_label_propagation_deterministic(spark):
    from binaryx_graph_spark.operators.graphalgo import label_propagation

    e = _edges(spark, [(i, (i * 7) % 23) for i in range(1, 23)])
    a = sorted(map(tuple, label_propagation(e, rounds=3).collect()))
    b = sorted(map(tuple, label_propagation(e, rounds=3).collect()))
    assert a == b


def test_modularity_two_cliques_positive(spark):
    from binaryx_graph_spark.operators.graphalgo import community_modularity

    # two bridged triangles: strong community structure → Q > 0, and the
    # integer identity Σ degree_sum == 2m, Σ intra ≤ m must hold
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)])
    rows = community_modularity(e, rounds=4).collect()
    m = 7
    assert sum(r.degree_sum for r in rows) == 2 * m
    assert sum(r.intra_edges for r in rows) <= m
    q = sum(r.contrib_q for r in rows) / (4 * m * m)
    assert 0.0 < q <= 1.0


def test_hits_star_graph(spark):
    """Star u→{a,b,c}: u is the pure hub (auth 0), leaves split the
    authority mass evenly; L1 masses stay ~scale (floor losses only)."""
    from binaryx_graph_spark.operators.graphalgo import HITS_SCALE, hits_fixed

    e = _edges(spark, [(10, 1), (10, 2), (10, 3)])
    got = {r.node: (r.hub_fp, r.auth_fp) for r in hits_fixed(e, iters=3).collect()}
    assert got[10][1] == 0 and got[10][0] > 0  # hub only
    leaf_auths = {got[v][1] for v in (1, 2, 3)}
    assert len(leaf_auths) == 1  # symmetric leaves
    assert sum(a for _h, a in got.values()) <= HITS_SCALE
    assert sum(a for _h, a in got.values()) >= HITS_SCALE - 10  # floor loss


# cycles 1→2→3→1 and 3→4→5→3, a chord, a self-loop and two pendants:
# the k=3 peel removes a different node set in each of rounds 1-3, the
# last round leaving nothing
_TWIN_PAIRS = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (2, 5), (6, 6), (6, 1), (7, 4)]
_TWIN_SEEDS = (1, 4, 7)


def _twins(edges, sql_edges, op, n):
    from binaryx_graph_spark.operators import graphalgo as G

    if op == "pagerank_fixed":
        return G.pagerank_fixed(edges, iters=n), G.sql_pagerank_fixed(sql_edges, iters=n)
    if op == "personalized_pagerank_fixed":
        return (
            G.personalized_pagerank_fixed(edges, F.col("v").isin(*_TWIN_SEEDS), iters=n),
            G.sql_personalized_pagerank_fixed(sql_edges, f"v IN {_TWIN_SEEDS}", iters=n),
        )
    if op == "kcore_peel":
        return G.kcore_peel(edges, k=3, rounds=n), G.sql_kcore_peel(sql_edges, k=3, rounds=n)
    if op == "label_propagation":
        return G.label_propagation(edges, rounds=n), G.sql_label_propagation(sql_edges, rounds=n)
    return G.hits_fixed(edges, iters=n), G.sql_hits_fixed(sql_edges, iters=n)


@pytest.mark.parametrize(
    "op, rounds",
    [
        (op, n)
        for op in ("pagerank_fixed", "personalized_pagerank_fixed", "kcore_peel", "label_propagation")
        for n in (0, 1, 2, 3)
    ]
    + [("hits_fixed", n) for n in (1, 2, 3)],
)
def test_fixed_point_matches_duckdb_twin(spark, op, rounds):
    """Bit-exact parity with the DuckDB unrolled-CTE twin (the contract
    the registered gate pins) at every checkpoint boundary of
    ``fixed_rounds``: no round, one lazy round, a checkpointed round
    and a lazy round past it."""
    import duckdb

    vals = ", ".join(f"({s}, {d})" for s, d in _TWIN_PAIRS)
    sql_edges = f"SELECT * FROM (VALUES {vals}) AS t(src, dst)"
    df, sql = _twins(_edges(spark, _TWIN_PAIRS), sql_edges, op, rounds)
    got = sorted(tuple(r) for r in df.collect())
    assert got == sorted(duckdb.sql(sql).fetchall())


def test_hits_rejects_zero_iters(spark):
    from binaryx_graph_spark.operators.graphalgo import hits_fixed, sql_hits_fixed

    with pytest.raises(ValueError, match="iters"):
        hits_fixed(_edges(spark, [(1, 2)]), iters=0)
    with pytest.raises(ValueError, match="iters"):
        sql_hits_fixed("SELECT 1 AS src, 2 AS dst", iters=0)


def test_bigram_lm_backoff_and_exact_sum(spark):
    """Docs made of one repeated bigram score ~0 bits on the bigram
    term; a doc of unseen-in-table transitions falls back to the
    unigram term and scores strictly higher."""
    from binaryx_graph_spark.operators.textstats import bigram_lm_surprisal

    docs = spark.createDataFrame(
        [(1, "a b a b a b a b"), (2, "a b a b a b a b"), (3, "c a c a c a")],
        "doc_id int, text string",
    )
    # top_m=2 keeps only the dominant (a,b)/(b,a) transitions — doc 3's
    # (c,a)/(a,c) bigrams back off to the rarer-unigram term
    got = {
        r.doc_id: r
        for r in bigram_lm_surprisal(docs, top_m=2).collect()
    }
    assert got[1].n_scored == 7 and got[1].total_q == got[2].total_q
    assert got[3].avg_bits_per_token > got[1].avg_bits_per_token


def test_betweenness_known_path(spark):
    """Path 1→2→3→4 plus spur 1→5: brokers are 2 and 3.  Hand-computed
    Brandes with depth≤3 from all out-degree sources {1,2,3}: δ-deps
    give node2 = 2·SCALE (from source 1) and node3 = SCALE (source 1)
    + SCALE (source 2)."""
    from binaryx_graph_spark.operators.graphalgo import (
        BETWEENNESS_SCALE,
        betweenness_sampled,
    )

    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (1, 5)])
    got = {r.node: r.bc_fp for r in betweenness_sampled(e).collect()}
    assert got == {2: 2 * BETWEENNESS_SCALE, 3: 2 * BETWEENNESS_SCALE}


def test_betweenness_matches_unrolled_oracle(spark):
    """Bit-exact parity with the DuckDB forward/backward CTE twin on a
    graph with converging shortest paths (σ > 1)."""
    import duckdb

    from binaryx_graph_spark.operators.graphalgo import (
        betweenness_sampled,
        sql_betweenness_sampled,
    )

    pairs = [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (4, 6), (5, 7), (2, 3)]
    got = {
        r.node: r.bc_fp
        for r in betweenness_sampled(_edges(spark, pairs)).collect()
    }
    vals = ", ".join(f"({s}, {d})" for s, d in pairs)
    sql = sql_betweenness_sampled(f"SELECT * FROM (VALUES {vals}) AS t(src, dst)")
    want = {int(n): int(b) for n, b in duckdb.sql(sql).fetchall()}
    assert got == want and want  # non-empty
