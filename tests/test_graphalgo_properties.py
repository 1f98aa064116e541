"""Property-based graph-algorithm tests (hypothesis): random small
digraphs → triangle counts equal a brute-force Python reference, and
fixed-point PageRank tracks an exact-model float reference within
quantization error.  Few examples (Spark round-trip per example), wide
input variety."""

from __future__ import annotations

import itertools
import os
import sys

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from binaryx_graph_spark.operators.graphalgo import (
    PAGERANK_SCALE,
    pagerank_fixed,
    triangle_counts,
)

_edge = st.tuples(
    st.integers(min_value=0, max_value=7), st.integers(min_value=0, max_value=7)
)
_edges = st.lists(_edge, min_size=1, max_size=20)

_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _brute_triangles(pairs):
    und = {tuple(sorted(e)) for e in pairs if e[0] != e[1]}
    nodes = sorted({v for e in und for v in e})
    counts: dict[int, int] = {}
    for a, b, c in itertools.combinations(nodes, 3):
        if (
            (a, b) in und
            and (b, c) in und
            and (a, c) in und
        ):
            for v in (a, b, c):
                counts[v] = counts.get(v, 0) + 1
    return counts


def _float_pagerank(pairs, iters=3):
    """Exact-model float reference: same damping, same dangling-drop,
    REAL division instead of the fixed-point floor."""
    edges = sorted(set(pairs))
    nodes = sorted({v for e in edges for v in e})
    outdeg: dict[int, int] = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        inflow = {v: 0.0 for v in nodes}
        for s, d in edges:
            inflow[d] += rank[s] / outdeg[s]
        rank = {v: 0.15 / n + 0.85 * inflow[v] for v in nodes}
    return rank


@_SETTINGS
@given(_edges)
def test_triangle_counts_match_brute_force(spark, pairs):
    df = spark.createDataFrame(pairs, "src long, dst long")
    got = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert got == _brute_triangles(pairs)


@_SETTINGS
@given(_edges)
def test_pagerank_tracks_float_reference(spark, pairs):
    df = spark.createDataFrame(pairs, "src long, dst long")
    got = {
        r.node: r.rank_fp / PAGERANK_SCALE
        for r in pagerank_fixed(df, iters=3).collect()
    }
    ref = _float_pagerank(pairs, iters=3)
    assert set(got) == set(ref)
    for v in got:
        # fixed-point floor loses < (iters · max_outdeg) quanta of 1e-12
        # plus the int division of the damping term — far below 1e-6
        assert abs(got[v] - ref[v]) < 1e-6, (v, got[v], ref[v])


# ---------------------------------------- betweenness (r4) differential


def _py_betweenness(pairs, n_sources=8, max_depth=3, scale=None):
    """Independent fixed-point Brandes with the operator's exact rules:
    top-out-degree sources (id tie-break), BFS levels with sigma sums,
    backward delta with per-term floor, absent-successor delta = 0."""
    from collections import Counter, defaultdict

    from binaryx_graph_spark.operators.graphalgo import BETWEENNESS_SCALE

    scale = scale or BETWEENNESS_SCALE
    edges = sorted(set(pairs))
    adj = defaultdict(list)
    outdeg = Counter()
    for s, d in edges:
        adj[s].append(d)
        outdeg[s] += 1
    sources = [s for s, _ in sorted(outdeg.items(), key=lambda kv: (-kv[1], kv[0]))][:n_sources]
    bc = Counter()
    for src in sources:
        levels = [{src: 1}]
        seen = {src}
        for _ in range(max_depth):
            nxt = Counter()
            for v, sg in levels[-1].items():
                for w in adj[v]:
                    if w not in seen:
                        nxt[w] += sg
            nxt = dict(nxt)
            levels.append(nxt)
            seen |= set(nxt)
        delta = {v: 0 for v in levels[max_depth]}
        for d in range(max_depth - 1, 0, -1):
            nd = {}
            for v, sg in levels[d].items():
                t = 0
                hit = False
                for w in adj[v]:
                    if w in levels[d + 1]:
                        hit = True
                        t += (sg * (scale + delta.get(w, 0))) // levels[d + 1][w]
                if hit:
                    nd[v] = t
                    bc[v] += t
            delta = nd
    return {v: c for v, c in bc.items() if c > 0}


@settings(max_examples=20, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=3,
        max_size=25,
    )
)
def test_betweenness_matches_python_reference(spark, pairs):
    from binaryx_graph_spark.operators.graphalgo import betweenness_sampled

    # self-loops stay in: inert in BFS (target already visited) and in
    # the backward pass (v cannot sit on two levels) — both sides agree
    e = spark.createDataFrame(pairs, "src long, dst long")
    got = {r.node: r.bc_fp for r in betweenness_sampled(e).collect()}
    assert got == _py_betweenness(pairs), f"pairs={sorted(set(pairs))}"


def test_scc_bounded_matches_tarjan(spark):
    """scc_bounded vs an independent iterative Tarjan on 15 random
    digraphs with self-loops/cycles — exact because max_depth=6 covers
    every path on <= 6 nodes."""
    import random

    from binaryx_graph_spark.operators.graphalgo import scc_bounded

    rng = random.Random(20260814)
    for _case in range(15):
        n = rng.randint(2, 6)
        m = rng.randint(2, 12)
        edges = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(m)})
        e = spark.createDataFrame(edges, "src long, dst long")
        got = {r.node: r.scc_id for r in scc_bounded(e, max_depth=6).collect()}

        # iterative Tarjan
        nodes = sorted({v for t in edges for v in t})
        adj = {v: [] for v in nodes}
        for s, d in edges:
            adj[s].append(d)
        index = {}
        low = {}
        on_stack = set()
        stack = []
        sccs = []
        counter = [0]

        def strongconnect(root):
            work = [(root, 0)]
            while work:
                v, pi = work[-1]
                if pi == 0:
                    index[v] = low[v] = counter[0]
                    counter[0] += 1
                    stack.append(v)
                    on_stack.add(v)
                recurse = False
                for i in range(pi, len(adj[v])):
                    w = adj[v][i]
                    if w not in index:
                        work[-1] = (v, i + 1)
                        work.append((w, 0))
                        recurse = True
                        break
                    if w in on_stack:
                        low[v] = min(low[v], index[w])
                if recurse:
                    continue
                if low[v] == index[v]:
                    comp = []
                    while True:
                        w = stack.pop()
                        on_stack.discard(w)
                        comp.append(w)
                        if w == v:
                            break
                    sccs.append(comp)
                work.pop()
                if work:
                    u, _ = work[-1]
                    low[u] = min(low[u], low[v])

        for v in nodes:
            if v not in index:
                strongconnect(v)
        want = {}
        for comp in sccs:
            mid = min(comp)
            for v in comp:
                want[v] = mid
        assert got == want, f"edges={edges}"
        if _case % 3 == 0:
            # strategy equivalence: pivot FW-BW is exact on every graph,
            # so it matches Tarjan (and the bounded pairs result) here
            from binaryx_graph_spark.operators.graphalgo import scc_fwbw

            got_fw = {r.node: r.scc_id for r in scc_fwbw(e).collect()}
            assert got_fw == want, f"fwbw edges={edges}"


def test_scc_fwbw_exact_beyond_bounded_depth(spark):
    """A 12-cycle: depth-6 mutual reachability sees only antipodal
    mutual pairs, but FW-BW (closures to fixpoint) recovers the full
    cycle as ONE component — the exactness the escape hatch buys."""
    from binaryx_graph_spark.operators.graphalgo import scc_bounded, scc_fwbw

    n = 12
    edges = [(i, (i + 1) % n) for i in range(n)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.scc_id for r in scc_fwbw(e).collect()}
    assert got == {v: 0 for v in range(n)}
    # and the bounded estimator genuinely under-approximates here
    bounded = {r.node: r.scc_id for r in scc_bounded(e, max_depth=6).collect()}
    assert bounded != got


def test_scc_fwbw_max_rounds_fallback(spark):
    """max_rounds=1 forces the pair-set fallback on the remainder —
    still exact (two disjoint 3-cycles + an isolated bridge node)."""
    from binaryx_graph_spark.operators.graphalgo import scc_fwbw

    edges = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10), (2, 5), (5, 10)]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.scc_id for r in scc_fwbw(e, max_rounds=1).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 5: 5, 10: 10, 11: 10, 12: 10}


def test_topo_layers_matches_reference(spark):
    """topo_layers vs independent Python longest-path on the condensed
    DAG — 12 random digraphs with cycles."""
    import random
    from functools import lru_cache

    from binaryx_graph_spark.operators.graphalgo import scc_bounded, topo_layers

    rng = random.Random(5150)
    for _case in range(12):
        n = rng.randint(2, 6)
        m = rng.randint(2, 12)
        edges = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(m)})
        e = spark.createDataFrame(edges, "src long, dst long")
        got = {r.node: (r.scc_id, r.layer) for r in topo_layers(e, max_depth=10).collect()}

        scc = {r.node: r.scc_id for r in scc_bounded(e, max_depth=10).collect()}
        cedges = sorted({(scc[s], scc[d]) for s, d in edges if scc[s] != scc[d]})

        @lru_cache(maxsize=None)
        def layer(c):
            preds = [a for a, b in cedges if b == c]
            return 0 if not preds else 1 + max(layer(a) for a in preds)

        want = {v: (scc[v], layer(scc[v])) for v in scc}
        assert got == want, f"edges={edges}"
