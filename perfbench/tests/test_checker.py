"""The independent checker accepts right answers and counts wrong ones."""

from __future__ import annotations

import argparse

import gen
from oracle import GraphOracle, TextOracle
from run import Bench, Op

SPEC = gen.CorpusSpec(n_binaries=3, fns_per_binary=30, cycle_lengths=(2, 3))


def _bench(tmp_path) -> Bench:
    args = argparse.Namespace(seed=1, seconds=0, trace=0)
    return Bench(args, tmp_path)


def _oracle() -> GraphOracle:
    return GraphOracle(gen.make_corpus(1, SPEC))


def _run(bench: Bench, rows, check) -> None:
    bench._once(Op("lookup", "fake", lambda: rows, check, finish=lambda r: r), traced=False)


def test_correct_result_passes_and_corrupted_result_is_counted(tmp_path):
    o = _oracle()
    addr = gen.make_corpus(1, SPEC)[0].functions[3][0]
    rows = sorted(o.xref(addr))
    assert rows, "the chosen address must have cross-references"
    bench = _bench(tmp_path)
    _run(bench, rows, lambda r: o.check_xref(addr, r))
    assert (bench.attempted, bench.failed) == (1, 0)

    corrupted = list(rows)
    s, sn, d, dn, off, ty, kind = corrupted[0]
    corrupted[0] = (s, sn, d, dn, off + "0", ty, kind)
    _run(bench, corrupted, lambda r: o.check_xref(addr, r))
    _run(bench, rows[1:], lambda r: o.check_xref(addr, r))  # a missing row
    assert (bench.attempted, bench.failed) == (3, 2)


def test_an_exception_counts_as_failed(tmp_path):
    bench = _bench(tmp_path)

    def boom():
        raise RuntimeError("engine error")

    bench._once(Op("lookup", "boom", boom, lambda r: None), traced=False)
    assert (bench.attempted, bench.failed) == (1, 1)


def test_graph_answers_on_planted_structure():
    o = _oracle()
    corpus = gen.make_corpus(1, SPEC)
    ids = o.node_ids()
    found = {(u, n) for u, _name, n in o.recursion()}
    scc = o.scc()
    for b in corpus:
        for cyc in b.cycles:
            uids = [f"{b.sha256}:{a}" for a in cyc]
            for u in uids:
                assert (u, len(cyc)) in found
                assert scc[ids[u]] == min(ids[x] for x in uids)
    # every function reached from main at depth 1 is a direct callee
    b = corpus[0]
    main = f"{b.sha256}:{b.functions[0][0]}"
    assert set(o.reachable(main, "out", 1)) == set(o.out[main])
    counts = o.counts()
    assert counts["binaries"] == 3 and counts["contains"] == 90


def test_pagerank_matches_float_reference_within_fixed_point_error():
    o = _oracle()
    edges = o.int_edges()
    nodes = sorted({n for e in edges for n in e})
    deg = {v: sum(1 for s, _ in edges if s == v) for v in nodes}
    rank = {v: 1.0 / len(nodes) for v in nodes}
    for _ in range(5):
        inflow = dict.fromkeys(nodes, 0.0)
        for s, d in edges:
            inflow[d] += rank[s] / deg[s]
        rank = {v: 0.15 / len(nodes) + 0.85 * inflow[v] for v in nodes}
    got = o.pagerank()
    assert all(abs(got[v] / 1e12 - rank[v]) < 1e-9 for v in nodes)


def test_text_checker_counts_a_wrong_pair_and_a_wrong_score():
    docs, planted = gen.make_texts(2, gen.TextSpec(n_docs=150))
    t = TextOracle(docs, planted)
    pairs = sorted(t.near_pairs())
    assert pairs and t.check_near_pairs(pairs) is None
    assert t.planted_found(pairs) > 0.9
    a, b, c, na, nb, j = pairs[0]
    assert t.check_near_pairs([(a, b, c - 1, na, nb, j)] + pairs[1:]) is not None
    ids = sorted(t.docs)
    terms = [w for w in gen.text_vocab()[5:8]]
    top = t.bm25(ids, terms)
    assert top and t.check_bm25(ids, terms, top) is None
    d, s = top[0]
    assert t.check_bm25(ids, terms, [(d, s + 1)] + top[1:]) is not None
