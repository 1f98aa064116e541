"""Independent answer checker.

Computes, in pure Python from the generated corpus, the answer every
benchmark request should return, and compares the rows the engine
returned.  It never imports the engine package: the expected values
follow from the reference semantics (FIXTURES.md §1–§2 for the graph,
the operators' documented contracts for the analytics) applied to the
generator's own records.

Every ``check_*`` method returns ``None`` when the rows are right and a
short reason string when they are wrong; the benchmark counts a reason
as a failed operation.
"""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict, deque

from gen import Binary

#: fixed-point scales and defaults of the analytics operators (their
#: documented output contract)
PAGERANK_SCALE = 10**12
PAGERANK_ITERS = 5
BETWEENNESS_SCALE = 10**6
BETWEENNESS_SOURCES = 8
BETWEENNESS_DEPTH = 3
SCC_DEPTH = 6
RECURSION_DEPTH = 10
MINHASH_N = 3
MINHASH_THRESHOLD = 0.5
MINHASH_HASHES = 12
MINHASH_BANDS = 4
MINHASH_SLICE = 5
BM25_K1 = 1.2
BM25_B = 0.75
BM25_SCALE = float(1 << 12)
BM25_K = 10

_CALL_TYPES = {"indirect": "Indirect", "virtual": "Virtual", "tail": "Tail"}

def string_uid(value: str) -> str:
    return "str:" + hashlib.sha256(value.encode()).hexdigest()


class GraphOracle:
    """The expected warehouse after one bulk ingest of ``binaries``."""

    def __init__(self, binaries: list[Binary]):
        self.binaries: dict[str, str] = {}  # hash -> filename
        self.functions: dict[str, tuple[str, str, str, int]] = {}  # uid -> name,type,address,size
        self.strings: dict[str, str] = {}
        self.libraries: set[str] = set()
        self.contains: set[tuple[str, str]] = set()
        self.imports: dict[tuple[str, str], str] = {}  # (binary, uid) -> IAT address
        self.imports_library: set[tuple[str, str]] = set()
        self.belongs_to: set[tuple[str, str]] = set()
        self.calls: dict[tuple[str, str], tuple[str, str]] = {}  # (src, dst) -> offset, type
        self.contains_string: set[tuple[str, str, str]] = set()
        for b in binaries:
            self._add(b)
        self.out: dict[str, list[str]] = defaultdict(list)
        self.inc: dict[str, list[str]] = defaultdict(list)
        for s, d in sorted(self.calls):
            self.out[s].append(d)
            self.inc[d].append(s)
        self.string_binaries: dict[str, set[str]] = defaultdict(set)
        for h, su, _ in self.contains_string:
            self.string_binaries[su].add(h)

    def _add(self, b: Binary) -> None:
        h = b.sha256
        self.binaries[h] = b.name
        addr_map: dict[str, str] = {}
        for addr, name, size in b.functions:
            uid = f"{h}:{addr}"
            self.functions[uid] = (name, "Internal", addr, size)
            self.contains.add((h, uid))
            addr_map[addr] = uid
        for lib, name, iat in b.imports:
            lib = lib.lower()
            uid = f"imp:{lib}:{name}"
            self.functions[uid] = (name, "Import", "", -1)
            self.libraries.add(lib)
            self.imports[(h, uid)] = iat
            self.imports_library.add((h, lib))
            self.belongs_to.add((uid, lib))
            addr_map[iat] = uid
        for name, addr in b.exports:
            uid = f"{h}:{addr}"
            self.functions[uid] = (name, "Export", addr, -1)
            addr_map.setdefault(addr, uid)
        for value, addr in b.strings:
            su = string_uid(value)
            self.strings[su] = value
            self.contains_string.add((h, su, addr))
        for src, dst, off, ty in b.calls:
            s, d = addr_map.get(src), addr_map.get(dst)
            if s is not None and d is not None:
                self.calls[(s, d)] = (off, _CALL_TYPES.get(ty.lower(), "Direct"))

    # ------------------------------------------------------------ helpers
    def seeds(self, function: str) -> list[str]:
        return sorted(
            u for u, (name, *_rest) in self.functions.items() if name == function or u == function
        )

    def name(self, uid: str) -> str:
        return self.functions[uid][0]

    def counts(self) -> dict[str, int]:
        return {
            "binaries": len(self.binaries),
            "functions": len(self.functions),
            "strings": len(self.strings),
            "libraries": len(self.libraries),
            "contains": len(self.contains),
            "imports": len(self.imports),
            "imports_library": len(self.imports_library),
            "belongs_to": len(self.belongs_to),
            "calls": len(self.calls),
            "contains_string": len(self.contains_string),
        }

    # ------------------------------------------------------------ lookups
    def search_strings(self, pattern: str, limit: int = 100) -> list[tuple]:
        toks = [t.lower() for t in pattern.split()]
        hits = []
        for su, value in self.strings.items():
            low = value.lower()
            if all(t in low for t in toks) and self.string_binaries.get(su):
                score = float(sum(low.count(t) for t in toks))
                hits.append((su, value, score, len(self.string_binaries[su])))
        hits.sort(key=lambda r: (-r[2], r[0]))
        return hits[:limit]

    def search_functions(self, pattern: str, limit: int = 100) -> list[str]:
        hits = sorted(
            u for u, (name, *_r) in self.functions.items() if pattern in name or pattern in u
        )
        return hits[: min(100, limit)]

    def xref(self, address: str) -> set[tuple]:
        out = set()
        for (s, d), (off, ty) in self.calls.items():
            fs, fd = self.functions.get(s), self.functions.get(d)
            if fs is None or fd is None:
                continue
            if fs[2] == address or fd[2] == address:
                out.add((s, fs[0], d, fd[0], off, ty, "call"))
        return out

    def call_sequences(self, function: str) -> set[tuple]:
        rows = set()
        for t in self.seeds(function):
            edges = sorted(
                (self.calls[(t, d)][0], d) for d in self.out.get(t, ()) if d in self.functions
            )
            for order, (off, d) in enumerate(edges, start=1):
                rows.add((t, d, self.name(d), off, self.calls[(t, d)][1], order))
        return rows

    # ---------------------------------------------------------- traversal
    def reachable(self, function: str, direction: str, max_depth: int) -> dict[str, int]:
        """Min-depth BFS; the visited set starts empty, so a seed on a
        short cycle is reported too (Cypher ``*1..N`` DISTINCT)."""
        adj = self.out if direction == "out" else self.inc
        frontier = set(self.seeds(function))
        visited: dict[str, int] = {}
        for depth in range(1, max_depth + 1):
            nxt = {w for v in frontier for w in adj.get(v, ())} - visited.keys()
            if not nxt:
                break
            for w in nxt:
                visited[w] = depth
            frontier = nxt
        return visited

    def paths(self, function: str, max_depth: int) -> list[tuple]:
        """Every path of 1..max_depth edges, no edge repeated →
        (start, end, names, offsets, length)."""
        out = []
        stack = []
        for s in self.seeds(function):
            stack.append((s, s, (self.name(s),), (), frozenset()))
        while stack:
            start, end, names, offs, used = stack.pop()
            if len(offs) >= max_depth:
                continue
            for w in self.out.get(end, ()):
                if (end, w) in used or w not in self.functions:
                    continue
                p = (start, w, names + (self.name(w),), offs + (self.calls[(end, w)][0],),
                     used | {(end, w)})
                out.append((p[0], p[1], p[2], p[3], len(p[3])))
                stack.append(p)
        return out

    def longest_paths(self, function: str, max_depth: int, k: int = 10) -> list[tuple]:
        rows = [("→".join(names), n) for _s, _e, names, _o, n in self.paths(function, max_depth)]
        rows.sort(key=lambda r: (-r[1], r[0].encode()))
        return rows[:k]

    # ---------------------------------------------------------- analytics
    def recursion(self, max_depth: int = RECURSION_DEPTH) -> set[tuple]:
        """(uid, name, shortest cycle length): 1 for a self-call, else the
        shortest cycle of length 2..max_depth through the function."""
        best: dict[str, int] = {}
        for (s, d) in self.calls:
            if s == d:
                best[s] = 1
        for comp in self._sccs():
            if len(comp) < 2:
                continue
            members = set(comp)
            for v in comp:
                dist = self._bfs(v, members, max_depth, skip_loops=True)
                back = [dist[u] + 1 for u in members if u in dist and v in self.out.get(u, ()) and u != v]
                if back and min(back) <= max_depth:
                    best[v] = min(best.get(v, max_depth), min(back))
        return {(u, self.name(u), n) for u, n in best.items() if u in self.functions}

    def _bfs(self, src: str, members: set[str], max_depth: int, skip_loops: bool = False) -> dict[str, int]:
        dist = {src: 0}
        q = deque([src])
        while q:
            v = q.popleft()
            if dist[v] >= max_depth:
                continue
            for w in self.out.get(v, ()):
                if skip_loops and w == v:
                    continue
                if w in members and w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
        return dist

    def _sccs(self) -> list[list[str]]:
        """Tarjan, iterative, over every call-graph node."""
        nodes = sorted({n for e in self.calls for n in e})
        index: dict[str, int] = {}
        low: dict[str, int] = {}
        on_stack: set[str] = set()
        stack: list[str] = []
        comps: list[list[str]] = []
        counter = 0
        for root in nodes:
            if root in index:
                continue
            work = [(root, 0)]
            while work:
                v, i = work.pop()
                if i == 0:
                    index[v] = low[v] = counter
                    counter += 1
                    stack.append(v)
                    on_stack.add(v)
                succ = self.out.get(v, [])
                recurse = False
                while i < len(succ):
                    w = succ[i]
                    i += 1
                    if w not in index:
                        work.append((v, i))
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
                    comps.append(comp)
                if work:
                    u = work[-1][0]
                    low[u] = min(low[u], low[v])
        return comps

    def node_ids(self) -> dict[str, int]:
        """Dense integer ids for the call-graph analytics (sorted uid order)."""
        return {u: i for i, u in enumerate(sorted(self.functions))}

    def int_edges(self) -> set[tuple[int, int]]:
        ids = self.node_ids()
        return {(ids[s], ids[d]) for s, d in self.calls}

    def pagerank(self) -> dict[int, int]:
        """Exact int64 fixed-point PageRank (d = 0.85, dangling mass dropped)."""
        edges = self.int_edges()
        nodes = {n for e in edges for n in e}
        if not nodes:
            return {}
        deg: dict[int, int] = defaultdict(int)
        for s, _ in edges:
            deg[s] += 1
        init = PAGERANK_SCALE // len(nodes)
        base = (15 * init) // 100
        rank = dict.fromkeys(nodes, init)
        for _ in range(PAGERANK_ITERS):
            inflow: dict[int, int] = defaultdict(int)
            for s, d in edges:
                inflow[d] += rank[s] // deg[s]
            rank = {v: base + (85 * inflow.get(v, 0)) // 100 for v in nodes}
        return rank

    def scc(self) -> dict[int, int]:
        """node -> min id of the nodes mutually reachable within SCC_DEPTH."""
        ids = self.node_ids()
        out = {}
        for comp in self._sccs():
            members = set(comp)
            for v in comp:
                fwd = self._bfs(v, members, SCC_DEPTH)
                mutual = [ids[w] for w in fwd if v in self._bfs(w, members, SCC_DEPTH)]
                out[ids[v]] = min(mutual)
        return out

    def betweenness(self) -> dict[int, int]:
        """Sampled-source, depth-bounded Brandes in int64 fixed point."""
        edges = sorted(self.int_edges())
        adj: dict[int, list[int]] = defaultdict(list)
        for s, d in edges:
            adj[s].append(d)
        sources = sorted(adj, key=lambda v: (-len(adj[v]), v))[:BETWEENNESS_SOURCES]
        levels: list[dict[tuple[int, int], int]] = [{(s, s): 1 for s in sources}]
        visited = set(levels[0])
        for _ in range(BETWEENNESS_DEPTH):
            nxt: dict[tuple[int, int], int] = defaultdict(int)
            for (s, v), sigma in levels[-1].items():
                for w in adj.get(v, ()):
                    nxt[(s, w)] += sigma
            lvl = {k: x for k, x in nxt.items() if k not in visited}
            levels.append(lvl)
            visited |= lvl.keys()
        delta: dict[tuple[int, int], int] = dict.fromkeys(levels[BETWEENNESS_DEPTH], 0)
        bc: dict[int, int] = defaultdict(int)
        for d in range(BETWEENNESS_DEPTH - 1, 0, -1):
            cur, nxt_lvl = levels[d], levels[d + 1]
            new_delta: dict[tuple[int, int], int] = {}
            for (s, v), sigma in cur.items():
                terms = [
                    (sigma * (BETWEENNESS_SCALE + delta.get((s, w), 0))) // nxt_lvl[(s, w)]
                    for w in adj.get(v, ())
                    if (s, w) in nxt_lvl
                ]
                if terms:
                    new_delta[(s, v)] = sum(terms)
            delta = new_delta
            for (_s, v), x in delta.items():
                bc[v] += x
        return {v: x for v, x in bc.items() if x > 0}

    # ------------------------------------------------------------- checks
    def check_stats(self, rows: list[tuple[str, int]]) -> str | None:
        got = dict(rows)
        want = self.counts()
        if got != want:
            diff = {k: (got.get(k), v) for k, v in want.items() if got.get(k) != v}
            return f"stats mismatch (got, want): {diff}"
        return None

    def check_search_strings(self, pattern: str, rows: list[tuple]) -> str | None:
        want = self.search_strings(pattern)
        got = [(u, v, float(s), int(n)) for u, v, s, n in rows]
        return None if got == want else f"search_strings({pattern!r}): {len(got)} rows, want {len(want)}"

    def check_search_functions(self, pattern: str, uids: list[str]) -> str | None:
        want = self.search_functions(pattern)
        return None if list(uids) == want else f"search_functions({pattern!r}) mismatch"

    def check_xref(self, address: str, rows: list[tuple]) -> str | None:
        want = self.xref(address)
        got = [tuple(r) for r in rows]
        if len(got) != len(set(got)) or set(got) != want:
            return f"xref({address}): {len(got)} rows, want {len(want)}"
        return None

    def check_call_sequences(self, function: str, rows: list[tuple]) -> str | None:
        want = self.call_sequences(function)
        got = [tuple(r) for r in rows]
        if len(got) != len(want) or set(got) != want:
            return f"call_sequences({function}): {len(got)} rows, want {len(want)}"
        return None

    def check_reachable(self, function: str, direction: str, depth: int, rows: list[tuple]) -> str | None:
        want = self.reachable(function, direction, depth)
        got = dict(rows)
        if len(got) != len(rows) or got != want:
            return f"reachable({function}, {direction}, {depth}): {len(rows)} rows, want {len(want)}"
        return None

    def check_reach_set(self, function: str, direction: str, depth: int, uids: list[str]) -> str | None:
        want = set(self.reachable(function, direction, depth))
        if len(uids) != len(set(uids)) or set(uids) != want:
            return f"cypher reach({function}, {direction}): {len(uids)} rows, want {len(want)}"
        return None

    def check_paths(self, function: str, depth: int, rows: list[tuple]) -> str | None:
        want = sorted(self.paths(function, depth))
        got = sorted((s, e, tuple(n), tuple(o), int(k)) for s, e, n, o, k in rows)
        return None if got == want else f"paths({function}): {len(got)} rows, want {len(want)}"

    def check_longest(self, function: str, depth: int, rows: list[tuple]) -> str | None:
        want = self.longest_paths(function, depth)
        got = [(p, int(n)) for p, n in rows]
        return None if got == want else f"longest_paths({function}) mismatch"

    def check_function_search_limit(self, pattern: str, uids: list[str], limit: int) -> str | None:
        allm = set(
            u for u, (name, *_r) in self.functions.items() if pattern in name or pattern in u
        )
        if len(uids) != min(limit, len(allm)) or len(set(uids)) != len(uids) or not set(uids) <= allm:
            return f"cypher function search({pattern!r}): {len(uids)} rows"
        return None

    def check_recursion(self, rows: list[tuple]) -> str | None:
        want = self.recursion()
        got = [(u, n, int(c)) for u, n, c in rows]
        if len(got) != len(want) or set(got) != want:
            return f"recursion: {len(got)} rows, want {len(want)}"
        return None

    def check_pagerank(self, rows: list[tuple]) -> str | None:
        want = self.pagerank()
        got = {int(n): int(r) for n, r in rows}
        return None if len(rows) == len(want) and got == want else "pagerank mismatch"

    def check_scc(self, rows: list[tuple]) -> str | None:
        want = self.scc()
        got = {int(n): int(c) for n, c in rows}
        return None if len(rows) == len(want) and got == want else "scc mismatch"

    def check_betweenness(self, rows: list[tuple]) -> str | None:
        want = self.betweenness()
        got = {int(n): int(b) for n, b in rows}
        return None if len(rows) == len(want) and got == want else "betweenness mismatch"


# --------------------------------------------------------------- text pass


def _shingles(text: str, n: int = MINHASH_N) -> set[str]:
    toks = [t for t in text.lower().split() if t]
    if len(toks) < n:
        return set()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


class TextOracle:
    """Expected outputs of the text pass: MinHash-LSH near-duplicate
    pairs (banding replayed exactly, then exact Jaccard), exact-duplicate
    groups of what remains, and BM25 top-k over the canonical documents."""

    def __init__(self, docs: list[tuple[int, str]], planted: dict):
        self.docs = dict(docs)
        self.planted = planted
        self.sh = {d: _shingles(t) for d, t in docs}

    def _bands(self, doc_id: int) -> list[str]:
        sh = self.sh[doc_id]
        if not sh:
            return []
        digests = [hashlib.sha256(s.encode()).hexdigest() for s in sh]
        sig = [
            min(dg[k * MINHASH_SLICE : (k + 1) * MINHASH_SLICE] for dg in digests)
            for k in range(MINHASH_HASHES)
        ]
        rows = MINHASH_HASHES // MINHASH_BANDS
        return [
            hashlib.sha256("".join(sig[b * rows : (b + 1) * rows]).encode()).hexdigest()
            for b in range(MINHASH_BANDS)
        ]

    def near_pairs(self) -> set[tuple]:
        buckets: dict[tuple[int, str], list[int]] = defaultdict(list)
        for d in sorted(self.docs):
            for b, h in enumerate(self._bands(d)):
                buckets[(b, h)].append(d)
        cand = set()
        for ids in buckets.values():
            for i, a in enumerate(ids):
                for b in ids[i + 1 :]:
                    cand.add((a, b))
        out = set()
        for a, b in cand:
            na, nb = len(self.sh[a]), len(self.sh[b])
            nc = len(self.sh[a] & self.sh[b])
            j = nc / (na + nb - nc)
            if j >= MINHASH_THRESHOLD:
                out.add((a, b, nc, na, nb, j))
        return out

    def exact_groups(self, remaining: list[int]) -> set[tuple]:
        groups: dict[str, list[int]] = defaultdict(list)
        for d in remaining:
            groups[hashlib.sha256(self.docs[d].encode()).hexdigest()].append(d)
        return {(h, len(ids), min(ids)) for h, ids in groups.items()}

    def bm25(self, doc_ids: list[int], terms: list[str], k: int = BM25_K) -> list[tuple]:
        qterms = sorted(set(terms))
        per_doc = []
        for d in doc_ids:
            toks = [t for t in self.docs[d].lower().split() if t]
            per_doc.append((d, len(toks), [toks.count(t) for t in qterms]))
        n = len(per_doc)
        if n == 0:
            return []
        avgdl = sum(dl for _, dl, _ in per_doc) / n
        dfs = [sum(1 for _, _, tfs in per_doc if tfs[i] > 0) for i in range(len(qterms))]
        if not any(dfs):
            return []
        idf = [
            int(math.floor(math.log(((n - df) + 0.5) / (df + 0.5) + 1.0) * BM25_SCALE + 0.5))
            if df > 0
            else 0
            for df in dfs
        ]
        k1, b = BM25_K1, BM25_B
        scored = []
        for d, dl, tfs in per_doc:
            if not any(tf > 0 for tf in tfs):
                continue
            total = 0
            for tf, w in zip(tfs, idf):
                total += int(
                    math.floor(
                        w * ((tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + (b * dl) / avgdl))) + 0.5
                    )
                )
            scored.append((d, total))
        scored.sort(key=lambda r: (-r[1], r[0]))
        return scored[:k]

    def check_near_pairs(self, rows: list[tuple]) -> str | None:
        want = self.near_pairs()
        got = [(int(a), int(b), int(c), int(x), int(y), float(j)) for a, b, c, x, y, j in rows]
        if len(got) != len(want) or set(got) != want:
            return f"minhash pairs: {len(got)} rows, want {len(want)}"
        return None

    def check_exact_groups(self, remaining: list[int], rows: list[tuple]) -> str | None:
        want = self.exact_groups(remaining)
        got = [(h, int(n), int(c)) for h, n, c in rows]
        if len(got) != len(want) or set(got) != want:
            return f"exact dedup: {len(got)} groups, want {len(want)}"
        return None

    def check_bm25(self, doc_ids: list[int], terms: list[str], rows: list[tuple]) -> str | None:
        want = self.bm25(doc_ids, terms)
        got = [(int(d), int(s)) for d, s in rows]
        return None if got == want else f"bm25 top-{BM25_K}: got {got[:3]}…, want {want[:3]}…"

    def planted_found(self, rows: list[tuple]) -> float:
        """Planted duplicate pairs found, over planted pairs."""
        planted = {tuple(sorted(p)) for p in self.planted["near"] + self.planted["exact"]}
        found = {(int(r[0]), int(r[1])) for r in rows}
        return len(planted & found) / len(planted) if planted else 1.0
