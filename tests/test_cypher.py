"""Cypher-subset compiler: semantics against the micro-graph fixture
(row-per-relationship multiplicity, direction, varlen bounds, params,
label inference, loud rejections)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from binaryx_graph_spark.cypher import cypher
from binaryx_graph_spark.operators.traverse import enumerate_paths
from binaryx_graph_spark.queries.ingest_demo import graph_tables


@pytest.fixture(scope="module")
def t(spark):
    return graph_tables(spark)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_count_nodes_and_edges(spark, t):
    assert cypher(t, "MATCH (f:Function) RETURN count(f) AS n").head()["n"] == 6
    assert cypher(t, "MATCH ()-[r:CALLS]->() RETURN count(*) AS n").head()["n"] == 5


def test_direction_and_reverse_equal(spark, t):
    fwd = cypher(t, "MATCH (b:Binary)-[:CONTAINS]->(f:Function) RETURN b.hash AS h, f.uid AS u")
    rev = cypher(t, "MATCH (f:Function)<-[:CONTAINS]-(b:Binary) RETURN b.hash AS h, f.uid AS u")
    assert _rows(fwd) == _rows(rev) and len(_rows(fwd)) > 0


def test_multi_type_row_per_relationship(spark, t):
    """CONTAINS|IMPORTS emits one row PER relationship (Cypher
    multiplicity), so the union count equals the sum of both edges."""
    u = cypher(t, "MATCH (b:Binary)-[:CONTAINS|IMPORTS]->(f:Function) RETURN count(*) AS n").head()["n"]
    c = cypher(t, "MATCH (b:Binary)-[:CONTAINS]->(f:Function) RETURN count(*) AS n").head()["n"]
    i = cypher(t, "MATCH (b:Binary)-[:IMPORTS]->(f:Function) RETURN count(*) AS n").head()["n"]
    assert u == c + i


def test_varlen_depth_bounds(spark, t):
    # main -> helper, CreateFileA (1); -> worker via helper (2)
    d1 = cypher(t, "MATCH (a:Function {name: 'main'})-[:CALLS*1..1]->(b:Function) RETURN DISTINCT b.name AS n")
    d2 = cypher(t, "MATCH (a:Function {name: 'main'})-[:CALLS*1..2]->(b:Function) RETURN DISTINCT b.name AS n")
    only2 = cypher(t, "MATCH (a:Function {name: 'main'})-[:CALLS*2..2]->(b:Function) RETURN DISTINCT b.name AS n")
    assert {r.n for r in d1.collect()} == {"helper", "CreateFileA"}
    assert {r.n for r in d2.collect()} == {"helper", "CreateFileA", "worker"}
    assert {r.n for r in only2.collect()} == {"worker"}


def test_params_and_property_map(spark, t):
    got = cypher(
        t,
        "MATCH (b:Binary {filename: $fn})-[:CONTAINS]->(f:Function) RETURN f.name AS n",
        params={"fn": "mal_a.exe"},
    )
    assert {r.n for r in got.collect()} == {"main", "helper", "worker"}


def test_multiple_match_shared_variable(spark, t):
    got = cypher(
        t,
        """
        MATCH (b:Binary)-[:CONTAINS]->(f:Function)
        MATCH (f)-[:CALLS]->(g:Function)
        WHERE g.name = 'worker'
        RETURN DISTINCT f.name AS caller ORDER BY caller
        """,
    )
    assert [r.caller for r in got.collect()] == ["helper", "worker"]


def test_edge_property_access(spark, t):
    got = cypher(
        t,
        "MATCH (b:Binary)-[i:IMPORTS]->(f:Function) WHERE i.address <> '' "
        "RETURN DISTINCT f.name AS n, i.address AS a",
    )
    rows = got.collect()
    assert all(r.n == "CreateFileA" for r in rows) and rows


def test_anonymous_label_inference(spark, t):
    # (s) gets String inferred from CONTAINS_STRING's endpoint
    got = cypher(t, "MATCH (b:Binary)-[:CONTAINS_STRING]->(s) RETURN DISTINCT s.value AS v")
    assert "Pay Bitcoin" in {r.v for r in got.collect()}


def test_rejections(spark, t):
    for bad in [
        "MATCH (a)-[:CALLS]-(b) RETURN a.name AS n",          # undirected
        "MATCH (a:Nope) RETURN a.x AS x",                     # unknown label
        "MATCH (a:Function) RETURN a.name AS n EXTRA",        # trailing input
        "MATCH (a:Function)-[:CONTAINS|CALLS]->(b) RETURN b.name AS n",  # mixed endpoints
        "MATCH (a:Function)-[:CONTAINS]->(a) RETURN a.name AS n",  # relabel clash
        "MATCH (a:Function) RETURN a.name AS n ORDER BY a.uid",  # order by unreturned
        "MATCH (a:Function)-[:IMPORTS*1..2]->(b) RETURN b.name AS n",  # varlen non-CALLS
    ]:
        with pytest.raises(ValueError):
            cypher(t, bad).collect()
    with pytest.raises(ValueError):
        cypher(t, "MATCH (b:Binary {hash: $h}) RETURN b.hash AS h")  # missing param


def test_implicit_grouping(spark, t):
    got = cypher(
        t,
        "MATCH (caller:Function)-[:CALLS]->(callee:Function) "
        "RETURN caller.name AS caller, count(*) AS n ORDER BY caller",
    )
    assert [(r.caller, r.n) for r in got.collect()] == [
        ("helper", 1), ("main", 2), ("worker", 2),
    ]


def test_cli_cypher_query(spark, tmp_path, capsys):
    from binaryx_graph_spark.cli import main

    from .fixtures import write_fixture

    d = write_fixture(tmp_path / "in")
    root = str(tmp_path / "wh")
    assert main(["--warehouse", root, "import", "directory", d]) == 0
    capsys.readouterr()
    assert main([
        "--warehouse", root, "--format", "json", "query", "cypher",
        "MATCH (b:Binary)-[:CONTAINS]->(f:Function) WHERE b.filename CONTAINS $fn "
        "RETURN DISTINCT f.name AS name ORDER BY name",
        "--param", "fn=mal_a",
    ]) == 0
    out = capsys.readouterr().out
    assert '"name": "helper"' in out and '"name": "main"' in out


def test_optional_match_left_join(spark, t):
    r = cypher(
        t,
        """
        MATCH (f:Function)
        OPTIONAL MATCH (f)-[:CALLS]->(g:Function)
        RETURN f.name AS fn, count(g) AS n_callees
        ORDER BY fn
        """,
    ).collect()
    got = sorted((x.fn, x.n_callees) for x in r)
    # CreateFileA/exported_fn call nothing but still appear (left join)
    assert ("CreateFileA", 0) in got and ("main", 2) in got

    r2 = cypher(
        t,
        """
        MATCH (f:Function)
        OPTIONAL MATCH (f)-[:BELONGS_TO]->(l:Library)
        RETURN DISTINCT f.name AS fn, l.name AS lib ORDER BY fn
        """,
    ).collect()
    by_fn = {x.fn: x.lib for x in r2}
    assert by_fn["CreateFileA"] == "kernel32" and by_fn["main"] is None

def test_optional_match_unanchored_cartesian(spark, t):
    """An OPTIONAL MATCH sharing no variable is Cypher's optional
    cartesian: outer rows pair with every arm match (6 functions × 5
    call edges), and with an always-false arm every outer row survives
    once with NULLs."""
    r = cypher(
        t,
        "MATCH (f:Function) OPTIONAL MATCH (g:Function)-[:CALLS]->(h:Function) "
        "RETURN f.name AS n, g.name AS caller",
    ).collect()
    assert len(r) == 6 * 5 and all(x.caller is not None for x in r)
    empty = cypher(
        t,
        "MATCH (f:Function) OPTIONAL MATCH (g:Function)-[:CALLS]->(h:Function) "
        "WHERE g.name = 'no_such_fn' RETURN f.name AS n, g.name AS caller",
    ).collect()
    assert len(empty) == 6 and all(x.caller is None for x in empty)


def test_optional_match_multi_anchor_edge_exists(spark, t):
    """OPTIONAL MATCH re-using BOTH endpoints tests relationship
    existence per outer row (Neo4j multiplicity: one row per matching
    relationship; rows without the CONTAINS edge keep going)."""
    r = cypher(
        t,
        """
        MATCH (b:Binary)-[:CONTAINS|IMPORTS]->(f:Function)
        OPTIONAL MATCH (b)-[:CONTAINS]->(f)
        RETURN b.filename AS bin, f.name AS fn
        ORDER BY bin, fn
        """,
    ).collect()
    # every scoped (binary, function) row survives — the optional
    # existence probe adds no columns and drops nothing
    base = cypher(
        t,
        "MATCH (b:Binary)-[:CONTAINS|IMPORTS]->(f:Function) "
        "RETURN b.filename AS bin, f.name AS fn ORDER BY bin, fn",
    ).collect()
    assert [(x.bin, x.fn) for x in r] == [(x.bin, x.fn) for x in base]


def test_optional_match_correlated_where_rejected(spark, t):
    """A WHERE in the optional arm referencing an OUTER variable is
    out of subset — rejected loudly, never silently mis-scoped."""
    with pytest.raises(ValueError):
        cypher(
            t,
            "MATCH (f:Function) OPTIONAL MATCH (g:Function)-[:CALLS]->(h:Function) "
            "WHERE h.name = f.name RETURN f.name AS n",
        ).collect()


def test_compiled_plan_quality(spark, t):
    """Compiled Cypher gets Catalyst treatment like native DataFrames:
    the scoped-search join broadcasts, and nothing degenerates into a
    cartesian product."""
    df = cypher(
        t,
        """
        MATCH (b:Binary)-[:CONTAINS|IMPORTS]->(f:Function)
        WHERE f.name CONTAINS 'elp' AND b.filename CONTAINS 'mal_a'
        RETURN f.uid AS uid, f.name AS name
        """,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_any_label_and_untyped_edges(spark, t):
    """The export-query devices: (n) matches every node table, [r]
    every relationship, type(r)/labels(n) and .key/.label pseudo-props."""
    assert cypher(t, "MATCH (n) RETURN count(n) AS n").head()["n"] == 12
    ex = cypher(
        t, "MATCH (n) OPTIONAL MATCH (n)-[r]->(m) RETURN n, type(r) AS rel_type, m"
    ).collect()
    # every node appears; nodes without out-edges carry NULL rel_type
    assert {x.rel_type for x in ex} >= {"CALLS", "CONTAINS", None}
    assert len([x for x in ex if x.rel_type is None]) > 0
    libs = cypher(
        t, "MATCH (n) WHERE n.label = 'Library' RETURN n.key AS k ORDER BY k"
    ).collect()
    assert [x.k for x in libs] == ["kernel32"]
    # typed anchor + untyped edge: per-type histogram
    h = cypher(
        t, "MATCH (b:Binary)-[r]->(m) RETURN type(r) AS rt, count(*) AS n ORDER BY rt"
    ).collect()
    assert ("CALLS",) not in {(x.rt,) for x in h}  # binaries never CALL
    with pytest.raises(ValueError):  # real props stay off any-label vars
        cypher(t, "MATCH (n) WHERE n.name = 'x' RETURN n.key AS k")
    with pytest.raises(ValueError):  # typed edge cannot attach to any-label var
        cypher(t, "MATCH (n) MATCH (n)-[:CALLS]->(m:Function) RETURN m.name AS x")


def test_cli_cypher_explain(spark, tmp_path, capsys):
    from binaryx_graph_spark.cli import main

    from .fixtures import write_fixture

    d = write_fixture(tmp_path / "in")
    root = str(tmp_path / "wh")
    assert main(["--warehouse", root, "import", "directory", d]) == 0
    capsys.readouterr()
    assert main([
        "--warehouse", root, "query", "cypher",
        "MATCH (b:Binary)-[:CONTAINS]->(f:Function) RETURN f.name AS name",
        "--explain",
    ]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out and "Scan parquet" in out


def test_with_aggregate_having_then_match(spark, t):
    """WITH pipeline: aggregate, HAVING-style WHERE on the alias, then a
    follow-up MATCH joining on the carried node variable."""
    r = cypher(
        t,
        """
        MATCH (b:Binary)-[:CONTAINS]->(f:Function)
        WITH b, count(f) AS n_fn
        WHERE n_fn >= 3
        MATCH (b)-[:CONTAINS_STRING]->(s:String)
        RETURN b.filename AS bin, n_fn, count(s) AS n_strings
        ORDER BY bin
        """,
    ).collect()
    assert [(x.bin, x.n_fn, x.n_strings) for x in r] == [("mal_a.exe", 3, 3)]


def test_with_scalar_projection_joins_later_match(spark, t):
    """A projected scalar alias participates in a later WHERE as a join
    predicate (g.name = fn)."""
    r = cypher(
        t,
        """
        MATCH (b:Binary)-[:CONTAINS]->(f:Function)
        WITH DISTINCT f.name AS fn
        MATCH (g:Function)-[:CALLS]->(h:Function)
        WHERE g.name = fn
        RETURN fn, count(*) AS n_calls
        ORDER BY fn
        """,
    ).collect()
    assert [(x.fn, x.n_calls) for x in r] == [("helper", 1), ("main", 2), ("worker", 2)]


def test_with_then_return_directly(spark, t):
    r = cypher(
        t,
        """
        MATCH (f:Function)-[:CALLS]->(g:Function)
        WITH f, count(g) AS out_deg
        RETURN f.name AS fn, out_deg ORDER BY out_deg DESC, fn LIMIT 2
        """,
    ).collect()
    assert [(x.fn, x.out_deg) for x in r] == [("main", 2), ("worker", 2)]


def test_with_horizon_drops_old_variables(spark, t):
    """Variables not carried through WITH go out of scope (Cypher)."""
    with pytest.raises(ValueError):
        cypher(
            t,
            "MATCH (b:Binary)-[:CONTAINS]->(f:Function) "
            "WITH b, count(f) AS n "
            "RETURN f.name AS x",
        )
    with pytest.raises(ValueError):  # WITH expressions need AS
        cypher(t, "MATCH (f:Function) WITH f.name RETURN count(*) AS n")


def test_with_order_limit_topk_then_expand(spark, t):
    """WITH ... ORDER BY ... LIMIT: top-k inside the pipeline, then a
    follow-up expansion joins only the survivors."""
    r = cypher(
        t,
        """
        MATCH (f:Function)-[:CALLS]->(g:Function)
        WITH f, count(g) AS out_deg ORDER BY out_deg DESC, f.name LIMIT 2
        MATCH (f)<-[:CALLS]-(caller:Function)
        RETURN f.name AS fn, out_deg, count(caller) AS n_callers ORDER BY fn
        """,
    ).collect()
    # top-2 by out_deg = main(2), worker(2); main has no callers → dropped
    assert [(x.fn, x.out_deg, x.n_callers) for x in r] == [("worker", 2, 2)]


def test_sum_min_max_aggregates(spark, t):
    r = cypher(
        t,
        """
        MATCH (b:Binary)-[:CONTAINS]->(f:Function)
        RETURN b.filename AS bin, sum(f.size) AS total_size,
               min(f.name) AS first_fn, max(f.size) AS max_size, count(*) AS n
        ORDER BY bin
        """,
    ).collect()
    assert [(x.bin, x.total_size, x.first_fn, x.max_size, x.n) for x in r] == [
        ("mal_a.exe", 126, "helper", 128, 3),  # sizes: 128 + (-1) + (-1)
        ("mal_b.elf", 64, "main", 64, 1),
    ]


def test_unwind_param_batch_lookup(spark, t):
    """UNWIND $list AS x: parameterized batch lookup; the cross+filter
    collapses to a BroadcastHashJoin (no cartesian)."""
    df = cypher(
        t,
        """
        UNWIND $names AS nm
        MATCH (f:Function)
        WHERE f.name = nm
        MATCH (f)-[:CALLS]->(g:Function)
        RETURN nm, count(g) AS n_callees ORDER BY nm
        """,
        params={"names": ["main", "worker", "nosuch"]},
    )
    assert [(r.nm, r.n_callees) for r in df.collect()] == [("main", 2), ("worker", 2)]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "CartesianProduct" not in plan
    with pytest.raises(ValueError):  # non-list parameter
        cypher(t, "UNWIND $x AS y MATCH (f:Function) RETURN y", params={"x": 3})


def test_skip_pagination(spark, t):
    r = cypher(t, "MATCH (f:Function) RETURN f.name AS n ORDER BY n SKIP 2 LIMIT 2").collect()
    assert [x.n for x in r] == ["helper", "main"]
    r2 = cypher(
        t,
        """
        MATCH (f:Function)-[:CALLS]->(g:Function)
        WITH f, count(g) AS d ORDER BY d DESC, f.name SKIP 1 LIMIT 2
        RETURN f.name AS n, d ORDER BY n
        """,
    ).collect()
    assert [(x.n, x.d) for x in r2] == [("helper", 1), ("worker", 2)]


def test_collect_aggregate(spark, t):
    """collect(x.prop) — sorted for determinism (documented divergence
    from Neo4j's unordered bags); bare collect(n) collects node keys."""
    r = cypher(
        t,
        """
        MATCH (caller:Function)-[:CALLS]->(callee:Function)
        RETURN caller.name AS fn, collect(callee.name) AS callees
        ORDER BY fn
        """,
    ).collect()
    assert [(x.fn, x.callees) for x in r] == [
        ("helper", ["worker"]),
        ("main", ["CreateFileA", "helper"]),
        ("worker", ["helper", "worker"]),
    ]


def test_shortest_path(spark, t):
    """shortestPath: ONE min-depth path per endpoint pair, deterministic
    tie-break (lexicographically smallest uid sequence)."""
    r = cypher(
        t,
        """
        MATCH p = shortestPath((a:Function)-[:CALLS*1..6]->(b:Function))
        WHERE a.name = 'main'
        RETURN [n in nodes(p) | n.name] as names, length(p) as len
        ORDER BY len, names
        """,
    ).collect()
    assert [(tuple(x.names), x.len) for x in r] == [
        (("main", "CreateFileA"), 1),
        (("main", "helper"), 1),
        (("main", "helper", "worker"), 2),
    ]
    # scoped variant: the ALL/EXISTS clause constrains the BFS itself
    r2 = cypher(
        t,
        """
        MATCH (bin:Binary)-[:CONTAINS|IMPORTS]->(a:Function)
        MATCH p = shortestPath((a:Function)-[:CALLS*1..6]->(b:Function))
        WHERE a.name = 'main' AND bin.filename CONTAINS 'mal_a'
          AND ALL(n IN nodes(p) WHERE EXISTS((bin)-[:CONTAINS|IMPORTS]->(n)))
        RETURN length(p) as len ORDER BY len
        """,
    ).collect()
    assert [x.len for x in r2] == [1, 1, 2]
    with pytest.raises(ValueError):  # cycles need the plain pattern
        cypher(t, "MATCH p = shortestPath((f:Function)-[:CALLS*2..4]->(f)) RETURN length(p) as l")
    with pytest.raises(ValueError):  # must be bound to a path variable
        cypher(t, "MATCH shortestPath((a:Function)-[:CALLS*1..2]->(b:Function)) RETURN a.name AS n")


def test_optional_match_two_hop_arm(spark, t):
    """A multi-edge optional arm compiles standalone and left-joins on
    the shared anchor: binaries keep a row even when no 2-hop
    contains→calls chain exists."""
    r = cypher(
        t,
        """
        MATCH (b:Binary)
        OPTIONAL MATCH (b)-[:CONTAINS]->(f:Function)-[:CALLS]->(g:Function)
        RETURN b.filename AS bin, g.name AS callee ORDER BY bin, callee
        """,
    ).collect()
    bins = {x.bin for x in r}
    assert "mal_b.elf" in bins  # no CONTAINS→CALLS chain: NULL-extended
    assert any(x.bin == "mal_b.elf" and x.callee is None for x in r)
    assert any(x.bin == "mal_a.exe" and x.callee is not None for x in r)


def test_optional_chained_on_optional_null_anchor(spark, t):
    """An OPTIONAL MATCH anchored on a variable bound by a PREVIOUS
    optional: rows where that variable is NULL cannot match (NULL keys
    never equi-join) and stay NULL-extended — Neo4j semantics."""
    r = cypher(
        t,
        """
        MATCH (b:Binary)
        OPTIONAL MATCH (b)-[:IMPORTS]->(f:Function)
        OPTIONAL MATCH (f)-[:BELONGS_TO]->(l:Library)
        RETURN b.filename AS bin, f.name AS fn, l.name AS lib
        ORDER BY bin, fn
        """,
    ).collect()
    by_bin = {}
    for x in r:
        by_bin.setdefault(x.bin, []).append((x.fn, x.lib))
    # both binaries import CreateFileA which belongs to kernel32
    assert ("CreateFileA", "kernel32") in by_bin["mal_a.exe"]
    assert ("CreateFileA", "kernel32") in by_bin["mal_b.elf"]


def test_shortest_path_multiedge_total_tiebreak(spark):
    """Multi-edges (same src/dst, different offset) tie on the uid
    sequence; the offsets array breaks the tie (r13 ADVICE) — the ONE
    surviving path must carry the smallest offsets array, every run.
    Also pins the exact depth bound of the path and shortestPath loops."""
    fns = spark.createDataFrame(
        [("u1", "main", "0x1"), ("u2", "x", "0x2")],
        "uid string, name string, address string",
    )
    calls = spark.createDataFrame(
        [("u1", "u2", "7"), ("u1", "u2", "3"), ("u1", "u2", "5")],
        "src_uid string, dst_uid string, offset string",
    )
    for _ in range(3):  # rerun: the pick must be stable
        r = cypher(
            {"functions": fns, "calls": calls},
            """
            MATCH p = shortestPath((a:Function)-[:CALLS*1..2]->(b:Function))
            WHERE a.name = 'main'
            RETURN [n in nodes(p) | n.name] AS names,
                   [r in relationships(p) | r.offset] AS offs,
                   length(p) AS len
            """,
        ).collect()
        assert [(tuple(x.names), tuple(x.offs), x.len) for x in r] == [
            (("main", "x"), ("3",), 1)
        ]

    # Exact depth bound: on the chain c1→c2→c3→c4 the only c1→c4 match
    # of *2..3 has length hi, i.e. it is found by the loop's final
    # (un-checkpointed, un-probed) level.
    chain = {
        "functions": spark.createDataFrame(
            [(f"c{i}", f"c{i}", f"0x{i}") for i in range(1, 5)],
            "uid string, name string, address string",
        ),
        "calls": spark.createDataFrame(
            [(f"c{i}", f"c{i + 1}", str(i)) for i in range(1, 4)],
            "src_uid string, dst_uid string, offset string",
        ),
    }
    ret = """
        WHERE a.name = 'c1' AND b.name = 'c4'
        RETURN [n in nodes(p) | n.name] AS names, length(p) AS len
    """
    paths = cypher(chain, "MATCH p = (a:Function)-[:CALLS*2..3]->(b:Function)" + ret)
    native = enumerate_paths(
        chain["calls"], chain["functions"],
        spark.createDataFrame([("c1",)], "uid string"), max_depth=3,
    ).filter("path_length >= 2 AND end_uid = 'c4'")
    got = [(tuple(x.names), x.len) for x in paths.collect()]
    assert got == [(tuple(x.node_names), x.path_length) for x in native.collect()]
    assert got == [(("c1", "c2", "c3", "c4"), 3)]
    sp = cypher(chain, "MATCH p = shortestPath((a:Function)-[:CALLS*2..3]->(b:Function))" + ret)
    assert [(tuple(x.names), x.len) for x in sp.collect()] == [
        (("c1", "c2", "c3", "c4"), 3)
    ]
