"""Engine façade: the library-user surface (ingest → search → traverse →
cypher → stats) over the micro-graph fixture, end-to-end through one
object (README quickstart contract)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from binaryx_graph_spark import Engine

from .fixtures import write_fixture


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    e = Engine(spark, str(tmp_path_factory.mktemp("eng_wh") / "wh"))
    e.ingest(write_fixture(tmp_path_factory.mktemp("eng_in")))
    return e


def test_search_strings(eng):
    rows = eng.search_strings("Bitcoin").collect()
    assert len(rows) == 1 and "Bitcoin" in rows[0].value
    assert rows[0].sample_count == 2  # the ransom string ships in both binaries


def test_search_functions_scoped(eng):
    names = {r.name for r in eng.search_functions("", binary_filter="mal_a").collect()}
    assert "main" in names and "CreateFileA" in names


def test_traversal(eng):
    callees = {r.uid for r in eng.callees("main", max_depth=2).collect()}
    callers = {r.uid for r in eng.callers("CreateFileA", max_depth=3).collect()}
    assert callees and callers
    paths = eng.paths_from("main", max_depth=3).collect()
    assert paths and all(p.path_length == len(p.node_names) - 1 for p in paths)


def test_recursion(eng):
    rec = {r.name: r.cycle_length for r in eng.recursion().collect()}
    assert rec.get("worker") == 1  # the fixture's direct self-loop


def test_cypher_and_stats(eng):
    n = eng.cypher(
        "MATCH (b:Binary)-[:CONTAINS]->(f:Function) RETURN count(f) AS n"
    ).collect()[0].n
    assert n > 0
    stats = {r.label: r.n for r in eng.stats().collect()}
    assert stats["functions"] >= 6 and stats["calls"] >= 5


def test_rereads_submit_no_jobs(eng, spark):
    """A warehouse read infers a file set's schema once per Warehouse:
    re-constructing a table read or stats after the first submits no
    Spark job (tests/test_warehouse_schema_memo.py checks the rows)."""
    eng.table("functions")
    eng.stats()
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup())
    eng.table("functions")
    eng.stats()
    assert set(st.getJobIdsForGroup()) - before == set()


def test_dedup_passthrough(eng, spark):
    df = spark.createDataFrame(
        [(1, "aaa bbb ccc"), (2, "aaa bbb ccc"), (3, "zzz")], "id int, text string"
    )
    from pyspark.sql import functions as F

    groups = Engine.dedup_exact(df, "id", F.col("text")).collect()
    assert any(g.n_docs == 2 and g.canonical_id == 1 for g in groups)


def test_xref_export_write(eng, tmp_path):
    # cypher_write MERGE then read back through the façade
    r = eng.cypher_write("MERGE (l:Library {name: $name})", {"name": "newlib"})
    assert r == {"table": "libraries", "rows": 1}
    assert eng.table("libraries").filter("name = 'newlib'").count() == 1
    # xref on main's address: the call edges touching 0x401000
    assert eng.xref("0x401000").count() > 0
    # full-graph export round-trips node rows
    out = str(tmp_path / "exp")
    exported = eng.export(out)
    assert exported.filter("rel_type LIKE 'NODE:%'").count() >= 10


def test_call_sequences_and_path_histogram(eng):
    # O1: main's outgoing calls in lexicographic offset order
    seq = eng.call_sequences("main").collect()
    assert [r["order"] for r in seq] == list(range(1, len(seq) + 1))
    offs = [r["offset"] for r in seq]
    assert offs == sorted(offs)
    # O2: helper's callers
    callers = eng.call_sequences("helper", direction="in").collect()
    assert callers and all(r["peer_name"] for r in callers)
    # G4/A5: histogram counts sum to the path count
    hist = {r.path_length: r.n_paths for r in eng.path_histogram("main", max_depth=3).collect()}
    n_paths = eng.paths_from("main", max_depth=3).count()
    assert sum(hist.values()) == n_paths and set(hist) == {1, 2, 3}
    # G4/K5: longest paths ordered by length desc
    top = eng.longest_paths("main", max_depth=3, k=10).collect()
    lens = [r.path_length for r in top]
    assert lens == sorted(lens, reverse=True) and top[0].path.startswith("main")


def test_graph_analytics_passthroughs(eng):
    edges = eng.call_graph_edges()
    pr = eng.pagerank(edges, cast_ids=False).collect()
    assert pr and all(r.rank_fp > 0 for r in pr)
    scc = {r.node: r.scc_id for r in eng.scc(edges.selectExpr(
        "xxhash64(src) as src", "xxhash64(dst) as dst")).collect()}
    assert scc  # uid strings hashed to longs for the id-typed operator
    layers = eng.topo_layers(edges.selectExpr(
        "xxhash64(src) as src", "xxhash64(dst) as dst")).collect()
    assert layers and {r.node for r in layers} == set(scc)


def test_drift_psi_passthrough(eng, spark):
    from pyspark.sql import functions as F

    # identical slice distributions -> every contribution quantizes to 0;
    # a shifted current slice -> nonzero total
    same = spark.range(200).select(
        (F.col("id") % 5).alias("bin"), (F.col("id") % 2).alias("cur")
    )
    out = {r.bin: r for r in eng.drift_psi(same, "bin", "cur", n_bins=5).collect()}
    assert set(out) == {0, 1, 2, 3, 4}
    assert all(r.psi_q_bits == 0 for r in out.values())
    shifted = spark.range(200).select(
        F.when(F.col("id") % 2 == 0, F.col("id") % 3)
        .otherwise(3 + F.col("id") % 2)
        .alias("bin"),
        (F.col("id") % 2).alias("cur"),
    )
    rows = eng.drift_psi(shifted, "bin", "cur", n_bins=5).collect()
    assert sum(r.psi_q_bits for r in rows) > 0  # disjoint supports drift hard
    assert sum(r.ref_n + r.cur_n for r in rows) == 200


def test_real_decoder_passthroughs(eng, spark):
    from binaryx_graph_spark.operators.multimodal import (
        synthesize_pgm,
        synthesize_wav,
        synthesize_y4m,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string"
    )
    pgm = eng.decode_pgm(synthesize_pgm(docs))
    assert pgm.count() == 6
    assert sorted(map(tuple, eng.decode_pgm(synthesize_pgm(docs), arrow=True).collect())) == sorted(
        map(tuple, pgm.collect())
    )
    assert eng.decode_wav(synthesize_wav(docs)).count() == 6
    frames = eng.decode_y4m(synthesize_y4m(docs))
    assert frames.count() >= 12  # >= 2 frames per doc


def test_ingest_atomic_and_cypher_replay(spark, tmp_path):
    from binaryx_graph_spark.engine import Engine

    d = write_fixture(tmp_path / "docs")
    jsc = spark.sparkContext._jsc
    # an import leaves no cached plan of its own (earlier tests' frames
    # may be cleaned up meanwhile, so only new entries count)
    cached = set(jsc.getPersistentRDDs().keySet())
    # atomic lane: catalog pin spans all 10 tables
    e1 = Engine(spark, str(tmp_path / "wh1"))
    v = e1.ingest_atomic(d, txn=("t", 1))
    assert set(jsc.getPersistentRDDs().keySet()) - cached == set()
    pins = e1.warehouse.catalog_snapshot()
    assert len(pins) == 10
    assert e1.warehouse.read_snapshot("functions", pins).count() == 6
    # replay with the same txn is a catalog-level no-op
    assert e1.ingest_atomic(d, txn=("t", 1)) == v

    # verbatim-Cypher lane equals the direct lane, via the engine API
    e2 = Engine(spark, str(tmp_path / "wh2"))
    e2.cypher_replay_import(d)
    assert set(jsc.getPersistentRDDs().keySet()) - cached == set()
    for t in ("functions", "calls", "binaries", "strings"):
        a = sorted(tuple(r) for r in e1.table(t).collect())
        b = sorted(tuple(r) for r in e2.table(t).select(*e1.table(t).columns).collect())
        assert a == b, t

    # batched write template through the engine surface
    r = e2.cypher_write_batch(
        "MERGE (l:Library {name: $n})",
        spark.createDataFrame([("libz",), ("libq",)], "n string"),
    )
    assert r["table"] == "libraries" and r["rows"] == 2


def test_engine_mor_dml_facade(spark, tmp_path):
    """The r11 merge-on-read surface is reachable from the Engine
    facade: update/delete (DV lanes), change feed with images, the
    auto-compaction policy, and debt metrics."""
    import pyspark.sql.functions as F

    from binaryx_graph_spark import Engine

    eng = Engine(spark, str(tmp_path / "wh"))
    fns = spark.range(100).select(
        F.col("id").cast("string").alias("uid"),
        F.concat(F.lit("fn_"), F.col("id")).alias("name"),
        F.lit("").alias("address"),
        F.col("id").cast("long").alias("size"),
        F.lit("Internal").alias("type"),
    )
    eng.warehouse.merge_batch_incremental({"functions": fns}, n_buckets=4)
    v0 = eng.warehouse.versions("functions")[-1]
    d = eng.update_where("functions", [("uid", "=", "5")], {"size": F.lit(999).cast("long")})
    assert d["rows_updated"] == 1 and d["files_rewritten"] == 0
    d = eng.delete_where("functions", [("uid", "=", "6")])
    assert d["rows_deleted"] == 1 and d["files_rewritten"] == 0
    ch = eng.changes("functions", v0, update_images=True)
    labels = {r["_change"] for r in ch.collect()}
    assert labels == {"update_preimage", "update_postimage", "delete"}
    s = eng.dv_stats("functions")
    assert s["tombstone_rows"] == 2
    fired = eng.maybe_optimize("functions", target_bytes=1 << 30, dv_file_fraction=0.01)
    assert fired is not None and eng.dv_stats("functions")["tombstone_rows"] == 0
    assert eng.table("functions").count() == 99
