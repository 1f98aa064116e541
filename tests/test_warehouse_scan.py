"""Zone-map data skipping: per-file column min/max in the manifest +
Warehouse.scan's file pruning.

The invariant under test everywhere: scan(table, preds) returns EXACTLY
read(table).filter(preds) — pruning is advisory metadata, never a
semantic.  The positive tests additionally assert pruning HAPPENED
(files_read < files_total) where the layout makes it possible, and the
safety tests assert stats are DROPPED (not guessed) where they could
mislead (long strings, missing footers)."""

from __future__ import annotations

from pyspark.sql import functions as F

from binaryx_graph_spark.sources.warehouse import (
    ALL_TABLES,
    Warehouse,
    _zone_overlaps,
)


def _fns(spark, n=5000, size=lambda: F.col("id").cast("long")):
    return spark.range(n).select(
        F.col("id").cast("string").alias("uid"),
        F.concat(F.lit("fn_"), F.col("id")).alias("name"),
        F.lit("").alias("address"),
        size().alias("size"),
        F.lit("Internal").alias("type"),
    )


def _assert_scan_exact(wh, table, preds):
    got, diag = wh.scan(table, preds, with_diagnostics=True)
    exp = Warehouse._apply_predicates(wh.read(table), preds)
    g = sorted(tuple(r) for r in got.collect())
    e = sorted(tuple(r) for r in exp.collect())
    assert g == e, f"scan diverged from read().filter for {preds}"
    return diag


def test_stats_recorded_on_commit(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.clear()
    wh.merge_batch({"functions": _fns(spark)})
    m = wh._manifest("functions", wh.versions("functions")[-1])
    assert set(m["stats"]) == set(m["files"])
    st = next(iter(m["stats"].values()))
    assert st["size"] == [0, 4999]
    assert st["uid"][0] == "0"  # string min
    assert st["type"] == ["Internal", "Internal"]


def test_clustered_optimize_enables_pruning(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.clear()
    wh.merge_batch({"functions": _fns(spark, 20000)})
    wh.optimize(target_bytes=40_000, cluster_by={"functions": ["size"]})
    m = wh._manifest("functions", wh.versions("functions")[-1])
    assert len(m["files"]) > 2, "compaction should split into several files"
    # clustered files carry disjoint size ranges
    ranges = sorted(v["size"] for v in m["stats"].values())
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, "range clustering must produce disjoint zone maps"
    diag = _assert_scan_exact(wh, "functions", [("size", "between", (100, 200))])
    assert diag["files_read"] < diag["files_total"]
    assert diag["files_read"] >= 1
    # every comparison op, all exact
    for preds in (
        [("size", "=", 1234)],
        [("size", "<", 50)],
        [("size", "<=", 50)],
        [("size", ">", 19950)],
        [("size", ">=", 19950)],
        [("size", "in", [3, 19997, 50_000])],
        [("size", ">", 100), ("size", "<", 120)],
        [("name", "=", "fn_77")],
    ):
        _assert_scan_exact(wh, "functions", preds)


def test_scan_empty_result_prunes_everything(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.clear()
    wh.merge_batch({"functions": _fns(spark, 1000)})
    df, diag = wh.scan(
        "functions", [("size", ">", 10_000_000)], with_diagnostics=True
    )
    assert diag["files_read"] == 0
    assert df.count() == 0
    assert df.columns == wh.read("functions").columns


def test_point_lookup_reads_one_bucket(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.clear()
    wh.merge_batch_incremental({"functions": _fns(spark, 5000)})
    m = wh._manifest("functions", wh.versions("functions")[-1])
    total = sum(len(fs) for fs in m["buckets"].values())
    df, diag = wh.scan("functions", [("uid", "=", "777")], with_diagnostics=True)
    assert diag["files_total"] == total
    assert diag["files_read"] <= max(len(fs) for fs in m["buckets"].values())
    assert diag["files_read"] < total
    assert [r["uid"] for r in df.collect()] == ["777"]


def test_stats_carry_forward_across_incremental_commits(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.clear()
    wh.merge_batch_incremental({"functions": _fns(spark, 5000)})
    m1 = wh._manifest("functions", wh.versions("functions")[-1])
    wh.merge_batch_incremental(
        {
            "functions": spark.createDataFrame(
                [("777", "fn_777", "", 999_999, "Internal")],
                "uid string, name string, address string, size long, type string",
            )
        },
        batch_seq=2,
    )
    m2 = wh._manifest("functions", wh.versions("functions")[-1])
    carried = [
        f"{b}/{fn}"
        for b, fs in m2["buckets"].items()
        for fn in fs
        if fn in set(m1["buckets"].get(b, []))
    ]
    assert carried, "an incremental commit must share untouched files"
    for rel in carried:
        assert m2["stats"][rel] == m1["stats"][rel]
    _assert_scan_exact(wh, "functions", [("size", ">=", 999_999)])


def test_rollback_carries_stats(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.clear()
    wh.merge_batch({"functions": _fns(spark, 3000)})
    wh.optimize(target_bytes=20_000, cluster_by={"functions": ["size"]})
    v_clustered = wh.versions("functions")[-1]
    wh.merge_batch({"functions": _fns(spark, 10)}, batch_seq=2)
    wh.rollback("functions", v_clustered)
    diag = _assert_scan_exact(wh, "functions", [("size", "between", (5, 25))])
    assert diag["files_read"] < diag["files_total"], (
        "metadata-only rollback must carry the target manifest's zone maps"
    )


def test_long_string_stats_dropped_not_truncated(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.clear()
    long_name = "z" * 200
    df = spark.createDataFrame(
        [("1", long_name, "", 1, "Internal"), ("2", "fn_short", "", 2, "Internal")],
        "uid string, name string, address string, size long, type string",
    )
    wh.merge_batch({"functions": df})
    m = wh._manifest("functions", wh.versions("functions")[-1])
    for st in m["stats"].values():
        assert "name" not in st, "a >=64-char string bound must drop the stat"
        assert "size" in st
    _assert_scan_exact(wh, "functions", [("name", "=", long_name)])


def test_scan_pre_manifest_table_falls_back_to_full_read(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    # the legacy flat layout: plain parquet under <root>/functions, no manifest
    spark.createDataFrame([], ALL_TABLES["functions"][0]).write.parquet(
        str(wh.root / "functions")
    )
    df, diag = wh.scan("functions", [("size", ">", 0)], with_diagnostics=True)
    assert diag == {"files_total": None, "files_read": None}
    assert df.count() == 0


def test_scan_zero_file_manifest_reads_empty(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.clear()  # initialize(): a v0 manifest listing no files
    df, diag = wh.scan("functions", [("size", ">", 0)], with_diagnostics=True)
    assert diag == {"files_total": 0, "files_read": 0}
    assert df.schema == ALL_TABLES["functions"][0]
    assert df.count() == 0


def test_zone_overlap_truth_table():
    st = [10, 20]
    assert _zone_overlaps(st, "=", 10) and _zone_overlaps(st, "=", 20)
    assert not _zone_overlaps(st, "=", 9) and not _zone_overlaps(st, "=", 21)
    assert _zone_overlaps(st, "<", 11) and not _zone_overlaps(st, "<", 10)
    assert _zone_overlaps(st, "<=", 10) and not _zone_overlaps(st, "<=", 9)
    assert _zone_overlaps(st, ">", 19) and not _zone_overlaps(st, ">", 20)
    assert _zone_overlaps(st, ">=", 20) and not _zone_overlaps(st, ">=", 21)
    assert _zone_overlaps(st, "between", (0, 10)) and _zone_overlaps(
        st, "between", (20, 99)
    )
    assert not _zone_overlaps(st, "between", (21, 99))
    assert _zone_overlaps(st, "in", [1, 15]) and not _zone_overlaps(st, "in", [1, 2])


def test_zorder_clustering_prunes_both_dimensions(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.clear()
    df = spark.range(20000).select(
        F.col("id").cast("string").alias("uid"),
        F.concat(F.lit("fn_"), F.col("id")).alias("name"),
        F.lit("").alias("address"),
        F.col("id").cast("long").alias("size"),
        F.lit("Internal").alias("type"),
        ((F.col("id") * 7919) % 1000000).cast("long").alias("size2"),
    )
    wh.merge_batch({"functions": df}, allow_new_columns=True)
    m0 = wh._manifest("functions", wh.versions("functions")[-1])
    tgt = max(4096, sum(m0["bytes"].values()) // 16)
    wh.optimize(
        target_bytes=tgt, cluster_by={"functions": {"zorder": ["size", "size2"]}}
    )
    d1 = _assert_scan_exact(wh, "functions", [("size", "between", (4000, 6000))])
    d2 = _assert_scan_exact(wh, "functions", [("size2", "between", (100000, 200000))])
    assert d1["files_read"] < d1["files_total"], "z-order must prune dim 1"
    assert d2["files_read"] < d2["files_total"], "z-order must prune dim 2"
    # lexicographic control: clustering on (size, size2) prunes size but
    # NOT size2 (every file spans the full size2 domain)
    wh.optimize(target_bytes=tgt, cluster_by={"functions": ["size", "size2"]})
    d3 = _assert_scan_exact(wh, "functions", [("size2", "between", (100000, 200000))])
    assert d3["files_read"] == d3["files_total"], (
        "control: lexicographic clustering gives no dim-2 pruning — "
        "the z-order win is real"
    )


def test_zvalue_rejects_wrong_arity(spark):
    import pytest

    from binaryx_graph_spark.functions.zorder import zvalue

    df = spark.range(10).select(F.col("id").alias("a"), (F.col("id") * 2).alias("b"))
    with pytest.raises(ValueError, match="exactly 2"):
        zvalue(df, ["a"])


def test_cross_type_predicates_never_prune_wrong(spark, tmp_path):
    """Spark's implicit casts match rows whose bytes the stats/bloom/
    bucket-hash never saw (uid = 777 matches '777'; '00777' matches an
    int column).  Every pruning layer must detect the type mismatch and
    fall back to unprunable — the scan stays EXACT."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.clear()
    wh.merge_batch_incremental({"functions": _fns(spark, 2000)})
    # int probe against the string merge key: bucket pruning must NOT
    # hash the int (different bucket than the stored string)
    got, diag = wh.scan("functions", [("uid", "=", 777)], with_diagnostics=True)
    assert [r["uid"] for r in got.collect()] == ["777"]
    assert diag["files_read"] == diag["files_total"], (
        "cross-type key probe must not bucket-prune"
    )
    # string probe against the long column: zone maps must not compare
    got2 = wh.scan("functions", [("size", "=", "777")])
    assert [r["uid"] for r in got2.collect()] == ["777"]


def test_in_list_expr_matches_isin(spark):
    """in_list_expr (one parsed IN) must agree with Column.isin on
    values, escaping, and three-valued NULL semantics (r13)."""
    from pyspark.sql import functions as F

    from binaryx_graph_spark.sources.warehouse_base import in_list_expr

    df = spark.createDataFrame(
        [("a",), ("it's",), ("b\\c",), (None,), ("d",)], "k string"
    )
    vals = ["a", "it's", "b\\c", "missing"]
    got = df.select(in_list_expr("k", vals).alias("x"), F.col("k").isin(vals).alias("y"))
    assert [(r.x, r.y) for r in got.collect()] == [
        (True, True), (True, True), (True, True), (None, None), (False, False)
    ]
    ints = spark.createDataFrame([(1,), (2,), (None,)], "k long")
    got = ints.select(in_list_expr("k", [1, 5]).alias("x"), F.col("k").isin([1, 5]).alias("y"))
    assert [(r.x, r.y) for r in got.collect()] == [(True, True), (False, False), (None, None)]
