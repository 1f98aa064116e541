"""Per-Warehouse schema memo on the manifest read path.

For a table whose manifest pins no schema, ``_read_files_dv`` infers a
file set's schema (one Spark job) once per ``Warehouse`` and reads with
it from then on.  Every read through the memo must equal a read from a
fresh ``Warehouse`` on the same root (no memo): same rows, same schema.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from binaryx_graph_spark.sources.warehouse import Warehouse


def _fns(spark, n=200, offset=0):
    return spark.range(offset, offset + n).select(
        F.col("id").cast("string").alias("uid"),
        F.concat(F.lit("fn_"), F.col("id")).alias("name"),
        F.lit("").alias("address"),
        F.col("id").cast("long").alias("size"),
        F.lit("Internal").alias("type"),
    )


def _new_jobs(spark, fn):
    """(fn(), ids of the Spark jobs fn submitted) — from the status
    tracker's job ids before and after."""
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup())
    out = fn()
    return out, set(st.getJobIdsForGroup()) - before


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _same_as_fresh(spark, wh, read):
    """``read(w)`` through ``wh``'s warm memo equals it through a fresh
    Warehouse on the same root, and the warm construct submits no job."""
    read(wh)  # warm the memo
    got, jobs = _new_jobs(spark, lambda: read(wh))
    assert jobs == set()
    want = read(Warehouse(spark, str(wh.root)))
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    return got


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def test_flat_table(spark, wh):
    wh.merge_batch({"functions": _fns(spark)})
    assert "schema" not in wh._newest_manifest("functions")
    _same_as_fresh(spark, wh, lambda w: w.read("functions"))


def test_bucketed_table_has_no_kb(spark, wh):
    wh.merge_batch_incremental({"functions": _fns(spark)}, n_buckets=4)
    df = _same_as_fresh(spark, wh, lambda w: w.read("functions"))
    assert "_kb" not in df.columns
    _same_as_fresh(
        spark, wh, lambda w: w.scan("functions", [("size", "<", 50)])
    )


def test_dv_table_clean_and_dv_split(spark, wh):
    wh.merge_batch_incremental({"functions": _fns(spark)}, n_buckets=4)
    wh.delete_where_dv("functions", [("uid", "=", "17")])
    m = wh._newest_manifest("functions")
    n_files = sum(len(fs) for fs in m["buckets"].values())
    assert 0 < len(m["dvs"]) < n_files  # both a DV side and a clean side
    df = _same_as_fresh(spark, wh, lambda w: w.read("functions"))
    assert df.count() == 199
    _same_as_fresh(
        spark, wh, lambda w: w.scan("functions", [("size", "<", 100)])
    )


def test_time_travel_after_later_commits(spark, wh):
    wh.merge_batch({"functions": _fns(spark, 50)})
    wh.merge_batch({"functions": _fns(spark, 50, offset=1000)}, batch_seq=2)
    wh.merge_batch({"functions": _fns(spark, 50, offset=2000)}, batch_seq=3)
    wh.read("functions")  # the memo now holds the head manifest
    df = _same_as_fresh(spark, wh, lambda w: w.read("functions", version=0))
    assert df.count() == 50


def test_renamed_column(spark, wh):
    wh.merge_batch_incremental({"functions": _fns(spark)}, n_buckets=4)
    wh.read("functions")
    wh.rename_column("functions", "size", "byte_size")
    df = _same_as_fresh(spark, wh, lambda w: w.read("functions"))
    assert "byte_size" in df.columns and "size" not in df.columns


def test_clear_then_reingest(spark, wh):
    wh.merge_batch({"functions": _fns(spark, 80)})
    wh.read("functions").count()
    wh.clear()
    wh.merge_batch({"functions": _fns(spark, 30, offset=500)})
    df = _same_as_fresh(spark, wh, lambda w: w.read("functions"))
    assert df.count() == 30


def test_memo_keeps_only_newest_manifest(spark, wh):
    for i in range(30):
        wh.merge_batch({"functions": _fns(spark, 5, offset=10 * i)}, batch_seq=i + 1)
        wh.read("functions")
    m = wh._newest_manifest("functions")
    version, entries = wh._schema_memo["functions"]
    assert version == m["version"]
    live = {str(wh.root / "functions" / fn) for fn in m["files"]}
    assert entries and all(set(key) <= live for key in entries)
