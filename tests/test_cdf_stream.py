"""The warehouse change feed as a Structured Streaming source
(readStream.format("warehouse_cdf")): offsets are manifest versions,
partitions are changed buckets, reads are executor-side pyarrow diffs."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from binaryx_graph_spark.sources.cdf_stream import register_warehouse_cdf_datasource
from binaryx_graph_spark.sources.warehouse import Warehouse


def _fns(spark, rows):
    return spark.createDataFrame(
        [(str(k), f"fn_{k}", "", v, "Internal") for k, v in rows],
        "uid string, name string, address string, size long, type string",
    )


def _drain(spark, root, table, checkpoint=None):
    name = f"cdf_{uuid.uuid4().hex[:10]}"
    reader = (
        spark.readStream.format("warehouse_cdf")
        .option("root", root)
        .option("table", table)
        .load()
    )
    w = reader.writeStream.format("memory").queryName(name).trigger(availableNow=True)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    q = w.start()
    q.awaitTermination()
    return spark.table(name)


def test_cdf_stream_emits_snapshot_then_row_level_changes(spark, tmp_path):
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    register_warehouse_cdf_datasource(spark)
    wh.merge_batch_incremental({"functions": _fns(spark, [(k, k) for k in range(200)])})
    wh.merge_batch_incremental(
        {"functions": _fns(spark, [(7, 700), (500, 5)])}, batch_seq=2
    )
    wh.delete_where("functions", [("uid", "=", "9")])

    out = _drain(spark, root, "functions")
    c = {
        (r["_version"], r["_change"]): r["n"]
        for r in out.groupBy("_version", "_change").agg(F.count("*").alias("n")).collect()
    }
    assert c == {(0, "insert"): 200, (1, "insert"): 2, (1, "delete"): 1, (2, "delete"): 1}
    v12 = {
        (r["_version"], r["_change"], r["uid"], r["size"])
        for r in out.filter("_version > 0").collect()
    }
    assert v12 == {
        (1, "insert", "7", 700),
        (1, "insert", "500", 5),
        (1, "delete", "7", 7),
        (2, "delete", "9", 9),
    }
    # applying the full feed reconstructs the live table exactly
    # (recreate one side: exceptAll between two projections of one
    # memory view trips Spark's conflicting-reference resolution, and
    # localCheckpoint keeps the same attribute ids)
    ins0 = out.filter("_change = 'insert'").drop("_change", "_version")
    ins = spark.createDataFrame(ins0.collect(), ins0.schema)
    dels = out.filter("_change = 'delete'").drop("_change", "_version")
    rebuilt = ins.exceptAll(dels)
    live = wh.read("functions")
    assert rebuilt.exceptAll(live).count() == 0
    assert live.exceptAll(rebuilt).count() == 0


def test_cdf_stream_checkpoint_resumes_from_committed_offset(spark, tmp_path):
    root = str(tmp_path / "wh")
    cp = str(tmp_path / "cp")
    sink = str(tmp_path / "sink")
    wh = Warehouse(spark, root)
    register_warehouse_cdf_datasource(spark)
    wh.merge_batch_incremental({"functions": _fns(spark, [(1, 1), (2, 2)])})

    def drain():
        # file sink: the one that supports checkpoint recovery (the
        # memory sink deliberately does not)
        q = (
            spark.readStream.format("warehouse_cdf")
            .option("root", root)
            .option("table", "functions")
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(sink)

    assert drain().count() == 2  # the snapshot
    wh.merge_batch_incremental({"functions": _fns(spark, [(3, 3)])}, batch_seq=2)
    rows = {(r["_change"], r["uid"], r["_version"]) for r in drain().collect()}
    assert rows == {
        ("insert", "1", 0),
        ("insert", "2", 0),
        ("insert", "3", 1),
    }, "a resumed consumer must append ONLY versions past its checkpoint"


def test_cdf_stream_rejects_layout_changes_loudly(spark, tmp_path):
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    register_warehouse_cdf_datasource(spark)
    wh.merge_batch_incremental({"functions": _fns(spark, [(k, k) for k in range(50)])})
    wh.rebucket("functions", 128)
    with pytest.raises(Exception, match="re-seed|rebucket"):
        _drain(spark, root, "functions")


def test_cdf_stream_requires_bucketed_table(spark, tmp_path):
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    register_warehouse_cdf_datasource(spark)
    wh.merge_batch({"functions": _fns(spark, [(1, 1)])})
    with pytest.raises(Exception, match="flat|bucket"):
        _drain(spark, root, "functions")


def test_cdf_registration_once_per_session(spark, tmp_path, monkeypatch):
    """Registering again would replace the session's registration (and
    log a warning each time): the helper registers only where the
    session's own registry lacks the source."""
    from pyspark.sql.datasource import DataSourceRegistration

    register_warehouse_cdf_datasource(spark)
    calls: list[object] = []
    monkeypatch.setattr(
        DataSourceRegistration, "register", lambda self, ds: calls.append(ds)
    )
    register_warehouse_cdf_datasource(spark)
    assert calls == []

    root = str(tmp_path / "wh")
    Warehouse(spark, root).merge_batch_incremental(
        {"functions": _fns(spark, [(1, 1), (2, 2)])}
    )
    assert _drain(spark, root, "functions").count() == 2
