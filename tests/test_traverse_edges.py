"""Traversal operator edge cases: empty seeds, unknown nodes, depth
bounds, direction symmetry, late-data watermark behavior."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from binaryx_graph_spark.operators.traverse import (
    enumerate_paths,
    indirect_recursion,
    reachable,
)


def _graph(spark):
    calls = spark.createDataFrame(
        [("a", "b", "0x1", "Direct"), ("b", "c", "0x2", "Direct"), ("c", "a", "0x3", "Direct")],
        "src_uid string, dst_uid string, offset string, call_type string",
    )
    fns = spark.createDataFrame(
        [("a", "a", "", -1, "Internal"), ("b", "b", "", -1, "Internal"), ("c", "c", "", -1, "Internal")],
        "uid string, name string, address string, size long, type string",
    )
    return calls, fns


def test_reachable_empty_seeds(spark):
    calls, _ = _graph(spark)
    seeds = spark.createDataFrame([], "uid string")
    assert reachable(calls, seeds, max_depth=3).count() == 0


def test_reachable_unknown_seed(spark):
    calls, _ = _graph(spark)
    seeds = spark.createDataFrame([("zzz",)], "uid string")
    assert reachable(calls, seeds, max_depth=3).count() == 0


def test_reachable_cycle_reports_seed(spark):
    calls, _ = _graph(spark)
    seeds = spark.createDataFrame([("a",)], "uid string")
    out = {r["uid"]: r["depth"] for r in reachable(calls, seeds, max_depth=5).collect()}
    # a→b→c→a: seed re-reached at its cycle length
    assert out == {"b": 1, "c": 2, "a": 3}
    # exact bound: only the final (un-checkpointed, un-probed) level
    # re-reaches the seed
    out3 = {r["uid"]: r["depth"] for r in reachable(calls, seeds, max_depth=3).collect()}
    assert out3 == {"b": 1, "c": 2, "a": 3}


def test_paths_depth_bound_respected(spark):
    calls, fns = _graph(spark)
    seeds = spark.createDataFrame([("a",)], "uid string")
    paths = enumerate_paths(calls, fns, seeds, max_depth=2).collect()
    assert {r["path_length"] for r in paths} == {1, 2}
    # relationship-uniqueness: the 3-cycle cannot repeat within depth 3
    p3 = enumerate_paths(calls, fns, seeds, max_depth=4).collect()
    longest = max(r["path_length"] for r in p3)
    assert longest == 3  # a→b→c→a exhausts the edges; no 4th hop possible
    # exact bound: the length-3 path exists only in the final level
    p3 = enumerate_paths(calls, fns, seeds, max_depth=3).collect()
    assert max(r["path_length"] for r in p3) == 3
    assert [list(r["node_names"]) for r in p3 if r["path_length"] == 3] == [["a", "b", "c", "a"]]


def test_indirect_recursion_direction(spark):
    calls, _ = _graph(spark)
    seeds = spark.createDataFrame([("a",), ("b",), ("c",)], "uid string")
    out = {r["uid"]: r["cycle_length"] for r in indirect_recursion(calls, seeds, max_depth=10).collect()}
    assert out == {"a": 3, "b": 3, "c": 3}
    # exact bound: the cycles close only in the final level
    out3 = {r["uid"]: r["cycle_length"] for r in indirect_recursion(calls, seeds, max_depth=3).collect()}
    assert out3 == {"a": 3, "b": 3, "c": 3}
    assert indirect_recursion(calls, seeds, max_depth=2).count() == 0


def test_streaming_watermark_drops_late_rows(spark, tmp_path):
    """Watermarked APPEND-mode windowed count: rows arriving behind the
    watermark are dropped — real late-data semantics, two micro-batches."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("ts", T.TimestampType()), T.StructField("k", T.StringType())]
    )
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    import datetime as dt

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / "stage" / name)
        )
        # move the data file into the watched dir as one new file
        import glob
        import shutil

        for f in glob.glob(str(tmp_path / "stage" / name / "part-*.parquet")):
            shutil.copy(f, str(src / f"{name}.parquet"))

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    stream = spark.readStream.schema(schema).parquet(str(src))
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sink = "late_test_sink"
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        # batch 1: window [00:00, 00:05) + an event far ahead at 01:00
        write_batch("b1", [(t0, "x"), (t0 + dt.timedelta(hours=1), "x")])
        q.processAllAvailable()
        # batch 2: a LATE row for [00:00, 00:05) — watermark has advanced
        # to 00:50, far past that window → must be dropped
        write_batch("b2", [(t0 + dt.timedelta(minutes=1), "x")])
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.table(sink).collect()
    closed = {(r["window"]["start"].isoformat(), r["n"]) for r in rows}
    # the 00:00 window closed with ONE row: the late arrival was dropped
    assert ("2024-01-01T00:00:00", 1) in closed
