"""The warehouse cold path: a table is born as a version-0 manifest that
lists no files (no Spark job), the first merge into it skips reading the
empty stored state, and an ingest leaves no cached plan behind."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from binaryx_graph_spark import Engine
from binaryx_graph_spark.fixtures.micro_graph import (
    UID_CREATEFILE,
    UID_HELPER_A,
    UID_MAIN_A,
    UID_WORKER_A,
)
from binaryx_graph_spark.sources.warehouse import ALL_TABLES, Warehouse

from .fixtures import write_fixture


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_engine_init_submits_no_jobs(spark, tmp_path):
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup())
    Engine(spark, str(tmp_path / "wh"))
    assert set(st.getJobIdsForGroup()) - before == set()


def test_fresh_table_reads_empty_live_and_at_v0(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.initialize()
    for table in ("functions", "calls", "binaries"):
        schema = ALL_TABLES[table][0]
        assert wh.versions(table) == [0]
        assert not (wh.root / table).exists(), "v0 lists no data files"
        for df in (wh.read(table), wh.read(table, version=0)):
            assert df.schema == schema
            assert df.count() == 0
    df, diag = wh.scan("functions", [("size", ">", 0)], with_diagnostics=True)
    assert diag == {"files_total": 0, "files_read": 0}
    assert df.schema == ALL_TABLES["functions"][0] and df.count() == 0


def test_initialize_twice_or_racing_leaves_one_v0(spark, tmp_path):
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    wh.initialize()
    wh.initialize()
    Warehouse(spark, root).initialize()
    for table in ALL_TABLES:
        assert wh._manifest_versions(table) == [0], table

    # racing initializers on a fresh root: every one succeeds, the
    # losers of the create-if-absent publish nothing
    raced = str(tmp_path / "raced")
    errors: list[Exception] = []

    def init() -> None:
        try:
            Warehouse(spark, raced).initialize()
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    threads = [threading.Thread(target=init) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
        assert not t.is_alive()
    assert errors == []
    wh2 = Warehouse(spark, raced)
    for table in ALL_TABLES:
        assert wh2._manifest_versions(table) == [0], table
    assert not wh2._publish(wh2._manifest_dir("calls"), {"version": 0})


def test_pre_manifest_flat_dir_adopted_as_v0(spark, tmp_path):
    """A legacy flat directory (plain parquet, no manifest) is left alone
    by initialize(); the first merge adopts it as v0 and commits v1
    under last-write-wins."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    schema = ALL_TABLES["functions"][0]
    legacy = [("a", "old_a", "Internal", "0x1", 1), ("b", "old_b", "Internal", "0x2", 2)]
    spark.createDataFrame(legacy, schema).write.parquet(str(wh.root / "functions"))
    wh.initialize()
    assert wh.versions("functions") == []
    # no zone maps before adoption: scan falls back to a full read
    df, diag = wh.scan("functions", [("size", ">", 1)], with_diagnostics=True)
    assert diag == {"files_total": None, "files_read": None}
    assert [r.uid for r in df.collect()] == ["b"]

    batch = spark.createDataFrame(
        [("b", "new_b", "Internal", "0x2", 20), ("c", "new_c", "Export", "0x3", 3)], schema
    )
    wh.merge_batch({"functions": batch})
    assert wh.versions("functions") == [0, 1]
    assert sorted(tuple(r) for r in wh.read("functions", version=0).collect()) == legacy
    assert sorted(tuple(r) for r in wh.read("functions").collect()) == [
        ("a", "old_a", "Internal", "0x1", 1),
        ("b", "new_b", "Internal", "0x2", 20),
        ("c", "new_c", "Export", "0x3", 3),
    ]


def test_first_merge_into_v0_dedups_the_batch(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.initialize()
    batch = spark.createDataFrame(
        [("a", "fa", "Internal", "0x1", 1)] * 3, ALL_TABLES["functions"][0]
    )
    wh.merge_batch({"functions": batch})
    assert wh.versions("functions") == [0, 1]
    assert wh.read("functions").count() == 1
    assert wh.read("functions", version=0).count() == 0


def test_fixture_ingest_calls_rows_and_no_cached_plan_left(spark, tmp_path):
    before = _persistent_rdds(spark)
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.ingest(write_fixture(tmp_path / "in"))
    assert _persistent_rdds(spark) - before == set(), "ingest left a cached plan"
    assert eng.warehouse.versions("calls") == [0, 1]
    assert sorted(tuple(r) for r in eng.table("calls").collect()) == sorted([
        (UID_MAIN_A, UID_HELPER_A, "0x401010", "Direct"),
        (UID_MAIN_A, UID_CREATEFILE, "0x401020", "Indirect"),
        (UID_HELPER_A, UID_WORKER_A, "0x401110", "Direct"),
        (UID_WORKER_A, UID_HELPER_A, "0x401210", "Direct"),
        (UID_WORKER_A, UID_WORKER_A, "0x401220", "Tail"),
    ])
    assert eng.table("calls").where(F.col("src_uid").isNull()).count() == 0
