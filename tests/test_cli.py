"""CLI end-to-end: import → query → db over the micro-graph fixture
(in-process main(), shared SparkSession)."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from binaryx_graph_spark.cli import main

from .fixtures import write_fixture


@pytest.fixture(scope="module")
def wh_root(spark, tmp_path_factory):
    d = write_fixture(tmp_path_factory.mktemp("cli_in"))
    root = str(tmp_path_factory.mktemp("cli_wh") / "wh")
    assert main(["--warehouse", root, "import", "directory", d, "--validate"]) == 0
    return root


def test_query_functions(wh_root, capsys):
    assert main(["--warehouse", wh_root, "--format", "json", "query", "functions", "elp"]) == 0
    out = capsys.readouterr().out
    assert '"name": "helper"' in out


def test_query_strings_sample_count(wh_root, capsys):
    assert main(["--warehouse", wh_root, "--format", "json", "query", "strings", "--pattern", "Bitcoin"]) == 0
    out = capsys.readouterr().out
    assert '"sample_count": 2' in out


def test_query_binary_info(wh_root, capsys):
    assert main([
        "--warehouse", wh_root, "--format", "json", "query", "binary",
        "--binary-name", "mal_a",
    ]) == 0
    out = capsys.readouterr().out
    assert '"filename": "mal_a.exe"' in out
    assert '"mal_b' not in out  # LIMIT 1 on the matched binary only


def test_query_callgraph(wh_root, capsys):
    assert main(["--warehouse", wh_root, "--format", "json", "query", "callgraph", "main", "--depth", "3"]) == 0
    out = capsys.readouterr().out
    assert "worker" in out and "CreateFileA" in out


def test_query_call_path_all_sections(wh_root, capsys):
    assert main(["--warehouse", wh_root, "query", "call-path", "worker", "--max-depth", "2"]) == 0
    out = capsys.readouterr().out
    for section in ("# paths", "# sequences", "# direct recursion", "# upward chains", "# context insights"):
        assert section in out


def test_db_stats_and_clear(spark, wh_root, capsys, tmp_path):
    assert main(["--warehouse", wh_root, "--format", "json", "db", "stats"]) == 0
    out = capsys.readouterr().out
    assert '"label": "calls"' in out
    # export then clear an independent copy
    assert main(["--warehouse", wh_root, "db", "export", str(tmp_path / "exp")]) == 0
    # 18 edges + 12 node rows (2 binaries, 6 functions, 3 strings, 1 library)
    assert "exported 30 edges" in capsys.readouterr().out


def test_import_validation_failure_exit_code(spark, tmp_path, capsys):
    import json

    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "broken.json").write_text(json.dumps({"functions": []}))  # no binary_info
    rc = main(["--warehouse", str(tmp_path / "wh"), "import", "directory", str(bad), "--validate"])
    assert rc == 2
    out = capsys.readouterr().out
    assert "missing binary_info" in out


def test_config_file_resolution(spark, wh_root, tmp_path, capsys):
    import json as _json

    cfg = tmp_path / "config.json"
    cfg.write_text(_json.dumps({"warehouse": wh_root, "format": "json"}))
    assert main(["--config", str(cfg), "query", "functions", "elp"]) == 0
    out = capsys.readouterr().out
    assert '"name": "helper"' in out  # json format came from the config file


def test_missing_warehouse_friendly_error(spark, tmp_path):
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="db init"):
        main(["--warehouse", str(tmp_path / "nope"), "query", "functions", "x"])


def test_truncate_for_table_reference_parity():
    """query.rs:230-236: escape \\n/\\r first, keep the FIRST 60 chars,
    append '...' (63 total) only when over 60."""
    from binaryx_graph_spark.cli import _truncate_for_table

    assert _truncate_for_table("short") == "short"
    assert _truncate_for_table("a\nb\rc") == "a\\nb\\rc"
    s60 = "x" * 60
    assert _truncate_for_table(s60) == s60  # exactly 60: untouched
    s61 = "y" * 61
    out = _truncate_for_table(s61)
    assert out == "y" * 60 + "..." and len(out) == 63
    # escaping may push a short string over the limit — escaped form counts
    nl = "z" * 59 + "\n\n"
    assert _truncate_for_table(nl) == ("z" * 59 + "\\n\\n")[:60] + "..."


def test_call_path_tree_rendering_parity(wh_root, capsys):
    """Table format renders the reference's tree layout
    (query.rs:438-486): 'Found N call paths:', per-depth histogram
    lines, and indented '├─ name @ addr' nodes (indent = 2·(depth+2)
    spaces)."""
    assert main(["--warehouse", wh_root, "query", "call-path", "main",
                 "--max-depth", "3", "--show-paths"]) == 0
    out = capsys.readouterr().out
    assert "Found" in out and "call paths:" in out
    assert "Depth 1:" in out
    assert "Longest call path examples (top 10):" in out
    assert "    ├─ main @ 0x401000" in out  # depth-0 node: 4-space indent
    assert "      ├─ " in out  # a depth-1 node


def test_db_optimize_compacts_files(spark, tmp_path, capsys):
    """optimize() must reduce many-small-file tables toward the target
    size without changing any row (content-identical compaction that
    keeps the merge-key hash distribution)."""
    from binaryx_graph_spark.operators.ingest import build_graph_tables
    from binaryx_graph_spark.sources.json_source import read_analysis_json
    from binaryx_graph_spark.sources.warehouse import Warehouse

    from .fixtures import write_fixture

    d = write_fixture(tmp_path / "in")
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    wh.initialize()
    docs = read_analysis_json(spark, d)
    tabs = {k: v for k, v in build_graph_tables(docs).items() if k != "import_stats"}
    for seq in range(1, 4):
        wh.merge_batch(tabs, batch_seq=seq)
    before_rows = {t: sorted(map(tuple, wh.read(t).collect())) for t in ("functions", "calls")}
    from pathlib import Path

    # fragment the LIVE state by hand (at this scale AQE coalesces every
    # merge write, so merge-induced fragmentation never materializes):
    # replace the table dir with a 6-file rewrite and drop its manifests
    # — an externally produced legacy flat dir optimize must adopt, then
    # compact through the manifest protocol
    import shutil as _shutil

    frag = Path(root) / "_functions_frag"
    wh.read("functions").repartition(6).write.mode("overwrite").parquet(str(frag))
    _shutil.rmtree(Path(root) / "functions")
    frag.rename(Path(root) / "functions")
    _shutil.rmtree(Path(root) / "_manifests" / "functions", ignore_errors=True)
    n_files_before = len(list((Path(root) / "functions").glob("part-*")))
    assert n_files_before > 1
    res = wh.optimize()
    after_rows = {t: sorted(map(tuple, wh.read(t).collect())) for t in ("functions", "calls")}
    assert after_rows == before_rows  # content identical
    b, a = res["functions"]
    assert b == n_files_before and a < b and a >= 1
    # compaction was a manifest commit: the pre-compaction version (the
    # adopted fragmented state) is still time-travelable
    vs = wh.versions("functions")
    assert len(vs) >= 2
    assert wh.read("functions", version=vs[0]).count() == len(before_rows["functions"])
    assert main(["--warehouse", root, "db", "optimize"]) == 0
    assert "functions:" in capsys.readouterr().out


def test_warehouse_time_travel_and_rollback(spark, tmp_path, capsys):
    """Manifest versioning on FLAT tables: the pre-existing directory
    state is adopted as v0, every merge commit is a new manifest
    version, read-at-version time-travels, rollback is a pure-metadata
    commit, vacuum prunes the horizon."""
    from binaryx_graph_spark.operators.ingest import build_graph_tables
    from binaryx_graph_spark.sources.json_source import read_analysis_json
    from binaryx_graph_spark.sources.warehouse import Warehouse

    from .fixtures import write_fixture

    d = write_fixture(tmp_path / "in")
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    wh.initialize()
    docs = read_analysis_json(spark, d)
    tabs = {k: v for k, v in build_graph_tables(docs).items() if k != "import_stats"}

    wh.merge_batch(tabs, batch_seq=1)          # adopts v0 = empty init state
    n_live = wh.read("functions").count()
    assert n_live > 0
    assert wh.versions("functions") == [0, 1]  # v1 = the merged state (live)
    assert wh.read("functions", version=0).count() == 0  # time travel to empty
    assert wh.read("functions", version=1).count() == n_live

    # second commit: drop half the functions via a doctored batch
    half = {"functions": wh.read("functions").limit(1)}
    wh.merge_batch(half, batch_seq=2)          # v2 (v1 = full state stays readable)
    assert wh.versions("functions") == [0, 1, 2]
    assert wh.read("functions", version=1).count() == n_live

    # rollback to the full state — a pure-metadata commit (a new
    # manifest repeating v1's file list; no data bytes move)
    data_stats = {
        p: p.stat().st_mtime_ns
        for p in (Path(root) / "functions").glob("part-*")
    }
    wh.rollback("functions", 1)
    assert wh.read("functions").count() == n_live
    assert wh.versions("functions") == [0, 1, 2, 3]
    assert {
        p: p.stat().st_mtime_ns
        for p in (Path(root) / "functions").glob("part-*")
    } == data_stats, "flat rollback must be manifest-only"

    # unknown version fails loudly
    import pytest as _pytest
    with _pytest.raises(FileNotFoundError):
        wh.read("functions", version=9)

    # vacuum keeps the newest versions only, and deletes exactly the
    # files unreachable from the retained manifests
    removed = wh.vacuum(keep_last=1)
    assert removed["functions"] == 2
    assert wh.versions("functions") == [2, 3]
    reach = set()
    for v in (2, 3):
        reach |= set(wh._manifest("functions", v)["files"])
    on_disk = {p.name for p in (Path(root) / "functions").glob("part-*") if p.is_file()}
    assert on_disk == reach

    # CLI surface
    assert main(["--warehouse", root, "db", "versions", "functions"]) == 0
    assert "functions: [2, 3]" in capsys.readouterr().out
    assert main(["--warehouse", root, "db", "rollback", "functions", "2"]) == 0
    assert main(["--warehouse", root, "db", "vacuum", "--keep", "1"]) == 0


def test_import_directory_batched_equals_bulk(spark, tmp_path, capsys):
    from .fixtures import write_fixture

    d = write_fixture(tmp_path / "in")
    bulk_root, batched_root = str(tmp_path / "wh_bulk"), str(tmp_path / "wh_batched")
    assert main(["--warehouse", bulk_root, "import", "directory", d]) == 0
    capsys.readouterr()
    # one file per merge batch: exercises the incremental upsert path
    assert main([
        "--warehouse", batched_root, "import", "directory", d, "--batch-size", "1",
    ]) == 0
    capsys.readouterr()
    from binaryx_graph_spark.sources.warehouse import Warehouse

    b, inc = Warehouse(spark, bulk_root), Warehouse(spark, batched_root)
    for t in ("binaries", "functions", "strings", "libraries", "calls", "contains"):
        rows_b = sorted(tuple(r) for r in b.read(t).collect())
        rows_i = sorted(tuple(r) for r in inc.read(t).collect())
        assert rows_b == rows_i, t


def test_incremental_merge_equals_full_rewrite_and_leaves_untouched_buckets(
    spark, tmp_path
):
    """merge_batch_incremental must (a) produce exactly merge_batch's
    LWW result across a multi-batch sequence and (b) never open or
    rewrite a bucket the batch doesn't touch — untouched partition
    files stay byte-identical, mtimes included."""
    import os

    from binaryx_graph_spark.sources.warehouse import Warehouse

    def fns(rows):
        return spark.createDataFrame(
            [(str(k), f"fn_{k}", "", v, "Internal") for k, v in rows],
            "uid string, name string, address string, size long, type string",
        )

    batches = [
        [(k, k * 10) for k in range(200)],          # base
        [(5, 999), (7, 777)],                        # tiny touch-up
        [(5, 555), (300, 3000), (301, 3010)],        # overwrite + inserts
    ]
    full = Warehouse(spark, str(tmp_path / "full"))
    inc = Warehouse(spark, str(tmp_path / "inc"))
    for seq, rows in enumerate(batches, start=1):
        full.merge_batch({"functions": fns(rows)}, batch_seq=seq)
        inc.merge_batch_incremental({"functions": fns(rows)}, batch_seq=seq)
    want = sorted(map(tuple, full.read("functions").collect()))
    got = sorted(map(tuple, inc.read("functions").collect()))
    assert got == want

    # immutability: snapshot every file's (size, mtime_ns), apply a
    # 2-key batch, verify every bucket OUTSIDE the touched set is
    # byte-stable and at least one bucket was untouched
    root = tmp_path / "inc" / "functions"

    def stat_map():
        return {
            str(p): (p.stat().st_size, p.stat().st_mtime_ns)
            for p in root.rglob("*")
            if p.is_file() and not p.name.startswith(("_SUCCESS", "."))
        }

    before = stat_map()
    touched = inc.merge_batch_incremental(
        {"functions": fns([(5, 51), (301, 3011)])}, batch_seq=9
    )["functions"]
    after = stat_map()
    changed_dirs = {
        os.path.dirname(p)
        for p in (set(before) ^ set(after))
        | {p for p in before.keys() & after.keys() if before[p] != after[p]}
    }
    assert touched <= 2
    assert len(changed_dirs) <= touched
    all_dirs = {os.path.dirname(p) for p in after}
    assert len(all_dirs) > len(changed_dirs), "expected untouched buckets"
    # and the values reflect the last batch
    vals = {r["uid"]: r["size"] for r in inc.read("functions").collect()}
    assert vals["5"] == 51 and vals["301"] == 3011 and vals["7"] == 777


def test_manifest_commit_protocol_and_time_travel(spark, tmp_path):
    """The commit-manifest contract (sources/warehouse.py module
    docstring): every incremental commit is a time-travelable version;
    n_buckets is pinned at conversion and a disagreeing commit raises;
    merge_batch on a bucketed table raises instead of mangling the
    layout; rollback is a metadata-only commit and rollback-then-
    recommit reproduces the rolled-over state; vacuum deletes exactly
    the files unreachable from retained manifests; version reads never
    leak the internal _kb column."""
    import pytest as _pytest

    from binaryx_graph_spark.sources.warehouse import Warehouse

    def fns(rows):
        return spark.createDataFrame(
            [(str(k), f"fn_{k}", "", v, "Internal") for k, v in rows],
            "uid string, name string, address string, size long, type string",
        )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.merge_batch_incremental({"functions": fns([(k, k * 10) for k in range(100)])})
    v1 = wh.versions("functions")[-1]
    wh.merge_batch_incremental({"functions": fns([(5, 999), (200, 2000)])}, batch_seq=2)
    v2 = wh.versions("functions")[-1]
    wh.merge_batch_incremental({"functions": fns([(5, 555), (7, 777)])}, batch_seq=3)

    # every incremental commit is a readable version, without _kb
    for v, want in [
        (v1, {(str(k), k * 10) for k in range(100)}),
        (v2, {(str(k), k * 10) for k in range(100) if k != 5} | {("5", 999), ("200", 2000)}),
    ]:
        got = wh.read("functions", version=v)
        assert "_kb" not in got.columns
        assert {(r["uid"], r["size"]) for r in got.collect()} == want

    # the bucket count is pinned: a disagreeing commit raises loudly
    with _pytest.raises(ValueError, match="n_buckets"):
        wh.merge_batch_incremental({"functions": fns([(1, 1)])}, n_buckets=8)
    # the whole-table-rewrite path rejects the bucketed layout loudly
    with _pytest.raises(ValueError, match="merge_batch_incremental"):
        wh.merge_batch({"functions": fns([(1, 1)])})

    # rollback = metadata-only commit; recommit reproduces the state
    live = {(r["uid"], r["size"]) for r in wh.read("functions").collect()}
    table_dir = tmp_path / "wh" / "functions"
    stat = {
        str(p): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in table_dir.rglob("*") if p.is_file()
    }
    wh.rollback("functions", v2)
    assert {
        str(p): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in table_dir.rglob("*") if p.is_file()
    } == stat
    assert {(r["uid"], r["size"]) for r in wh.read("functions").collect()} == {
        (r["uid"], r["size"]) for r in wh.read("functions", version=v2).collect()
    }
    wh.merge_batch_incremental({"functions": fns([(5, 555), (7, 777)])}, batch_seq=5)
    assert {(r["uid"], r["size"]) for r in wh.read("functions").collect()} == live

    # vacuum: retained manifests define the exact reachable file set
    wh.vacuum(keep_last=1)
    vs = wh.versions("functions")
    assert len(vs) == 2  # latest + 1
    reach = set()
    for v in vs:
        m = wh._manifest("functions", v)
        reach |= {f"_kb={b}/{fn}" for b, fs_ in m["buckets"].items() for fn in fs_}
    on_disk = {
        f"{p.parent.name}/{p.name}"
        for p in table_dir.glob("_kb=*/*")
        if p.is_file() and not p.name.startswith((".", "_"))
    }
    assert on_disk == reach
    with _pytest.raises(FileNotFoundError):
        wh.read("functions", version=v1)


def test_db_history_and_streaming_maintenance_cadence(spark, tmp_path, capsys):
    """history() rows track both version stores; the in-stream
    maintenance cadence keeps the bucketed layout compacted and the
    horizon vacuumed without an external scheduler."""
    import json as _json

    from binaryx_graph_spark.sources.warehouse import Warehouse
    from binaryx_graph_spark.streaming.ingest_stream import stream_analysis_json
    from tools.endurance_stream import synth_doc

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    for i in range(6):
        (in_dir / f"d{i}.json").write_text(_json.dumps(synth_doc(i)))
    root = str(tmp_path / "wh")
    q = stream_analysis_json(
        spark, str(in_dir), root,
        max_files_per_trigger=1, incremental=True,
        maintenance_every=3, vacuum_keep_last=1,
        merge_tables=("functions", "calls"),
    )
    q.awaitTermination()
    wh = Warehouse(spark, root)
    hist = wh.history("functions")
    kinds = {r["kind"] for r in hist}
    assert "manifest" in kinds
    # vacuum_keep_last=1 -> at most live + 1 retained manifest versions
    assert len([r for r in hist if r["kind"] == "manifest"]) <= 2
    # maintenance compacted: live files <= one per bucket
    assert all(len(v) <= 1 for v in wh._live_bucket_files("functions").values())
    assert wh.read("functions").count() == 6 * 5 + 1  # 5 fns/doc + shared import fn

    # flat table history: every merge is a manifest row (no dangling
    # 'live' row — the newest manifest IS the live state), and every
    # listed version is readable
    flat = Warehouse(spark, str(tmp_path / "flat"))
    fns = spark.createDataFrame(
        [("1", "a", "", 1, "Internal")],
        "uid string, name string, address string, size long, type string",
    )
    flat.merge_batch({"functions": fns})
    flat.merge_batch({"functions": fns}, batch_seq=2)
    h = flat.history("functions")
    assert [r["kind"] for r in h] == ["manifest", "manifest"]
    for r in h:
        flat.read("functions", version=r["version"]).count()  # must not raise

    # every history row's version number is one read() accepts (the
    # history/read consistency contract): a never-merged table is its
    # initialize() manifest, v0 with no files; a pre-manifest directory
    # reports one 'live' row
    flat2 = Warehouse(spark, str(tmp_path / "flat2"))
    flat2.initialize()
    h0 = flat2.history("binaries")
    assert [(r["kind"], r["version"], r["n_files"]) for r in h0] == [("manifest", 0, 0)]
    assert flat2.read("binaries", version=0).count() == 0
    from binaryx_graph_spark.sources.warehouse import ALL_TABLES

    legacy = Warehouse(spark, str(tmp_path / "legacy"))
    spark.createDataFrame([], ALL_TABLES["binaries"][0]).write.parquet(
        str(legacy.root / "binaries")
    )
    live_h = legacy.history("binaries")
    assert [r["kind"] for r in live_h] == ["live"]
    assert legacy.read("binaries", version=live_h[0]["version"]).count() == 0

    # CLI surface
    assert main(["--warehouse", root, "db", "history", "functions"]) == 0
    out = capsys.readouterr().out
    assert "manifest" in out and "buckets=64" in out


def test_rollback_across_conversion(spark, tmp_path):
    """Rolling a bucketed table back to a PRE-conversion (flat-manifest)
    version re-buckets that content as a new commit: values equal the
    flat version, the bucketed layout + pinned count survive, and later
    incremental commits still work."""
    from binaryx_graph_spark.sources.warehouse import Warehouse

    def fns(rows):
        return spark.createDataFrame(
            [(str(k), f"fn_{k}", "", v, "Internal") for k, v in rows],
            "uid string, name string, address string, size long, type string",
        )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.merge_batch({"functions": fns([(k, k) for k in range(40)])})       # flat v0
    wh.merge_batch({"functions": fns([(5, 99)])}, batch_seq=2)            # flat v1
    flat_vals = {(r["uid"], r["size"]) for r in wh.read("functions").collect()}
    snap_v = wh.versions("functions")[-1]
    wh.merge_batch_incremental({"functions": fns([(7, 77)])}, batch_seq=3)  # converts (v2 bucketed)
    snap_vals = {(r["uid"], r["size"]) for r in wh.read("functions", version=snap_v).collect()}
    assert snap_vals == flat_vals

    wh.rollback("functions", snap_v)  # across the conversion
    assert {(r["uid"], r["size"]) for r in wh.read("functions").collect()} == flat_vals
    live = wh._live_bucket_files("functions")
    assert live and all(fn for fn in live)  # still bucketed (manifest layout)
    # and the table still takes incremental commits with the pinned count
    wh.merge_batch_incremental({"functions": fns([(5, 555)])}, batch_seq=9)
    vals = {r["uid"]: r["size"] for r in wh.read("functions").collect()}
    assert vals["5"] == 555 and vals["7"] == 7  # rollback undid the 77 overlay


def test_db_dv_delete_and_column_mapping_cli(spark, tmp_path, capsys):
    from binaryx_graph_spark.sources.warehouse import Warehouse
    from pyspark.sql import functions as F

    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    df = spark.range(100).select(
        F.col("id").cast("string").alias("uid"),
        F.concat(F.lit("fn_"), F.col("id")).alias("name"),
        F.lit("").alias("address"),
        F.col("id").cast("long").alias("size"),
        F.lit("Internal").alias("type"),
    )
    wh.merge_batch_incremental({"functions": df}, n_buckets=4)

    assert main([
        "--warehouse", root, "db", "delete", "functions",
        "--where", "size,between,10:19", "--dv",
    ]) == 0
    out = capsys.readouterr().out
    assert "deleted 10 rows merge-on-read" in out and "0 files rewritten" in out
    assert wh.read("functions").count() == 90

    assert main([
        "--warehouse", root, "db", "rename-column", "functions", "size", "byte_size",
    ]) == 0
    assert "metadata-only" in capsys.readouterr().out
    # typed predicate over the RENAMED column through the CLI scan
    assert main([
        "--warehouse", root, "--format", "json", "db", "scan", "functions",
        "--where", "byte_size,=,42",
    ]) == 0
    assert '"uid": "42"' in capsys.readouterr().out

    assert main([
        "--warehouse", root, "db", "drop-column", "functions", "address",
    ]) == 0
    capsys.readouterr()
    assert "address" not in wh.read("functions").columns

    # snapshot subcommand over a catalog commit
    wh.import_atomic({"functions": df.withColumnRenamed("size", "byte_size").drop("address")},
                     txn=("cli", 1), incremental=True)
    assert main(["--warehouse", root, "db", "snapshot"]) == 0
    assert "functions" in capsys.readouterr().out
