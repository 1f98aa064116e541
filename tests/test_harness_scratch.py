"""The shared harness scaffolding (`queries/_harness.py`): one keyed
scratch dir per (slug, sf_dir), the count+sum snapshot, the phase
certificate frame, and no temp-dir leak from a harness or a fixture
cache build."""

from __future__ import annotations

import os
import shutil
import tempfile
import types

from binaryx_graph_spark.queries._harness import phase_rows, scratch_root, snap

from .conftest import SF_SMOKE


def _entries(root) -> set[str]:
    """Paths two levels under ``root`` (slug dirs and their key dirs)."""
    out = set()
    for top in os.listdir(root):
        out.add(top)
        sub = os.path.join(root, top)
        if os.path.isdir(sub):
            out |= {f"{top}/{k}" for k in os.listdir(sub)}
    return out


def test_scratch_root_is_empty_and_cleared_on_reentry(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    root = scratch_root(SF_SMOKE, "bxg_t_scratch")
    assert os.path.isdir(root) and os.listdir(root) == []
    assert os.path.dirname(os.path.dirname(root)) == str(tmp_path)
    with open(os.path.join(root, "left_over"), "w") as f:
        f.write("x")
    os.makedirs(os.path.join(root, "wh", "functions"))
    assert scratch_root(SF_SMOKE, "bxg_t_scratch") == root
    assert os.listdir(root) == []


def test_scratch_root_keys_on_abspath_and_slug(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    monkeypatch.chdir(tmp_path)
    rel = scratch_root("data/sf", "bxg_t_scratch")
    assert scratch_root(str(tmp_path / "data" / "sf"), "bxg_t_scratch") == rel
    other = scratch_root("data/sf", "bxg_u_scratch")
    assert other != rel and os.path.basename(other) == os.path.basename(rel)
    assert scratch_root("data/sf2", "bxg_t_scratch") != rel


def test_snap_of_empty_frame_is_zero(spark):
    assert snap(spark.createDataFrame([], "size long")) == (0, 0)
    assert snap(spark.createDataFrame([(3,), (4,)], "k long"), "k") == (2, 7)


def test_phase_rows_schema_and_order(spark):
    df = phase_rows(spark, [("2_b", 1, 10), ("1_a", 2, 20)])
    assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
        ("phase", "string"), ("n", "bigint"), ("checksum", "bigint"),
    ]
    assert [tuple(r) for r in df.collect()] == [("1_a", 2, 20), ("2_b", 1, 10)]


def test_moved_harness_leaves_no_new_tmp_entries(spark, tmp_path, monkeypatch):
    """A formerly-mkdtemp harness, run twice: call 2 reuses call 1's
    keyed scratch dir instead of leaving a second one behind."""
    from binaryx_graph_spark.queries.cypher_write_queries import (
        cypher_write_merge_upsert,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    first = [tuple(r) for r in cypher_write_merge_upsert(spark, SF_SMOKE).collect()]
    after_1 = _entries(tmp_path)
    second = [tuple(r) for r in cypher_write_merge_upsert(spark, SF_SMOKE).collect()]
    assert _entries(tmp_path) == after_1
    assert len(after_1) == 2 and second == first


def test_fixture_cache_build_leaves_only_the_cache(spark, tmp_path, monkeypatch):
    """A cold build of the micro-graph fixture cache removes its JSON
    input dir, and a build that loses the publish race removes its
    stage: only the one content-addressed ``bxg_fixture_wh_*`` entry
    remains."""
    from binaryx_graph_spark.queries import ingest_demo

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(ingest_demo, "_CACHE", {})

    def lose_the_race(stage, root):
        shutil.copytree(stage, root)  # a twin build published first
        raise OSError("target exists")

    monkeypatch.setattr(ingest_demo, "os", types.SimpleNamespace(rename=lose_the_race))
    tables = ingest_demo.graph_tables(spark)
    assert tables["functions"].count() == 6
    [entry] = os.listdir(tmp_path)
    assert entry.startswith("bxg_fixture_wh_")


def test_cypher_replay_cache_build_leaves_only_the_cache(spark, tmp_path, monkeypatch):
    from binaryx_graph_spark.queries import cypher_write_queries as cwq

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(cwq, "_REPLAY_CACHE", {})
    assert cwq._replayed_warehouse(spark).read("functions").count() == 6
    [entry] = os.listdir(tmp_path)
    assert entry.startswith("bxg_cywrite_wh_")
