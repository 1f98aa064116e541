"""A run removes its files and counts a leaked ``bxg_*`` entry as a failure."""

from __future__ import annotations

import argparse
import os
import tempfile

import pytest

from run import Bench, Op, _bxg_entries, _configure_environment

ENV_KEYS = (
    "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "BXG_SPARK_WAREHOUSE",
    "SPARK_LOCAL_DIRS", "TMPDIR", "PYSPARK_SUBMIT_ARGS",
)


@pytest.fixture
def bench(tmp_path, monkeypatch):
    """A bench whose environment points into its run directory, as in a run."""
    for key in ENV_KEYS:
        monkeypatch.delenv(key, raising=False)
    monkeypatch.setattr(tempfile, "tempdir", tempfile.tempdir)
    run_dir = tmp_path / ".perfbench_run" / "leak-1"
    _configure_environment(run_dir)
    return Bench(argparse.Namespace(seed=1, seconds=0, trace=0), run_dir)


def _run(bench: Bench, build) -> None:
    bench._once(Op("lookup", "fake", build, lambda rows: None, finish=lambda r: r), traced=False)


def test_a_clean_run_removes_its_files_and_fails_nothing(bench):
    _run(bench, lambda: [])
    bench.remove_files(_bxg_entries("/tmp"))
    assert (bench.attempted, bench.failed) == (1, 0)
    assert not bench.run_dir.parent.exists()


def test_a_bxg_directory_leaked_into_the_run_tmp_is_counted(bench):
    def leaky():
        tempfile.mkdtemp(prefix="bxg_")
        return []

    _run(bench, leaky)
    assert bench.failed == 0
    bench.remove_files(_bxg_entries("/tmp"))
    assert (bench.attempted, bench.failed) == (1, 1)
    assert not bench.run_dir.exists()


def test_a_bxg_table_leaked_into_the_spark_warehouse_is_counted(bench):
    _run(bench, lambda: os.makedirs(os.environ["BXG_SPARK_WAREHOUSE"] + "/bxg_bkt_t") or [])
    bench.remove_files(_bxg_entries("/tmp"))
    assert bench.failed == 1
