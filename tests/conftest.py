from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from binaryx_graph_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("pytest")
    yield s
    s.stop()


# ---- fast/slow tiers (r13, VERDICT r12 #1) -------------------------------
# The default run (`pytest tests/ -x -q`) deselects the multi-minute
# equality/endurance gates so the suite finishes inside a CI-style budget
# (<15 min); the full tier still runs with
#     python -m pytest tests/ -q -m "slow or not slow"        (everything)
#     python -m pytest tests/ -q -m slow                      (slow only)
# The slow set is data, not decorators: tests/slow_tests.txt, one
# file.py::test nodeid per line (measured ≥8 s each; regenerate with
# `pytest --durations=0` and re-rank).  A nodeid that disappears from a
# collected file fails the collection (a renamed slow test would otherwise
# move silently into the fast tier).
_SLOW_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "slow_tests.txt")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: multi-second equality/endurance gate, deselected by default "
        "(see tests/slow_tests.txt)",
    )


def pytest_collection_modifyitems(config, items):
    slow: set[str] = set()
    with open(_SLOW_FILE) as fh:
        for ln in fh:
            ln = ln.split("#", 1)[0].strip()
            if ln:
                slow.add(ln)
    seen: set[str] = set()
    files: set[str] = set()
    for item in items:
        nid = item.nodeid.rsplit("/", 1)[-1]  # tests/x.py::t -> x.py::t
        files.add(nid.split("::", 1)[0])
        base = nid.split("[", 1)[0]
        hit = nid if nid in slow else base if base in slow else None
        if hit is not None:
            seen.add(hit)
            item.add_marker(pytest.mark.slow)
    # only entries whose file was collected whole can be judged: a subset
    # run has no opinion on the files it did not collect, and a node id
    # (x.py::t) collects only part of its file
    partial = {os.path.basename(a.split("::", 1)[0]) for a in config.args if "::" in a}
    missing = {e for e in slow - seen if e.split("::", 1)[0] in files - partial}
    if missing:
        raise pytest.UsageError(
            f"tests/slow_tests.txt entries match no collected test: {sorted(missing)}"
        )
