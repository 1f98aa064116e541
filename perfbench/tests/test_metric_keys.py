"""BENCHMARK.json lists exactly the metrics the two kinds of run print."""

from __future__ import annotations

import argparse
import json
import os

from layers import metric_names
from run import CLASSES, Bench

BENCHMARK = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")


def _listed(kind: str) -> list[tuple[str, str]]:
    with open(BENCHMARK, encoding="utf-8") as fh:
        return [(m["name"], m["unit"]) for m in json.load(fh)[kind]]


def test_per_layer_list_matches_the_traced_output():
    listed = _listed("per_layer")
    assert listed == metric_names()
    assert len({n for n, _ in listed}) == len(listed)


def test_end_to_end_list_matches_the_untraced_output(tmp_path):
    bench = Bench(argparse.Namespace(seed=1, seconds=0, trace=0), tmp_path)
    bench.session_s, bench.init_s, bench.ingest_s = 5.0, 8.0, 20.0
    bench.setup_s = 33.0
    bench.n_functions, bench.warehouse_bytes, bench.input_bytes = 100, 40, 100
    bench.lat = {c: [0.5, 1.5] for c in CLASSES}
    bench.passes = [10.0]
    metrics, _notes = bench.end_to_end()
    assert [(k, m["unit"]) for k, m in metrics.items()] == _listed("end_to_end")
