"""Summary statistics and the printed report.

Timings are reported as a median and as the highest percentile that
still has at least ten samples beyond it, with the sample count; the
host probes use the same definitions as the repository's ``bench.py``.
"""

from __future__ import annotations

import json
import math
import sys
import time

TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    """The middle value (mean of the two middle values for an even count)."""
    if not values:
        raise ValueError("median of no samples")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, int] | None:
    """The highest whole percentile ``p`` whose nearest-rank value still
    has at least ``beyond`` samples above it in rank → ``(value, p)``;
    ``None`` when there are too few samples for any percentile.

    Nearest rank: the ``p``-th percentile of ``n`` sorted samples is the
    sample at rank ``ceil(p·n/100)`` (1-based), leaving ``n - rank``
    samples beyond it."""
    n = len(values)
    s = sorted(values)
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= beyond:
            return s[rank - 1], p
    return None


def calibrate(spark) -> float:
    """Host CPU probe, as ``bench.py``'s ``_calibrate``: median of 3
    timed ``sum(id)`` over ``range(1e8)`` after one warm-up."""
    spark.range(100_000_000).selectExpr("sum(id)").collect()
    samples = []
    for _ in range(3):
        t0 = time.time()
        spark.range(100_000_000).selectExpr("sum(id)").collect()
        samples.append(time.time() - t0)
    return sorted(samples)[1]


def floor_probe(spark) -> float:
    """Per-job scheduling floor, as ``bench.py``'s ``_floor_probe``:
    median of 11 one-task ``count`` jobs after one warm-up."""
    spark.range(1, numPartitions=1).count()
    samples = []
    for _ in range(11):
        t0 = time.time()
        spark.range(1, numPartitions=1).count()
        samples.append(time.time() - t0)
    return sorted(samples)[len(samples) // 2]


def print_report(metrics: dict[str, dict], notes: dict[str, str], out=sys.stderr) -> None:
    """Human-readable table: name, value, unit and how it was taken, then
    the notes that belong to no single metric."""
    width = max((len(k) for k in metrics), default=10)
    for name, m in metrics.items():
        print(
            f"# {name:<{width}}  {m['value']:>14.6g} {m['unit']:<7} {notes.get(name, '')}",
            file=out,
        )
    for key, note in notes.items():
        if key not in metrics:
            print(f"# {key}: {note}", file=out)


def result_line(correct: bool, attempted: int, failed: int, metrics: dict[str, dict]) -> str:
    """The single JSON line the benchmark prints last on stdout."""
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                k: {"value": float(v["value"]), "unit": v["unit"]} for k, v in metrics.items()
            },
        }
    )
