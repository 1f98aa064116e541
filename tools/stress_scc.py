"""SCC strategy probe (SCALE.md addendum): pairs vs pivot FW-BW on the
derived call graph, across the two axes that separate them:

- DENSITY (sf0.01 → sf0.1: same 500-node set, ~7× the edges): the
  pairs strategy's state is the reachability pair set Σ|reach(v)|,
  which grows with density; FW-BW's state is O(|V|) rows per frame
  regardless.
- DATA (1× → 10× disjoint replication, node ids offset per replica):
  both strategies scale linearly here — the probe pins that FW-BW has
  no hidden superlinear term on the axis where pairs is known-linear.

For each (graph, strategy): wall seconds and the measured state size —
Σ|reach| pairs for "pairs" (recomputed with the operator's own BFS
loop), |V| for "fwbw" (the partition map / closure frames are each
≤ |V| rows by construction; the probe verifies output equality against
the pairs result where max_depth covers the graph).

Usage: python tools/stress_scc.py [sf_dir]
Prints a markdown table for SCALE.md.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from binaryx_graph_spark.operators.graphalgo import scc_bounded, scc_fwbw  # noqa: E402
from binaryx_graph_spark.plans.graph_project import derived_edges  # noqa: E402
from binaryx_graph_spark.session import get_spark  # noqa: E402

REPLICAS = 10
OFFSET = 1_000_000  # node-id offset per replica: components never merge


def _replicate(spark, edges, n: int):
    reps = spark.range(n).select((F.col("id") * OFFSET).alias("off"))
    return (
        edges.crossJoin(F.broadcast(reps))
        .select(
            (F.col("src") + F.col("off")).alias("src"),
            (F.col("dst") + F.col("off")).alias("dst"),
        )
        .localCheckpoint(eager=True)
    )


def _pair_set_size(edges, max_depth: int = 6) -> int:
    """Σ|reach| of the pairs strategy: the operator's own BFS loop,
    counting instead of consuming."""
    edges = edges.select(
        F.col("src").cast("long"), F.col("dst").cast("long")
    ).distinct().localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct()
    )
    reach = nodes.select(F.col("v").alias("u"), F.col("v").alias("w")).localCheckpoint(
        eager=True
    )
    frontier = reach
    for _d in range(max_depth):
        frontier = (
            frontier.join(edges, frontier.w == edges.src)
            .select("u", F.col("dst").alias("w"))
            .distinct()
            .join(reach, ["u", "w"], "left_anti")
            .localCheckpoint(eager=True)
        )
        if frontier.isEmpty():
            break
        reach = reach.unionByName(frontier).localCheckpoint(eager=True)
    return reach.count()


def _time(fn) -> tuple[float, int]:
    t0 = time.time()
    n = fn().count()
    return round(time.time() - t0, 2), n


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("stress-scc")
    rows = []
    graphs = [
        ("sf0.01 1x", derived_edges(spark, "/root/testdata/sf0.01")),
        ("sf0.1  1x", derived_edges(spark, sf_dir)),
    ]
    graphs.append((f"sf0.1 {REPLICAS}x", _replicate(spark, graphs[1][1], REPLICAS)))
    for label, edges in graphs:
        edges = edges.localCheckpoint(eager=True)
        n_e = edges.count()
        n_v = (
            edges.select(F.col("src").alias("v"))
            .unionByName(edges.select(F.col("dst").alias("v")))
            .distinct()
            .count()
        )
        pair_rows = _pair_set_size(edges)
        w_pairs, n_pairs_out = _time(lambda: scc_bounded(edges))
        w_fwbw, n_fwbw_out = _time(lambda: scc_fwbw(edges))
        # output equality (max_depth=6 covers the derived graph — the
        # gate query's contract); any divergence is a probe failure
        diff = (
            scc_bounded(edges)
            .exceptAll(scc_fwbw(edges))
            .count()
        )
        rows.append(
            (label, n_v, n_e, pair_rows, round(pair_rows / n_v, 1), w_pairs, w_fwbw, diff)
        )
        print(f"# {label}: |V|={n_v} |E|={n_e} pairs={pair_rows} "
              f"pairs_wall={w_pairs}s fwbw_wall={w_fwbw}s diff={diff}", file=sys.stderr)
    print("| graph | \\|V\\| | \\|E\\| | pairs state Σ\\|reach\\| | ratio vs \\|V\\| | pairs wall | fwbw wall | output diff |")
    print("|---|---|---|---|---|---|---|---|")
    for label, n_v, n_e, pr, ratio, wp, wf, diff in rows:
        print(f"| {label} | {n_v} | {n_e} | {pr} | {ratio}x | {wp}s | {wf}s | {diff} |")
    spark.stop()


if __name__ == "__main__":
    main()
