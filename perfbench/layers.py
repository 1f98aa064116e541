"""Per-layer metrics of a traced run.

Every traced run prints the same keys, whatever the workload: a layer
the workload does not exercise reads 0.  ``.s`` is the median inclusive
span time per call, ``.jobs`` the median Spark jobs per call (jobs are
attributed to the innermost span open at submission; a span's count
includes its descendants'), ``self.<layer>_s`` the layer's total self
time over the run.
"""

from __future__ import annotations

from collections import defaultdict

import report

#: engine entry points reported as ``<name>.s`` (and ``.jobs`` where listed)
TIMED = (
    "json_source.read_analysis_json", "ingest.build_graph_tables",
    "warehouse.initialize", "warehouse.merge_batch", "warehouse.read",
    "search.search_strings", "search.search_functions",
    "xref.xref_address", "xref.global_stats",
    "traverse.reachable", "traverse.enumerate_paths", "traverse.indirect_recursion",
    "traverse.call_sequences",
    "graphalgo.pagerank_fixed", "graphalgo.scc_bounded", "graphalgo.betweenness_sampled",
)
#: lazy text operators, timed through the benchmark's stage spans
TEXT_TIMED = ("dedup.minhash_near_dup", "dedup.exact_dedup_groups", "textstats.bm25_topk")
WITH_JOBS = (
    "warehouse.merge_batch", "traverse.reachable", "traverse.enumerate_paths",
    "traverse.indirect_recursion", "graphalgo.pagerank_fixed", "graphalgo.scc_bounded",
    "graphalgo.betweenness_sampled",
)
SELF_LAYERS = (
    "engine", "json_source", "ingest", "warehouse", "search", "traverse", "xref",
    "cypher", "graphalgo", "lineage", "dedup", "textstats",
)
OP_CLASSES = ("lookup", "traverse", "cypher", "analytics", "text")
SPARK = (
    ("jobs", "count"), ("stages", "count"), ("tasks", "count"), ("executor_run_s", "s"),
    ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
)
#: untraced latencies of single operations, by benchmark op name
OP_LATENCIES = (
    ("pagerank_s", "pagerank"), ("scc_s", "scc"), ("betweenness_s", "betweenness"),
    ("cycles_s", "recursion"), ("text_pipeline_s", "text_pipeline"),
)


def _med(values) -> float:
    values = list(values)
    return report.median(values) if values else 0.0


def metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in report order."""
    out = [("error_rate", "ratio"), ("session.start_s", "s"), ("ingest_fn_per_s", "fn/s")]
    for c in OP_CLASSES:
        out += [(f"engine.{c}.construct_s", "s"), (f"engine.{c}.action_s", "s")]
    out += [("engine.accounted_share", "ratio")]
    out += [("lookup_p50_s", "s"), ("traverse_p50_s", "s"), ("cypher_p50_s", "s"),
            ("query_tail_s", "s"), ("query_tail_pct", "pct"), ("query_samples", "count")]
    out += [(name, "s") for name, _ in OP_LATENCIES]
    out += [(f"{n}.s", "s") for n in TIMED + TEXT_TIMED]
    out += [(f"{n}.jobs", "count") for n in WITH_JOBS + ("dedup.minhash_near_dup",)]
    out += [
        ("warehouse.read.calls_per_request", "count"),
        ("warehouse.merge_batch.bytes_written", "bytes"),
        ("warehouse.merge_batch.files_written", "count"),
        ("warehouse.write_amplification", "ratio"),
        ("cypher.compile_s", "s"), ("cypher.jobs", "count"),
        ("lineage.checkpoint_cut.calls", "count"),
        ("dedup.minhash_near_dup.shuffle_bytes", "bytes"),
        ("dedup.pairs_found_over_planted", "ratio"),
    ]
    out += [(f"spark.{k}", u) for k, u in SPARK]
    out += [("spark.job_floor_share", "ratio"), ("spark.executor_share", "ratio")]
    out += [(f"self.{layer}_s", "s") for layer in SELF_LAYERS]
    out += [("host.calib_s", "s"), ("host.floor_s", "s"),
            ("host.calib_end_over_start", "ratio"), ("host.floor_end_over_start", "ratio"),
            ("trace.overhead_ratio", "ratio"), ("peak_rss_mb", "MB")]
    return out


def per_layer_metrics(bench, peak_rss_mb: float) -> dict[str, dict]:
    rec = bench.rec
    spans = rec.spans
    selfs = rec.self_times()
    children: dict[int, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        if s.parent is not None:
            children[s.parent].append(i)

    def span_jobs(i: int) -> list[int]:
        return spans[i].jobs + [j for c in children[i] for j in span_jobs(c)]

    def jobs(i: int) -> int:
        return len(span_jobs(i))

    by_name: dict[str, list[int]] = defaultdict(list)
    for i, s in enumerate(spans):
        by_name[s.name].append(i)

    v: dict[str, float] = {}
    v["error_rate"] = bench.failed / bench.attempted if bench.attempted else 0.0
    v["session.start_s"] = bench.session_s
    # the bulk import's root span: its wall without the counter reads
    (ingest,) = by_name["setup.ingest"]
    v["ingest_fn_per_s"] = bench.n_functions / spans[ingest].duration
    for c in OP_CLASSES:
        for part in ("construct", "action"):
            v[f"engine.{c}.{part}_s"] = _med(spans[i].duration for i in by_name[f"engine.{c}.{part}"])

    # per traced operation: its root span, and the construct + action share of its wall
    op_roots = [i for i, s in enumerate(spans) if s.parent is None and s.request in bench.op_walls]
    shares = []
    for i in op_roots:
        inner = sum(spans[c].duration for c in children[i] if spans[c].name.startswith("engine."))
        shares.append(inner / bench.op_walls[spans[i].request])
    v["engine.accounted_share"] = _med(shares)

    for c in ("lookup", "traverse", "cypher"):
        v[f"{c}_p50_s"] = _med(bench.lat[c])
    queries = bench.lat["lookup"] + bench.lat["traverse"] + bench.lat["cypher"]
    t = report.tail(queries)
    v["query_tail_s"], v["query_tail_pct"] = (t[0], t[1]) if t else (0.0, 0)
    v["query_samples"] = len(queries)
    for metric, op in OP_LATENCIES:
        v[metric] = _med(bench.lat_by_op.get(op, []))

    for n in TIMED:
        v[f"{n}.s"] = _med(spans[i].duration for i in by_name[n])
    for n in WITH_JOBS:
        v[f"{n}.jobs"] = _med(jobs(i) for i in by_name[n])

    reads = defaultdict(int)
    for i in by_name["warehouse.read"]:
        reads[spans[i].request] += 1
    v["warehouse.read.calls_per_request"] = _med(reads.get(spans[i].request, 0) for i in op_roots)
    v["warehouse.merge_batch.bytes_written"] = bench.written[0]
    v["warehouse.merge_batch.files_written"] = bench.written[1]
    v["warehouse.write_amplification"] = bench.written[0] / bench.input_bytes
    v["cypher.compile_s"] = _med(spans[i].duration for i in by_name["cypher.compile"])
    cy_ops = [i for i in op_roots if spans[i].name.startswith("request.cypher.")]
    v["cypher.jobs"] = _med(jobs(i) for i in cy_ops)
    v["lineage.checkpoint_cut.calls"] = len(by_name["lineage.checkpoint_cut"])
    # the text pass's stage spans also hold the materialization of the
    # lazy operator frames: they stand for those operators
    for op, stage in (("dedup.minhash_near_dup", "text.minhash"),
                      ("dedup.exact_dedup_groups", "text.exact"),
                      ("textstats.bm25_topk", "text.bm25")):
        v[f"{op}.s"] = _med(spans[i].duration for i in by_name[stage])
    mh = by_name["text.minhash"]
    v["dedup.minhash_near_dup.jobs"] = _med(jobs(i) for i in mh)
    v["dedup.minhash_near_dup.shuffle_bytes"] = _med(
        sum(rec.job_counters[j].shuffle_write_bytes for j in span_jobs(i)) for i in mh
    )
    v["dedup.pairs_found_over_planted"] = bench.pairs_found_over_planted

    floor = report.median(bench.floor)
    counters = [rec.counters[spans[i].request] for i in op_roots]
    for k, _u in SPARK:
        v[f"spark.{k}"] = _med(getattr(c, k) for c in counters)
    v["spark.job_floor_share"] = _med(
        rec.counters[spans[i].request].jobs * floor / bench.op_walls[spans[i].request]
        for i in op_roots
    )
    v["spark.executor_share"] = _med(
        rec.counters[spans[i].request].executor_run_s / bench.op_walls[spans[i].request]
        for i in op_roots
    )
    per_layer_self = defaultdict(float)
    for s, st in zip(spans, selfs):
        per_layer_self[s.layer] += st
    for layer in SELF_LAYERS:
        v[f"self.{layer}_s"] = per_layer_self.get(layer, 0.0)
    v["host.calib_s"] = report.median(bench.calib)
    v["host.floor_s"] = floor
    v["host.calib_end_over_start"] = bench.calib[-1] / bench.calib[0]
    v["host.floor_end_over_start"] = bench.floor[-1] / bench.floor[0]
    v["trace.overhead_ratio"] = bench.traced_wall / bench.untraced_wall
    v["peak_rss_mb"] = peak_rss_mb
    return {name: {"value": v[name], "unit": unit} for name, unit in metric_names()}
