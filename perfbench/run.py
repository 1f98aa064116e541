"""Benchmark of the ``Engine`` surface.

    python3 perfbench/run.py --workload graph_query --seed 1 --seconds 5 --trace 0

Generates seeded inputs (``gen.py``), starts one Spark session with
``local[4]`` (fewer where nproc is smaller), drives the inputs through
the public ``Engine`` API with one closed-loop client, checks every
result against answers computed independently in pure Python
(``oracle.py``) and prints the metrics, last on stdout, as one JSON line.

Workloads (both start with the same setup: session start, ``Engine``
init and a bulk ``Engine.ingest`` of the seeded analysis-JSON corpus):

- ``graph_query`` — the interactive read path: passes of 13 reference
  CLI requests (lookups, traversals, Cypher) in a fixed order with
  seeded arguments; some requests reach hub functions shared by every
  binary, most touch small frontiers.
- ``batch_analytics`` — whole-dataset jobs: PageRank, SCC and
  betweenness over the call graph, recursion detection, and a text pass
  (MinHash near-dup, exact dedup of the rest, BM25 top-k).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs every
operation once untraced and once with the span recorder (``spans.py``),
alternating the order, and prints the per-layer metrics.  Everything a
run creates lives under ``.perfbench_run/`` in the checkout and is
removed when the run exits.
"""

from __future__ import annotations

import argparse
import gc
import os
import random
import resource
import shutil
import signal
import sys
import tempfile
import time
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import report  # noqa: E402
from oracle import GraphOracle, TextOracle  # noqa: E402

#: local[N] with N at most 4 (and at most nproc); a 2 GB heap runs both
#: workloads without spill
CPUS = min(4, os.cpu_count() or 1)
JVM_HEAP = "2g"

#: graph_query: 1,440 functions, enough for hub fan-out across binaries;
#: its requests stay bound by plan-build and the per-job floor
GRAPH_QUERY_CORPUS = gen.CorpusSpec(n_binaries=24, fns_per_binary=60)
#: batch_analytics: 6,400 functions and 4,000 documents, the largest
#: corpus whose run still fits the measurement budget (about 70 s)
BATCH_CORPUS = gen.CorpusSpec(n_binaries=80, fns_per_binary=80)
BATCH_TEXTS = gen.TextSpec(n_docs=4000)

#: the metric classes of each operation kind (``engine.<class>.*``)
CLASSES = ("lookup", "traverse", "cypher", "analytics", "text")

CYPHER_CALLEES = (
    "MATCH (f:Function)-[:CALLS*1..3]->(callee:Function)\n"
    "                 WHERE f.name = $function_name OR f.uid = $function_name\n"
    "                 RETURN DISTINCT callee"
)
CYPHER_FN_SEARCH = """
            MATCH (f:Function)
            WHERE f.name CONTAINS $pattern OR f.uid CONTAINS $pattern
            RETURN f
            LIMIT 100
        """


class Op:
    """One benchmark operation: build (the Engine call, returning a
    DataFrame), finish (the action that completes it) and check."""

    def __init__(self, kind: str, name: str, build, check, finish=None):
        self.kind, self.name = kind, name
        self.build, self.check = build, check
        self.finish = finish or (lambda df: [tuple(r) for r in df.collect()])


class Bench:
    """One run: setup, the timed passes, and the operations attempted
    and failed."""

    def __init__(self, args, run_dir: Path):
        self.args = args
        self.run_dir = run_dir
        self.rng = random.Random(f"mix:{args.seed}")
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.rec = None
        self.lat: dict[str, list[float]] = {c: [] for c in CLASSES}
        self.lat_by_op: dict[str, list[float]] = {}
        self.passes: list[float] = []
        self.n_traced_ops = 0
        self.traced_wall = 0.0
        self.untraced_wall = 0.0
        self.op_walls: dict[str, float] = {}
        self.pairs_found_over_planted = 0.0

    # ------------------------------------------------------------ setup
    def setup(self, corpus: gen.CorpusSpec) -> None:
        in_dir = self.run_dir / "in"
        self.binaries = gen.make_corpus(self.args.seed, corpus)
        gen.write_documents(self.binaries, str(in_dir))
        self.oracle = GraphOracle(self.binaries)
        self.input_bytes = _tree_bytes(in_dir)[0]
        self.n_functions = sum(len(b.functions) for b in self.binaries)

        from binaryx_graph_spark import Engine
        from binaryx_graph_spark.session import get_spark

        # a TERM during the JVM launch would orphan the JVM: hold it until
        # the session exists and can be stopped
        held: list[int] = []
        on_term = signal.signal(signal.SIGTERM, lambda signum, _frame: held.append(signum))
        t0 = time.time()
        self.spark = get_spark("perfbench")
        self.session_s = time.time() - t0
        signal.signal(signal.SIGTERM, on_term)
        if held:
            sys.exit(128 + held[0])
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.args.trace:
            from spans import SpanRecorder

            self.rec = SpanRecorder(self.spark)
            self.rec.install()
            self.calib = [report.calibrate(self.spark)]
            self.floor = [report.floor_probe(self.spark)]
        wh = self.run_dir / "warehouse"
        t0 = time.time()
        with self._request("setup.init"):
            self.engine = Engine(self.spark, str(wh))
        self.init_s = time.time() - t0
        before = _tree_bytes(wh)
        self._collect_garbage()
        t0 = time.time()
        with self._request("setup.ingest"):
            self.engine.ingest(str(in_dir))
        self.ingest_s = time.time() - t0
        after = _tree_bytes(wh)
        self.written = (after[0] - before[0], after[1] - before[1])
        self.warehouse_bytes = after[0]
        self.setup_s = self.session_s + self.init_s + self.ingest_s

    def _collect_garbage(self) -> None:
        """Full Python and JVM collections before a timed phase, so no run
        times a collection of earlier garbage that another run does not."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def _request(self, name: str):
        return nullcontext() if self.rec is None else self.rec.request(name, name)

    # -------------------------------------------------------- operations
    def run_op(self, op: Op) -> float:
        """Run one operation (twice when tracing: untraced and traced,
        alternating which goes first), check every result and return the
        untraced latency."""
        if self.rec is None:
            return self._once(op, traced=False)
        self.n_traced_ops += 1
        first_traced = self.n_traced_ops % 2 == 1
        walls = {}
        for traced in (first_traced, not first_traced):
            walls[traced] = self._once(op, traced)
        self.untraced_wall += walls[False]
        self.traced_wall += walls[True]
        return walls[False]

    def _once(self, op: Op, traced: bool) -> float:
        self.attempted += 1
        rid = f"op{self.attempted}:{op.name}"
        t0 = time.time()
        try:
            if traced:
                with self.rec.request(rid, f"request.{op.kind}.{op.name}"):
                    with self.rec.span(f"engine.{op.kind}.construct"):
                        df = op.build()
                    with self.rec.span(f"engine.{op.kind}.action"):
                        rows = op.finish(df)
                    # the request's wall, before the recorder reads counters
                    self.op_walls[rid] = time.time() - t0
            else:
                df = op.build()
                rows = op.finish(df)
            wall = time.time() - t0
            problem = op.check(rows)
        except Exception as e:  # one failed operation must not end the run
            wall = time.time() - t0
            problem = f"{type(e).__name__}: {e}"
        if problem:
            self.failed += 1
            print(f"# FAILED {op.name}: {problem}"[:2000], file=sys.stderr)
        print(f"# op {op.kind:<9} {wall:8.3f} s {'traced ' if traced else ''}{op.name}",
              file=sys.stderr)
        if not traced:
            self.lat[op.kind].append(wall)
            self.lat_by_op.setdefault(op.name.split("(")[0], []).append(wall)
        return wall

    def run_passes(self, make_pass) -> None:
        """Whole passes over the workload's mix until ``--seconds`` have
        elapsed (always at least one).  The mix is drawn once, so every
        pass repeats the same operations.  A pass's time is the sum of its
        operations' latencies: the checks in between are not counted."""
        ops = make_pass()
        self._collect_garbage()
        t_end = time.time() + self.args.seconds
        while True:
            self.passes.append(sum(self.run_op(op) for op in ops))
            if time.time() >= t_end:
                break

    # ------------------------------------------------------- graph_query
    def graph_query_pass(self) -> list[Op]:
        eng, o, rng = self.engine, self.oracle, self.rng
        bins = self.binaries
        b = bins[rng.randrange(len(bins))]
        internal = [n for _a, n, _s in b.functions if n != "main"]
        fn = lambda: internal[rng.randrange(len(internal))]  # noqa: E731
        hub = gen.HUB_IMPORTS[rng.randrange(len(gen.HUB_IMPORTS))][1]
        tok, tok2 = rng.sample(gen.STRING_TOKENS, 2)
        stem = gen.FN_STEMS[rng.randrange(len(gen.FN_STEMS))]
        addr = b.functions[rng.randrange(len(b.functions))][0]
        seq_fn, near_fn, callee_fn, path_fn = fn(), fn(), fn(), fn()

        ops = [
            Op("lookup", "stats", eng.stats,
               lambda rows: o.check_stats([(r[0], r[2]) for r in rows])),
            Op("lookup", f"search_strings({tok})", lambda: eng.search_strings(tok),
               lambda rows: o.check_search_strings(tok, rows)),
            Op("lookup", f"search_strings({tok2})", lambda: eng.search_strings(tok2),
               lambda rows: o.check_search_strings(tok2, rows)),
            Op("lookup", f"search_functions({stem})", lambda: eng.search_functions(stem),
               lambda rows: o.check_search_functions(stem, [r[0] for r in rows])),
            Op("lookup", f"xref({addr})", lambda: eng.xref(addr),
               lambda rows: o.check_xref(addr, rows)),
            Op("lookup", f"call_sequences({seq_fn})", lambda: eng.call_sequences(seq_fn),
               lambda rows: o.check_call_sequences(seq_fn, rows)),
            Op("traverse", f"callees({near_fn},1)",
               lambda: eng.callees(near_fn, max_depth=1),
               lambda rows: o.check_reachable(near_fn, "out", 1, rows)),
            Op("traverse", f"callees({callee_fn},3)",
               lambda: eng.callees(callee_fn, max_depth=3),
               lambda rows: o.check_reachable(callee_fn, "out", 3, rows)),
            Op("traverse", f"callers({hub},2)", lambda: eng.callers(hub, max_depth=2),
               lambda rows: o.check_reachable(hub, "in", 2, rows)),
            Op("traverse", f"paths_from({path_fn})", lambda: eng.paths_from(path_fn, max_depth=3),
               lambda rows: o.check_paths(
                   path_fn, 3, [(r[0], r[1], r[2], r[4], r[5]) for r in rows])),
            Op("traverse", "longest_paths(main)", lambda: eng.longest_paths("main", max_depth=3),
               lambda rows: o.check_longest("main", 3, rows)),
            Op("cypher", "cypher_callees(main)",
               lambda: eng.cypher(CYPHER_CALLEES, {"function_name": "main"}).select("callee_uid"),
               lambda rows: o.check_reach_set("main", "out", 3, [r[0] for r in rows])),
            Op("cypher", f"cypher_fn_search({stem})",
               lambda: eng.cypher(CYPHER_FN_SEARCH, {"pattern": stem}).select("f_uid"),
               lambda rows: o.check_function_search_limit(stem, [r[0] for r in rows], 100)),
        ]
        return ops

    # --------------------------------------------------- batch_analytics
    def batch_prepare(self) -> None:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        docs, planted = gen.make_texts(self.args.seed, BATCH_TEXTS)
        text_path = self.run_dir / "texts.jsonl"
        gen.write_texts(docs, str(text_path))
        self.text_oracle = TextOracle(docs, planted)
        self.docs_df = self.spark.read.schema("doc_id long, text string").json(str(text_path))
        vocab = gen.text_vocab()
        trng = random.Random(f"bm25:{self.args.seed}")
        self.bm25_terms = trng.sample(vocab[5:60], 3)
        # dense integer node ids in uid order (the checker's ids) for the
        # operators that take long ids; materialized once, outside the timing
        idmap = (
            self.engine.table("functions")
            .select("uid", (F.row_number().over(Window.orderBy("uid")) - 1).alias("id"))
            .localCheckpoint()
        )
        src = idmap.select(F.col("uid").alias("src"), F.col("id").alias("s"))
        dst = idmap.select(F.col("uid").alias("dst"), F.col("id").alias("d"))
        self.int_edges = (
            lambda: self.engine.call_graph_edges()
            .join(src, "src").join(dst, "dst")
            .select(F.col("s").alias("src"), F.col("d").alias("dst"))
        )

    def batch_pass(self) -> list[Op]:
        from binaryx_graph_spark import Engine

        o = self.oracle
        return [
            Op("analytics", "pagerank", lambda: Engine.pagerank(self.int_edges()),
               lambda rows: o.check_pagerank([(r[0], r[1]) for r in rows])),
            Op("analytics", "scc", lambda: Engine.scc(self.int_edges()), o.check_scc),
            Op("analytics", "betweenness", lambda: Engine.betweenness(self.int_edges()),
               o.check_betweenness),
            Op("analytics", "recursion", self.engine.recursion, o.check_recursion),
            Op("text", "text_pipeline", lambda: self.docs_df, self._check_text,
               finish=self._text_pass),
        ]

    def _text_pass(self, docs):
        """MinHash near-dup pairs → drop the later member of each pair →
        exact dedup of the rest → BM25 top-k over the canonical docs."""
        from binaryx_graph_spark import Engine
        from pyspark.sql import functions as F

        with self._stage("text.minhash"):
            pairs_df = Engine.dedup_minhash(docs, "doc_id", "text").localCheckpoint()
            pairs = [tuple(r) for r in pairs_df.collect()]
        dropped = pairs_df.select(F.col("doc_b").alias("doc_id"))
        remaining = docs.join(dropped, "doc_id", "left_anti")
        with self._stage("text.exact"):
            groups_df = Engine.dedup_exact(remaining, "doc_id", F.col("text")).localCheckpoint()
            groups = [tuple(r) for r in groups_df.collect()]
        canon = docs.join(groups_df.select(F.col("canonical_id").alias("doc_id")), "doc_id", "left_semi")
        with self._stage("text.bm25"):
            top = [tuple(r) for r in Engine.bm25(canon, self.bm25_terms).collect()]
        return pairs, groups, top

    def _stage(self, name: str):
        """A span around one stage of a multi-action operation, so the
        stage's Spark jobs are attributed to it (traced requests only)."""
        traced = self.rec is not None and self.rec.in_request
        return self.rec.span(name) if traced else nullcontext()

    def _check_text(self, result) -> str | None:
        pairs, groups, top = result
        t = self.text_oracle
        self.pairs_found_over_planted = t.planted_found(pairs)
        problem = t.check_near_pairs(pairs)
        if problem:
            return problem
        remaining = sorted(set(t.docs) - {p[1] for p in pairs})
        problem = t.check_exact_groups(remaining, groups)
        if problem:
            return problem
        canon = sorted(g[2] for g in groups)
        return t.check_bm25(canon, self.bm25_terms, [(d, s) for d, s, _ in top])

    # ---------------------------------------------------------- cleanup
    def remove_files(self, tmp_before: set[str]) -> None:
        """Remove the run's directory.  A ``bxg_*`` entry the run left
        behind counts as a failed operation: one in the run's own temp or
        Spark warehouse directory (where ``_configure_environment`` points
        the engine), or a new one in /tmp."""
        run_dir = self.run_dir
        leaked = [
            str(d / n)
            for d in (run_dir / "tmp", run_dir / "spark-warehouse")
            for n in sorted(_bxg_entries(d))
        ]
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = run_dir.parent
        if parent.exists() and not any(parent.iterdir()):
            parent.rmdir()
        leaked += [f"/tmp/{n}" for n in sorted(_bxg_entries("/tmp") - tmp_before)]
        if run_dir.exists():
            leaked.append(str(run_dir))
        if leaked:
            print(f"# FAILED leak check: {leaked}", file=sys.stderr)
            self.failed += 1

    # ----------------------------------------------------------- metrics
    def end_to_end(self) -> tuple[dict, dict]:
        all_ops = [x for c in CLASSES for x in self.lat[c]]
        metrics = {
            "setup_s": (self.setup_s, "s"),
            "storage_amplification": (self.warehouse_bytes / self.input_bytes, "ratio"),
            "pass_s": (report.median(self.passes), "s"),
        }
        notes = {
            "setup_s": f"session {self.session_s:.2f} + init {self.init_s:.2f} "
                       f"+ ingest {self.ingest_s:.2f}",
            "ingest": f"{self.n_functions / self.ingest_s:.1f} functions/s "
                      f"({self.n_functions} functions in the bulk import)",
            "pass_s": f"median of n={len(self.passes)} passes, "
                      f"{len(all_ops) // len(self.passes)} operations each",
            "operations": f"p50 {report.median(all_ops):.3f} s over n={len(all_ops)}",
        }
        for c in CLASSES:
            if self.lat[c]:
                notes[c] = f"p50 {report.median(self.lat[c]):.3f} s over n={len(self.lat[c])}"
        t = report.tail(all_ops)
        notes["tail"] = (
            f"p{t[1]} {t[0]:.3f} s over n={len(all_ops)} operations" if t
            else f"none: n={len(all_ops)} operations, fewer than 11"
        )
        return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}, notes


def _tree_bytes(root: Path) -> tuple[int, int]:
    """(bytes, files) under ``root``."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def _bxg_entries(directory) -> set[str]:
    try:
        return {n for n in os.listdir(directory) if n.startswith("bxg_")}
    except FileNotFoundError:
        return set()


def _configure_environment(run_dir: Path) -> None:
    """Keep every file Spark and the engine create inside ``run_dir``."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=JVM_HEAP,
        BXG_SPARK_WAREHOUSE=str(run_dir / "spark-warehouse"),
        SPARK_LOCAL_DIRS=str(run_dir / "spark-local"),
        TMPDIR=str(tmp),
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )
    tempfile.tempdir = str(tmp)


def _stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("graph_query", "batch_analytics"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the engine package comes from the checkout; without it the run fails
    sys.path.insert(0, str(ROOT))
    import binaryx_graph_spark  # noqa: F401

    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    tmp_before = _bxg_entries("/tmp")
    run_dir = ROOT / ".perfbench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    _configure_environment(run_dir)
    bench = Bench(args, run_dir)
    try:
        if args.workload == "graph_query":
            bench.setup(GRAPH_QUERY_CORPUS)
            bench.run_passes(bench.graph_query_pass)
        else:
            bench.setup(BATCH_CORPUS)
            bench.batch_prepare()
            bench.run_passes(bench.batch_pass)
        if args.trace:
            bench.calib.append(report.calibrate(bench.spark))
            bench.floor.append(report.floor_probe(bench.spark))
            bench.rec.uninstall()
            out = ROOT / ".perfbench_out"
            out.mkdir(exist_ok=True)
            bench.rec.write(str(out / f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        try:
            _stop_spark(bench.spark)
        finally:
            bench.remove_files(tmp_before)

    # the JVM has exited and been waited for: its peak RSS is a child's
    rss_mb = (
        resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        + resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    ) / 1024.0
    if args.trace:
        from layers import per_layer_metrics

        metrics, notes = per_layer_metrics(bench, rss_mb), {}
    else:
        metrics, notes = bench.end_to_end()
    report.print_report(metrics, notes)
    print(report.result_line(bench.failed == 0, bench.attempted, bench.failed, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
