"""Span recorder for the traced run.

Wraps the entry points of each engine layer (module attributes and
``Warehouse`` methods, looked up at call time by the engine) only while
a traced run is active, and records one span per call: name, layer,
start, end, parent span and request id.  Spans stay in memory and are
written out when the run ends.  Spark work is read per request from the
status tracker and the status store, through a job group the benchmark
sets for each request; each job is attributed to the innermost span
that was open when the job was submitted.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JError

#: (module, attribute, span name).  An attribute named ``Class.method``
#: wraps a method on the class.
ENTRY_POINTS = (
    ("binaryx_graph_spark.engine", "read_analysis_json", "json_source.read_analysis_json"),
    ("binaryx_graph_spark.engine", "build_graph_tables", "ingest.build_graph_tables"),
    ("binaryx_graph_spark.engine", "_cypher", "cypher.compile"),
    ("binaryx_graph_spark.sources.warehouse", "Warehouse.initialize", "warehouse.initialize"),
    ("binaryx_graph_spark.sources.warehouse", "Warehouse.merge_batch", "warehouse.merge_batch"),
    ("binaryx_graph_spark.sources.warehouse", "Warehouse.read", "warehouse.read"),
    ("binaryx_graph_spark.operators.search", "search_strings", "search.search_strings"),
    ("binaryx_graph_spark.operators.search", "search_functions", "search.search_functions"),
    ("binaryx_graph_spark.operators.traverse", "reachable", "traverse.reachable"),
    ("binaryx_graph_spark.operators.traverse", "enumerate_paths", "traverse.enumerate_paths"),
    ("binaryx_graph_spark.operators.traverse", "indirect_recursion", "traverse.indirect_recursion"),
    ("binaryx_graph_spark.operators.traverse", "direct_recursion", "traverse.direct_recursion"),
    ("binaryx_graph_spark.operators.traverse", "call_sequences", "traverse.call_sequences"),
    ("binaryx_graph_spark.operators.xref", "xref_address", "xref.xref_address"),
    ("binaryx_graph_spark.operators.xref", "global_stats", "xref.global_stats"),
    ("binaryx_graph_spark.operators.graphalgo", "pagerank_fixed", "graphalgo.pagerank_fixed"),
    ("binaryx_graph_spark.operators.graphalgo", "scc_bounded", "graphalgo.scc_bounded"),
    ("binaryx_graph_spark.operators.graphalgo", "betweenness_sampled", "graphalgo.betweenness_sampled"),
    ("binaryx_graph_spark.plans.lineage", "checkpoint_cut", "lineage.checkpoint_cut"),
    ("binaryx_graph_spark.operators.dedup", "minhash_near_dup", "dedup.minhash_near_dup"),
    ("binaryx_graph_spark.operators.dedup", "exact_dedup_groups", "dedup.exact_dedup_groups"),
    ("binaryx_graph_spark.operators.textstats", "bm25_topk", "textstats.bm25_topk"),
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: str | None = None
    jobs: list[int] = field(default_factory=list)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class SparkCounters:
    """Spark work of one request, summed over its jobs' stages."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


class SpanRecorder:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[Span] = []
        self.counters: dict[str, SparkCounters] = {}
        self.job_counters: dict[int, SparkCounters] = {}
        self._stages_seen: set[int] = set()
        self._stack: list[int] = []
        self._request: str | None = None
        self._saved: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str):
        s = Span(name, time.time(), parent=self._stack[-1] if self._stack else None,
                 request=self._request)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def _wrapper(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.in_request:  # outside a traced request: no span
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        for mod_name, attr, span_name in ENTRY_POINTS:
            owner = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, attr = attr.split(".")
                owner = getattr(owner, cls_name)
            original = getattr(owner, attr)
            self._saved.append((owner, attr, original))
            setattr(owner, attr, self._wrapper(original, span_name))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, original = self._saved.pop()
            setattr(owner, attr, original)

    # ---------------------------------------------------------- requests
    @property
    def in_request(self) -> bool:
        return self._request is not None

    @contextmanager
    def request(self, request_id: str, name: str):
        """One benchmark operation: a root span plus a Spark job group."""
        self._request = request_id
        self.sc.setJobGroup(request_id, name)
        try:
            with self.span(name) as root:
                yield root
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._request = None
        self._collect(request_id)

    def _collect(self, request_id: str) -> None:
        """Read the request's jobs and stage metrics once its listener
        events are processed, and attribute each job to a span."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker, store = self.sc.statusTracker(), self._jsc.statusStore()
        total = SparkCounters()
        spans = [i for i, s in enumerate(self.spans) if s.request == request_id]
        for jid in sorted(tracker.getJobIdsForGroup(request_id)):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            submitted = store.job(jid).submissionTime()
            t = submitted.get().getTime() / 1000.0 if submitted.isDefined() else None
            owner = self._innermost(spans, t)
            if owner is not None:
                self.spans[owner].jobs.append(jid)
            c = SparkCounters(jobs=1)
            for sid in info.stageIds:
                if sid in self._stages_seen:
                    continue  # a shuffle stage reused from an earlier job
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JError:
                    continue  # never submitted (skipped stage)
                self._stages_seen.add(sid)
                c.stages += 1
                c.tasks += st.numCompleteTasks()
                c.executor_run_s += st.executorRunTime() / 1000.0
                c.shuffle_read_bytes += st.shuffleReadBytes()
                c.shuffle_write_bytes += st.shuffleWriteBytes()
                c.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
            self.job_counters[jid] = c
            for k, x in asdict(c).items():
                setattr(total, k, getattr(total, k) + x)
        self.counters[request_id] = total

    def _innermost(self, candidates: list[int], t: float | None) -> int | None:
        if t is None:
            return candidates[0] if candidates else None
        best = None
        for i in candidates:
            s = self.spans[i]
            # the JVM stamps submission in whole milliseconds, rounded down
            if s.start - 0.001 <= t <= s.end:
                if best is None or s.start >= self.spans[best].start:
                    best = i
        return best

    # ---------------------------------------------------------- analysis
    def self_times(self) -> list[float]:
        """Span duration minus the part its direct children cover
        (children of one span are sequential: one client thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.duration
        return [max(0.0, s.duration - child[i]) for i, s in enumerate(self.spans)]

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w", encoding="utf-8") as fh:
            for s, st in zip(self.spans, selfs):
                fh.write(json.dumps({**asdict(s), "self": st}) + "\n")
