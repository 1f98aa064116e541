"""User-facing façade: one object that opens a warehouse and exposes the
engine's operator families as methods returning DataFrames.

The registry (`registry.py`) is the *driver* contract — per-query gate
functions keyed by name.  ``Engine`` is the *library* contract: what a
user of the reference CLI (`/root/reference` — ingest, search, traverse,
stats subcommands) gets when they switch to this package:

    from binaryx_graph_spark import Engine
    eng = Engine(spark, "/path/to/warehouse")
    eng.ingest("/path/to/analysis_json_dir")      # JSON -> graph upsert
    eng.search_strings("Bitcoin wallet")          # T2/T4 fulltext
    eng.cypher("MATCH (b:Binary)-[:CONTAINS]->(f:Function) RETURN ...")
    eng.callees("main", max_depth=3)              # G1 traversal

Everything returns a lazy DataFrame — compose further or ``.show()``.
The pipeline operators (dedup/similarity/text) take arbitrary DataFrames
rather than warehouse tables, so they are exposed as thin pass-throughs
bound to the session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cypher import cypher as _cypher
from .model import EDGE_TABLES, NODE_TABLES
from .operators import dedup as _dedup
from .operators import search as _search
from .operators import traverse as _traverse
from .operators import xref as _xref
from .sources.json_source import read_analysis_json
from .operators.ingest import build_graph_tables
from .sources.warehouse import Warehouse


class Engine:
    """Open (or initialize) a parquet warehouse and query it."""

    def __init__(
        self,
        spark: SparkSession,
        warehouse_root: str,
        *,
        auto_maintenance: int | None = None,
    ):
        self.spark = spark
        self.warehouse = Warehouse(spark, warehouse_root)
        self.warehouse.initialize()
        #: opt-in unattended maintenance: every DML commit through this
        #: Engine is followed by Warehouse.auto_maintain's cadence (a
        #: version-arithmetic skip, a metadata-only debt check every k
        #: commits, the O(table) DV purge only past thresholds) — a
        #: long-lived writer never accumulates unbounded MOR debt.
        self.auto_maintenance = auto_maintenance

    def _post_dml(self, table: str) -> None:
        if self.auto_maintenance:
            self.warehouse.auto_maintain(
                table, every_k_commits=self.auto_maintenance
            )

    # ------------------------------------------------------------ tables
    def table(self, name: str) -> DataFrame:
        return self.warehouse.read(name)

    def tables(self, *, snapshot: bool = False) -> dict[str, DataFrame]:
        """All node+edge tables, keyed by warehouse name (the dict shape
        the Cypher compiler consumes).  ``snapshot=True`` resolves every
        table through the newest CATALOG pin (see
        ``Warehouse.catalog_snapshot``) — a consistent multi-table view
        even while an import is mid-flight on the live heads."""
        names = {**NODE_TABLES, **EDGE_TABLES}
        if snapshot:
            pins = self.warehouse.catalog_snapshot()
            return {n: self.warehouse.read_snapshot(n, pins) for n in names}
        return {n: self.warehouse.read(n) for n in names}

    # ------------------------------------------------------------ ingest
    def ingest(self, json_path: str | list[str], *, batch_seq: int = 1) -> None:
        """Reference ingest (S1-S2, E1-E11): read analysis JSON, project
        node/edge tables, MERGE-upsert into the warehouse."""
        docs = read_analysis_json(self.spark, json_path)
        with build_graph_tables(docs) as tables:
            self.warehouse.merge_batch(tables, batch_seq=batch_seq)

    def ingest_atomic(
        self, json_path: str | list[str], *, txn: tuple[str, int], batch_seq: int = 1
    ) -> int:
        """Like :meth:`ingest` but ALL-OR-NOTHING across the 10 graph
        tables: every table merges under the shared ``txn`` key and one
        catalog commit pins the result (``Warehouse.import_atomic``) —
        a crash mid-import is invisible to snapshot readers, and a
        retry with the same txn converges idempotently.  Returns the
        catalog version."""
        docs = read_analysis_json(self.spark, json_path)
        tables = build_graph_tables(docs)
        tables.pop("import_stats", None)  # derived stats, not a graph table
        with tables:
            return self.warehouse.import_atomic(
                tables, txn=txn, batch_seq=batch_seq, incremental=False
            )

    def cypher_replay_import(self, json_path: str | list[str]) -> dict[str, int]:
        """Import via the reference's VERBATIM Cypher templates
        (importer.rs:86-320) replayed set-orientedly — produces
        bit-identical tables to :meth:`ingest` (certified by
        cypher_merge_import_verbatim)."""
        from .operators.cypher_import import replay_reference_import

        docs = read_analysis_json(self.spark, json_path)
        return replay_reference_import(self.warehouse, docs)

    # ------------------------------------------------------------ search
    def search_strings(self, pattern: str, *, raw: bool = False,
                       binary_filter: str | None = None, limit: int = 100) -> DataFrame:
        """T2/T4 fulltext string search -> (uid, value, score, sample_count)."""
        return _search.search_strings(
            self.table("strings"), self.table("contains_string"), pattern,
            raw=raw, binary_filter=binary_filter,
            binaries=self.table("binaries"), limit=limit,
        )

    def search_functions(self, pattern: str, *,
                         binary_filter: str | None = None, limit: int = 100) -> DataFrame:
        """F1/F3 substring function search (empty pattern = match all)."""
        return _search.search_functions(
            self.table("functions"), self.table("contains"), self.table("imports"),
            pattern, binary_filter=binary_filter,
            binaries=self.table("binaries"), limit=limit,
        )

    # ---------------------------------------------------------- traversal
    def _seeds(self, function: str) -> DataFrame:
        fns = self.table("functions")
        return fns.filter(
            (F.col("name") == function) | (F.col("uid") == function)
        ).select("uid")

    def callees(self, function: str, *, max_depth: int = 1) -> DataFrame:
        """G1: distinct functions reachable via CALLS in 1..N hops."""
        return _traverse.reachable(
            self.table("calls"), self._seeds(function),
            direction="out", max_depth=max_depth,
        )

    def callers(self, function: str, *, max_depth: int = 1) -> DataFrame:
        """G2: distinct functions that reach `function` in 1..N hops."""
        return _traverse.reachable(
            self.table("calls"), self._seeds(function),
            direction="in", max_depth=max_depth,
        )

    def paths_from(self, function: str, *, max_depth: int = 5) -> DataFrame:
        """G3: every call path of length 1..N from the function."""
        return _traverse.enumerate_paths(
            self.table("calls"), self.table("functions"), self._seeds(function),
            direction="out", max_depth=max_depth,
        )

    def recursion(self, *, max_depth: int = 10) -> DataFrame:
        """G6+G7: direct self-calls (cycle_length 1) plus shortest
        indirect cycles to `max_depth` -> (uid, name, cycle_length)."""
        calls, fns = self.table("calls"), self.table("functions")
        direct = _traverse.direct_recursion(calls, fns).select(
            "uid", F.lit(1).alias("cycle_length")
        )
        indirect = _traverse.indirect_recursion(
            calls, fns.select("uid"), max_depth=max_depth
        )
        both = direct.unionByName(indirect).groupBy("uid").agg(
            F.min("cycle_length").alias("cycle_length")
        )
        return both.join(fns.select("uid", "name"), "uid").select(
            "uid", "name", "cycle_length"
        )

    def call_sequences(self, function: str, *, direction: str = "out") -> DataFrame:
        """O1/O2: a function's call edges in the reference's display
        order (lexicographic hex offset) — ``direction='out'`` lists its
        callees (the reference CLI's sequences view), ``'in'`` its
        callers."""
        fns = self.table("functions")
        pred = (F.col("name") == function) | (F.col("uid") == function)
        return _traverse.call_sequences(
            self.table("calls"), fns, pred, direction=direction
        )

    def path_histogram(self, function: str, *, max_depth: int = 5) -> DataFrame:
        """G4/A5: depth histogram of every enumerated path from the
        function (the reference client's HashMap count,
        src/commands/query.rs:442-452) -> (path_length, n_paths)."""
        return (
            self.paths_from(function, max_depth=max_depth)
            .groupBy("path_length")
            .agg(F.count(F.lit(1)).alias("n_paths"))
            .orderBy("path_length")
        )

    def longest_paths(self, function: str, *, max_depth: int = 5, k: int = 10) -> DataFrame:
        """G4/K5: top-k longest paths from the function, name-joined
        (src/commands/query.rs:454-458) -> (path, path_length)."""
        return (
            self.paths_from(function, max_depth=max_depth)
            .select(
                F.concat_ws("→", "node_names").alias("path"), "path_length"
            )
            .orderBy(F.desc("path_length"), "path")
            .limit(k)
        )

    # -------------------------------------------------------------- stats
    def stats(self) -> DataFrame:
        """A1/A2: per-label node and relationship counts."""
        return _xref.global_stats(self.tables())

    def xref(self, address: str, *, binary_hash: str | None = None) -> DataFrame:
        """J4: cross-references touching an address (call + import arms)."""
        return _xref.xref_address(
            self.table("calls"), self.table("functions"), self.table("imports"),
            address, binary_hash=binary_hash,
        )

    # -------------------------------------------------------------- export
    def export(self, out_path: str) -> DataFrame:
        """S4: full-graph export — every edge as (src, rel_type, dst),
        every node as a NODE:<label> row, written to parquet."""
        return self.warehouse.export_graph(out_path)

    # ----------------------------------------------------------------- sql
    def sql(
        self,
        query: str,
        *,
        snapshot: bool = False,
        params: dict | list | None = None,
    ) -> DataFrame:
        """ANSI SQL over the warehouse's tables (every table a session
        view — Catalyst inherits the DataFrame lane's pruned scans),
        with time travel (``orders@v12``, ``orders@ts1700000000``) and
        the change feed as a relation (``bxg_changes(functions, 3)``,
        Delta's ``table_changes`` shape).  ``snapshot=True`` pins every
        base view to the newest catalog commit.  See ``sqlapi``."""
        from .sqlapi import run_sql

        return run_sql(
            self.spark, self.warehouse, query,
            snapshot=snapshot, params=params,
        )

    # -------------------------------------------------------------- cypher
    def cypher(
        self, text: str, params: dict | None = None, *, snapshot: bool = False
    ) -> DataFrame:
        """Run a (reference-compatible) Cypher-subset query verbatim.
        ``snapshot=True`` reads every table at the catalog pin — the
        query sees one consistent import, never a torn mid-write mix."""
        return _cypher(self.tables(snapshot=snapshot), text, params)

    def cypher_write(self, text: str, params: dict | None = None) -> dict:
        """Run one reference write statement (MERGE/CREATE/SET/[DETACH]
        DELETE) against the warehouse — the importer-compat surface."""
        from .cypher import cypher_write as _cw

        return _cw(self.warehouse, text, params)

    def merge_into(self, table: str, source: DataFrame, **kw) -> dict:
        """Delta's four-arm conditional MERGE INTO (matched update /
        delete, not-matched insert, not-matched-BY-SOURCE update /
        delete), merge-on-read by default — see
        ``Warehouse.merge_into``."""
        d = self.warehouse.merge_into(table, source, **kw)
        self._post_dml(table)
        return d

    def update_where(self, table: str, predicates, set_values: dict, **kw) -> dict:
        """Merge-on-read row-level UPDATE (DV-tombstone + append —
        O(changed rows) per commit); pass ``strategy='cow'`` via
        ``Warehouse.update_where`` directly for the compacting rewrite."""
        d = self.warehouse.update_where_dv(table, predicates, set_values, **kw)
        self._post_dml(table)
        return d

    def delete_where(self, table: str, predicates, **kw) -> dict:
        """Merge-on-read row-level DELETE (deletion-vector sidecar)."""
        d = self.warehouse.delete_where_dv(table, predicates, **kw)
        self._post_dml(table)
        return d

    def changes(self, table: str, from_version: int, **kw) -> DataFrame:
        """The change feed between versions; ``update_images=True``
        for Delta's update_preimage/update_postimage change types."""
        return self.warehouse.read_changes(table, from_version, **kw)

    def maybe_optimize(self, table: str, **kw) -> dict | None:
        """DV-density auto-compaction policy: metadata-only check,
        O(table) purge only when a threshold fires."""
        return self.warehouse.maybe_optimize(table, **kw)

    def auto_maintain(self, table: str, **kw) -> dict | None:
        """The unattended-maintenance cadence, invokable directly (the
        same hook `auto_maintenance=k` fires post-commit) — see
        ``Warehouse.auto_maintain``."""
        return self.warehouse.auto_maintain(table, **kw)

    def dv_stats(self, table: str) -> dict:
        """Merge-on-read debt metrics (metadata-only)."""
        return self.warehouse.dv_stats(table)

    def cypher_write_batch(
        self, text: str, params: DataFrame, *, order_cols: list[str] | None = None
    ) -> dict:
        """One write-statement TEMPLATE bound to a whole DataFrame of
        ``$param`` rows, executed as a single LWW merge commit — the
        scale lane for the reference's per-entity import statements."""
        from .cypher import cypher_write_batch as _cwb

        return _cwb(self.warehouse, text, params, order_cols=order_cols)

    # ------------------------------------------------- pipeline operators
    # Arbitrary-DataFrame operators: bound pass-throughs so `Engine` is
    # one import for the whole surface.
    @staticmethod
    def dedup_exact(df: DataFrame, id_col: str, key) -> DataFrame:
        return _dedup.exact_dedup_groups(df, id_col, key)

    @staticmethod
    def dedup_minhash(df: DataFrame, id_col: str, text_col: str, **kw) -> DataFrame:
        return _dedup.minhash_near_dup(df, id_col, text_col, **kw)

    @staticmethod
    def dedup_cdc(df: DataFrame, id_col: str, text_col: str, **kw) -> DataFrame:
        from .operators.dedup import cdc_duplicate_chunks

        return cdc_duplicate_chunks(df, id_col, text_col, **kw)

    @staticmethod
    def bm25(df: DataFrame, query_terms: list[str], **kw) -> DataFrame:
        from .operators.textstats import bm25_topk

        return bm25_topk(df, query_terms, **kw)

    # ------------------------------------------------- graph analytics
    # Edge-frame analytics ((src, dst) columns) — the call graph is
    # `eng.table("calls")` renamed, but ANY edge list works.
    @staticmethod
    def pagerank(edges: DataFrame, **kw) -> DataFrame:
        from .operators.graphalgo import pagerank_fixed

        return pagerank_fixed(edges, **kw)

    @staticmethod
    def scc(edges: DataFrame, **kw) -> DataFrame:
        from .operators.graphalgo import scc_bounded

        return scc_bounded(edges, **kw)

    @staticmethod
    def topo_layers(edges: DataFrame, **kw) -> DataFrame:
        from .operators.graphalgo import topo_layers as _tl

        return _tl(edges, **kw)

    @staticmethod
    def betweenness(edges: DataFrame, **kw) -> DataFrame:
        from .operators.graphalgo import betweenness_sampled

        return betweenness_sampled(edges, **kw)

    def call_graph_edges(self) -> DataFrame:
        """The warehouse call graph as a generic (src, dst) edge frame —
        feed to :meth:`pagerank`/:meth:`scc`/:meth:`topo_layers`/
        :meth:`betweenness` (ids stay function-uid strings; pass
        ``cast_ids=False`` where the operator takes it)."""
        return self.table("calls").select(
            F.col("src_uid").alias("src"), F.col("dst_uid").alias("dst")
        )

    @staticmethod
    def drift_psi(df: DataFrame, bin_col: str, cur_col: str, **kw) -> DataFrame:
        """Population Stability Index between two slices (reference
        cur=0 / current cur=1) of an integer-binned metric — the
        data-admission drift gate; see operators/sketch.drift_psi."""
        from .operators.sketch import drift_psi as _psi

        return _psi(df, bin_col, cur_col, **kw)

    # ------------------------------------------- multimodal (real paths)
    # Codec-free formats — nothing here is a stand-in (SCALE.md add. 34).
    @staticmethod
    def decode_pgm(media: DataFrame, *, arrow: bool = False) -> DataFrame:
        """REAL binary-PGM decode + pixel kernels over (media_id, media);
        ``arrow=True`` uses the Arrow-native lane (mapInArrow — 13-25%
        faster at 262 KB payloads, identical output)."""
        from .operators.multimodal import decode_pgm, decode_pgm_arrow

        return (decode_pgm_arrow if arrow else decode_pgm)(media)

    @staticmethod
    def decode_wav(media: DataFrame) -> DataFrame:
        """REAL RIFF/WAVE PCM16 decode + loudness kernels."""
        from .operators.multimodal import decode_wav as _d

        return _d(media)

    @staticmethod
    def decode_y4m(media: DataFrame) -> DataFrame:
        """REAL YUV4MPEG2 frame walk, one row per extracted frame."""
        from .operators.multimodal import decode_y4m as _d

        return _d(media)
