"""Parquet warehouse (reference S4-S6: schema init, export, clear —
/root/reference/src/neo4j/schema.rs:13-76, src/api/client.rs:97-105,
src/neo4j/connection.rs:169-174).

Layout: one parquet dataset per node/edge table under a root directory.
Unique constraints (schema.rs:20-29) are dedup invariants enforced by
:func:`merge_batch`; b-tree indexes are unnecessary (Catalyst pushdown);
the Lucene fulltext index becomes a derived posting table
(operators/search.py).

Commit protocol (ONE, for every table): Delta/Iceberg-lite MANIFESTS.
Data files are IMMUTABLE once written; each commit writes its output as
NEW files and publishes a manifest
(``<root>/_manifests/<table>/vNNNNN.json``) whose single atomic
create-if-absent IS the commit.  No live data file is ever renamed,
rewritten, or deleted by a commit, so the protocol is object-store-safe
(on S3 the manifest publish maps to one conditional PUT of a small
object; orphaned data files from a crashed or conflicted commit are
invisible to readers and swept by :meth:`vacuum`).  Two table layouts
share the protocol:

* **Flat tables** (:meth:`merge_batch`) — the manifest lists the
  table's files at the table root (``{"files": [...]}``); every commit
  is a whole-table rewrite.
* **Bucketed tables** (:meth:`merge_batch_incremental`) — the manifest
  is the bucket→file-list map plus the PINNED bucket count
  (``{"n_buckets": B, "buckets": {...}}``); a commit rewrites only the
  key-buckets the batch touches, so old and new versions SHARE
  untouched buckets' files and every commit is a time-travelable
  version at zero extra bytes.

Reads resolve through the newest manifest; ``read(table, version=N)``
resolves through manifest ``N``; :meth:`rollback` is a pure metadata
commit whenever the target version's layout matches the live one (a new
manifest that repeats an old file list); :meth:`vacuum` deletes exactly
the files unreachable from the retained manifests.

A read gets its schema from the manifest when the manifest pins one;
otherwise the schema of the file set is inferred once per
:class:`Warehouse` (one Spark footer job) and reused by every later read
of the same files.  That memo cannot go stale: it is keyed by the exact
tuple of data-file paths, and data files are immutable with unique
job-UUID names (a commit, or :meth:`clear`, writes new ones).

**Concurrent writers** are serialized optimistically (the Delta/Iceberg
commit loop): the manifest is published with an atomic
create-if-absent, so of two writers racing on version N exactly one
wins; the loser re-reads the new head and either REBASES (a bucketed
incremental commit whose touched buckets are disjoint from every
intervening commit's — its bucket rewrites are re-applied onto the new
head's map) or raises :class:`ConcurrentCommitError` (overlapping
buckets, or a whole-table commit — conversion, rollback, rebucket,
compaction, flat merge — racing anything).

Version numbers are one monotone sequence per table: :meth:`initialize`
creates a table as a version-0 manifest listing no files (no Spark
job), a pre-manifest directory state is adopted as version 0 on its
first commit, a flat→
bucketed conversion is just the next commit (the flat state stays
readable through its own manifest), and :meth:`rebucket` re-layouts to
a new bucket modulus as a commit old versions time-travel across.
Directory snapshots under ``<root>/_versions`` from the pre-manifest
protocol remain readable and vacuumable but are never created anymore.

**Protocol feature flags** (r12, Delta's reader-version gate): a
manifest lists under ``"features"`` every capability a correct read of
that version DEPENDS on — ``dv`` (deletion-vector sidecars must be
anti-joined out), ``colmap`` (physical column names differ from
logical), ``schema`` (the manifest carries the authoritative schema).
The stamp appears on FIRST USE of each feature and carries forward
monotone; a build reading a manifest whose features exceed
``SUPPORTED_FEATURES`` refuses with
:class:`UnsupportedTableFeatureError` instead of silently mis-reading
(e.g. resurrecting DV-deleted rows).  Manifests without the key are
the base protocol — every pre-r12 table reads unchanged.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from ..model import EDGE_TABLES, NODE_TABLES

from .warehouse_base import (  # noqa: F401
    _MODELS_SCHEMA,
    _models_schema,
    _vectors_schema,
    _ivf_assignments_schema,
    ALL_TABLES,
    MERGE_KEYS,
    _STATS_MAX_STRLEN,
    _assignable_type,
    in_list_expr,
    _parquet_minmax,
    _BLOOM_FPP,
    _BLOOM_MAX_BITS,
    _bloom_params,
    _bloom_key_bytes,
    _bloom_positions,
    _build_file_bloom,
    _bloom_may_contain,
    _same_type_class,
    _zone_overlaps,
    IdempotentReplay,
    ConcurrentCommitError,
    SUPPORTED_FEATURES,
    UnsupportedTableFeatureError,
)
from .warehouse_cdf import _CdfMixin
from .warehouse_dml import _DmlMixin
from .warehouse_maintenance import _MaintenanceMixin
from .warehouse_protocol import _ProtocolMixin


class Warehouse(_ProtocolMixin, _DmlMixin, _CdfMixin, _MaintenanceMixin):
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        *,
        bloom_columns: dict[str, list[str]] | None = None,
    ):
        """``bloom_columns`` ({table: [col, ...]}) opts columns into
        PER-FILE BLOOM FILTERS: every commit builds a bloom over each
        new file's values for those columns (sidecar JSON under
        ``_blooms/<table>/``, referenced — not embedded — by the
        manifest, so manifests stay small), and :meth:`scan` probes
        them for ``=`` / ``in`` predicates — the high-cardinality
        equality case zone maps can't prune (a uniformly distributed id
        overlaps every file's min/max range but is definitely-absent
        from most blooms).  Advisory like zone maps: false positives
        cost an extra file read, false negatives are impossible
        (predicates re-apply exactly)."""
        self.spark = spark
        self.root = Path(root)
        self.bloom_columns = bloom_columns or {}
        # {table: (newest manifest version read, {data-file path tuple:
        # schema})} — see _read_files_dv
        self._schema_memo: dict[str, tuple[int, dict]] = {}

    def _path(self, table: str) -> str:
        return str(self.root / table)

    def _key_bucket(self, table: str, n_buckets: int):
        keys = MERGE_KEYS[table]
        return F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast(
            "int"
        )

    # ------------------------------------------------------------- S6 init
    def initialize(self) -> None:
        """Create the empty typed tables (the reference's schema init)
        as metadata alone: a table with neither a directory nor a
        manifest is born as a version-0 manifest that lists no files,
        which reads as an empty frame of its registered schema.  No
        Spark job runs.  A pre-manifest directory is left for its first
        commit to adopt.  Initializing twice, or racing another
        initializer, leaves one v0 per table: the loser of the
        create-if-absent has nothing left to do."""
        self.root.mkdir(parents=True, exist_ok=True)
        for name in ALL_TABLES:
            if (self.root / name).exists() or self._manifest_versions(name):
                continue
            self._publish(
                self._manifest_dir(name),
                {
                    "version": 0,
                    "n_buckets": None,
                    "files": [],
                    "bytes": {},
                    "stats": {},
                    "committed_at": round(time.time(), 3),
                },
            )

    # ------------------------------------------------------------- S5 clear
    def clear(self) -> None:
        """DETACH DELETE everything → drop and recreate empty tables."""
        if self.root.exists():
            shutil.rmtree(self.root)
        # manifest versions restart at 0: drop the memo rather than let
        # a higher old version keep the new ones from being memoized
        self._schema_memo.clear()
        self.initialize()

    def read(
        self,
        table: str,
        version: int | None = None,
        *,
        timestamp: float | None = None,
    ) -> DataFrame:
        """Read a table — the live state, a committed version by number
        (see :meth:`versions`), or TIMESTAMP AS OF (epoch seconds —
        resolved to the newest version published at or before it).
        Manifested tables resolve through their manifest; the internal
        ``_kb`` partition column is never part of the logical schema,
        live or versioned."""
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp, not both")
            version = self.version_at(table, timestamp)
        mvs = self._manifest_versions(table)
        if version is not None:
            if version in mvs:
                m = self._manifest(table, version)
                # THAT version's column mapping: time travel across a
                # rename shows the old logical names
                return self._to_logical(self._read_manifest(table, m).drop("_kb"), m)
            vp = self._version_dir(table) / f"v{version:05d}"
            if vp.exists():
                df = self.spark.read.parquet(str(vp))
                return df.drop("_kb")
            # a never-merged table has no manifest; history() shows its
            # live directory as the next version number — accept it
            live_v = (self.versions(table) or [-1])[-1] + 1
            if not mvs and version == live_v and (self.root / table).exists():
                return self.spark.read.parquet(self._path(table)).drop("_kb")
            raise FileNotFoundError(
                f"warehouse table '{table}' has no version {version} "
                f"(available: {self.versions(table)})"
            )
        if mvs:
            m = self._manifest(table, mvs[-1])
            return self._to_logical(self._read_manifest(table, m).drop("_kb"), m)
        if not (self.root / table).exists():
            raise FileNotFoundError(
                f"warehouse table '{table}' not found under {self.root} — "
                f"run `import` (or `db init`) against this warehouse first"
            )
        df = self.spark.read.parquet(self._path(table))
        # pre-manifest bucketed dirs (legacy layout) still carry _kb
        return df.drop("_kb")

    @staticmethod
    def _apply_predicates(df: DataFrame, predicates) -> DataFrame:
        """Apply scan conjuncts exactly (Spark-side) — zone-map pruning
        is advisory, this is the correctness layer."""
        for col, op, val in predicates:
            c = F.col(col)
            if op == "=":
                df = df.filter(c == val)
            elif op == "<":
                df = df.filter(c < val)
            elif op == "<=":
                df = df.filter(c <= val)
            elif op == ">":
                df = df.filter(c > val)
            elif op == ">=":
                df = df.filter(c >= val)
            elif op == "between":
                df = df.filter((c >= val[0]) & (c <= val[1]))
            elif op == "in":
                # one parsed IN expression, not len(val) py4j round-trips
                df = df.filter(in_list_expr(col, val))
            else:
                raise ValueError(f"unknown scan predicate op {op!r}")
        return df

    def scan(
        self,
        table: str,
        predicates=(),
        version: int | None = None,
        *,
        with_diagnostics: bool = False,
    ):
        """DATA-SKIPPING read: resolve the manifest, prune its file list
        with the per-file zone maps (``stats`` — min/max per column,
        recorded at commit from parquet footers), then read ONLY the
        surviving files and re-apply the predicates exactly.  The result
        always equals ``read(table, version).filter(...)``; pruning only
        changes how many files are opened — at 100 TB, a range predicate
        on a clustered column (see :meth:`optimize` ``cluster_by``)
        skips the bulk of the table without a single data-page read,
        and the decision is pure manifest metadata (no LIST, no footer
        GETs at read time).

        ``predicates`` is a conjunction of ``(col, op, value)`` with op
        in ``{'=', '<', '<=', '>', '>=', 'between', 'in'}``
        (``between`` takes ``(lo, hi)``, ``in`` a value list).  A file
        with no zone map for a referenced column is kept (missing stats
        are unprunable, never wrong).  On a BUCKETED table whose merge
        key is fully pinned by equality predicates, the key's bucket is
        computed first and every other bucket's files drop without even
        consulting their stats — the point-lookup path: O(1) buckets of
        a 100 TB table.

        With ``with_diagnostics=True`` returns ``(df, diag)`` where
        ``diag = {'files_total': n, 'files_read': m}`` — the certifier's
        hook for asserting pruning actually happened."""
        preds = list(predicates)
        mvs = self._manifest_versions(table)
        v = version if version is not None else (mvs[-1] if mvs else None)
        if v is None or v not in mvs:
            # pre-manifest table / legacy snapshot: no zone maps — exact
            # result via a full read, diagnostics report no pruning
            df = self._apply_predicates(self.read(table, version=version), preds)
            if with_diagnostics:
                return df, {"files_total": None, "files_read": None}
            return df
        m = self._manifest(table, v)
        # predicates arrive over LOGICAL names; the skipping stack
        # (zone maps, blooms, bucket hash) speaks physical
        preds = self._preds_physical(preds, m)
        keep_rels, total = self._prune_rels(table, m, preds)
        keep = [str(p) for _rel, p in keep_rels]
        base = self.root / table
        bucketed = "buckets" in m
        if not keep:
            schema = self._schema_of(m)
            if schema is not None:
                empty = self.spark.createDataFrame([], schema)
            elif table in ALL_TABLES:
                empty = self.spark.createDataFrame([], ALL_TABLES[table][0])
            else:
                empty = self._read_manifest(table, m).limit(0).drop("_kb")
            empty = self._to_logical(empty, m)
            return (empty, {"files_total": total, "files_read": 0}) if with_diagnostics else empty
        df = self._read_files_dv(
            table, m, [(rel, str(p)) for rel, p in keep_rels]
        ).drop("_kb")
        df = self._to_logical(self._apply_predicates(df, preds), m)
        if with_diagnostics:
            return df, {"files_total": total, "files_read": len(keep)}
        return df

    def _prune_rels(
        self, table: str, m: dict, preds: list
    ) -> tuple[list[tuple[str, Path]], int]:
        """The skipping core shared by :meth:`scan` and
        :meth:`delete_where`: from a manifest's file list, keep only
        files that MAY contain rows matching the predicate conjunction
        — via key-bucket hashing (fully pinned merge key), zone maps,
        and bloom sidecars, each guarded against cross-type predicates.
        Returns (kept (rel, path) pairs, total files listed)."""
        stats = m.get("stats", {})
        base = self.root / table
        bucketed = "buckets" in m
        if bucketed:
            rels = [
                (f"{b}/{fn}", base / f"_kb={b}" / fn)
                for b, fs in m["buckets"].items()
                for fn in fs
            ]
        else:
            rels = [(fn, base / fn) for fn in m["files"]]
        total = len(rels)
        keys = MERGE_KEYS.get(table)
        eq = {c: val for c, op, val in preds if op == "="}
        if bucketed and keys and m.get("n_buckets") and all(k in eq for k in keys):
            # point lookup: one 1-row job hashes the pinned key to its
            # bucket; all other buckets drop by construction.  ONLY
            # sound when every value's type matches its key column's
            # type — xxhash64(int 777) lands in a different bucket than
            # xxhash64('777'), and Spark's implicit cast would still
            # match the row (same guard as _same_type_class)
            schema = self._schema_of(m)
            if schema is None and table in ALL_TABLES:
                schema = ALL_TABLES[table][0]
            fields = {f.name: f.dataType for f in schema.fields} if schema else {}

            def _key_typed(k) -> bool:
                # xxhash64 is TYPE-sensitive: the probe literal must
                # hash exactly as the stored column does, so the guard
                # demands the same type class (float-vs-integral
                # rejected — F.lit(5) hashed as Integer/Double lands in
                # a different bucket than the stored Long) and the
                # probe below casts to the column's exact dataType.
                from pyspark.sql.types import (
                    BooleanType,
                    FractionalType,
                    IntegralType,
                    StringType,
                )

                dt, v = fields.get(k), eq[k]
                if isinstance(dt, StringType):
                    return isinstance(v, str)
                if isinstance(dt, BooleanType):
                    return isinstance(v, bool)
                if isinstance(v, bool):
                    return False
                if isinstance(dt, IntegralType):
                    return isinstance(v, int)
                if isinstance(dt, FractionalType):
                    # int literal casts exactly into float/double; a
                    # float literal against an integral column does NOT
                    return isinstance(v, (int, float))
                return False

            if all(_key_typed(k) for k in keys):
                row = (
                    self.spark.range(1)
                    .select(
                        *[F.lit(eq[k]).cast(fields[k]).alias(k) for k in keys]
                    )
                    .select(self._key_bucket(table, m["n_buckets"]).alias("b"))
                    .collect()[0]
                )
                tb = f"{row['b']}/"
                rels = [(r, p) for r, p in rels if r.startswith(tb)]
        blooms = m.get("blooms", {})
        eq_probes = [
            (c, [val] if op == "=" else list(val))
            for c, op, val in preds
            if op in ("=", "in")
        ]
        _bloom_cache: dict[str, dict] = {}

        def _bloom_dead(rel: str) -> bool:
            """True if some equality predicate's every candidate value
            is DEFINITELY absent from this file's bloom (sidecar loaded
            lazily — only for files that survived zone pruning)."""
            sc = blooms.get(rel)
            if sc is None or not eq_probes:
                return False
            if sc not in _bloom_cache:
                p = self.root / "_blooms" / table / sc
                try:
                    _bloom_cache[sc] = json.loads(p.read_text())
                except OSError:
                    _bloom_cache[sc] = {}
            bl = _bloom_cache[sc]
            st = stats.get(rel) or {}

            def _typed(c, vals):
                # bloom pruning needs the same type-class guard as zone
                # maps: Spark's implicit cast can match values whose
                # bytes the bloom never saw (see _same_type_class); the
                # column's zone-map min anchors the stored type
                return c in st and all(_same_type_class(st[c][0], v) for v in vals)

            return any(
                c in bl
                and _typed(c, vals)
                and not any(_bloom_may_contain(bl[c], v) for v in vals)
                for c, vals in eq_probes
            )

        keep: list[tuple[str, Path]] = []
        for rel, p in rels:
            st = stats.get(rel)
            if st:
                dead = any(
                    col in st and not _zone_overlaps(st[col], op, val)
                    for col, op, val in preds
                )
                if dead:
                    continue
            if _bloom_dead(rel):
                continue
            keep.append((rel, p))
        return keep, total

    def _dv_dir(self, table: str) -> Path:
        return self.root / "_dvs" / table

    def _read_files_dv(
        self, table: str, m: dict, pairs: list[tuple[str, str]], *, schema="__manifest__"
    ) -> DataFrame:
        """Read manifest-listed files with the manifest's DELETION
        VECTORS applied (merge-on-read).  ``pairs`` is [(rel, abs
        path)]; files WITHOUT a DV entry read straight through (the
        overwhelmingly common case — zero overhead), files WITH one
        read alongside ``_metadata.row_index`` and anti-join their
        recorded (rel, pos) tombstones.  The DV side is usually a few
        KB of positions, so Catalyst broadcasts the anti-join; a file's
        physical row order is immutable (parquet), which is what makes
        positions a stable row identity.  Bucketed reads keep the
        ``_kb`` partition column, exactly like the raw reader.

        With no pinned schema, each file set's schema is inferred (one
        Spark footer job) on its first read only: the memo keys it by
        the exact path tuple, which names immutable files, so an entry
        never goes stale.  Reading a newer manifest of ``table`` than
        any before drops every entry memoized until then, which bounds
        the memo under a long-running writer."""
        base = self.root / table
        bucketed = "buckets" in m
        sch = self._schema_of(m) if schema == "__manifest__" else schema
        version = m.get("version", -1)
        memo_v, memo = self._schema_memo.setdefault(table, (-1, {}))
        if version > memo_v:
            memo = {}
            self._schema_memo[table] = (version, memo)

        def _rd(files: list[str]) -> DataFrame:
            key = tuple(files)
            s = sch if sch is not None else memo.get(key)
            rdr = self.spark.read if s is None else self.spark.read.schema(s)
            if bucketed:
                rdr = rdr.option("basePath", str(base))
            df = rdr.parquet(*files)
            if s is None:
                # stored without _kb: Spark appends the partition column
                # on top of a user schema, as on the manifest-pinned path
                memo[key] = StructType(
                    [f for f in df.schema.fields if f.name != "_kb"]
                )
            return df

        dvs = m.get("dvs", {})
        dv_pairs = [(r, p) for r, p in pairs if r in dvs]
        if not dv_pairs:
            return _rd([p for _r, p in pairs])
        clean = [p for r, p in pairs if r not in dvs]
        fp = F.col("_metadata.file_path")
        if bucketed:
            pat = r"_kb=(\d+)/([^/]+)$"
            rel_expr = F.concat(
                F.regexp_extract(fp, pat, 1),
                F.lit("/"),
                F.regexp_extract(fp, pat, 2),
            )
        else:
            rel_expr = F.element_at(F.split(fp, "/"), -1)
        df = _rd([p for _r, p in dv_pairs]).select(
            "*",
            rel_expr.alias("__dv_rel"),
            F.col("_metadata.row_index").alias("__dv_pos"),
        )
        names = sorted({n for r, _p in dv_pairs for n in dvs[r]})
        pos = (
            self.spark.read.schema("rel string, pos long")
            .parquet(*[str(self._dv_dir(table) / n) for n in names])
            .select(
                F.col("rel").alias("__dv_rel"), F.col("pos").alias("__dv_pos")
            )
        )
        df = df.join(pos, ["__dv_rel", "__dv_pos"], "left_anti").drop(
            "__dv_rel", "__dv_pos"
        )
        if clean:
            df = _rd(clean).unionByName(df)
        return df

    def _live_bucket_files(self, table: str) -> dict[str, list[str]]:
        """Live bucket→file map (manifest if present, else directory).
        A flat-manifest table reports its root files under the '' key."""
        mvs = self._manifest_versions(table)
        if mvs:
            m = self._manifest(table, mvs[-1])
            return m["buckets"] if "buckets" in m else {"": m["files"]}
        return self._dir_buckets(table)

    # ------------------------------------------------------------ S4 export
    def export_graph(self, out_path: str) -> DataFrame:
        """Full-graph export (the reference's
        `MATCH (n) OPTIONAL MATCH (n)-[r]->(m) RETURN n, type(r), m`,
        src/api/client.rs:97-105): every edge as (src, rel_type, dst)
        plus every node as (src=key, rel_type='NODE:<label>', dst=null)
        so isolated nodes survive the round trip."""
        frames = []
        for label, key in [
            ("binaries", "hash"),
            ("functions", "uid"),
            ("strings", "uid"),
            ("libraries", "name"),
        ]:
            frames.append(
                self.read(label).select(
                    F.col(key).alias("src"),
                    F.lit(f"NODE:{label}").alias("rel_type"),
                    F.lit(None).cast("string").alias("dst"),
                )
            )
        edge_ends = {
            "contains": ("binaries", "hash", "binary_hash", "functions", "uid", "function_uid"),
            "imports": ("binaries", "hash", "binary_hash", "functions", "uid", "function_uid"),
            "imports_library": ("binaries", "hash", "binary_hash", "libraries", "name", "library_name"),
            "belongs_to": ("functions", "uid", "function_uid", "libraries", "name", "library_name"),
            "calls": ("functions", "uid", "src_uid", "functions", "uid", "dst_uid"),
            "contains_string": ("binaries", "hash", "binary_hash", "strings", "uid", "string_uid"),
        }
        for edge, (_st, _sk, src_col, _dt, _dk, dst_col) in edge_ends.items():
            e = self.read(edge)
            frames.append(
                e.select(
                    F.col(src_col).alias("src"),
                    F.lit(edge.upper()).alias("rel_type"),
                    F.col(dst_col).alias("dst"),
                )
            )
        edges = frames[0]
        for f in frames[1:]:
            edges = edges.unionByName(f)
        edges.write.mode("overwrite").json(out_path)
        return edges
