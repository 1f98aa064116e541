"""Manifest/catalog protocol: versioning, time travel, txn ledger, schema evolution.

Mixin split out of warehouse.py (r12) — methods verbatim, zero behavior
change; assembled into :class:`~.warehouse.Warehouse`.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
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


class _ProtocolMixin:
    def version_at(self, table: str, timestamp: float) -> int:
        """TIMESTAMP AS OF resolution (Delta's): the newest committed
        version whose publish time is <= ``timestamp`` (epoch seconds).
        Raises when the timestamp predates the first commit — asking
        for a state that never existed must not silently read
        something else.  Pre-timestamp manifests (older rounds) count
        as epoch 0, i.e. always included."""
        mvs = self._manifest_versions(table)
        best = None
        for v in mvs:
            if self._manifest(table, v).get("committed_at", 0.0) <= timestamp:
                best = v
        if best is None:
            raise FileNotFoundError(
                f"warehouse table '{table}' has no version at or before "
                f"timestamp {timestamp} (first commit is later)"
            )
        return best

    def _version_dir(self, table: str) -> Path:
        return self.root / "_versions" / table

    def _legacy_versions(self, table: str) -> list[int]:
        vd = self._version_dir(table)
        if not vd.exists():
            return []
        return sorted(int(p.name[1:]) for p in vd.glob("v*") if p.is_dir())

    def versions(self, table: str) -> list[int]:
        """Committed version numbers for a table, oldest first — one
        monotone sequence spanning legacy directory snapshots and
        manifests. The highest manifest IS the live state."""
        return sorted(self._legacy_versions(table) + self._manifest_versions(table))

    def rollback(self, table: str, version: int) -> None:
        """Restore a table to a committed version. Rollback is itself a
        commit: when the target version's layout matches the live one
        (flat→flat, bucketed→bucketed) it publishes a NEW manifest that
        repeats the target's file list — pure metadata, zero data bytes
        moved.  Rolling back ACROSS a layout change (flat↔bucketed
        conversion, or a legacy directory snapshot) re-materializes the
        target's content as new immutable files — an O(snapshot) commit
        at the LIVE layout.  Either way every other version stays
        readable, so rolling forward again remains possible."""
        mvs = self._manifest_versions(table)
        newest = self._manifest(table, mvs[-1]) if mvs else None
        target = self._manifest(table, version) if version in mvs else None
        if target is None and not (self._version_dir(table) / f"v{version:05d}").exists():
            raise FileNotFoundError(
                f"no version {version} for '{table}' (available: {self.versions(table)})"
            )
        if target is not None and newest is not None:
            same_layout = ("buckets" in target) == ("buckets" in newest)
            if same_layout:
                # pure-metadata commit repeating the target's file list
                # (a bucketed target carries its OWN n_buckets — rolling
                # back across a rebucket restores the old modulus with it)
                if "buckets" in target:
                    t_rels = [
                        f"{b}/{fn}"
                        for b, fs in target["buckets"].items()
                        for fn in fs
                    ]
                else:
                    t_rels = list(target["files"])
                t_dvs = target.get("dvs", {})
                self._commit_manifest(
                    table,
                    target.get("buckets"),
                    target.get("n_buckets"),
                    files=target.get("files"),
                    base_version=mvs[-1],
                    file_bytes=target.get("bytes"),
                    file_stats=target.get("stats"),
                    # restore EXACTLY the target's deletion-vector state:
                    # an empty list clears a head-side DV on a shared
                    # file (rolling back past a DV delete un-deletes)
                    file_dvs={rel: t_dvs.get(rel, []) for rel in t_rels},
                    schema_json=target.get("schema"),
                )
                return
        if newest is not None and "buckets" in newest:
            # live is bucketed, target is flat (manifest or legacy
            # snapshot): re-bucket the target's content as new files —
            # the same one-time O(snapshot) pass the conversion paid;
            # the layout and its pinned count survive, so later
            # incremental commits keep working
            nb = newest["n_buckets"] or self.N_KEY_BUCKETS
            df = self.read(table, version=version).withColumn(
                "_kb", self._key_bucket(table, nb)
            )
            new_buckets, fb = self._stage_bucketed(table, df)
            self._commit_manifest(
                table,
                new_buckets,
                nb,
                base_version=mvs[-1],
                file_bytes=fb,
                schema_json=(target or {}).get("schema"),
            )
            return
        # live is flat; target is a legacy directory snapshot → rewrite
        # its content as new root files (adopting a never-manifested live
        # directory first, so the pre-rollback state stays readable)
        if newest is None and (self.root / table).exists():
            self._adopt_flat(table)
            mvs = self._manifest_versions(table)
        names, fb = self._stage_flat(table, self.read(table, version=version))
        self._commit_manifest(
            table,
            files=names,
            base_version=(self.versions(table) or [-1])[-1],
            file_bytes=fb,
            schema_json=(target or {}).get("schema"),
        )

    # -------------------------------------------- consumer registration
    def register_consumer(self, name: str, table: str, version: int) -> None:
        """Record that change-feed consumer ``name`` has applied
        ``table`` through ``version`` (its durable offset, mirrored
        into the warehouse).  :meth:`vacuum` then retains every
        manifest version >= the slowest registered consumer's offset,
        so a lagging replica can never find its next diff vacuumed
        away — the retention guard Delta solves with time-based
        retention windows, solved here with EXACT offsets (no
        guessing how far behind a consumer might be)."""
        import re

        if not re.fullmatch(r"[A-Za-z0-9._-]{1,64}", name):
            raise ValueError(f"consumer name {name!r} must be a simple slug")
        cd = self.root / "_consumers"
        cd.mkdir(parents=True, exist_ok=True)
        p = cd / f"{name}.json"
        doc = {}
        if p.exists():
            try:
                doc = json.loads(p.read_text())
            except ValueError:
                doc = {}
        if doc.get(table, -1) > version:
            raise ValueError(
                f"consumer {name!r} offset for '{table}' would move "
                f"BACKWARD ({doc[table]} -> {version}) — offsets are monotone"
            )
        doc[table] = version
        tmp = p.with_suffix(f".{uuid.uuid4().hex[:8]}.tmp")
        tmp.write_text(json.dumps(doc, sort_keys=True))
        os.replace(tmp, p)  # atomic

    def consumer_offsets(self, table: str) -> dict[str, int]:
        """{consumer name: applied-through version} for ``table``."""
        cd = self.root / "_consumers"
        out: dict[str, int] = {}
        if not cd.exists():
            return out
        for p in cd.glob("*.json"):
            try:
                doc = json.loads(p.read_text())
            except ValueError:
                continue
            if table in doc:
                out[p.stem] = int(doc[table])
        return out

    def deregister_consumer(self, name: str) -> None:
        (self.root / "_consumers" / f"{name}.json").unlink(missing_ok=True)

    def history(self, table: str) -> list[dict]:
        """Version metadata, oldest first (the DESCRIBE HISTORY of this
        table-format-lite): one row per committed version —
        ``{version, kind: 'snapshot'|'manifest'|'live', n_files,
        bytes, n_buckets}``.  Snapshot rows stat the archived
        directory; manifest rows stat exactly the files the manifest
        lists (shared files are counted in every version that can read
        them — the row answers "what does read(version=v) cost", not
        "what does this version own"); a never-merged table gets a
        single 'live' row whose version number :meth:`read` accepts.
        Stat calls are memoized per shared file, so a thousand-version
        history costs O(distinct files), not O(versions × files)."""
        sizes: dict[Path, int] = {}

        def _sz(p: Path) -> int:
            if p not in sizes:
                sizes[p] = p.stat().st_size if p.exists() else 0
            return sizes[p]

        rows: list[dict] = []
        for v in self._legacy_versions(table):
            d = self._version_dir(table) / f"v{v:05d}"
            files = [f for f in d.rglob("part-*") if f.is_file()]
            rows.append(
                {
                    "version": v,
                    "kind": "snapshot",
                    "n_files": len(files),
                    "bytes": sum(f.stat().st_size for f in files),
                    "n_buckets": None,
                }
            )
        mvs = self._manifest_versions(table)
        for v in mvs:
            m = self._manifest(table, v)
            if "buckets" in m:
                rels = [
                    (f"{b}/{fn}", self.root / table / f"_kb={b}" / fn)
                    for b, fs in m["buckets"].items()
                    for fn in fs
                ]
            else:
                rels = [(fn, self.root / table / fn) for fn in m["files"]]
            bm = m.get("bytes")
            if bm is not None and all(r in bm for r, _p in rels):
                total = sum(bm[r] for r, _p in rels)  # pure metadata
            else:  # pre-size-map manifest: stat once per distinct file
                total = sum(_sz(p) for _r, p in rels)
            rows.append(
                {
                    "version": v,
                    "kind": "manifest",
                    "n_files": len(rels),
                    "bytes": total,
                    "n_buckets": m.get("n_buckets"),
                }
            )
        if not mvs and (self.root / table).exists():
            files = [
                f for f in (self.root / table).glob("part-*") if f.is_file()
            ]
            rows.append(
                {
                    "version": (self.versions(table) or [-1])[-1] + 1,
                    "kind": "live",
                    "n_files": len(files),
                    "bytes": sum(f.stat().st_size for f in files),
                    "n_buckets": None,
                }
            )
        return sorted(rows, key=lambda r: r["version"])

    def last_txn_version(self, table: str, app: str) -> int | None:
        """Highest ``txn`` version committed for ``app`` on ``table``
        (None if never) — the restart hook for an idempotent writer:
        resume emitting from the next version after a checkpoint loss."""
        mvs = self._manifest_versions(table)
        if not mvs:
            return None
        return self._manifest(table, mvs[-1]).get("txn", {}).get(app)

    def _catalog_dir(self) -> Path:
        return self.root / "_catalog"

    def catalog_versions(self) -> list[int]:
        cd = self._catalog_dir()
        if not cd.exists():
            return []
        return sorted(int(p.stem[1:]) for p in cd.glob("v*.json"))

    def catalog_snapshot(self, version: int | None = None) -> dict[str, int]:
        """The {table: manifest version} pin set of a catalog commit
        (newest by default).  Read each table with
        ``read(t, version=pins[t])`` for a consistent multi-table view;
        an empty dict means no catalog commit exists yet."""
        cvs = self.catalog_versions()
        if not cvs:
            return {}
        v = cvs[-1] if version is None else version
        p = self._catalog_dir() / f"v{v:05d}.json"
        return json.loads(p.read_text())["pins"]

    def read_snapshot(self, table: str, pins: dict[str, int] | None = None) -> DataFrame:
        """Read ``table`` at the catalog-pinned version (falls back to
        the live head for tables the catalog has never pinned)."""
        pins = self.catalog_snapshot() if pins is None else pins
        v = pins.get(table)
        return self.read(table) if v is None else self.read(table, version=v)

    def _commit_catalog(
        self, pins: dict[str, int], txn: tuple[str, int] | None = None
    ) -> int:
        """Publish a catalog version with the same atomic
        create-if-absent device as table manifests (os.link; the
        object-store analog is one conditional PUT).

        ``pins`` are THIS commit's updates, rebased over whatever pins
        the head catalog doc carries at publish time: on every retry
        the head is re-read and the update set is merged over its pin
        map, so a concurrent ``import_atomic`` of a DISJOINT table set
        keeps its pins instead of being silently overwritten by a
        stale snapshot (the same disjoint-rebase rule the manifest
        commit applies to buckets)."""
        cd = self._catalog_dir()
        for _ in range(50):
            cvs = self.catalog_versions()
            head = cvs[-1] if cvs else -1
            head_pins: dict[str, int] = {}
            if cvs:
                doc0 = json.loads((cd / f"v{head:05d}.json").read_text())
                head_pins = dict(doc0.get("pins", {}))
                if txn is not None and doc0.get("txn", {}).get(txn[0], -1) >= txn[1]:
                    return head  # idempotent replay
                prev_txn = dict(doc0.get("txn", {}))
            else:
                prev_txn = {}
            if txn is not None:
                prev_txn[txn[0]] = txn[1]
            nxt = head + 1
            merged = {**head_pins, **pins}
            doc = {"version": nxt, "pins": dict(sorted(merged.items()))}
            if prev_txn:
                doc["txn"] = prev_txn
            if self._publish(cd, doc):
                return nxt
        raise ConcurrentCommitError("catalog: gave up after 50 commit conflicts")

    def import_atomic(
        self,
        tables: dict[str, DataFrame],
        *,
        txn: tuple[str, int],
        batch_seq: int = 1,
        incremental: bool = True,
        _crash_after: int | None = None,
    ) -> int:
        """Multi-table import, ATOMIC at the catalog level.  Each table
        merges with the shared ``txn=(app, version)`` idempotence key,
        then ONE catalog commit pins the resulting versions.

        Crash contract: a writer dying BETWEEN table commits leaves the
        catalog untouched — snapshot readers keep seeing the complete
        previous import (the advanced per-table manifests are invisible
        until pinned).  Re-running the SAME (app, version) converges:
        already-committed tables replay as no-ops (IdempotentReplay),
        the rest commit, and the catalog pin finally publishes.  The
        catalog commit itself is idempotent on the same key.

        ``_crash_after`` (tests only) kills the writer after that many
        table commits — the crash-injection hook the certifier uses.
        Returns the catalog version."""
        done = 0
        for name in sorted(tables):
            df = tables[name]
            if incremental:
                self.merge_batch_incremental(
                    {name: df}, batch_seq=batch_seq, txn=txn
                )
            else:
                self.merge_batch({name: df}, batch_seq=batch_seq, txn=txn)
            done += 1
            if _crash_after is not None and done >= _crash_after:
                raise RuntimeError(
                    f"injected crash after {done} table commits"
                )
        pins = {
            name: self._manifest_versions(name)[-1] for name in tables
        }
        return self._commit_catalog(pins, txn=txn)

    # ----------------------------------------------------- manifest store
    def _manifest_dir(self, table: str) -> Path:
        return self.root / "_manifests" / table

    def _manifest_versions(self, table: str) -> list[int]:
        md = self._manifest_dir(table)
        if not md.exists():
            return []
        return sorted(int(p.stem[1:]) for p in md.glob("v*.json"))

    def _manifest(self, table: str, version: int) -> dict:
        p = self._manifest_dir(table) / f"v{version:05d}.json"
        if not p.exists():
            raise FileNotFoundError(
                f"warehouse table '{table}' has no manifest v{version} "
                f"(available: {self.versions(table)})"
            )
        m = json.loads(p.read_text())
        # protocol feature gate (r12): refuse, never mis-read.  Every
        # manifest consumer — reads, commits (head re-read in the
        # commit loop), maintenance — funnels through here, so an old
        # build can neither read nor write a table whose correctness
        # depends on a feature it lacks.  No "features" key = base
        # protocol (pre-r12 manifests).
        unknown = set(m.get("features", [])) - SUPPORTED_FEATURES
        if unknown:
            raise UnsupportedTableFeatureError(
                f"table '{table}' v{version} requires manifest feature(s) "
                f"{sorted(unknown)} this build does not implement "
                f"(supported: {sorted(SUPPORTED_FEATURES)}); refusing to "
                f"read rather than return wrong rows — upgrade the engine"
            )
        return m

    def _commit_manifest(
        self,
        table: str,
        buckets: dict[str, list[str]] | None = None,
        n_buckets: int | None = None,
        *,
        files: list[str] | None = None,
        base_version: int | None = None,
        touched: set[str] | None = None,
        file_bytes: dict[str, int] | None = None,
        file_stats: dict[str, dict] | None = None,
        file_dvs: dict[str, list[str]] | None = None,
        txn: tuple[str, int] | None = None,
        schema_json: str | None | object = "__carry__",
        colmap: dict | None | object = "__carry__",
        max_retries: int = 20,
    ) -> int:
        """Publish a new table version with OPTIMISTIC CONCURRENCY (the
        Delta/Iceberg commit loop).  The manifest is created with an
        atomic create-if-absent (``os.link`` of a staged temp file — a
        hard link fails with EEXIST if the target exists; the object-
        store analog is one conditional PUT / If-None-Match), so of two
        writers racing on a version number exactly one wins.  The loser
        re-reads the head and, when this commit is an incremental
        bucket rewrite (``touched`` given) whose buckets are disjoint
        from every intervening commit's, REBASES: its touched buckets'
        new file lists are re-applied onto the head's map and the
        publish retries.  Overlapping buckets — or any conflict against
        a whole-table commit (``touched=None``) — raise
        :class:`ConcurrentCommitError`: the merged content was computed
        against a base another writer has since changed, so replaying,
        not rebasing, is the only safe outcome.

        ``base_version`` is the version the writer's read was based on
        (defaults to the head at publish time, i.e. no conflict
        detection for adoption-style metadata commits).

        The manifest also records per-file SIZES (``bytes``): the
        writer passes sizes for the files it just wrote
        (``file_bytes``), carried files inherit theirs from the head's
        manifest, and anything still unknown (one-time adoption of a
        pre-manifest directory) is statted once at commit.  Readers of
        ``history()`` / ``recommended_buckets`` then never touch the
        filesystem — at object-store scale, per-file stat calls are a
        LIST storm this map exists to avoid.

        It additionally records per-file ZONE MAPS (``stats``:
        rel → {col: [min, max]}, footer-derived — see
        :func:`_parquet_minmax`): same carry-forward rule (pass
        ``file_stats`` for rollback-style metadata commits that repeat
        an older manifest's files; new files are footer-read once at
        commit).  :meth:`scan` prunes on these without opening a single
        data file.

        ``txn=(app, version)`` makes the commit IDEMPOTENT per writer
        (Delta's txnAppId/txnVersion): the manifest carries a monotone
        ``txn`` map {app: highest committed version}; if the head
        already records ``app`` at >= ``version`` — including when
        that head appears mid-retry, i.e. this writer's own ack was
        lost and a twin already won — :class:`IdempotentReplay` is
        raised instead of publishing a duplicate.  The map carries
        forward across every commit (rollback included: an applied
        batch stays applied).

        ``schema_json`` (SCHEMA EVOLUTION): the manifest records the
        table's logical schema once it diverges from the registered
        one.  Default carries the head's schema forward (layout-only
        commits — compaction, rebucket — never change it); an
        evolution commit passes the evolved ``StructType.json()``;
        rollback passes the TARGET's (None clears, restoring the
        pre-evolution schema)."""
        base = (
            base_version
            if base_version is not None
            else (self.versions(table) or [-1])[-1]
        )
        cur_buckets = buckets
        built_blooms: dict[str, str] = {}  # sidecars built by THIS call
        for attempt in range(max_retries + 1):
            head = (self.versions(table) or [-1])[-1]
            head_man = (
                self._manifest(table, head)
                if head in set(self._manifest_versions(table))
                else None
            )
            # replay check BEFORE rebase: a twin that committed this
            # (app, version) often rewrote the same buckets — that is a
            # replay to skip, not a conflict to raise
            if (
                txn is not None
                and head_man is not None
                and head_man.get("txn", {}).get(txn[0], -1) >= txn[1]
            ):
                raise IdempotentReplay(table, *txn)
            if head != base:
                cur_buckets = self._rebase_buckets(
                    table, base, head, cur_buckets, n_buckets, touched, files
                )
                base = head
            nxt = head + 1
            if files is not None:
                doc = {"version": nxt, "n_buckets": None, "files": sorted(files)}
                rels = list(doc["files"])
            else:
                doc = {
                    "version": nxt,
                    "n_buckets": n_buckets,
                    "buckets": {
                        str(b): sorted(fs)
                        for b, fs in sorted(
                            cur_buckets.items(), key=lambda kv: int(kv[0])
                        )
                    },
                }
                rels = [
                    f"{b}/{fn}" for b, fs in doc["buckets"].items() for fn in fs
                ]
            prev_bytes: dict[str, int] = {}
            prev_stats: dict[str, dict] = {}
            prev_txn: dict[str, int] = {}
            prev_blooms: dict[str, str] = {}
            prev_dvs: dict[str, list[str]] = {}
            if head_man is not None:
                prev_bytes = head_man.get("bytes", {})
                prev_stats = head_man.get("stats", {})
                prev_txn = head_man.get("txn", {})
                prev_blooms = head_man.get("blooms", {})
                prev_dvs = head_man.get("dvs", {})
            bmap: dict[str, int] = {}
            smap: dict[str, dict] = {}
            blmap: dict[str, str] = {}
            # DELETION VECTORS carry per rel like bytes/stats: a commit
            # that stacks/clears a file's DV list passes file_dvs for
            # it; a carried file keeps its list; a REWRITTEN file has a
            # fresh name, so its DVs drop automatically (purge-on-
            # rewrite — compaction and CoW DML never see stale DVs)
            dvmap: dict[str, list[str]] = {}
            for rel in rels:
                if file_dvs is not None and rel in file_dvs:
                    if file_dvs[rel]:
                        dvmap[rel] = sorted(file_dvs[rel])
                elif rel in prev_dvs:
                    dvmap[rel] = prev_dvs[rel]
            for rel in rels:
                if files is not None:
                    p = self.root / table / rel
                else:
                    b, fn = rel.split("/", 1)
                    p = self.root / table / f"_kb={b}" / fn
                if file_bytes is not None and rel in file_bytes:
                    bmap[rel] = file_bytes[rel]
                elif rel in prev_bytes:
                    bmap[rel] = prev_bytes[rel]
                else:  # one-time adoption of pre-manifest files
                    bmap[rel] = p.stat().st_size if p.exists() else 0
                if file_stats is not None and rel in file_stats:
                    smap[rel] = file_stats[rel]
                elif rel in prev_stats:
                    smap[rel] = prev_stats[rel]
                elif p.exists():  # new or adopted file: one footer read
                    try:
                        smap[rel] = _parquet_minmax(p)
                    except OSError:
                        smap[rel] = {}  # unreadable footer → unprunable
                bcols = self.bloom_columns.get(table)
                if rel in prev_blooms:  # carried files keep their blooms
                    blmap[rel] = prev_blooms[rel]
                elif bcols:
                    if rel in built_blooms:
                        blmap[rel] = built_blooms[rel]
                    elif p.exists():
                        # new file of a bloom-indexed table: build once
                        # (cached across commit-loop retries)
                        bl = _build_file_bloom(p, bcols)
                        if bl:
                            bdir = self.root / "_blooms" / table
                            bdir.mkdir(parents=True, exist_ok=True)
                            sc = f"{uuid.uuid4().hex[:16]}.json"
                            (bdir / sc).write_text(json.dumps(bl))
                            built_blooms[rel] = sc
                            blmap[rel] = sc
            doc["bytes"] = bmap
            doc["stats"] = smap
            if blmap:
                doc["blooms"] = blmap
            if dvmap:
                doc["dvs"] = dvmap
            # FEATURE STAMP (r12): first use of a reader-required
            # capability marks the manifest; carried forward MONOTONE
            # from the head (Delta protocol versions never downgrade —
            # an old reader must refuse even after a purge empties the
            # DV map, because intermediate versions still need it)
            feats = set((head_man or {}).get("features", []))
            if dvmap:
                feats.add("dv")
            if txn is not None:
                prev_txn = dict(prev_txn)
                prev_txn[txn[0]] = txn[1]
            if prev_txn:
                doc["txn"] = prev_txn
            sj = (
                (head_man or {}).get("schema")
                if schema_json == "__carry__"
                else schema_json
            )
            if sj:
                doc["schema"] = sj
                feats.add("schema")
            # COLUMN MAPPING (renames): {physical: logical} carried like
            # the schema; a rename/restore commit passes its own map
            cm = (
                (head_man or {}).get("colmap")
                if colmap == "__carry__"
                else colmap
            )
            if cm:
                doc["colmap"] = cm
                feats.add("colmap")
            # commit wall-clock for timestamp time travel (Delta's
            # TIMESTAMP AS OF): the PUBLISH time, re-stamped on every
            # retry so the winning manifest carries when it actually
            # became visible.  Clamped to be MONOTONE over the previous
            # manifest's committed_at (Delta's in-commit timestamp
            # adjustment): with multi-writer clock skew a later version
            # could otherwise carry an earlier stamp, making TIMESTAMP
            # AS OF resolve to a version that skips an intermediate one.
            if feats:
                doc["features"] = sorted(feats)
            import time as _time

            prev_ts = (head_man or {}).get("committed_at")
            doc["committed_at"] = round(_time.time(), 3)
            if prev_ts is not None and doc["committed_at"] <= prev_ts:
                doc["committed_at"] = round(prev_ts + 0.001, 3)
            if self._publish(self._manifest_dir(table), doc):
                return nxt
            # lost the race on this version: re-read the head
        raise ConcurrentCommitError(
            f"table '{table}': gave up after {max_retries} commit conflicts"
        )

    @staticmethod
    def _publish(directory: Path, doc: dict) -> bool:
        """Create ``<directory>/vNNNNN.json`` for ``doc["version"]``
        unless another writer already has: the atomic create-if-absent
        every manifest and catalog commit hinges on (``os.link`` of a
        staged temp file).  False when the version was taken."""
        directory.mkdir(parents=True, exist_ok=True)
        v = doc["version"]
        # tmp name unique per WRITER, not just per process: two threads
        # racing on one version with a shared tmp would link each
        # other's content or unlink a live tmp
        tmp = directory / f".v{v:05d}.{uuid.uuid4().hex[:12]}.tmp"
        tmp.write_text(json.dumps(doc, sort_keys=True))
        try:
            os.link(tmp, directory / f"v{v:05d}.json")
            return True
        except FileExistsError:
            return False
        finally:
            tmp.unlink(missing_ok=True)

    def _rebase_buckets(
        self,
        table: str,
        base: int,
        head: int,
        buckets: dict[str, list[str]] | None,
        n_buckets: int | None,
        touched: set[str] | None,
        files: list[str] | None,
    ) -> dict[str, list[str]]:
        """Rebase a conflicted incremental commit onto the new head, or
        raise. Valid only when every intervening commit is a bucketed
        manifest at the same modulus whose changed buckets are disjoint
        from this commit's ``touched`` set — then the touched buckets'
        merged content (computed against ``base``) is still exact, and
        overlaying it on the head's map serializes both writers."""
        if touched is None or files is not None or buckets is None:
            raise ConcurrentCommitError(
                f"table '{table}': commit based on v{base} conflicts with head "
                f"v{head}, and this commit rewrites the whole table — re-run it "
                f"against the new head"
            )
        man_vs = set(self._manifest_versions(table))
        inter = list(range(base + 1, head + 1))
        if base not in man_vs or any(v not in man_vs for v in inter):
            raise ConcurrentCommitError(
                f"table '{table}': conflicting versions between v{base} and "
                f"v{head} are not bucketed manifests — cannot rebase"
            )
        prev = self._manifest(table, base)
        if "buckets" not in prev:
            raise ConcurrentCommitError(
                f"table '{table}': base v{base} is a flat manifest — cannot rebase"
            )
        changed: set[str] = set()
        cur = prev["buckets"]
        for v in inter:
            m = self._manifest(table, v)
            if "buckets" not in m or (
                m.get("n_buckets") is not None
                and n_buckets is not None
                and m["n_buckets"] != n_buckets
            ):
                raise ConcurrentCommitError(
                    f"table '{table}': intervening commit v{v} changed the "
                    f"table layout — cannot rebase"
                )
            mb = m["buckets"]
            changed |= {b for b in set(cur) | set(mb) if cur.get(b) != mb.get(b)}
            cur = mb
        overlap = changed & set(touched)
        if overlap:
            raise ConcurrentCommitError(
                f"table '{table}': concurrent commits both rewrote buckets "
                f"{sorted(overlap, key=int)[:5]} — the loser's merge is stale; "
                f"re-run it against the new head"
            )
        out = dict(cur)
        for b in touched:
            out[b] = buckets.get(b, [])
        return out

    def _dir_buckets(self, table: str) -> dict[str, list[str]]:
        """Bucket→file map from the current directory state (used once,
        to ADOPT a pre-manifest bucketed table)."""
        path = self.root / table
        return {
            d.name.split("=", 1)[1]: sorted(
                f.name for f in d.glob("part-*") if f.is_file()
            )
            for d in path.glob("_kb=*")
            if d.is_dir()
        }

    def _adopt_flat(self, table: str) -> int:
        """Adopt a pre-manifest flat directory as its first manifest — a
        metadata-only commit, so the pre-existing state becomes a
        readable version."""
        files = sorted(
            f.name for f in (self.root / table).glob("part-*") if f.is_file()
        )
        return self._commit_manifest(table, files=files)

    def _validate_bucket_modulus(
        self, table: str, buckets: dict[str, list[str]], n_buckets: int
    ) -> None:
        """Sanity-check a bucket layout against the modulus about to be
        PINNED for it (adoption of a pre-manifest table, or pinning a
        None-count manifest): every observed bucket id must be under the
        modulus, and one probe bucket's rows must re-hash to their
        bucket id.  Catches adopting a custom-modulus layout without
        re-passing its n_buckets — which would otherwise hash later
        batches to different buckets than the stored rows and silently
        break last-write-wins."""
        ids = sorted((int(b) for b, fs in buckets.items() if fs))
        if not ids:
            return
        if ids[-1] >= n_buckets:
            raise ValueError(
                f"adopting '{table}': directory has bucket ids up to {ids[-1]}, "
                f"inconsistent with n_buckets={n_buckets} — pass the layout's "
                f"actual n_buckets explicitly"
            )
        probe = ids[0]
        fs = [
            str(self.root / table / f"_kb={probe}" / fn)
            for fn in buckets[str(probe)]
        ]
        bad = (
            self.spark.read.parquet(*fs)
            .where(self._key_bucket(table, n_buckets) != F.lit(probe))
            .limit(1)
            .count()
        )
        if bad:
            raise ValueError(
                f"adopting '{table}': rows in bucket {probe} do not hash to "
                f"{probe} under n_buckets={n_buckets} — the layout was written "
                f"with a different modulus; pass its actual n_buckets"
            )

    @staticmethod
    def _schema_of(m: dict):
        """The StructType a manifest pins (schema evolution), or None —
        readers pass it explicitly so files written BEFORE a column was
        added read back with typed nulls for it (parquet's
        missing-column semantics under a user schema), with no
        mergeSchema footer sweep at read time."""
        from pyspark.sql.types import StructType

        sj = m.get("schema")
        return StructType.fromJson(json.loads(sj)) if sj else None

    def table_schema(self, table: str):
        """The table's CURRENT LOGICAL StructType, or None if unknowable
        — the manifest-pinned evolved schema (with column-mapping
        renames applied) when one exists, else the model's registered
        schema.  Metadata only (no file reads); CLI predicate typing and
        external tooling use this to build correctly-typed literals so
        pruning guards (_key_typed, _same_type_class) engage instead of
        falling back to unprunable cross-type predicates."""
        from pyspark.sql.types import StructField, StructType

        mvs = self._manifest_versions(table)
        if mvs:
            m = self._manifest(table, mvs[-1])
            schema = self._schema_of(m)
            if schema is not None:
                cm = self._colmap_of(m)
                return StructType(
                    [
                        StructField(cm.get(f.name, f.name), f.dataType, f.nullable)
                        for f in schema.fields
                    ]
                )
        if table in ALL_TABLES:
            return ALL_TABLES[table][0]
        return None

    @staticmethod
    def _colmap_of(m: dict | None) -> dict[str, str]:
        """{physical: logical} renames a manifest carries (possibly {})."""
        return (m or {}).get("colmap") or {}

    def _to_logical(self, df: DataFrame, m: dict | None) -> DataFrame:
        """Physical frame → logical names (renames only; drops/widens
        already live in the pinned schema).  Identity when unmapped."""
        cm = self._colmap_of(m)
        if not cm:
            return df
        return df.select(
            *[
                F.col(c).alias(cm[c]) if c in cm else F.col(c)
                for c in df.columns
            ]
        )

    def _to_physical_df(self, df: DataFrame, m: dict | None) -> DataFrame:
        """Logical frame (a user batch) → physical names for staging.
        A batch still naming a RETIRED column (the physical name of a
        renamed column) raises — silently accepting it would let stale
        writers keep using the old name forever, because physical names
        never change."""
        cm = self._colmap_of(m)
        if not cm:
            return df
        inv = {v: k for k, v in cm.items()}
        retired = sorted(
            c for c in df.columns if c in cm and cm[c] != c and c not in inv
        )
        if retired:
            raise ValueError(
                f"batch names renamed-away columns {retired} — use the "
                f"current names {[cm[c] for c in retired]}"
            )
        return df.select(
            *[
                F.col(c).alias(inv[c]) if c in inv else F.col(c)
                for c in df.columns
            ]
        )

    def _preds_physical(self, preds: list, m: dict | None) -> list:
        """Scan/delete predicates arrive over LOGICAL names; the whole
        skipping stack (zone maps, blooms, bucket hash) speaks physical."""
        cm = self._colmap_of(m)
        if not cm:
            return preds
        inv = {v: k for k, v in cm.items()}
        return [(inv.get(c, c), op, val) for c, op, val in preds]

    def _newest_manifest(self, table: str) -> dict | None:
        mvs = self._manifest_versions(table)
        return self._manifest(table, mvs[-1]) if mvs else None

    def _pinned_physical(self, table: str, m: dict):
        """The manifest's pinned physical schema, materializing the
        registered one on first mapping DDL (mapping needs an explicit
        schema to rewrite)."""
        schema = self._schema_of(m)
        if schema is None:
            if table not in ALL_TABLES:
                raise ValueError(
                    f"table '{table}' has no pinned or registered schema — "
                    f"column mapping needs one"
                )
            schema = ALL_TABLES[table][0]
        return schema

    def _mapping_commit(
        self, table: str, m: dict, schema, cm: dict[str, str]
    ) -> int:
        """Publish a METADATA-ONLY commit: same files, new pinned
        schema / colmap.  Zero data bytes move — the certifier asserts
        this via the manifest byte map."""
        return self._commit_manifest(
            table,
            m.get("buckets"),
            m.get("n_buckets"),
            files=m.get("files"),
            base_version=m["version"],
            schema_json=schema.json(),
            colmap={k: v for k, v in cm.items() if k != v} or None,
        )

    def rename_column(self, table: str, old: str, new: str) -> int:
        """Rename a column — METADATA ONLY (Delta column mapping).  The
        physical name stays what every existing file stores; readers
        overlay the new logical name; old versions time-travel with the
        old one.  Returns the new version."""
        m = self._newest_manifest(table)
        if m is None:
            raise ValueError(f"table '{table}' has no manifest to rename in")
        schema = self._pinned_physical(table, m)
        cm = dict(self._colmap_of(m))
        logical = {cm.get(f.name, f.name): f.name for f in schema.fields}
        if old not in logical:
            raise ValueError(
                f"table '{table}': no column {old!r} (have {sorted(logical)})"
            )
        if new in logical and logical.get(new) != logical[old]:
            raise ValueError(f"table '{table}': column {new!r} already exists")
        cm[logical[old]] = new
        return self._mapping_commit(table, m, schema, cm)

    def drop_column(self, table: str, name: str) -> int:
        """Drop a column — METADATA ONLY: the field leaves the pinned
        schema, so no reader ever scans it again (parquet's projection
        pushdown means the bytes are never read, not just hidden); old
        versions still carry it.  Merge-key columns refuse (the LWW
        identity must stay addressable)."""
        from pyspark.sql.types import StructType

        m = self._newest_manifest(table)
        if m is None:
            raise ValueError(f"table '{table}' has no manifest to drop from")
        schema = self._pinned_physical(table, m)
        cm = dict(self._colmap_of(m))
        logical = {cm.get(f.name, f.name): f.name for f in schema.fields}
        if name not in logical:
            raise ValueError(f"table '{table}': no column {name!r}")
        phys = logical[name]
        if phys in MERGE_KEYS.get(table, []):
            raise ValueError(
                f"table '{table}': cannot drop merge-key column {name!r}"
            )
        schema = StructType([f for f in schema.fields if f.name != phys])
        cm.pop(phys, None)
        return self._mapping_commit(table, m, schema, cm)

    #: lossless widening lattice (Delta's type widening): every pair the
    #: parquet readers promote natively, so existing files never rewrite
    _WIDEN_OK = {  # simpleString spellings
        ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
        ("smallint", "int"), ("smallint", "bigint"), ("int", "bigint"),
        ("tinyint", "double"), ("smallint", "double"), ("int", "double"),
        ("float", "double"),
    }

    def widen_column(self, table: str, name: str, new_type: str) -> int:
        """Widen a column's type — METADATA ONLY.  Allowed pairs are the
        lossless promotions Spark's parquet readers perform on narrow
        files under a wide pinned schema (int→long, int→double,
        float→double, …); anything lossy (long→int, long→double past
        2^53, string casts) raises.  New files write the wide type; old
        files promote at scan time; old versions time-travel narrow."""
        from pyspark.sql.types import StructField, StructType, _parse_datatype_string

        m = self._newest_manifest(table)
        if m is None:
            raise ValueError(f"table '{table}' has no manifest to widen in")
        schema = self._pinned_physical(table, m)
        cm = dict(self._colmap_of(m))
        logical = {cm.get(f.name, f.name): f.name for f in schema.fields}
        if name not in logical:
            raise ValueError(f"table '{table}': no column {name!r}")
        phys = logical[name]
        if phys in MERGE_KEYS.get(table, []):
            # xxhash64 is type-sensitive: old rows bucketed as the
            # narrow type would stop colocating with new wide-typed
            # rows of the SAME key — widening a key needs a rebucket,
            # not a metadata commit
            raise ValueError(
                f"table '{table}': cannot widen merge-key column {name!r} "
                f"(bucket hashes are type-sensitive; rebucket instead)"
            )
        tgt = _parse_datatype_string(new_type)
        fields = []
        for f in schema.fields:
            if f.name == phys:
                pair = (f.dataType.simpleString(), tgt.simpleString())
                if pair[0] == pair[1]:
                    return m["version"]  # already there: no-op
                if pair not in self._WIDEN_OK:
                    raise ValueError(
                        f"table '{table}': {pair[0]} → {pair[1]} is not a "
                        f"lossless widening (allowed: {sorted(self._WIDEN_OK)})"
                    )
                fields.append(StructField(phys, tgt, f.nullable))
            else:
                fields.append(f)
        return self._mapping_commit(table, m, StructType(fields), cm)

    def _read_manifest(self, table: str, m: dict) -> DataFrame:
        """Read exactly the files manifest ``m`` (already loaded and
        feature-gated by :meth:`_manifest`) lists. Bucketed manifests
        come back WITH the inferred ``_kb`` partition column — internal
        callers prune/repartition on it; :meth:`read` drops it. Flat
        manifests read their root files directly.  A manifest carrying
        an evolved schema pins it on the reader (older files' missing
        columns read as nulls; Spark appends the ``_kb`` partition
        column on top)."""
        base = self.root / table
        schema = self._schema_of(m)
        if "buckets" in m:
            files = [
                str(base / f"_kb={b}" / fn)
                for b, fns in m["buckets"].items()
                for fn in fns
            ]
        else:
            files = [str(base / fn) for fn in m["files"]]
        if not files:
            if schema is not None:
                empty = self.spark.createDataFrame([], schema)
            elif table in ALL_TABLES:
                empty = self.spark.createDataFrame([], ALL_TABLES[table][0])
            else:
                empty = self.spark.read.parquet(str(base)).limit(0).drop("_kb")
            if "buckets" in m:
                empty = empty.withColumn("_kb", F.lit(None).cast("int"))
            return empty
        if "buckets" in m:
            pairs = [
                (f"{b}/{fn}", str(base / f"_kb={b}" / fn))
                for b, fns in m["buckets"].items()
                for fn in fns
            ]
        else:
            pairs = [(fn, str(base / fn)) for fn in m["files"]]
        return self._read_files_dv(table, m, pairs)
