"""Maintenance: vacuum, rebucket, DV-debt stats, auto-compaction policy.

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


class _MaintenanceMixin:
    def vacuum(
        self, keep_last: int = 2, *, staging_ttl_hours: float = 24.0
    ) -> dict[str, int]:
        """Drop all but the newest ``keep_last`` non-live versions per
        table (time-travel horizon vs storage), then delete every data
        file unreachable from the retained manifests (which also sweeps
        orphans left by crashed or conflicted commits: the manifest is
        the precise reachable-file set). Returns
        {table: n_versions_removed}.

        Staging dirs (``_<table>_*staging*_<uuid>``) belong to
        IN-FLIGHT writers; a crashed writer abandons one.  Vacuum sweeps
        those older than ``staging_ttl_hours`` (mtime) — the TTL keeps a
        concurrent writer's live staging safe, the same contract as
        Delta's orphan-file retention window.  Pass 0 only when no
        writer can be running."""
        import time

        cutoff = time.time() - staging_ttl_hours * 3600.0
        for pat in ("_*_staging_*", "_*_compact_*"):
            for d in self.root.glob(pat):
                if d.is_dir() and d.stat().st_mtime <= cutoff:
                    shutil.rmtree(d, ignore_errors=True)
        out: dict[str, int] = {}
        for name in ALL_TABLES:
            removed = 0
            mvs = self._manifest_versions(name)
            if mvs:
                # the newest manifest is the live state; keep it plus the
                # newest keep_last older versions (either store)
                all_vs = self.versions(name)
                retain = set(all_vs[-(keep_last + 1):]) if keep_last > 0 else {all_vs[-1]}
                retain.add(mvs[-1])
                # retention GUARD: a registered change-feed consumer at
                # offset k needs manifests k..head to compute its next
                # diffs — keep them regardless of keep_last (the
                # consumer advances, re-vacuum reclaims)
                offs = self.consumer_offsets(name)
                if offs:
                    floor = min(offs.values())
                    retain |= {v for v in all_vs if v >= floor}
                for v in mvs:
                    if v not in retain:
                        (self._manifest_dir(name) / f"v{v:05d}.json").unlink()
                        removed += 1
                for v in self._legacy_versions(name):
                    if v not in retain:
                        shutil.rmtree(self._version_dir(name) / f"v{v:05d}")
                        removed += 1
                reach_kb: set[str] = set()
                reach_flat: set[str] = set()
                reach_blooms: set[str] = set()
                reach_dvs: set[str] = set()
                for v in self._manifest_versions(name):
                    m = self._manifest(name, v)
                    if "buckets" in m:
                        for b, files in m["buckets"].items():
                            reach_kb |= {f"_kb={b}/{fn}" for fn in files}
                    else:
                        reach_flat |= set(m["files"])
                    reach_blooms |= set(m.get("blooms", {}).values())
                    for lst in m.get("dvs", {}).values():
                        reach_dvs |= set(lst)
                bdir = self.root / "_blooms" / name
                if bdir.exists():
                    for f in bdir.glob("*.json"):
                        if f.name not in reach_blooms:
                            f.unlink()  # bloom of an expired file
                dvd = self._dv_dir(name)
                if dvd.exists():
                    for f in dvd.glob("dv-*.parquet"):
                        if f.name not in reach_dvs:
                            f.unlink()  # tombstones of expired versions
                tdir = self.root / name
                for f in tdir.glob("_kb=*/*"):
                    rel = f"{f.parent.name}/{f.name}"
                    if f.is_file() and not f.name.startswith((".", "_")) and rel not in reach_kb:
                        f.unlink()
                        crc = f.with_name(f".{f.name}.crc")  # local-FS sidecar
                        if crc.exists():
                            crc.unlink()
                for f in tdir.glob("part-*"):
                    if f.is_file() and f.name not in reach_flat:
                        f.unlink()
                        crc = f.with_name(f".{f.name}.crc")
                        if crc.exists():
                            crc.unlink()
            else:
                vs = self._legacy_versions(name)
                drop = vs[:-keep_last] if keep_last > 0 else vs
                for v in drop:
                    shutil.rmtree(self._version_dir(name) / f"v{v:05d}")
                removed = len(drop)
            if removed:
                out[name] = removed
        return out

    def rebucket(self, table: str, n_buckets: int) -> int:
        """One-time O(table) re-layout to a new bucket modulus, AS a
        manifest commit — the B ∝ table-size lever (SCALE.md addendum
        42: per-commit write volume is O(|batch| + k·table/B), so the
        bucket count must grow with the table; a table that outgrew its
        birth-time modulus re-layouts here instead of being stuck on
        it).  The table's live content is re-hashed at the new modulus
        and written as new immutable files; ONE manifest commit
        publishes the new layout.  Old versions stay readable — their
        manifests pin their own n_buckets and file lists, so time
        travel (and metadata-only rollback) crosses the rebucket — and
        later incremental commits hash at the new modulus.  Returns the
        new version number."""
        if n_buckets < 1:
            raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        mvs = self._manifest_versions(table)
        newest = self._manifest(table, mvs[-1]) if mvs else None
        if newest is None or "buckets" not in newest:
            raise ValueError(
                f"rebucket requires a bucket-partitioned table; '{table}' is "
                f"flat — convert it with merge_batch_incremental first"
            )
        if newest["n_buckets"] == n_buckets:
            return newest["version"]
        df = (
            self._read_manifest(table, newest)
            .drop("_kb")
            .withColumn("_kb", self._key_bucket(table, n_buckets))
        )
        new_buckets, fb = self._stage_bucketed(table, df)
        return self._commit_manifest(
            table,
            new_buckets,
            n_buckets,
            base_version=newest["version"],
            file_bytes=fb,
        )

    def recommended_buckets(
        self, table: str, *, target_bucket_bytes: int = 256 * 1024 * 1024
    ) -> int:
        """The B ∝ table-size sizing rule (SCALE.md addendum 42) as a
        function: enough buckets that one bucket ≈ ``target_bucket_bytes``
        of live data, rounded UP to a power of two so the
        recommendation is stable as the table grows (it quadruples
        roughly every 4× growth instead of drifting every commit).
        Live bytes come from the newest manifest's file list — a
        metadata stat pass, no Spark job."""
        mvs = self._manifest_versions(table)
        if not mvs:
            return self.N_KEY_BUCKETS
        m = self._manifest(table, mvs[-1])
        bm = m.get("bytes")
        if bm is not None:
            live = sum(bm.values())  # pure metadata — no stat pass
        else:
            if "buckets" in m:
                paths = [
                    self.root / table / f"_kb={b}" / fn
                    for b, fs in m["buckets"].items()
                    for fn in fs
                ]
            else:
                paths = [self.root / table / fn for fn in m["files"]]
            live = sum(p.stat().st_size for p in paths if p.exists())
        want = max(1, -(-live // target_bucket_bytes))  # ceil
        b = 1
        while b < want:
            b <<= 1
        return max(b, 1)

    def maybe_rebucket(
        self,
        table: str,
        *,
        target_bucket_bytes: int = 256 * 1024 * 1024,
        grow_factor: int = 4,
    ) -> int | None:
        """Rebucket ``table`` iff the sizing rule's recommendation has
        outgrown the pinned count by ``grow_factor`` — the maintenance-
        cadence policy: checking costs one metadata stat pass, the
        re-layout runs only when the table has genuinely outgrown its
        modulus (hysteresis prevents rebucketing on every commit).
        Returns the new version number, or None when no re-layout ran.
        Never shrinks: a small B on a shrunken table costs merge
        parallelism, not correctness."""
        mvs = self._manifest_versions(table)
        newest = self._manifest(table, mvs[-1]) if mvs else None
        if newest is None or "buckets" not in newest or not newest.get("n_buckets"):
            return None
        rec = self.recommended_buckets(table, target_bucket_bytes=target_bucket_bytes)
        if rec >= grow_factor * newest["n_buckets"]:
            return self.rebucket(table, rec)
        return None

    def dv_stats(self, table: str) -> dict:
        """Merge-on-read DEBT metrics for ``table``, METADATA-ONLY (one
        manifest read + sidecar parquet FOOTERS — no data pages): how
        many live files carry deletion vectors, the deepest sidecar
        stack on any one file (the read-tax lever SCALE addendum 56
        priced), and the total tombstone row count.  The policy inputs
        :meth:`maybe_optimize` decides on."""
        mvs = self._manifest_versions(table)
        if not mvs:
            return {
                "files_total": 0, "files_dvd": 0, "dv_fraction": 0.0,
                "max_stack": 0, "tombstone_rows": 0,
            }
        m = self._manifest(table, mvs[-1])
        if "buckets" in m:
            rels = [f"{b}/{fn}" for b, fs in m["buckets"].items() for fn in fs]
        else:
            rels = list(m.get("files", []))
        dvs = m.get("dvs", {})
        live_dvs = {rel: dvs[rel] for rel in rels if rel in dvs}
        names = sorted({n for lst in live_dvs.values() for n in lst})
        rows = 0
        for n in names:
            p = self._dv_dir(table) / n
            if p.exists():
                import pyarrow.parquet as pq

                rows += pq.ParquetFile(str(p)).metadata.num_rows
        return {
            "files_total": len(rels),
            "files_dvd": len(live_dvs),
            "dv_fraction": (len(live_dvs) / len(rels)) if rels else 0.0,
            "max_stack": max((len(v) for v in live_dvs.values()), default=0),
            "tombstone_rows": rows,
        }

    def maybe_optimize(
        self,
        table: str,
        *,
        target_bytes: int = 128 * 1024 * 1024,
        dv_file_fraction: float = 0.2,
        max_dv_stack: int = 4,
        small_file_factor: int = 4,
    ) -> dict | None:
        """Compact ``table`` iff its merge-on-read debt or file
        fragmentation crossed a threshold — the maintenance-cadence
        policy (the :meth:`maybe_rebucket` pattern): CHECKING costs one
        manifest read plus sidecar footer stats, the O(table) rewrite
        runs only when a trigger fires.  Triggers:

        - ``dv_file_fraction``: the share of live files carrying
          deletion vectors (every DV'd file pays the anti-join read tax
          on every scan — flat per file, so the FRACTION is the cost);
        - ``max_dv_stack``: the deepest sidecar stack on any one file
          (bounds the tombstone-union work a single read does);
        - ``small_file_factor``: live file count vs the byte-ideal at
          ``target_bytes`` (the small-file problem).

        Compaction is the DV PURGE POINT (:meth:`optimize` rewrites
        every DV'd bucket and drops the references), so a fired trigger
        resets all three metrics.  Returns ``{'triggers': [...],
        'stats': …, 'optimized': {table: (files_before, files_after)}}``
        or None when nothing fired."""
        import math

        stats = self.dv_stats(table)
        if not stats["files_total"]:
            return None
        triggers = []
        if stats["dv_fraction"] >= dv_file_fraction:
            triggers.append("dv_file_fraction")
        if stats["max_stack"] >= max_dv_stack:
            triggers.append("max_dv_stack")
        mvs = self._manifest_versions(table)
        m = self._manifest(table, mvs[-1])
        total_bytes = sum(m.get("bytes", {}).values())
        # per-bucket compaction can't go below one file per bucket, so
        # the byte-ideal floors at the bucket count
        floor = m.get("n_buckets") or 1
        ideal = max(floor, math.ceil(total_bytes / target_bytes))
        if stats["files_total"] >= small_file_factor * ideal:
            triggers.append("small_file_factor")
        if not triggers:
            return None
        done = self.optimize(target_bytes=target_bytes, tables=[table])
        return {"triggers": triggers, "stats": stats, "optimized": done}

    def auto_maintain(
        self,
        table: str,
        *,
        every_k_commits: int = 8,
        vacuum_keep_last: int | None = None,
        **optimize_kw,
    ) -> dict | None:
        """UNATTENDED maintenance cadence (r12): the hook DML and
        CDC-apply paths call after every commit, so merge-on-read debt
        is bounded by POLICY instead of by an operator remembering to
        run :meth:`maybe_optimize` — at 100 TB "remember to run
        maintenance" is the thing that doesn't scale.

        Cost ladder (each rung gates the next):

        1. **Version arithmetic only** (no I/O beyond the manifest
           directory listing the commit just did anyway): skip unless
           ``every_k_commits`` manifest versions elapsed since this
           process last checked ``table`` (first observation arms the
           counter without checking — a restart never stampedes).
        2. **Metadata-only check** (:meth:`maybe_optimize`: one
           manifest read + DV sidecar parquet FOOTERS).
        3. **O(table) compaction** only when a debt trigger fires —
           and compaction is the purge point, so a fire resets every
           metric the policy measures.
        4. ``vacuum_keep_last`` (opt-in): vacuum right AFTER a fire —
           rewrites are what strand unreachable files, so the purge is
           exactly when garbage appears; trickle MOR commits only add
           shared files and create none.

        The cadence state is per-process (an in-memory watermark, not
        a table property): concurrent maintainers are safe because
        :meth:`optimize` commits through the same optimistic manifest
        protocol as any writer, and a duplicate check is just a
        re-read of footers.  Returns ``None`` when skipped or nothing
        fired at the check, else ``{'checked_at_version': v,
        'optimize': {...}, 'vacuum': {...}?}``."""
        state = getattr(self, "_auto_maint_last", None)
        if state is None:
            state = self._auto_maint_last = {}
        mvs = self._manifest_versions(table)
        if not mvs:
            return None
        head = mvs[-1]
        last = state.get(table)
        if last is None:
            state[table] = head
            return None
        if head - last < max(1, every_k_commits):
            return None
        state[table] = head
        fired = self.maybe_optimize(table, **optimize_kw)
        if fired is None:
            return None
        out = {"checked_at_version": head, "optimize": fired}
        if vacuum_keep_last is not None:
            out["vacuum"] = self.vacuum(keep_last=vacuum_keep_last)
        return out

    # ---------------------------------------------------------- compaction
    def optimize(
        self,
        target_bytes: int = 128 * 1024 * 1024,
        cluster_by: dict[str, list[str]] | None = None,
        tables: list[str] | None = None,
    ) -> dict[str, tuple[int, int]]:
        """Compact each table to ~``target_bytes`` files (the small-file
        problem: every incremental merge writes a key-hashed partition
        set, and at 100 TB a scan's task count — and the namenode — is
        bounded by file count, not data size). Rewrites keep the
        key-hash distribution (``repartition(n, *keys)``) so merge/join
        co-location survives compaction. Returns {table: (files_before,
        files_after)}; tables already at or under target are untouched.

        Compaction goes THROUGH the manifest protocol for every layout:
        bucketed tables compact PER BUCKET (each over-fragmented
        bucket's live files are rewritten into new files and ONE new
        manifest version publishes the whole pass); flat tables rewrite
        their live file set the same way. Compaction is layout-only but
        still a commit, so the pre-compaction version remains
        time-travelable (and its old files reclaimable by vacuum). File
        counts are manifest counts: the directory also holds older
        versions' files.

        ``cluster_by`` maps table → sort columns: that table's rewrite
        range-partitions + sorts on them (a list gives lexicographic
        clustering — tight zone maps on the FIRST column; a
        ``{"zorder": [c1, c2]}`` spec interleaves two numeric columns'
        quantized bits via :func:`functions.zorder.zvalue` — Delta's
        OPTIMIZE ZORDER — so every file's zone map is a small
        RECTANGLE and :meth:`scan` prunes on EITHER dimension).
        Clustering makes the per-file zone maps recorded at commit
        TIGHT, which is what :meth:`scan`'s data skipping prunes on —
        a clustered table answers a range predicate by opening
        O(matching) files instead of all of them.
        A ``cluster_by`` table is rewritten even when already at the
        file-count target (the point is layout, not count).  Tradeoff,
        stated: a clustered FLAT table trades merge-key co-location for
        scan locality; bucketed tables keep co-location structurally
        (the bucket dir is the merge unit — clustering happens within
        buckets)."""
        import math

        from ..functions.zorder import zvalue

        def _shape_clustered(df, n_parts, spec):
            """Range-partition + sort ``df`` per the cluster spec —
            list = lexicographic, {'zorder': [c1, c2]} = Morton."""
            if isinstance(spec, dict):
                z = df.withColumn("_zv", zvalue(df, list(spec["zorder"])))
                return (
                    z.repartitionByRange(n_parts, "_zv")
                    .sortWithinPartitions("_zv")
                    .drop("_zv")
                )
            return df.repartitionByRange(n_parts, *spec).sortWithinPartitions(*spec)

        out: dict[str, tuple[int, int]] = {}
        cluster_by = cluster_by or {}
        for name in (tables if tables is not None else ALL_TABLES):
            p = Path(self._path(name))
            if not p.exists():
                continue
            ccols = cluster_by.get(name)
            mvs = self._manifest_versions(name)
            newest = self._manifest(name, mvs[-1]) if mvs else None
            if (newest is not None and "buckets" in newest) or (
                newest is None and any(d.is_dir() for d in p.glob("_kb=*"))
            ):
                # bucket-partitioned table (merge_batch_incremental):
                # compact per bucket, preserving the layout — flattening
                # it would silently disable incremental commits.
                if newest is None:
                    v = self._commit_manifest(
                        name, self._dir_buckets(name), None
                    )  # adopt pre-manifest layout (bucket count pinned later)
                    newest = self._manifest(name, v)
                b_before = b_after = 0
                new_buckets = dict(newest["buckets"])
                changed: set[str] = set()
                fb: dict[str, int] = {}
                man_bytes = newest.get("bytes", {})
                for b, fnames in sorted(newest["buckets"].items(), key=lambda kv: int(kv[0])):
                    d = p / f"_kb={b}"
                    files = [d / fn for fn in fnames]
                    b_before += len(files)
                    # per-file sizes from the manifest when recorded
                    # (no stat pass); stat only pre-size-map manifests
                    bsize = sum(
                        man_bytes.get(f"{b}/{fn}", None) or (d / fn).stat().st_size
                        for fn in fnames
                    )
                    bwant = max(1, math.ceil(bsize / target_bytes))
                    # a bucket carrying deletion vectors is ALWAYS
                    # rewritten — compaction is the DV purge point
                    # (merge-on-read debt gets paid here, not at every
                    # future scan)
                    has_dv = any(
                        f"{b}/{fn}" in newest.get("dvs", {}) for fn in fnames
                    )
                    if len(files) <= bwant and not (ccols and files) and not has_dv:
                        b_after += len(files)
                        continue
                    staged = self.root / f"_{name}_compact_{uuid.uuid4().hex[:12]}"
                    if staged.exists():
                        shutil.rmtree(staged)
                    sch = self._schema_of(newest)  # evolved tables: a
                    # mixed-schema bucket must not infer from one file
                    bdf = self._read_files_dv(
                        name,
                        newest,
                        [(f"{b}/{fn}", str(d / fn)) for fn in fnames],
                        schema=sch,
                    ).drop("_kb")
                    if ccols:
                        bdf = _shape_clustered(bdf, bwant, ccols)
                    else:
                        bdf = bdf.repartition(bwant)
                    bdf.write.mode("overwrite").parquet(str(staged))
                    names: list[str] = []
                    for f in sorted(staged.glob("part-*")):
                        fb[f"{b}/{f.name}"] = f.stat().st_size
                        f.rename(d / f.name)
                        names.append(f.name)
                    shutil.rmtree(staged, ignore_errors=True)
                    new_buckets[b] = names
                    changed.add(b)
                    b_after += len(names)
                if changed:
                    # compaction rebases over a concurrent ingest of
                    # OTHER buckets; same-bucket races raise
                    self._commit_manifest(
                        name,
                        new_buckets,
                        newest["n_buckets"],
                        base_version=newest["version"],
                        touched=changed,
                        file_bytes=fb,
                    )
                out[name] = (b_before, b_after)
                continue
            if newest is None:
                v = self._adopt_flat(name)
                newest = self._manifest(name, v)
            fnames = newest["files"]
            files = [p / fn for fn in fnames]
            bm = newest.get("bytes", {})
            size = sum(
                bm.get(fn, None) or (p / fn).stat().st_size for fn in fnames
            )
            want = max(1, math.ceil(size / target_bytes))
            has_dv = bool(newest.get("dvs"))  # DV purge point (see above)
            if len(files) <= want and not (ccols and files) and not has_dv:
                out[name] = (len(files), len(files))
                continue
            df = self._read_manifest(name, newest)
            # keyless tables (future ALL_TABLES entries) still compact,
            # just without a co-location guarantee
            keys = MERGE_KEYS.get(name)
            if ccols:
                shaped = _shape_clustered(df, want, ccols)
            elif keys:
                shaped = df.repartition(want, *keys)
            else:
                shaped = df.repartition(want)
            names, fb = self._stage_flat(name, shaped, key_shuffle=False)
            self._commit_manifest(
                name, files=names, base_version=newest["version"], file_bytes=fb
            )
            out[name] = (len(files), len(names))
        return out
