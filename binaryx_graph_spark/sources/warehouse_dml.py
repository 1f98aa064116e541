"""DML lanes: DELETE/UPDATE (CoW and merge-on-read DV), MERGE INTO, batch merges.

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


class _DmlMixin:
    def delete_where(
        self,
        table: str,
        predicates,
        *,
        txn: tuple[str, int] | None = None,
    ) -> dict:
        """Row-level DELETE of every row matching ALL ``predicates``
        (same conjunct grammar as :meth:`scan`) — Delta's DELETE on
        this manifest.  FILE-GRANULAR: the skipping stack
        (:meth:`_prune_rels` — bucket hash, zone maps, blooms) picks
        the files that MAY contain matches; only those are read and
        rewritten without their matching rows, every other file is
        carried untouched, and ONE manifest commit publishes the
        result — so deleting a clustered range, a point key, or a
        bloom-indexed value from a 100 TB table rewrites O(matching
        files), not the table.  The pre-delete version stays
        time-travelable; :meth:`read_changes` reports exactly the
        deleted rows.

        NULL semantics are SQL's: a row whose predicate evaluates to
        NULL does not match and is KEPT (delete uses
        ``coalesce(pred, false)``, the complement re-applies exactly).

        On a bucketed table the commit declares the affected buckets as
        ``touched``, so it rebases over concurrent disjoint commits
        like any incremental merge.  ``txn`` gives the same
        exactly-once replay contract as :meth:`merge_batch`.

        Returns ``{'files_total', 'files_rewritten', 'rows_deleted'}``
        (rows_deleted counted before the rewrite; a candidate file with
        zero actual matches is still rewritten — the row content is
        identical, only layout changes)."""
        preds = list(predicates)
        if not preds:
            raise ValueError(
                "delete_where with no predicates would delete the whole "
                "table — use clear() for that, explicitly"
            )
        if txn is not None:
            seen = self.last_txn_version(table, txn[0])
            if seen is not None and seen >= txn[1]:
                return {"files_total": 0, "files_rewritten": 0, "rows_deleted": 0}
        mvs = self._manifest_versions(table)
        if not mvs:  # adopt the live directory so delete is a commit
            if any((self.root / table).glob("_kb=*")):
                dirb = self._dir_buckets(table)
                self._validate_bucket_modulus(table, dirb, self.N_KEY_BUCKETS)
                self._commit_manifest(table, dirb, self.N_KEY_BUCKETS)
            else:
                self._adopt_flat(table)
            mvs = self._manifest_versions(table)
        m = self._manifest(table, mvs[-1])
        preds = self._preds_physical(preds, m)  # column mapping: renames
        cand, total = self._prune_rels(table, m, preds)
        if not cand:
            return {"files_total": total, "files_rewritten": 0, "rows_deleted": 0}
        bucketed = "buckets" in m
        # DV-aware candidate read: rows already tombstoned by a prior
        # merge-on-read delete must neither match nor resurrect in the
        # rewrite (the rewritten file drops its DV list — purge)
        df = self._read_files_dv(table, m, [(rel, str(p)) for rel, p in cand])
        match_expr = self._predicate_expr(preds)
        n_deleted = df.filter(match_expr).count()
        if n_deleted == 0:
            # candidates were only MAYBE-matching (zone/bloom bounds);
            # zero actual matches → no rewrite, no version — replaying
            # an already-applied purge is metadata-free
            return {"files_total": total, "files_rewritten": 0, "rows_deleted": 0}
        kept = df.filter(~F.coalesce(match_expr, F.lit(False)))
        cand_rels = {rel for rel, _p in cand}
        try:
            if bucketed:
                staged, fb = self._stage_bucketed(table, kept)
                new_buckets = {}
                touched: set[str] = set()
                for b, fns in m["buckets"].items():
                    survivors = [
                        fn for fn in fns if f"{b}/{fn}" not in cand_rels
                    ]
                    fresh = staged.get(b, [])
                    if len(survivors) != len(fns) or fresh:
                        touched.add(b)
                    new_buckets[b] = survivors + fresh
                self._commit_manifest(
                    table,
                    new_buckets,
                    m["n_buckets"],
                    base_version=m["version"],
                    touched=touched,
                    file_bytes=fb,
                    txn=txn,
                )
            else:
                staged_names, fb = self._stage_flat(table, kept, key_shuffle=False)
                survivors = [fn for fn in m["files"] if fn not in cand_rels]
                self._commit_manifest(
                    table,
                    files=survivors + staged_names,
                    base_version=m["version"],
                    file_bytes=fb,
                    txn=txn,
                )
        except IdempotentReplay:
            return {"files_total": total, "files_rewritten": 0, "rows_deleted": 0}
        return {
            "files_total": total,
            "files_rewritten": len(cand),
            "rows_deleted": int(n_deleted),
        }

    def delete_where_dv(
        self,
        table: str,
        predicates,
        *,
        txn: tuple[str, int] | None = None,
    ) -> dict:
        """MERGE-ON-READ row-level DELETE: instead of rewriting every
        candidate file without its matching rows (:meth:`delete_where`
        — O(file) write-amp per trickle delete), record the matching
        rows' POSITIONS in a deletion-vector sidecar and publish a
        manifest that references it — the commit writes O(deleted
        rows), not O(touched files).  This is Delta/Iceberg's DV
        design: a parquet file's physical row order is immutable, so
        ``(file, row_index)`` is a durable row identity.

        Mechanics: the skipping stack picks candidate files; they are
        read WITH ``_metadata.row_index``, already-tombstoned positions
        are excluded (stacked deletes never double-count), the fresh
        tombstones are written as ONE parquet sidecar under
        ``_dvs/<table>/``, and the manifest commit appends the sidecar
        to each affected file's DV list — data files untouched, zone
        maps/blooms untouched (they over-approximate, which only keeps
        pruning safe).  Readers (:meth:`read`, :meth:`scan`, time
        travel, :meth:`read_changes`, the CDF stream, incremental
        merges) apply DVs via an anti-join on the tombstone positions;
        :meth:`optimize` is the purge point — a compacted bucket
        rewrites its survivors and drops the DV references.

        On a bucketed table the commit declares the affected buckets
        ``touched`` (rebases over disjoint concurrent commits); flat
        tables commit whole-table like every flat commit.  ``txn``
        gives the exactly-once replay contract.

        Returns ``{'files_total', 'files_rewritten': 0, 'rows_deleted',
        'dv_bytes'}`` — ``dv_bytes`` is the size of the sidecar this
        commit wrote (the measured write-amp, asserted by the gate
        certifier against the rewrite path's file sizes)."""
        preds = list(predicates)
        if not preds:
            raise ValueError(
                "delete_where_dv with no predicates would delete the whole "
                "table — use clear() for that, explicitly"
            )
        if txn is not None:
            seen = self.last_txn_version(table, txn[0])
            if seen is not None and seen >= txn[1]:
                return {
                    "files_total": 0, "files_rewritten": 0,
                    "rows_deleted": 0, "dv_bytes": 0,
                }
        mvs = self._manifest_versions(table)
        if not mvs:  # adopt the live directory so delete is a commit
            if any((self.root / table).glob("_kb=*")):
                dirb = self._dir_buckets(table)
                self._validate_bucket_modulus(table, dirb, self.N_KEY_BUCKETS)
                self._commit_manifest(table, dirb, self.N_KEY_BUCKETS)
            else:
                self._adopt_flat(table)
            mvs = self._manifest_versions(table)
        m = self._manifest(table, mvs[-1])
        preds = self._preds_physical(preds, m)  # column mapping: renames
        cand, total = self._prune_rels(table, m, preds)
        if not cand:
            return {
                "files_total": total, "files_rewritten": 0,
                "rows_deleted": 0, "dv_bytes": 0,
            }
        base = self.root / table
        bucketed = "buckets" in m
        schema = self._schema_of(m)
        rdr = self.spark.read if schema is None else self.spark.read.schema(schema)
        files = [str(p) for _rel, p in cand]
        if bucketed:
            raw = rdr.option("basePath", str(base)).parquet(*files)
            pat = r"_kb=(\d+)/([^/]+)$"
            fp = F.col("_metadata.file_path")
            rel_expr = F.concat(
                F.regexp_extract(fp, pat, 1),
                F.lit("/"),
                F.regexp_extract(fp, pat, 2),
            )
        else:
            raw = rdr.parquet(*files)
            rel_expr = F.element_at(
                F.split(F.col("_metadata.file_path"), "/"), -1
            )
        match_expr = F.coalesce(self._predicate_expr(preds), F.lit(False))
        matches = raw.filter(match_expr).select(
            rel_expr.alias("rel"),
            F.col("_metadata.row_index").alias("pos"),
        )
        dvs = m.get("dvs", {})
        cand_dv_names = sorted(
            {n for rel, _p in cand for n in dvs.get(rel, [])}
        )
        if cand_dv_names:  # stacked deletes: skip already-dead positions
            prior = self.spark.read.schema("rel string, pos long").parquet(
                *[str(self._dv_dir(table) / n) for n in cand_dv_names]
            )
            matches = matches.join(prior, ["rel", "pos"], "left_anti")
        # one shuffle-free sidecar: positions are tiny relative to data
        matches = matches.coalesce(1).localCheckpoint(eager=True)
        n_deleted = matches.count()
        if n_deleted == 0:
            return {
                "files_total": total, "files_rewritten": 0,
                "rows_deleted": 0, "dv_bytes": 0,
            }
        dvdir = self._dv_dir(table)
        dvdir.mkdir(parents=True, exist_ok=True)
        # _dvs_staging_* matches vacuum's `_*_staging_*` orphan sweep, so
        # a writer crashing between the parquet write and the rename
        # leaves a stage dir that ages out like any other staging orphan
        stage = self.root / f"_dvs_staging_{uuid.uuid4().hex[:12]}"
        matches.write.mode("overwrite").parquet(str(stage))
        part = next(stage.glob("part-*.parquet"))
        dv_name = f"dv-{uuid.uuid4().hex[:16]}.parquet"
        part.rename(dvdir / dv_name)
        shutil.rmtree(stage, ignore_errors=True)
        dv_bytes = (dvdir / dv_name).stat().st_size
        affected = sorted(
            r["rel"] for r in matches.select("rel").distinct().collect()
        )  # bounded by the candidate file count
        file_dvs = {rel: dvs.get(rel, []) + [dv_name] for rel in affected}
        try:
            if bucketed:
                touched = {rel.split("/", 1)[0] for rel in affected}
                self._commit_manifest(
                    table,
                    m["buckets"],
                    m["n_buckets"],
                    base_version=m["version"],
                    touched=touched,
                    file_dvs=file_dvs,
                    txn=txn,
                )
            else:
                self._commit_manifest(
                    table,
                    files=m["files"],
                    base_version=m["version"],
                    file_dvs=file_dvs,
                    txn=txn,
                )
        except IdempotentReplay:
            (dvdir / dv_name).unlink(missing_ok=True)  # orphaned sidecar
            return {
                "files_total": total, "files_rewritten": 0,
                "rows_deleted": 0, "dv_bytes": 0,
            }
        return {
            "files_total": total,
            "files_rewritten": 0,
            "rows_deleted": int(n_deleted),
            "dv_bytes": int(dv_bytes),
        }

    def update_where(
        self,
        table: str,
        predicates,
        set_values: dict,
        *,
        txn: tuple[str, int] | None = None,
    ) -> dict:
        """Row-level UPDATE: for every row matching ALL ``predicates``,
        assign ``set_values`` ({column: literal or Column expression}) —
        Delta's UPDATE on this manifest, the same FILE-GRANULAR shape as
        :meth:`delete_where`: the skipping stack picks candidate files,
        only those rewrite (matching rows transformed, non-matching
        carried verbatim inside the same file), one manifest commit
        publishes.  NULL predicates don't match (SQL semantics).

        Merge keys cannot be updated (that is a delete+insert — the
        key's bucket would change); unknown and type-changing
        assignments raise.  Returns ``{'files_total',
        'files_rewritten', 'rows_updated'}``."""
        preds = list(predicates)
        if not preds:
            raise ValueError(
                "update_where with no predicates would rewrite the whole "
                "table — filter explicitly"
            )
        if not set_values:
            raise ValueError("update_where needs at least one assignment")
        keys = MERGE_KEYS.get(table, [])
        bad = sorted(set(set_values) & set(keys))
        if bad:
            raise ValueError(
                f"table '{table}': cannot UPDATE merge-key columns {bad} — "
                f"a key change moves the row's bucket; delete + re-merge it"
            )
        if txn is not None:
            seen = self.last_txn_version(table, txn[0])
            if seen is not None and seen >= txn[1]:
                return {"files_total": 0, "files_rewritten": 0, "rows_updated": 0}
        mvs = self._manifest_versions(table)
        if not mvs:
            if any((self.root / table).glob("_kb=*")):
                dirb = self._dir_buckets(table)
                self._validate_bucket_modulus(table, dirb, self.N_KEY_BUCKETS)
                self._commit_manifest(table, dirb, self.N_KEY_BUCKETS)
            else:
                self._adopt_flat(table)
            mvs = self._manifest_versions(table)
        m = self._manifest(table, mvs[-1])
        lpreds = preds  # logical, for the row-level match below
        preds = self._preds_physical(preds, m)  # column mapping: renames
        cand, total = self._prune_rels(table, m, preds)
        if not cand:
            return {"files_total": total, "files_rewritten": 0, "rows_updated": 0}
        bucketed = "buckets" in m
        # DV-aware candidate read (see delete_where): tombstoned rows
        # neither match nor survive into the rewritten files.  The
        # update logic runs in LOGICAL space (user assignments and
        # predicates name logical columns); staging converts back.
        df = self._to_logical(
            self._read_files_dv(table, m, [(rel, str(p)) for rel, p in cand]), m
        )
        unknown = sorted(set(set_values) - set(df.columns))
        if unknown:
            raise ValueError(
                f"table '{table}': UPDATE assigns unknown columns {unknown} — "
                f"add them with a merge under allow_new_columns first"
            )
        match_expr = F.coalesce(self._predicate_expr(lpreds), F.lit(False))
        n_updated = df.filter(match_expr).count()
        if n_updated == 0:  # maybe-matching candidates, zero real matches
            return {"files_total": total, "files_rewritten": 0, "rows_updated": 0}
        # SQL UPDATE semantics: the predicate AND every assignment's RHS
        # evaluate against the OLD row — one select, not a withColumn
        # chain (a chained `size` assignment would flip the match for a
        # later `type` assignment; caught by the gate certifier)
        types = {f.name: f.dataType for f in df.schema.fields}
        rhs_cols = {
            col: (val if hasattr(val, "cast") else F.lit(val))
            for col, val in set_values.items()
        }
        # Type-changing assignments RAISE (mirroring _resolve_evolution)
        # rather than silently casting: with ANSI off, a failed cast
        # (set size='abc' on a long column) would write NULLs into every
        # matched row.  Lossless numeric widening (int→long, int→double)
        # and an explicit NULL are the only cross-type forms allowed
        # (_assignable_type); the residual cast below only normalizes
        # those.
        resolved = {
            f.name: f.dataType
            for f in df.select(
                *[c.alias(name) for name, c in rhs_cols.items()]
            ).schema.fields
        }

        bad = sorted(
            n for n in set_values if not _assignable_type(resolved[n], types[n])
        )
        if bad:
            raise ValueError(
                f"table '{table}': UPDATE changes column types for {bad} "
                f"(stored {[types[n].simpleString() for n in bad]}, "
                f"assigned {[resolved[n].simpleString() for n in bad]}) — "
                f"type changes require an explicit rewrite, not an UPDATE"
            )
        assigns = {}
        for col, new_col in rhs_cols.items():
            assigns[col] = F.when(match_expr, new_col.cast(types[col])).otherwise(
                F.col(col)
            )
        out_df = self._to_physical_df(
            df.select(*[assigns.get(c, F.col(c)).alias(c) for c in df.columns]),
            m,
        )
        cand_rels = {rel for rel, _p in cand}
        try:
            if bucketed:
                staged, fb = self._stage_bucketed(table, out_df)
                new_buckets = {}
                touched: set[str] = set()
                for b, fns in m["buckets"].items():
                    survivors = [fn for fn in fns if f"{b}/{fn}" not in cand_rels]
                    fresh = staged.get(b, [])
                    if len(survivors) != len(fns) or fresh:
                        touched.add(b)
                    new_buckets[b] = survivors + fresh
                self._commit_manifest(
                    table,
                    new_buckets,
                    m["n_buckets"],
                    base_version=m["version"],
                    touched=touched,
                    file_bytes=fb,
                    txn=txn,
                )
            else:
                staged_names, fb = self._stage_flat(
                    table, out_df, key_shuffle=False
                )
                survivors = [fn for fn in m["files"] if fn not in cand_rels]
                self._commit_manifest(
                    table,
                    files=survivors + staged_names,
                    base_version=m["version"],
                    file_bytes=fb,
                    txn=txn,
                )
        except IdempotentReplay:
            return {"files_total": total, "files_rewritten": 0, "rows_updated": 0}
        return {
            "files_total": total,
            "files_rewritten": len(cand),
            "rows_updated": int(n_updated),
        }

    def _read_files_pos(
        self, table: str, m: dict, pairs: list[tuple[str, str]]
    ) -> DataFrame:
        """Candidate files read WITH durable row identity — physical
        columns plus ``__rel`` (manifest-relative file name) and
        ``__pos`` (``_metadata.row_index``) — and the manifest's prior
        deletion vectors ALREADY APPLIED (a tombstoned position neither
        matches a predicate nor gets re-tombstoned).  The positional
        substrate every merge-on-read writer (DV delete, DV update,
        MOR MERGE) builds on: parquet's physical row order is
        immutable, so (file, row_index) identifies a row forever."""
        base = self.root / table
        bucketed = "buckets" in m
        schema = self._schema_of(m)
        rdr = self.spark.read if schema is None else self.spark.read.schema(schema)
        files = [p for _rel, p in pairs]
        fp = F.col("_metadata.file_path")
        if bucketed:
            raw = rdr.option("basePath", str(base)).parquet(*files)
            pat = r"_kb=(\d+)/([^/]+)$"
            rel_expr = F.concat(
                F.regexp_extract(fp, pat, 1),
                F.lit("/"),
                F.regexp_extract(fp, pat, 2),
            )
        else:
            raw = rdr.parquet(*files)
            rel_expr = F.element_at(F.split(fp, "/"), -1)
        df = raw.select(
            "*",
            rel_expr.alias("__rel"),
            F.col("_metadata.row_index").alias("__pos"),
        )
        dvs = m.get("dvs", {})
        names = sorted({n for rel, _p in pairs for n in dvs.get(rel, [])})
        if names:
            prior = (
                self.spark.read.schema("rel string, pos long")
                .parquet(*[str(self._dv_dir(table) / n) for n in names])
                .select(F.col("rel").alias("__rel"), F.col("pos").alias("__pos"))
            )
            df = df.join(prior, ["__rel", "__pos"], "left_anti")
        return df

    def _write_dv_sidecar(self, table: str, tombstones: DataFrame) -> tuple[str, int]:
        """Write (rel, pos) tombstones as ONE sidecar parquet under
        ``_dvs/<table>/`` and return (name, bytes).  The input must be
        small (positions of the rows ONE commit kills); staged under
        ``_dvs_staging_*`` so a crash before the rename leaves an
        orphan vacuum's ``_*_staging_*`` sweep ages out."""
        dvdir = self._dv_dir(table)
        dvdir.mkdir(parents=True, exist_ok=True)
        stage = self.root / f"_dvs_staging_{uuid.uuid4().hex[:12]}"
        tombstones.select(
            F.col("__rel").alias("rel"), F.col("__pos").alias("pos")
        ).coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = next(stage.glob("part-*.parquet"))
        dv_name = f"dv-{uuid.uuid4().hex[:16]}.parquet"
        part.rename(dvdir / dv_name)
        shutil.rmtree(stage, ignore_errors=True)
        return dv_name, (dvdir / dv_name).stat().st_size

    def update_where_dv(
        self,
        table: str,
        predicates,
        set_values: dict,
        *,
        txn: tuple[str, int] | None = None,
    ) -> dict:
        """MERGE-ON-READ row-level UPDATE (Delta's DV + append design):
        instead of rewriting every candidate file with its matching
        rows transformed (:meth:`update_where` — O(file) write-amp for
        a point update), DV-TOMBSTONE the matching rows' old positions
        and APPEND one new file holding their updated images, in ONE
        manifest commit — the commit writes O(updated rows), not
        O(touched files).  Observationally identical to the
        copy-on-write path: read/scan/time travel/CDC/merge all agree
        (the gate certifier asserts it).

        Validation contract is exactly :meth:`update_where`'s: no
        empty predicate list, no merge-key assignment, unknown columns
        raise, type-changing assignments raise
        (:func:`_assignable_type`), predicates and assignment RHS
        evaluate against the OLD row, NULL predicates don't match.

        Returns ``{'files_total', 'files_rewritten': 0, 'rows_updated',
        'dv_bytes', 'appended_bytes'}`` — the two byte counts are the
        measured write volume (asserted O(changed rows) by the tests).
        """
        preds = list(predicates)
        if not preds:
            raise ValueError(
                "update_where_dv with no predicates would rewrite the whole "
                "table — filter explicitly"
            )
        if not set_values:
            raise ValueError("update_where_dv needs at least one assignment")
        keys = MERGE_KEYS.get(table, [])
        bad = sorted(set(set_values) & set(keys))
        if bad:
            raise ValueError(
                f"table '{table}': cannot UPDATE merge-key columns {bad} — "
                f"a key change moves the row's bucket; delete + re-merge it"
            )
        zero = {
            "files_total": 0, "files_rewritten": 0, "rows_updated": 0,
            "dv_bytes": 0, "appended_bytes": 0,
        }
        if txn is not None:
            seen = self.last_txn_version(table, txn[0])
            if seen is not None and seen >= txn[1]:
                return zero
        mvs = self._manifest_versions(table)
        if not mvs:
            if any((self.root / table).glob("_kb=*")):
                dirb = self._dir_buckets(table)
                self._validate_bucket_modulus(table, dirb, self.N_KEY_BUCKETS)
                self._commit_manifest(table, dirb, self.N_KEY_BUCKETS)
            else:
                self._adopt_flat(table)
            mvs = self._manifest_versions(table)
        m = self._manifest(table, mvs[-1])
        lpreds = preds  # logical, for the row-level match below
        preds = self._preds_physical(preds, m)  # column mapping: renames
        cand, total = self._prune_rels(table, m, preds)
        if not cand:
            return {**zero, "files_total": total}
        bucketed = "buckets" in m
        df = self._to_logical(
            self._read_files_pos(table, m, [(rel, str(p)) for rel, p in cand]),
            m,
        )
        data_cols = [c for c in df.columns if c not in ("__rel", "__pos")]
        unknown = sorted(set(set_values) - set(data_cols))
        if unknown:
            raise ValueError(
                f"table '{table}': UPDATE assigns unknown columns {unknown} — "
                f"add them with a merge under allow_new_columns first"
            )
        match_expr = F.coalesce(self._predicate_expr(lpreds), F.lit(False))
        # ONE pass over the candidates: the matched rows (with their
        # positions) are both the tombstone set and the update input
        matched = df.filter(match_expr).localCheckpoint(eager=True)
        n_updated = matched.count()
        if n_updated == 0:
            return {**zero, "files_total": total}
        types = {f.name: f.dataType for f in df.schema.fields}
        rhs_cols = {
            col: (val if hasattr(val, "cast") else F.lit(val))
            for col, val in set_values.items()
        }
        resolved = {
            f.name: f.dataType
            for f in df.select(
                *[c.alias(name) for name, c in rhs_cols.items()]
            ).schema.fields
        }
        bad = sorted(
            n for n in set_values if not _assignable_type(resolved[n], types[n])
        )
        if bad:
            raise ValueError(
                f"table '{table}': UPDATE changes column types for {bad} "
                f"(stored {[types[n].simpleString() for n in bad]}, "
                f"assigned {[resolved[n].simpleString() for n in bad]}) — "
                f"type changes require an explicit rewrite, not an UPDATE"
            )
        images = self._to_physical_df(
            matched.select(
                *[
                    (rhs_cols[c].cast(types[c]) if c in rhs_cols else F.col(c)).alias(c)
                    for c in data_cols
                ]
            ),
            m,
        )
        dv_name, dv_bytes = self._write_dv_sidecar(
            table, matched.select("__rel", "__pos")
        )
        affected = sorted(
            r["__rel"] for r in matched.select("__rel").distinct().collect()
        )  # bounded by the candidate file count
        dvs = m.get("dvs", {})
        file_dvs = {rel: dvs.get(rel, []) + [dv_name] for rel in affected}
        try:
            if bucketed:
                out_df = images.withColumn(
                    "_kb", self._key_bucket(table, m["n_buckets"])
                )
                staged, fb = self._stage_bucketed(table, out_df)
                new_buckets = dict(m["buckets"])
                touched = {rel.split("/", 1)[0] for rel in affected}
                for b, fresh in staged.items():
                    new_buckets[str(b)] = list(new_buckets.get(str(b), [])) + fresh
                    touched.add(str(b))
                self._commit_manifest(
                    table,
                    new_buckets,
                    m["n_buckets"],
                    base_version=m["version"],
                    touched=touched,
                    file_bytes=fb,
                    file_dvs=file_dvs,
                    txn=txn,
                )
            else:
                names, fb = self._stage_flat(
                    table, images.coalesce(1), key_shuffle=False
                )
                self._commit_manifest(
                    table,
                    files=list(m["files"]) + names,
                    base_version=m["version"],
                    file_bytes=fb,
                    file_dvs=file_dvs,
                    txn=txn,
                )
        except IdempotentReplay:
            (self._dv_dir(table) / dv_name).unlink(missing_ok=True)
            return {**zero, "files_total": total}
        return {
            "files_total": total,
            "files_rewritten": 0,
            "rows_updated": int(n_updated),
            "dv_bytes": dv_bytes,
            "appended_bytes": sum(
                (fb or {}).values()
            ),
        }

    @staticmethod
    def _predicate_expr(predicates):
        """The scan conjunction as ONE Column expression (three-valued:
        NULL where SQL says so — delete_where needs the exact
        complement, which _apply_predicates' filter chain can't give)."""
        expr = None
        for col, op, val in predicates:
            c = F.col(col)
            if op == "=":
                e = c == val
            elif op == "<":
                e = c < val
            elif op == "<=":
                e = c <= val
            elif op == ">":
                e = c > val
            elif op == ">=":
                e = c >= val
            elif op == "between":
                e = (c >= val[0]) & (c <= val[1])
            elif op == "in":
                # one parsed IN expression, not len(val) py4j literal
                # round-trips (r13; see warehouse_base.in_list_expr)
                e = in_list_expr(col, val)
            else:
                raise ValueError(f"unknown scan predicate op {op!r}")
            expr = e if expr is None else (expr & e)
        return expr

    # --------------------------------------------------------- file staging
    def _stage_flat(
        self, table: str, df: DataFrame, *, key_shuffle: bool = True
    ) -> tuple[list[str], dict[str, int]]:
        """Write ``df`` as new immutable files at the table root (via a
        staging dir — parquet can't overwrite in place while reading);
        returns (new file names, name→bytes) for the manifest. Nothing
        live is touched: the commit point is the manifest publish.
        ``key_shuffle`` hash-distributes on the merge key so later
        joins/merges co-locate; callers that pre-shaped the partitioning
        (compaction's target file count) pass False.

        The staging dir is unique per WRITER (uuid suffix): concurrent
        commits to one table must not clobber each other's staged files
        — the commit loop serializes only the manifest publish."""
        keys = MERGE_KEYS.get(table)
        staging = self.root / f"_{table}_staging_{uuid.uuid4().hex[:12]}"
        part = df.repartition(*keys) if (key_shuffle and keys) else df
        part.write.mode("overwrite").parquet(str(staging))
        path = self.root / table
        path.mkdir(parents=True, exist_ok=True)
        names: list[str] = []
        sizes: dict[str, int] = {}
        for f in sorted(staging.glob("part-*")):
            sizes[f.name] = f.stat().st_size
            f.rename(path / f.name)  # unique (job-UUID) names: no clash
            names.append(f.name)
        shutil.rmtree(staging, ignore_errors=True)
        return names, sizes

    def _stage_bucketed(
        self, table: str, df: DataFrame
    ) -> tuple[dict[str, list[str]], dict[str, int]]:
        """Write a ``_kb``-partitioned ``df`` as new immutable files
        under the table's bucket dirs; returns (the fresh bucket→file
        map — ONLY the staged buckets, callers overlay or replace —
        and the "b/fn"→bytes size map).

        Repartition BY BUCKET, not by key: partitionBy alone would emit
        one file per (shuffle task × bucket) — 32×512 tiny files on a
        full write. One task per bucket → one file per bucket; key
        co-location holds at bucket granularity (the bucket is a
        function of the key).

        The staging dir is unique per WRITER (uuid suffix): concurrent
        commits to one table must not clobber each other's staged files
        — the commit loop serializes only the manifest publish."""
        staging = self.root / f"_{table}_inc_staging_{uuid.uuid4().hex[:12]}"
        df.repartition(F.col("_kb")).write.partitionBy("_kb").mode(
            "overwrite"
        ).parquet(str(staging))
        path = self.root / table
        new_buckets: dict[str, list[str]] = {}
        sizes: dict[str, int] = {}
        for src in sorted(staging.glob("_kb=*")):
            b = src.name.split("=", 1)[1]
            dst = path / src.name
            dst.mkdir(parents=True, exist_ok=True)
            names: list[str] = []
            for f in sorted(src.glob("part-*")):
                sizes[f"{b}/{f.name}"] = f.stat().st_size
                f.rename(dst / f.name)
                names.append(f.name)
            new_buckets[b] = names
        shutil.rmtree(staging, ignore_errors=True)
        return new_buckets, sizes

    # ---------------------------------------------------- schema evolution
    @staticmethod
    def _align_columns(df: DataFrame, fields) -> DataFrame:
        """Add any of ``fields`` missing from ``df`` as typed nulls and
        project to their order (extra internal columns like ``_kb``/
        ``_seq`` are preserved at the end)."""
        names = [f.name for f in fields]
        extras = [c for c in df.columns if c not in names]
        for f in fields:
            if f.name not in df.columns:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
        return df.select(*names, *extras)

    def _resolve_evolution(
        self, table: str, manifest: dict | None, batch_schema, allow_new_columns: bool
    ):
        """Validate a batch's schema against the table's stored one and
        return ``(evolved StructType | None, schema_json_for_commit)``.

        The contract is Delta's: ADDING nullable columns is evolution
        (opt-in via ``allow_new_columns``); a batch MISSING stored
        columns, or changing a column's type, raises — implicit nulls
        and silent casts corrupt last-write-wins rows, so both need an
        explicit migration, not a merge flag."""
        stored = self._schema_of(manifest) if manifest else None
        if stored is None and table in ALL_TABLES:
            stored = ALL_TABLES[table][0]
        if stored is None:
            return None, "__carry__"
        sf = {f.name: f for f in stored.fields}
        bf = {f.name: f for f in batch_schema.fields}
        missing = sorted(set(sf) - set(bf))
        if missing:
            raise ValueError(
                f"table '{table}': batch is missing stored columns {missing} — "
                f"a MERGE row replaces its key's whole row, so absent columns "
                f"would silently null stored values; supply every column"
            )
        changed = sorted(
            n for n in bf if n in sf and bf[n].dataType != sf[n].dataType
        )
        if changed:
            raise ValueError(
                f"table '{table}': batch changes column types for {changed} "
                f"(stored {[sf[n].dataType.simpleString() for n in changed]}, "
                f"batch {[bf[n].dataType.simpleString() for n in changed]}) — "
                f"type changes require an explicit rewrite, not a merge"
            )
        extras = [f for f in batch_schema.fields if f.name not in sf]
        if not extras:
            return stored, "__carry__"
        if not allow_new_columns:
            raise ValueError(
                f"table '{table}': batch adds new columns "
                f"{[f.name for f in extras]} — pass allow_new_columns=True to "
                f"evolve the schema (stored rows read the new columns as null)"
            )
        from pyspark.sql.types import StructType

        evolved = StructType(list(stored.fields) + list(extras))
        return evolved, evolved.json()

    # ------------------------------------------------------ E9/E10 upsert
    def merge_batch(
        self,
        tables: dict[str, DataFrame],
        batch_seq: int = 1,
        *,
        txn: tuple[str, int] | None = None,
        allow_new_columns: bool = False,
    ) -> None:
        """MERGE-upsert a batch into the warehouse: stored rows are seq 0,
        batch rows seq ``batch_seq``; last-write-wins per MERGE key.

        ``txn=(app, version)`` makes the merge EXACTLY-ONCE per writer:
        a table whose manifest already records ``app`` at >= ``version``
        is skipped entirely (see :meth:`_commit_manifest`) — the replay
        contract for streaming foreachBatch sinks and scheduler retries.

        ``allow_new_columns=True`` permits SCHEMA EVOLUTION: batch
        columns the table lacks are added (stored rows read them as
        nulls; the manifest pins the evolved schema, old files are
        never rewritten).  Missing columns and type changes raise
        either way — see :meth:`_resolve_evolution`.

        At scale the window dedup shuffles on the merge key once — the
        same shuffle MERGE INTO would need; no driver-side loop — but
        the COMMIT is a whole-table rewrite: O(table) per batch. Use
        :meth:`merge_batch_incremental` for repeated merges at scale.

        Flat tables only: a table converted to the bucketed layout
        rejects the whole-table-rewrite path loudly instead of mangling
        the partitioned layout."""
        for name, df in tables.items():
            if name not in MERGE_KEYS:
                continue
            if txn is not None:
                seen = self.last_txn_version(name, txn[0])
                if seen is not None and seen >= txn[1]:
                    continue  # replay: committed before, skip the work too
            keys = MERGE_KEYS[name]
            path = Path(self._path(name))
            mvs = self._manifest_versions(name)
            newest = self._manifest(name, mvs[-1]) if mvs else None
            if (newest is not None and "buckets" in newest) or any(
                path.glob("_kb=*")
            ):
                raise ValueError(
                    f"table '{name}' is bucket-partitioned (incremental layout); "
                    f"use merge_batch_incremental for it"
                )
            if newest is None and path.exists():
                v = self._adopt_flat(name)
                newest = self._manifest(name, v)
            # column mapping: user batches arrive with LOGICAL names;
            # storage (schema pin, bucket hash, staging) speaks physical
            df = self._to_physical_df(df, newest)
            evolved, sj = self._resolve_evolution(
                name, newest, df.schema, allow_new_columns
            )
            if evolved is not None:
                df = self._align_columns(df, evolved.fields)
            if newest is not None and (newest["files"] or newest.get("dvs")):
                stored = self._read_manifest(name, newest)
                if evolved is not None:
                    stored = self._align_columns(stored, evolved.fields)
                stored = stored.withColumn("_seq", F.lit(0))
                merged = stored.unionByName(df.withColumn("_seq", F.lit(batch_seq)))
                w = Window.partitionBy(*keys).orderBy(F.desc("_seq"))
                merged = (
                    merged.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1)
                    .drop("_rn", "_seq")
                )
            else:
                # nothing stored to merge against: a brand-new table, or
                # one whose newest version lists no files (initialize's v0)
                merged = df.dropDuplicates(keys)
            # a brand-new table has base -1: any concurrent creator conflicts
            base = newest["version"] if newest is not None else -1
            names, fb = self._stage_flat(name, merged)
            try:
                self._commit_manifest(
                    name,
                    files=names,
                    base_version=base,
                    file_bytes=fb,
                    txn=txn,
                    schema_json=sj,
                )
            except IdempotentReplay:
                # lost-ack race: a twin writer committed this (app,
                # version) between our pre-check and publish; the staged
                # files are orphans for vacuum
                continue

    # -------------------------------------------- incremental MERGE
    #: key-bucket count for incrementally merged tables; at 100 TB this
    #: is a per-table knob sized so one bucket ≈ a few target files.
    #: The count is PINNED in the table's manifest at conversion time —
    #: a later commit with a different count raises (a silent modulus
    #: change would scatter each key across two buckets and break LWW);
    #: :meth:`rebucket` is the sanctioned re-layout.
    N_KEY_BUCKETS = 64

    def merge_batch_incremental(
        self,
        tables: dict[str, DataFrame],
        batch_seq: int = 1,
        *,
        n_buckets: int | None = None,
        txn: tuple[str, int] | None = None,
        allow_new_columns: bool = False,
    ) -> dict[str, int]:
        """MERGE-upsert that rewrites ONLY the key-buckets the batch
        touches — the scale fix for :meth:`merge_batch`, whose
        whole-table rewrite makes a stream of small commits O(table)
        EACH (quadratic total at 100 TB).  Layout: the table is
        hive-partitioned by ``_kb = pmod(xxhash64(keys), n_buckets)``;
        a commit computes the batch's bucket set, reads back ONLY the
        touched buckets' live files (manifest-level pruning — stricter
        than partition pruning: untouched buckets' files are never even
        LISTED), applies the same last-write-wins window as merge_batch,
        writes the merged buckets as NEW immutable files, and publishes
        a manifest whose atomic create-if-absent is the commit (module
        docstring: the object-store-safe protocol).  Untouched buckets'
        files are never opened, rewritten, or moved — old and new
        versions share them, which is also what makes every commit a
        time-travelable version for free.  Concurrent commits touching
        DISJOINT bucket sets are serialized by the commit loop's rebase;
        overlapping ones raise :class:`ConcurrentCommitError`.

        Cost per commit: O(|batch| + |touched buckets|) — with B
        buckets and a batch touching k keys, at most min(k, B)/B of the
        table is rewritten.  Returns {table: n_touched_buckets}.

        The dedup invariant is enforced per bucket, which is equivalent
        to global LWW because the bucket is a FUNCTION of the merge
        key: a key's every version lands in the same bucket.

        ``txn=(app, version)`` makes the merge EXACTLY-ONCE per writer
        (see :meth:`merge_batch`): replayed tables are skipped with
        zero writes and omitted from the returned dict.

        ``allow_new_columns=True`` permits SCHEMA EVOLUTION (see
        :meth:`merge_batch`): the manifest pins the evolved schema;
        untouched buckets' files are NOT rewritten — their rows read
        the new columns as typed nulls through the pinned schema."""
        out: dict[str, int] = {}
        for name, df in tables.items():
            if name not in MERGE_KEYS:
                continue
            if txn is not None:
                seen = self.last_txn_version(name, txn[0])
                if seen is not None and seen >= txn[1]:
                    continue  # replay: committed before, skip the work too
            keys = MERGE_KEYS[name]
            path = Path(self._path(name))
            mvs = self._manifest_versions(name)
            newest = self._manifest(name, mvs[-1]) if mvs else None
            if newest is None and path.exists() and any(path.glob("_kb=*")):
                # adopt a pre-manifest bucketed table: snapshot the current
                # directory state as its first manifest (bucket count
                # pinned from this call onward, after validating it
                # against the layout's observed bucket ids + a one-bucket
                # re-hash probe)
                nb0 = n_buckets or self.N_KEY_BUCKETS
                dirb = self._dir_buckets(name)
                self._validate_bucket_modulus(name, dirb, nb0)
                v = self._commit_manifest(name, dirb, nb0)
                newest = self._manifest(name, v)
            if newest is None and path.exists():
                # legacy flat dir: adopt it first so the pre-conversion
                # state stays a readable version
                v = self._adopt_flat(name)
                newest = self._manifest(name, v)
            prev = newest if (newest is not None and "buckets" in newest) else None
            if prev is not None:
                if n_buckets is not None and prev["n_buckets"] is not None and n_buckets != prev["n_buckets"]:
                    raise ValueError(
                        f"table '{name}' is laid out with n_buckets="
                        f"{prev['n_buckets']}; got n_buckets={n_buckets} — a "
                        f"modulus change scatters keys across buckets and "
                        f"breaks the MERGE invariant; use rebucket('{name}', "
                        f"{n_buckets}) for the one-time re-layout"
                    )
                if prev["n_buckets"] is not None:
                    nb = prev["n_buckets"]
                else:
                    # a None-count manifest (adopted by optimize):
                    # pinning happens NOW — validate first
                    nb = n_buckets or self.N_KEY_BUCKETS
                    self._validate_bucket_modulus(name, prev["buckets"], nb)
            else:
                nb = n_buckets or self.N_KEY_BUCKETS
            # column mapping: user batches arrive with LOGICAL names;
            # storage (schema pin, bucket hash, staging) speaks physical
            df = self._to_physical_df(df, newest)
            evolved, sj = self._resolve_evolution(
                name, newest, df.schema, allow_new_columns
            )
            if evolved is not None:
                df = self._align_columns(df, evolved.fields)
            batch = df.withColumn("_kb", self._key_bucket(name, nb))
            if prev is None:
                # conversion from a flat table (or first commit of a new
                # one): full bucketed write — the one unavoidable
                # O(table) pass. The flat state's files stay in place,
                # readable through their own manifests until vacuumed.
                base_df = batch
                if newest is not None and (newest["files"] or newest.get("dvs")):
                    stored = self._read_manifest(name, newest)
                    if evolved is not None:
                        stored = self._align_columns(stored, evolved.fields)
                    stored = stored.withColumn(
                        "_kb", self._key_bucket(name, nb)
                    ).withColumn("_seq", F.lit(0))
                    base_df = stored.unionByName(
                        batch.withColumn("_seq", F.lit(batch_seq))
                    )
                    w = Window.partitionBy(*keys).orderBy(F.desc("_seq"))
                    base_df = (
                        base_df.withColumn("_rn", F.row_number().over(w))
                        .filter(F.col("_rn") == 1)
                        .drop("_rn", "_seq")
                    )
                else:
                    base_df = base_df.dropDuplicates(keys)
                new_buckets, fb = self._stage_bucketed(name, base_df)
                try:
                    self._commit_manifest(
                        name,
                        new_buckets,
                        nb,
                        base_version=newest["version"]
                        if newest is not None
                        else (self.versions(name) or [-1])[-1],
                        file_bytes=fb,
                        txn=txn,
                        schema_json=sj,
                    )
                except IdempotentReplay:
                    continue  # lost-ack race; staged files → vacuum
                out[name] = nb
                continue
            # materialize the batch once: it is scanned twice below (the
            # touched-bucket set, then the merge union), and incremental
            # commits assume batch ≪ table — recomputing an expensive
            # upstream pipeline per scan would waste more than the
            # checkpoint costs
            batch = batch.localCheckpoint(eager=True)
            touched = sorted(
                r["_kb"] for r in batch.select("_kb").distinct().collect()
            )  # bounded by n_buckets
            stored_pairs = [
                (f"{b}/{fn}", str(path / f"_kb={b}" / fn))
                for b in touched
                for fn in prev["buckets"].get(str(b), [])
            ]
            if stored_pairs:
                sch = self._schema_of(prev) if evolved is None else evolved
                # manifest-level pruning + DV apply: tombstoned rows in
                # the touched buckets must lose the LWW race and not
                # resurrect in the rewrite
                stored_sub = self._read_files_dv(
                    name, prev, stored_pairs, schema=sch
                ).withColumn("_seq", F.lit(0))
                merged = stored_sub.unionByName(batch.withColumn("_seq", F.lit(batch_seq)))
                w = Window.partitionBy(*keys).orderBy(F.desc("_seq"))
                merged = (
                    merged.withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1)
                    .drop("_rn", "_seq")
                )
            else:
                merged = batch.dropDuplicates(keys)
            staged, fb = self._stage_bucketed(name, merged)
            new_buckets = dict(prev["buckets"])
            for b in touched:
                # [] = the batch emptied the bucket
                new_buckets[str(b)] = staged.get(str(b), [])
            try:
                self._commit_manifest(
                    name,
                    new_buckets,
                    nb,
                    base_version=prev["version"],
                    touched={str(b) for b in touched},
                    file_bytes=fb,
                    txn=txn,
                    schema_json=sj,
                )
            except IdempotentReplay:
                continue  # lost-ack race; staged files → vacuum
            out[name] = len(touched)
        return out

    def merge_into(
        self,
        table: str,
        source: DataFrame,
        *,
        when_matched_update: dict | str | None = None,
        when_matched_condition: Column | None = None,
        when_matched_delete: Column | bool | None = None,
        when_not_matched_insert: bool = True,
        when_not_matched_by_source_delete: Column | bool | None = None,
        when_not_matched_by_source_update: dict | None = None,
        when_not_matched_by_source_condition: Column | None = None,
        strategy: str = "mor",
        txn: tuple[str, int] | None = None,
    ) -> dict:
        """Delta's three-arm **MERGE INTO** on this manifest: join the
        target with ``source`` on the table's merge keys, then per row

        - MATCHED & ``when_matched_delete`` (a Column over the joined
          aliases, or True) → the target row is DELETED;
        - MATCHED & ``when_matched_update`` (and, if given,
          ``when_matched_condition``) → the listed columns are
          reassigned — values may be literals or Column expressions
          over the aliases ``t`` (target) and ``s`` (source), e.g.
          ``{"size": F.col("t.size") + F.col("s.size")}``; the string
          ``"all"`` takes every source column;
        - MATCHED otherwise → carried unchanged;
        - NOT MATCHED (source-only) & ``when_not_matched_insert`` →
          INSERTED (target columns the source lacks become NULL);
        - NOT MATCHED BY SOURCE (target-only; Delta's fourth arm) &
          ``when_not_matched_by_source_delete`` (Column over ``t``, or
          True) → DELETED; else &
          ``when_not_matched_by_source_update`` (+ optional
          ``when_not_matched_by_source_condition``) → reassigned —
          values are literals or Columns over ``t`` only (there is no
          source row).  The full-sync idiom: a by-source arm makes the
          merge read the WHOLE target (every row must learn its fate),
          so it costs O(table) by definition — without one, only
          source-touched buckets are read;
        - target-only rows are otherwise always carried.

        Delta's multiple-source-rows error is enforced: a source with
        duplicate merge keys raises (the update would be ambiguous).

        Scale shape: on a bucketed table only the buckets the SOURCE
        touches are read (DV-applied) — one full-outer join per
        touched-bucket subset, one manifest commit with disjoint-bucket
        rebase.  The WRITE path is chosen by ``strategy``:

        - ``"mor"`` (default, Delta's DV merge): matched update/delete
          rows have their old positions DV-TOMBSTONED into one sidecar
          and the update/insert images are APPENDED as new files —
          carry rows are never rewritten, so the commit writes
          O(changed rows), not O(touched buckets);
        - ``"cow"``: every touched bucket rewrites in full (flat
          tables rewrite whole-table) — the compacting choice when a
          merge churns most of a bucket anyway.

        Both are observationally identical (the gate certifier asserts
        it).  Column mapping: source and assignments speak LOGICAL
        names.

        Returns ``{'rows_updated', 'rows_deleted', 'rows_inserted',
        'buckets_touched'}`` (buckets_touched None on flat tables)."""
        keys = MERGE_KEYS.get(table)
        if not keys:
            raise ValueError(f"table '{table}' has no merge keys")
        if strategy not in ("mor", "cow"):
            raise ValueError(f"merge_into strategy must be 'mor' or 'cow', got {strategy!r}")
        if (
            when_matched_update is None
            and when_matched_delete is None
            and not when_not_matched_insert
            and when_not_matched_by_source_delete is None
            and when_not_matched_by_source_update is None
        ):
            raise ValueError("merge_into with no arms is a no-op — say so explicitly")
        by_source = (
            when_not_matched_by_source_delete is not None
            or when_not_matched_by_source_update is not None
        )
        if txn is not None:
            seen = self.last_txn_version(table, txn[0])
            if seen is not None and seen >= txn[1]:
                return {
                    "rows_updated": 0, "rows_deleted": 0,
                    "rows_inserted": 0, "buckets_touched": 0,
                }
        mvs = self._manifest_versions(table)
        if not mvs:
            if any((self.root / table).glob("_kb=*")):
                dirb = self._dir_buckets(table)
                self._validate_bucket_modulus(table, dirb, self.N_KEY_BUCKETS)
                self._commit_manifest(table, dirb, self.N_KEY_BUCKETS)
            else:
                self._adopt_flat(table)
            mvs = self._manifest_versions(table)
        m = self._manifest(table, mvs[-1])
        bucketed = "buckets" in m
        schema = self._schema_of(m)
        if schema is None and table in ALL_TABLES:
            schema = ALL_TABLES[table][0]
        types = {f.name: f.dataType for f in schema.fields}
        cm = self._colmap_of(m)
        logical_names = [cm.get(f.name, f.name) for f in schema.fields]
        lkeys = [cm.get(k, k) for k in keys]

        src = self._to_physical_df(source, m)
        missing_keys = [k for k in keys if k not in src.columns]
        if missing_keys:
            raise ValueError(
                f"merge_into source must carry the merge keys; missing "
                f"{[cm.get(k, k) for k in missing_keys]}"
            )
        src = src.localCheckpoint(eager=True)
        dup = src.groupBy(*keys).count().filter(F.col("count") > 1).limit(1)
        if not dup.isEmpty():
            raise ValueError(
                "merge_into source has duplicate merge keys — multiple "
                "source rows match one target row (Delta's ambiguity error)"
            )

        # target subset: touched buckets only (bucketed), else whole
        # table — read WITH durable (file, row_index) identity so the
        # MOR write path can tombstone exactly the rows its arms kill
        if bucketed:
            if by_source:
                # a by-source arm must see EVERY target row: whole table
                touched = sorted(int(b) for b in m["buckets"])
            else:
                kb = src.withColumn(
                    "_kb", self._key_bucket(table, m["n_buckets"])
                )
                touched = sorted(
                    r["_kb"] for r in kb.select("_kb").distinct().collect()
                )
            pairs = [
                (f"{b}/{fn}", str(self.root / table / f"_kb={b}" / fn))
                for b in touched
                for fn in m["buckets"].get(str(b), [])
            ]
        else:
            touched = None
            pairs = [
                (fn, str(self.root / table / fn))
                for fn in m.get("files", [])
            ]
        if pairs:
            stored = self._read_files_pos(table, m, pairs)
            if bucketed:
                stored = stored.drop("_kb")
        else:
            stored = self.spark.createDataFrame([], schema).select(
                "*",
                F.lit(None).cast("string").alias("__rel"),
                F.lit(None).cast("long").alias("__pos"),
            )
        # merge logic runs in LOGICAL space over aliases t / s.  Side
        # PRESENCE is tagged with marker columns before the join — NOT
        # inferred from key nullness: a target row whose key column is
        # NULL never key-matches, but it still exists and must be
        # carried, not misread as source-only.
        t = (
            self._to_logical(stored, m)
            .withColumn("_m_t_present", F.lit(True))
            .alias("t")
        )
        s = (
            self._to_logical(src, m)
            .withColumn("_m_s_present", F.lit(True))
            .alias("s")
        )
        joined = t.join(s, [F.col(f"t.{k}") == F.col(f"s.{k}") for k in lkeys], "full_outer")
        t_present = F.col("t._m_t_present").isNotNull()
        s_present = F.col("s._m_s_present").isNotNull()
        matched = t_present & s_present
        s_only = ~t_present

        if when_matched_update == "all":
            when_matched_update = {
                cm.get(c, c): F.col(f"s.{cm.get(c, c)}")
                for c in src.columns
                if c in types and c not in keys
            }
        upd = {}
        for col, val in (when_matched_update or {}).items():
            if col in lkeys:
                raise ValueError(f"merge_into cannot update merge-key column {col!r}")
            if col not in logical_names:
                raise ValueError(f"table '{table}' has no column {col!r}")
            upd[col] = val if hasattr(val, "cast") else F.lit(val)
        # Same typed-assignment guard as update_where: mistyped update
        # or insert values raise instead of ANSI-off silently casting to
        # NULL.  Update RHS types resolve over the joined aliases (they
        # may reference t/s); insert types are the source's own columns.
        phys0 = {v: k for k, v in cm.items()}
        if upd:
            resolved_u = {
                f.name: f.dataType
                for f in joined.select(
                    *[c.alias(n) for n, c in upd.items()]
                ).schema.fields
            }
            bad = sorted(
                n
                for n in upd
                if not _assignable_type(resolved_u[n], types[phys0.get(n, n)])
            )
            if bad:
                raise ValueError(
                    f"table '{table}': MERGE update changes column types for "
                    f"{bad} (stored "
                    f"{[types[phys0.get(n, n)].simpleString() for n in bad]}, "
                    f"assigned {[resolved_u[n].simpleString() for n in bad]}) — "
                    f"type changes require an explicit rewrite"
                )
        if when_not_matched_insert:
            src_types = {f.name: f.dataType for f in src.schema.fields}
            bad = sorted(
                cm.get(c, c)
                for c in src.columns
                if c in types and not _assignable_type(src_types[c], types[c])
            )
            if bad:
                raise ValueError(
                    f"table '{table}': MERGE insert source column types "
                    f"disagree with stored types for {bad} — cast the source "
                    f"explicitly"
                )
        # by-source arms (Delta's WHEN NOT MATCHED BY SOURCE): values
        # and conditions speak the t alias only — there is no source row
        bs_upd = {}
        for col, val in (when_not_matched_by_source_update or {}).items():
            if col in lkeys:
                raise ValueError(f"merge_into cannot update merge-key column {col!r}")
            if col not in logical_names:
                raise ValueError(f"table '{table}' has no column {col!r}")
            bs_upd[col] = val if hasattr(val, "cast") else F.lit(val)
        if bs_upd:
            resolved_b = {
                f.name: f.dataType
                for f in joined.select(
                    *[c.alias(n) for n, c in bs_upd.items()]
                ).schema.fields
            }
            bad = sorted(
                n
                for n in bs_upd
                if not _assignable_type(resolved_b[n], types[phys0.get(n, n)])
            )
            if bad:
                raise ValueError(
                    f"table '{table}': MERGE by-source update changes column "
                    f"types for {bad} — type changes require an explicit rewrite"
                )
        del_cond = None
        if when_matched_delete is True:
            del_cond = F.lit(True)
        elif when_matched_delete is not None and when_matched_delete is not False:
            del_cond = when_matched_delete
        upd_cond = (
            when_matched_condition if when_matched_condition is not None else F.lit(True)
        )
        bs_del_cond = None
        if when_not_matched_by_source_delete is True:
            bs_del_cond = F.lit(True)
        elif (
            when_not_matched_by_source_delete is not None
            and when_not_matched_by_source_delete is not False
        ):
            bs_del_cond = when_not_matched_by_source_delete
        bs_upd_cond = (
            when_not_matched_by_source_condition
            if when_not_matched_by_source_condition is not None
            else F.lit(True)
        )
        t_only = t_present & ~s_present

        outcome = F.when(matched & (del_cond if del_cond is not None else F.lit(False)), "delete")
        if upd:
            outcome = outcome.when(matched & upd_cond, "update")
        outcome = outcome.when(matched, "carry")
        if when_not_matched_insert:
            outcome = outcome.when(s_only, "insert")
        if bs_del_cond is not None:
            outcome = outcome.when(t_only & bs_del_cond, "delete")
        if bs_upd:
            outcome = outcome.when(t_only & bs_upd_cond, "update_bs")
        outcome = outcome.otherwise(F.when(s_only, "skip").otherwise("carry"))

        phys = {v: k for k, v in cm.items()}

        def _out_col(lname: str) -> Column:
            tcol, scol = F.col(f"t.{lname}"), None
            if phys.get(lname, lname) in src.columns:
                scol = F.col(f"s.{lname}")
            c = F.when(F.col("_m_outcome") == "update", upd.get(lname, tcol))
            if bs_upd:
                c = c.when(
                    F.col("_m_outcome") == "update_bs", bs_upd.get(lname, tcol)
                )
            if when_not_matched_insert:
                c = c.when(
                    F.col("_m_outcome") == "insert",
                    scol if scol is not None else F.lit(None),
                )
            c = c.otherwise(tcol)
            return c.cast(types[phys.get(lname, lname)]).alias(lname)

        tagged = joined.withColumn("_m_outcome", outcome)
        tagged = tagged.localCheckpoint(eager=True)
        counts = {
            r["_m_outcome"]: r["n"]
            for r in tagged.groupBy("_m_outcome")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        if strategy == "mor":
            # merge-on-read: tombstone the positions the matched arms
            # kill, append only the update/insert images — carry rows
            # stay in their files untouched
            tomb = (
                tagged.filter(
                    F.col("_m_outcome").isin("update", "delete", "update_bs")
                )
                .select(
                    F.col("t.__rel").alias("__rel"),
                    F.col("t.__pos").alias("__pos"),
                )
                .localCheckpoint(eager=True)
            )
            n_dead = tomb.count()
            n_new = (
                int(counts.get("update", 0))
                + int(counts.get("insert", 0))
                + int(counts.get("update_bs", 0))
            )
            images = self._to_physical_df(
                tagged.filter(
                    F.col("_m_outcome").isin("update", "insert", "update_bs")
                )
                .select(*[_out_col(n) for n in logical_names]),
                m,
            )
            dv_name = None
            file_dvs = None
            if n_dead:
                dv_name, _dvb = self._write_dv_sidecar(table, tomb)
                affected = sorted(
                    r["__rel"] for r in tomb.select("__rel").distinct().collect()
                )  # bounded by the touched buckets' file count
                dvs0 = m.get("dvs", {})
                file_dvs = {
                    rel: dvs0.get(rel, []) + [dv_name] for rel in affected
                }
            try:
                if bucketed:
                    new_buckets = dict(m["buckets"])
                    fb: dict[str, int] = {}
                    touched_commit = {
                        rel.split("/", 1)[0] for rel in (file_dvs or {})
                    }
                    if n_new:
                        out_df = images.withColumn(
                            "_kb", self._key_bucket(table, m["n_buckets"])
                        )
                        staged, fb = self._stage_bucketed(table, out_df)
                        for b, fresh in staged.items():
                            new_buckets[str(b)] = (
                                list(new_buckets.get(str(b), [])) + fresh
                            )
                            touched_commit.add(str(b))
                    self._commit_manifest(
                        table,
                        new_buckets,
                        m["n_buckets"],
                        base_version=m["version"],
                        touched=touched_commit,
                        file_bytes=fb,
                        file_dvs=file_dvs,
                        txn=txn,
                    )
                else:
                    names: list[str] = []
                    fb = {}
                    if n_new:
                        names, fb = self._stage_flat(
                            table, images.coalesce(1), key_shuffle=False
                        )
                    self._commit_manifest(
                        table,
                        files=list(m.get("files", [])) + names,
                        base_version=m["version"],
                        file_bytes=fb,
                        file_dvs=file_dvs,
                        txn=txn,
                    )
            except IdempotentReplay:
                if dv_name is not None:
                    (self._dv_dir(table) / dv_name).unlink(missing_ok=True)
                return {
                    "rows_updated": 0, "rows_deleted": 0,
                    "rows_inserted": 0, "buckets_touched": 0,
                }
            return {
                "rows_updated": int(counts.get("update", 0))
                + int(counts.get("update_bs", 0)),
                "rows_deleted": int(counts.get("delete", 0)),
                "rows_inserted": int(counts.get("insert", 0)),
                "buckets_touched": len(touched) if touched is not None else None,
            }
        result = (
            tagged.filter(~F.col("_m_outcome").isin("delete", "skip"))
            .select(*[_out_col(n) for n in logical_names])
        )
        result = self._to_physical_df(result, m)
        try:
            if bucketed:
                out_df = result.withColumn(
                    "_kb", self._key_bucket(table, m["n_buckets"])
                )
                staged, fb = self._stage_bucketed(table, out_df)
                new_buckets = dict(m["buckets"])
                for b in touched:
                    new_buckets[str(b)] = staged.get(str(b), staged.get(b, []))
                self._commit_manifest(
                    table,
                    new_buckets,
                    m["n_buckets"],
                    base_version=m["version"],
                    touched={str(b) for b in touched},
                    file_bytes=fb,
                    txn=txn,
                )
            else:
                names, fb = self._stage_flat(table, result)
                self._commit_manifest(
                    table,
                    files=names,
                    base_version=m["version"],
                    file_bytes=fb,
                    txn=txn,
                )
        except IdempotentReplay:
            return {
                "rows_updated": 0, "rows_deleted": 0,
                "rows_inserted": 0, "buckets_touched": 0,
            }
        return {
            "rows_updated": int(counts.get("update", 0))
            + int(counts.get("update_bs", 0)),
            "rows_deleted": int(counts.get("delete", 0)),
            "rows_inserted": int(counts.get("insert", 0)),
            "buckets_touched": len(touched) if touched is not None else None,
        }
