"""Change data feed: version-diff change sets with optional update images.

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


class _CdfMixin:
    def read_changes(
        self,
        table: str,
        from_version: int,
        to_version: int | None = None,
        *,
        update_images: bool = False,
        with_diagnostics: bool = False,
    ):
        """CDC: the row-level NET difference between two committed
        versions, as full rows plus a ``_change`` column (``'insert'``
        rows exist in ``to`` but not ``from``; ``'delete'`` the
        reverse; a last-write-wins update appears as its delete+insert
        pair).  The multiset identity ``from − deletes + inserts ==
        to`` holds exactly — an incremental consumer applies the
        changes instead of re-reading the table.

        ``update_images=True`` (Delta's CDF change types): delete+insert
        pairs sharing the table's MERGE KEYS are relabeled
        ``update_preimage`` / ``update_postimage`` — the signal CDC
        consumers key on to distinguish row MUTATION from key churn.
        The linking is one window over the change set (never the
        table); rows with a NULL key column, and tables without merge
        keys, keep the plain insert/delete labels.  The multiset
        identity still holds with preimage≡delete, postimage≡insert.

        Scale shape: when both versions are bucketed manifests at one
        modulus, the MANIFEST DIFF picks the buckets whose file lists
        differ and only those buckets' files — from both versions —
        are listed, opened, and anti-joined; a commit that touched k of
        B buckets costs O(k·table/B) to diff, not O(table).  Layout
        changes (flat↔bucketed, rebucket) and legacy snapshots fall
        back to a full two-version diff — correct, just unpruned.
        Compaction-style commits rewrite files without changing rows;
        their rewritten buckets read back equal and contribute nothing.

        With ``with_diagnostics=True`` returns ``(df, {'buckets_total',
        'buckets_read'})`` (Nones on the unpruned fallback)."""
        if to_version is None:
            to_version = (self.versions(table) or [-1])[-1]
        mvs = set(self._manifest_versions(table))
        diag = {"buckets_total": None, "buckets_read": None}
        old_df = new_df = None
        if from_version in mvs and to_version in mvs:
            mo = self._manifest(table, from_version)
            mn = self._manifest(table, to_version)
            if (
                "buckets" in mo
                and "buckets" in mn
                and mo.get("n_buckets")
                and mo.get("n_buckets") == mn.get("n_buckets")
            ):
                ob, nb = mo["buckets"], mn["buckets"]
                odv, ndv = mo.get("dvs", {}), mn.get("dvs", {})

                def _bdv(dvmap, bmap, b):
                    # a bucket's DV state: {rel: [dv names]} restricted
                    # to its files — a DV-only delete changes no file
                    # list, so the diff must ALSO compare this
                    return {
                        f"{b}/{fn}": dvmap[f"{b}/{fn}"]
                        for fn in bmap.get(b, [])
                        if f"{b}/{fn}" in dvmap
                    }

                changed = sorted(
                    (
                        b
                        for b in set(ob) | set(nb)
                        if ob.get(b) != nb.get(b)
                        or _bdv(odv, ob, b) != _bdv(ndv, nb, b)
                    ),
                    key=int,
                )
                diag = {
                    "buckets_total": len(set(ob) | set(nb)),
                    "buckets_read": len(changed),
                }
                base = self.root / table

                def _sub(m, bmap, bs):
                    schema = self._schema_of(m)
                    pairs = [
                        (f"{b}/{fn}", str(base / f"_kb={b}" / fn))
                        for b in bs
                        for fn in bmap.get(b, [])
                    ]
                    if not pairs:
                        if schema is not None:
                            return self.spark.createDataFrame([], schema)
                        if table in ALL_TABLES:
                            return self.spark.createDataFrame(
                                [], ALL_TABLES[table][0]
                            )
                        return self._read_manifest(
                            table, self._manifest(table, to_version)
                        ).limit(0).drop("_kb")
                    return self._read_files_dv(table, m, pairs).drop("_kb")

                # both sides diff in PHYSICAL space, then surface under
                # the TO version's column mapping (Delta's CDC contract:
                # a rename is metadata-only — zero row changes, and the
                # feed speaks the destination schema)
                old_df = self._to_logical(_sub(mo, ob, changed), mn)
                new_df = self._to_logical(_sub(mn, nb, changed), mn)
        if old_df is None:
            old_df = self.read(table, version=from_version)
            new_df = self.read(table, version=to_version)
            if from_version in mvs and to_version in mvs:
                mo2 = self._manifest(table, from_version)
                mn2 = self._manifest(table, to_version)
                # re-map the FROM side to the TO version's logical names
                old_df = self._to_logical(self._to_physical_df(old_df, mo2), mn2)
        # schema evolution between the versions: align BOTH sides to the
        # union of their schemas (absent columns read as typed nulls on
        # either side), so an untouched row is NOT reported as changed
        # just because a column was added — or rolled back
        if old_df.columns != new_df.columns:
            have = set(old_df.columns)
            fields = list(old_df.schema.fields) + [
                f for f in new_df.schema.fields if f.name not in have
            ]
            old_df = self._align_columns(old_df, fields)
            new_df = self._align_columns(new_df, fields)
        inserts = new_df.exceptAll(old_df).withColumn("_change", F.lit("insert"))
        deletes = old_df.exceptAll(new_df).withColumn("_change", F.lit("delete"))
        out = inserts.unionByName(deletes)
        if update_images:
            keys = MERGE_KEYS.get(table, [])
            cmn = (
                self._colmap_of(self._manifest(table, to_version))
                if to_version in mvs
                else {}
            )
            lkeys = [cmn.get(k, k) for k in keys]
            if lkeys and all(k in out.columns for k in lkeys):
                w = Window.partitionBy(*lkeys)
                has_ins = (
                    F.max(F.when(F.col("_change") == "insert", 1).otherwise(0)).over(w)
                    == 1
                )
                has_del = (
                    F.max(F.when(F.col("_change") == "delete", 1).otherwise(0)).over(w)
                    == 1
                )
                nonnull = F.lit(True)
                for k in lkeys:
                    nonnull = nonnull & F.col(k).isNotNull()
                paired = has_ins & has_del & nonnull
                out = out.withColumn(
                    "_change",
                    F.when(paired & (F.col("_change") == "delete"), "update_preimage")
                    .when(paired & (F.col("_change") == "insert"), "update_postimage")
                    .otherwise(F.col("_change")),
                )
        return (out, diag) if with_diagnostics else out
