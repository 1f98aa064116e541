"""Warehouse CHANGE DATA FEED as a Structured Streaming source —
``spark.readStream.format("warehouse_cdf").option("root", ...).option(
"table", ...)`` (Delta's ``readChangeFeed`` streaming mode, on this
manifest, via Spark 4's Python DataSource API).

Why a real stream source and not the polling consumer
(`sources/replication.py`): a stream composes — watermarks, windowed
aggs, stream-stream joins, any sink — and the ENGINE owns offsets
(checkpointed), so restart recovery is Structured Streaming's own
exactly-once contract instead of a bespoke offset file.

Scale shape (the part that must survive 100 TB):

* **Offsets are manifest versions** (``{"v": N}`` = consumed through
  version N).  ``latestOffset`` is one manifest-dir listing; no data
  touched.
* **Planning is the manifest diff**: ``partitions(start, end)`` emits
  one InputPartition PER CHANGED BUCKET per version transition —
  untouched buckets are never listed, never opened, and the work
  distributes bucket-granular across executors.
* **Reads are executor-side pyarrow**: each partition loads ONE
  bucket's old and new file lists (no SparkSession on executors —
  the files are immutable parquet, pyarrow reads them directly) and
  computes the row-level multiset diff in pandas.  An LWW update
  arrives as its delete+insert pair; a rewritten-but-equal row (bucket
  compaction) contributes nothing.

Constraints, stated loudly: bucketed tables at one modulus only (a
rebucket/layout change in the consumed range raises — re-seed the
consumer, same as Delta across a table rewrite); scalar columns only
(the diff groups on row values); vacuum retention must cover consumer
lag (a vacuumed manifest in the range raises FileNotFoundError rather
than silently skipping commits).
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

CHANGE_COLS = "_change string, _version int"


def _manifest_versions(root: str, table: str) -> list[int]:
    md = Path(root) / "_manifests" / table
    if not md.exists():
        return []
    return sorted(int(p.stem[1:]) for p in md.glob("v*.json"))


def _manifest(root: str, table: str, v: int) -> dict:
    p = Path(root) / "_manifests" / table / f"v{v:05d}.json"
    if not p.exists():
        raise FileNotFoundError(
            f"warehouse_cdf: manifest v{v} of '{table}' is gone (vacuumed?) — "
            f"the consumer lagged past the retention horizon; re-seed it"
        )
    return json.loads(p.read_text())


def _colmap(root: str, table: str) -> dict[str, str]:
    """{physical: logical} column-mapping renames of the NEWEST
    manifest.  Physical names are immutable (that is the point of
    column mapping), so capturing this once at stream start stays
    valid for the stream's whole life."""
    vs = _manifest_versions(root, table)
    if not vs:
        return {}
    return _manifest(root, table, vs[-1]).get("colmap") or {}


def _schema_ddl(root: str, table: str) -> str:
    """The stream's fixed schema: the NEWEST manifest's pinned schema
    (schema evolution), else the newest data file's arrow schema —
    with column-mapping renames applied (the feed speaks the logical
    names current at stream start)."""
    import pyarrow.parquet as pq

    from pyspark.sql.types import StructType
    from pyspark.sql.pandas.types import from_arrow_schema

    vs = _manifest_versions(root, table)
    if not vs:
        raise ValueError(f"warehouse_cdf: table '{table}' has no manifests")
    m = _manifest(root, table, vs[-1])
    if m.get("schema"):
        st = StructType.fromJson(json.loads(m["schema"]))
    else:
        if "buckets" not in m:
            raise ValueError(
                f"warehouse_cdf: table '{table}' is flat — the feed is "
                f"bucket-granular; convert with merge_batch_incremental"
            )
        first = next(
            (
                Path(root) / table / f"_kb={b}" / fns[0]
                for b, fns in sorted(m["buckets"].items(), key=lambda kv: int(kv[0]))
                if fns
            ),
            None,
        )
        if first is None:
            raise ValueError(f"warehouse_cdf: table '{table}' is empty")
        st = from_arrow_schema(pq.read_schema(str(first)))
    cm = _colmap(root, table)
    return ", ".join(
        f"{cm.get(f.name, f.name)} {f.dataType.simpleString()}"
        for f in st.fields
    )


class _CdfPartition(InputPartition):
    def __init__(
        self, root, table, bucket, old_files, new_files, version, cols,
        old_dvs=None, new_dvs=None,
    ):
        self.root = root
        self.table = table
        self.bucket = bucket
        self.old_files = old_files
        self.new_files = new_files
        self.version = version
        self.cols = cols
        #: {file_rel: [abs deletion-vector sidecar paths]} per side — a
        #: DV-only delete changes no file list, the diff sees it here
        self.old_dvs = old_dvs or {}
        self.new_dvs = new_dvs or {}
        self.phys = {}  # logical → physical column names (set by reader)
        #: logical merge-key names; non-empty = relabel keyed
        #: delete+insert pairs as update_preimage/update_postimage
        self.image_keys: list[str] = []


class WarehouseCdfStreamReader(DataSourceStreamReader):
    def __init__(
        self,
        root: str,
        table: str,
        cols: list[str],
        update_images: bool = False,
        keys: list[str] | None = None,
    ):
        self._root = root
        self._table = table
        self._cols = cols  # logical names (the stream's declared schema)
        #: logical → physical (files store physical; immutable, so
        #: captured once — see _colmap)
        self._phys = {v: k for k, v in _colmap(root, table).items()}
        #: Delta CDF change types: when on, a version's keyed
        #: delete+insert pair is relabeled update_pre/postimage.  Keys
        #: are LOGICAL names; merge keys are bucket-colocated, so the
        #: linking is executor-local per partition — no extra shuffle.
        self._image_keys: list[str] = []
        if update_images:
            if keys:
                self._image_keys = list(keys)
            else:
                from .warehouse import MERGE_KEYS

                cm = _colmap(root, table)
                self._image_keys = [
                    cm.get(k, k) for k in MERGE_KEYS.get(table, [])
                ]
            missing = [k for k in self._image_keys if k not in cols]
            if missing:
                raise ValueError(
                    f"warehouse_cdf: updateImages keys {missing} are not "
                    f"stream columns {cols}"
                )

    def initialOffset(self) -> dict:
        vs = _manifest_versions(self._root, self._table)
        # one BEFORE the oldest: the first batch is the transition into
        # it — the initial snapshot arrives as that version's inserts
        return {"v": (vs[0] - 1) if vs else -1}

    def latestOffset(self) -> dict:
        vs = _manifest_versions(self._root, self._table)
        return {"v": vs[-1] if vs else -1}

    def partitions(self, start: dict, end: dict):
        out: list[InputPartition] = []
        for v in range(start["v"] + 1, end["v"] + 1):
            new_m = _manifest(self._root, self._table, v)
            if "buckets" not in new_m:
                raise ValueError(
                    f"warehouse_cdf: version {v} of '{self._table}' is not a "
                    f"bucketed manifest — the feed cannot cross layout changes"
                )
            old_m = (
                _manifest(self._root, self._table, v - 1)
                if v - 1 >= 0 and v - 1 in set(_manifest_versions(self._root, self._table))
                else None
            )
            if old_m is not None and "buckets" in old_m:
                if old_m.get("n_buckets") != new_m.get("n_buckets"):
                    raise ValueError(
                        f"warehouse_cdf: version {v} rebuckets '{self._table}' "
                        f"({old_m.get('n_buckets')} -> {new_m.get('n_buckets')}) "
                        f"— re-seed the consumer past the re-layout"
                    )
                ob = old_m["buckets"]
            else:
                ob = {}
            nb = new_m["buckets"]
            odv = (old_m or {}).get("dvs", {})
            ndv = new_m.get("dvs", {})
            base = str(Path(self._root) / self._table)
            dvdir = Path(self._root) / "_dvs" / self._table

            def _dvs(dvmap, bmap, b):
                # {file_rel: [abs sidecar paths]} for this bucket's files
                out_ = {}
                for fn in bmap.get(b, []):
                    lst = dvmap.get(f"{b}/{fn}")
                    if lst:
                        out_[f"_kb={b}/{fn}"] = [str(dvdir / n) for n in lst]
                return out_

            for b in sorted(set(ob) | set(nb), key=int):
                bodv, bndv = _dvs(odv, ob, b), _dvs(ndv, nb, b)
                if ob.get(b) == nb.get(b) and bodv == bndv:
                    continue  # untouched bucket: shared files + DVs, no diff
                part = _CdfPartition(
                    base,
                    self._table,
                    b,
                    [f"_kb={b}/{fn}" for fn in ob.get(b, [])],
                    [f"_kb={b}/{fn}" for fn in nb.get(b, [])],
                    v,
                    self._cols,
                    bodv,
                    bndv,
                )
                part.phys = self._phys
                part.image_keys = self._image_keys
                out.append(part)
        return out

    def read(self, partition: "_CdfPartition"):
        # Pure arrow→Python diff — deliberately NO pandas round-trip:
        # pyarrow's to_pandas decays int64-with-nulls to float64 (and
        # pandas groupby re-coerces even object int keys to float64),
        # so ids past 2^53 would collapse distinct rows in the multiset
        # diff and emit floats against a long-typed stream schema.
        # Counter over exact Python values keeps every type lossless
        # (int stays int, None for null, bytes/datetime/Decimal as-is).
        from collections import Counter

        import pyarrow.parquet as pq

        cols = partition.cols

        def _dead_positions(rel: str, dv_paths: list[str]) -> set[int]:
            # deletion-vector apply, executor-side: a sidecar records
            # (manifest_rel, pos); pq.read_table preserves physical row
            # order, so pos indexes straight into the loaded table
            mrel = rel.replace("_kb=", "", 1)
            dead: set[int] = set()
            for p in dv_paths:
                t = pq.read_table(p, columns=["rel", "pos"])
                for r, pos in zip(
                    t.column("rel").to_pylist(), t.column("pos").to_pylist()
                ):
                    if r == mrel:
                        dead.add(pos)
            return dead

        phys = getattr(partition, "phys", {}) or {}

        def tables(rel_files, dvmap):
            out = []
            for rel in rel_files:
                t = pq.read_table(str(Path(partition.root) / rel))
                if phys:  # column mapping: files store physical names
                    t = t.rename_columns(
                        [
                            {v: k for k, v in phys.items()}.get(n, n)
                            for n in t.schema.names
                        ]
                    )
                dvp = dvmap.get(rel)
                if dvp:
                    dead = _dead_positions(rel, dvp)
                    if dead:
                        import pyarrow as pa

                        mask = pa.array(
                            [i not in dead for i in range(t.num_rows)]
                        )
                        t = t.filter(mask)
                out.append(t)
            return out

        old_t = tables(partition.old_files, partition.old_dvs)
        new_t = tables(partition.new_files, partition.new_dvs)
        # float NaN: NaN != NaN, but the diff must group NaN rows
        # together (pandas dropna=False did) — canonicalize to ONE nan
        # object so dict identity-then-equality lookup unifies them
        _nan = float("nan")

        def counts(ts) -> Counter:
            ctr: Counter = Counter()
            for t in ts:
                names = set(t.schema.names)
                arrs = [
                    t.column(c).to_pylist()
                    if c in names
                    else [None] * t.num_rows  # evolved column: typed nulls
                    for c in cols
                ]
                for row in zip(*arrs):
                    ctr[
                        tuple(
                            _nan
                            if isinstance(v, float) and v != v
                            else v
                            for v in row
                        )
                    ] += 1
            return ctr

        oc, nc = counts(old_t), counts(new_t)
        ver = partition.version
        image_keys = getattr(partition, "image_keys", []) or []
        if not image_keys:
            for key in nc.keys() | oc.keys():
                n = nc.get(key, 0) - oc.get(key, 0)
                tag = "insert" if n > 0 else "delete"
                for _ in range(abs(n)):
                    yield key + (tag, ver)
            return
        # Delta CDF change types: within this version transition, a
        # merge-key present on BOTH sides of the diff is a row MUTATION
        # — its delete is the update_preimage, its insert the
        # update_postimage.  Merge keys are bucket-colocated, so the
        # pairing is complete inside one partition.
        kidx = [cols.index(k) for k in image_keys]
        dels: Counter = Counter()
        inss: Counter = Counter()
        emits = []
        for key in nc.keys() | oc.keys():
            n = nc.get(key, 0) - oc.get(key, 0)
            if n == 0:
                continue
            kt = tuple(key[i] for i in kidx)
            keyed = all(v is not None for v in kt)
            if keyed:
                (inss if n > 0 else dels)[kt] += abs(n)
            emits.append((key, n, kt if keyed else None))
        for key, n, kt in emits:
            if kt is not None and dels.get(kt) and inss.get(kt):
                tag = "update_postimage" if n > 0 else "update_preimage"
            else:
                tag = "insert" if n > 0 else "delete"
            for _ in range(abs(n)):
                yield key + (tag, ver)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the stream's checkpoint; nothing to ack


class WarehouseCdfDataSource(DataSource):
    """`spark.readStream.format("warehouse_cdf")` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "warehouse_cdf"

    def schema(self) -> str:
        root = self.options.get("root")
        table = self.options.get("table")
        if not root or not table:
            raise ValueError("warehouse_cdf requires options 'root' and 'table'")
        return f"{_schema_ddl(root, table)}, {CHANGE_COLS}"

    def streamReader(self, schema) -> "WarehouseCdfStreamReader":
        cols = [f.name for f in schema.fields if f.name not in ("_change", "_version")]
        keys_opt = self.options.get("keys")
        return WarehouseCdfStreamReader(
            self.options["root"],
            self.options["table"],
            cols,
            update_images=str(
                self.options.get("updateImages", "false")
            ).lower()
            == "true",
            keys=[k.strip() for k in keys_opt.split(",")] if keys_opt else None,
        )


def register_warehouse_cdf_datasource(spark) -> None:
    """Register ``warehouse_cdf`` in ``spark``'s session unless it already
    is: registering it again would replace the registration, with a
    warning in the log each time."""
    manager = spark._jsparkSession.sessionState().dataSourceManager()
    if not manager.dataSourceExists(WarehouseCdfDataSource.name()):
        spark.dataSource.register(WarehouseCdfDataSource)
