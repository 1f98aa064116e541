"""Gate rows for the Cypher WRITE surface (importer.rs:86-320,
connection.rs:170, schema.rs:44-51).

`cypher_merge_import_verbatim` is the round-10 headline: the
reference's eleven import templates, copied verbatim, replayed
set-orientedly through `cypher_write_batch` into a scratch warehouse —
then certified two ways: (a) IN-GATE, every one of the 10 graph tables
must equal `build_graph_tables`' direct ETL bit-for-bit (raise
otherwise); (b) the returned functions/calls tables hash-match the
same static VALUES oracles that pin the ETL itself
(`ingest_function_nodes` / `ingest_call_edges`) — so the Cypher lane
is checked against DuckDB, not just against the other lane.
"""

from __future__ import annotations

import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures.micro_graph import (
    HASH_A,
    UID_CREATEFILE,
    UID_EXPORTED_A,
    UID_HELPER_A,
    UID_MAIN_A,
    UID_MAIN_B,
    UID_WORKER_A,
    write_fixture,
)
from ..registry import register
from ._harness import scratch_root

_REPLAY_CACHE: dict[str, object] = {}

_GRAPH_TABLES = (
    "binaries", "functions", "strings", "libraries", "contains",
    "imports", "imports_library", "belongs_to", "calls", "contains_string",
)


def _replay_version() -> str:
    """Content hash of everything the replayed warehouse is a pure
    function of — fixture, ETL, compiler, replay driver — keying a
    /tmp disk cache (same device as ingest_demo._fixture_version)."""
    import hashlib

    import binaryx_graph_spark.cypher as cy
    import binaryx_graph_spark.fixtures.micro_graph as mg
    import binaryx_graph_spark.operators.cypher_import as ci
    import binaryx_graph_spark.operators.ingest as ing
    import binaryx_graph_spark.sources.json_source as js
    import binaryx_graph_spark.sources.warehouse as whm

    h = hashlib.sha256()
    for mod in (mg, ing, js, cy, ci, whm):
        h.update(Path(mod.__file__).read_bytes())
    return h.hexdigest()[:16]


def _replayed_warehouse(spark: SparkSession):
    """Micro-graph fixture imported via the VERBATIM Cypher templates,
    with the replay == direct-ETL parity asserted for all 10 tables.
    First build per MACHINE runs the replay and publishes the warehouse
    directory to a content-addressed /tmp path (atomic rename); later
    sessions re-open it (~0.2s) — the parity assertion ran when the
    directory was built, and the hash key guarantees it still holds."""
    import os
    import shutil

    from ..operators.cypher_import import replay_reference_import
    from ..operators.ingest import build_graph_tables
    from ..sources.json_source import read_analysis_json
    from ..sources.warehouse import Warehouse

    key = str(id(spark))
    if key in _REPLAY_CACHE:
        return _REPLAY_CACHE[key]

    root = Path(tempfile.gettempdir()) / f"bxg_cywrite_wh_{_replay_version()}"
    if not root.exists():
        docs_dir = tempfile.mkdtemp(prefix="bxg_cywrite_docs_")
        docs = read_analysis_json(spark, write_fixture(docs_dir))
        stage = tempfile.mkdtemp(prefix="bxg_cywrite_stage_")
        wh = Warehouse(spark, stage)
        wh.initialize()
        replay_reference_import(wh, docs)

        with build_graph_tables(docs) as expected:
            for table in _GRAPH_TABLES:
                exp = sorted(tuple(r) for r in expected[table].collect())
                got = sorted(
                    tuple(r)
                    for r in wh.read(table).select(*expected[table].columns).collect()
                )
                if got != exp:
                    raise AssertionError(
                        f"cypher replay diverged from build_graph_tables on "
                        f"'{table}': {got} != {exp}"
                    )
        try:
            os.rename(stage, root)  # atomic publish
        except OSError:
            shutil.rmtree(stage)  # lost the race: the winner's copy is the cache
        shutil.rmtree(docs_dir)
    _REPLAY_CACHE[key] = Warehouse(spark, str(root))
    return _REPLAY_CACHE[key]


@register(
    "cypher_merge_import_verbatim",
    oracle=f"""
    SELECT * FROM (VALUES
      ('{UID_MAIN_A}',     'main',        'Export',   '0x401000', CAST(-1  AS BIGINT)),
      ('{UID_HELPER_A}',   'helper',      'Internal', '0x401100', CAST(128 AS BIGINT)),
      ('{UID_WORKER_A}',   'worker',      'Internal', '0x401200', CAST(-1  AS BIGINT)),
      ('{UID_EXPORTED_A}', 'exported_fn', 'Export',   '0x401300', CAST(-1  AS BIGINT)),
      ('{UID_MAIN_B}',     'main',        'Internal', '0x401000', CAST(64  AS BIGINT)),
      ('{UID_CREATEFILE}', 'CreateFileA', 'Import',   '',         CAST(-1  AS BIGINT))
    ) AS t(uid, name, type, address, size)
    ORDER BY uid
    """,
    tags=("cypher", "write", "ingest"),
)
def cypher_merge_import_verbatim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's function-import MERGE statements
    (importer.rs:113-120, one template for Internal/Import/Export
    stages), replayed set-orientedly with (ingest_seq, stage, pos)
    statement order — the 3-stage LWW upsert (E9) lands through the
    Cypher lane, certified against the same static oracle that pins
    the direct ETL.  In-gate: all 10 replayed tables == ETL."""
    wh = _replayed_warehouse(spark)
    return wh.read("functions").select(
        "uid", "name", "type", "address", "size"
    ).orderBy("uid")


@register(
    "cypher_merge_import_edges_verbatim",
    oracle=f"""
    SELECT * FROM (VALUES
      ('{UID_MAIN_A}',   '{UID_HELPER_A}',   '0x401010', 'Direct'),
      ('{UID_MAIN_A}',   '{UID_CREATEFILE}', '0x401020', 'Indirect'),
      ('{UID_HELPER_A}', '{UID_WORKER_A}',   '0x401110', 'Direct'),
      ('{UID_WORKER_A}', '{UID_HELPER_A}',   '0x401210', 'Direct'),
      ('{UID_WORKER_A}', '{UID_WORKER_A}',   '0x401220', 'Tail')
    ) AS t(src_uid, dst_uid, "offset", call_type)
    ORDER BY src_uid, dst_uid
    """,
    tags=("cypher", "write", "ingest"),
)
def cypher_merge_import_edges_verbatim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CALLS edge MERGE template (importer.rs:293-298) replayed as
    one batch: MATCH endpoint preconditions as semi-joins, pair-
    collapse LWW on (src,dst) by statement order — offset/call_type of
    the LAST call site win, exactly like per-statement replay."""
    wh = _replayed_warehouse(spark)
    return wh.read("calls").orderBy("src_uid", "dst_uid")


@register(
    "cypher_write_merge_upsert",
    oracle=f"""
    SELECT * FROM (VALUES
      ('{HASH_A}', 'renamed.exe', '/tmp/orig.exe', CAST(4096 AS BIGINT), 'PE', 'x86_64')
    ) AS t(hash, filename, file_path, file_size, format, arch)
    """,
    tags=("cypher", "write"),
)
def cypher_write_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE ... SET upsert semantics through the single-statement lane
    (importer.rs:87-94 verbatim): second MERGE on the same key
    overwrites ONLY the SET properties — the partial-SET statement
    leaves every unmentioned column at its stored value."""
    from ..cypher import cypher_write
    from ..sources.warehouse import Warehouse

    wh = Warehouse(spark, scratch_root(sf_dir, "bxg_cyupsert_scratch"))
    wh.initialize()
    tpl = """
        MERGE (b:Binary {hash: $hash})
        SET b.filename = $filename,
            b.file_path = $file_path,
            b.file_size = $file_size,
            b.format = $format,
            b.arch = $arch
    """
    cypher_write(wh, tpl, params={
        "hash": HASH_A, "filename": "orig.exe", "file_path": "/tmp/orig.exe",
        "file_size": 4096, "format": "PE", "arch": "x86_64",
    })
    # partial SET: only filename changes, the rest keep stored values
    cypher_write(
        wh,
        "MERGE (b:Binary {hash: $hash}) SET b.filename = $filename",
        params={"hash": HASH_A, "filename": "renamed.exe"},
    )
    return wh.read("binaries").select(
        "hash", "filename", "file_path", "file_size", "format", "arch"
    ).orderBy("hash")


@register(
    "cypher_write_detach_delete",
    oracle="""
    SELECT * FROM (VALUES
      ('1_functions_after', CAST(2 AS BIGINT)),
      ('2_calls_after',     CAST(1 AS BIGINT)),
      ('3_deleted_rows',    CAST(3 AS BIGINT))
    ) AS t(phase, n)
    ORDER BY phase
    """,
    tags=("cypher", "write"),
)
def cypher_write_detach_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed DETACH DELETE compiled to warehouse delete_where commits:
    removing a node sweeps its incident edges (both directions of
    CALLS), leaves unrelated edges intact, and plain DELETE enforces
    Neo4j's no-incident-edges constraint (in-gate raise check)."""
    from ..cypher import cypher_write, cypher_write_batch
    from ..sources.warehouse import Warehouse

    wh = Warehouse(spark, scratch_root(sf_dir, "bxg_cydelete_scratch"))
    wh.initialize()
    fns = spark.createDataFrame(
        [("a", "fa", "0x1", "Internal", 1, 1),
         ("b", "fb", "0x2", "Internal", 2, 2),
         ("c", "fc", "0x3", "Internal", 3, 3)],
        "uid string, name string, address string, type string, size long, seq long",
    )
    cypher_write_batch(
        wh,
        """
        MERGE (f:Function {uid: $uid})
        SET f.name = $name, f.address = $address, f.type = $type, f.size = $size
        """,
        fns,
        order_cols=["seq"],
    )
    edges = spark.createDataFrame(
        [("a", "b", "0x10", "Direct", 1),
         ("b", "a", "0x20", "Direct", 2),
         ("b", "c", "0x30", "Direct", 3)],
        "from_uid string, to_uid string, offset string, call_type string, seq long",
    )
    cypher_write_batch(
        wh,
        """
        MATCH (from:Function {uid: $from_uid}), (to:Function {uid: $to_uid})
        MERGE (from)-[r:CALLS]->(to)
        SET r.offset = $offset, r.call_type = $call_type
        """,
        edges,
        order_cols=["seq"],
    )
    # plain DELETE must refuse while 'a' still has relationships
    try:
        cypher_write(wh, "MATCH (f:Function {uid: $u}) DELETE f", params={"u": "a"})
    except ValueError:
        pass
    else:
        raise AssertionError("plain DELETE must raise on incident edges")
    d = cypher_write(
        wh, "MATCH (f:Function {uid: $u}) DETACH DELETE f", params={"u": "a"}
    )
    if d["rows"] != 3:  # the node + a->b + b->a
        raise AssertionError(f"DETACH DELETE swept {d['rows']} rows, wanted 3")
    return spark.createDataFrame(
        [
            ("1_functions_after", wh.read("functions").count()),
            ("2_calls_after", wh.read("calls").count()),
            ("3_deleted_rows", d["rows"]),
        ],
        "phase string, n long",
    ).orderBy("phase")


@register(
    "cypher_write_unwind_bulk",
    oracle="""
    SELECT * FROM (VALUES
      ('a', 'last',  CAST(3 AS BIGINT)),
      ('b', 'bee',   CAST(2 AS BIGINT)),
      ('c', 'sea',   CAST(9 AS BIGINT))
    ) AS t(uid, name, size)
    ORDER BY uid
    """,
    tags=("cypher", "write"),
)
def cypher_write_unwind_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The idiomatic Neo4j BULK import form — ``UNWIND $rows AS r
    MERGE (f:Function {uid: r.uid}) SET …`` — compiled to ONE
    set-oriented LWW merge commit (list order = statement order; a
    duplicate uid later in the list wins), never a row loop."""
    from ..cypher import cypher_write
    from ..sources.warehouse import Warehouse

    wh = Warehouse(spark, scratch_root(sf_dir, "bxg_cyunwind_scratch"))
    wh.initialize()
    r = cypher_write(
        wh,
        """
        UNWIND $rows AS r
        MERGE (f:Function {uid: r.uid})
        SET f.name = r.name, f.address = r.addr, f.type = $ty, f.size = r.size
        """,
        params={
            "ty": "Internal",
            "rows": [
                {"uid": "a", "name": "first", "addr": "0x1", "size": 1},
                {"uid": "b", "name": "bee", "addr": "0x2", "size": 2},
                {"uid": "c", "name": "sea", "addr": "0x3", "size": 9},
                {"uid": "a", "name": "last", "addr": "0x1b", "size": 3},
            ],
        },
    )
    if r != {"table": "functions", "rows": 3}:
        raise AssertionError(f"UNWIND bulk merge misreported: {r}")
    return wh.read("functions").select("uid", "name", "size").orderBy("uid")


@register(
    "cypher_write_on_create_set",
    oracle="""
    SELECT * FROM (VALUES
      ('u_existing', 'kept',    'Seen',  CAST(99 AS BIGINT)),
      ('u_fresh1',   'fresh1',  'Fresh', CAST(5  AS BIGINT)),
      ('u_fresh2',   'fresh2',  'Fresh', CAST(6  AS BIGINT))
    ) AS t(uid, name, type, size)
    ORDER BY uid
    """,
    tags=("cypher", "write"),
)
def cypher_write_on_create_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neo4j's conditional MERGE arms — ``ON CREATE SET`` / ``ON MATCH
    SET`` — through BOTH write lanes (`cypher.py:_merge_arms`; lowered
    onto the same presence-marker join MERGE INTO uses).  The batch
    form runs one set-oriented merge: created rows take the ON CREATE
    arm (name bound, type='Fresh'), the pre-existing row takes ON MATCH
    (type='Seen', its stored name KEPT — the ON CREATE name must not
    re-apply), plain SET (size) applies to both.  In-gate: the
    single-statement lane replayed per row must agree with the batch
    lane bit-for-bit (raise otherwise)."""
    from ..cypher import cypher_write, cypher_write_batch
    from ..sources.warehouse import Warehouse

    tpl = """
        MERGE (f:Function {uid: $uid})
        ON CREATE SET f.name = $name, f.type = 'Fresh'
        ON MATCH SET f.type = 'Seen'
        SET f.size = $size
    """
    rows = [
        ("u_existing", "IGNORED", 99),
        ("u_fresh1", "fresh1", 5),
        ("u_fresh2", "fresh2", 6),
    ]

    root = scratch_root(sf_dir, "bxg_cyarms_scratch")
    wh = Warehouse(spark, f"{root}/batch")
    wh.initialize()
    cypher_write(
        wh,
        "MERGE (f:Function {uid: $uid}) SET f.name = $name, f.type = 'Old'",
        params={"uid": "u_existing", "name": "kept"},
    )
    params = spark.createDataFrame(rows, "uid string, name string, size long")
    cypher_write_batch(wh, tpl, params)

    # single-statement twin: one cypher_write per row must agree
    wh2 = Warehouse(spark, f"{root}/single")
    wh2.initialize()
    cypher_write(
        wh2,
        "MERGE (f:Function {uid: $uid}) SET f.name = $name, f.type = 'Old'",
        params={"uid": "u_existing", "name": "kept"},
    )
    for uid, name, size in rows:
        cypher_write(wh2, tpl, params={"uid": uid, "name": name, "size": size})
    a = wh.read("functions").select("uid", "name", "type", "size")
    b = wh2.read("functions").select("uid", "name", "type", "size")
    diff = a.exceptAll(b).unionAll(b.exceptAll(a)).count()
    if diff != 0:
        raise AssertionError(
            f"batch vs single-statement upsert arms diverge by {diff} rows"
        )
    return a.orderBy("uid")


@register(
    "cypher_write_set_map",
    oracle="""
    SELECT * FROM (VALUES
      ('u_map', 'mapped', 'Internal', CAST(8 AS BIGINT), CAST(NULL AS VARCHAR))
    ) AS t(uid, name, type, size, address)
    """,
    tags=("cypher", "write"),
)
def cypher_write_set_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``SET v += $map`` (Neo4j's non-destructive property-map merge)
    and ``REMOVE v.prop`` through the write parser: the first += binds
    name/type/size/address from a map, the second += overwrites ONLY
    size (name/type kept — non-destructive), REMOVE then nulls address.
    In-gate: a later plain MERGE on the same key must still see the
    surviving properties (raise otherwise)."""
    from ..cypher import cypher_write
    from ..sources.warehouse import Warehouse

    wh = Warehouse(spark, scratch_root(sf_dir, "bxg_cymap_scratch"))
    wh.initialize()
    cypher_write(
        wh,
        "MERGE (f:Function {uid: $uid}) SET f += $props",
        params={
            "uid": "u_map",
            "props": {
                "name": "mapped", "type": "Internal",
                "size": 7, "address": "0x1000",
            },
        },
    )
    cypher_write(
        wh,
        "MERGE (f:Function {uid: $uid}) SET f += $props",
        params={"uid": "u_map", "props": {"size": 8}},
    )
    cypher_write(
        wh,
        "MERGE (f:Function {uid: $uid}) REMOVE f.address",
        params={"uid": "u_map"},
    )
    got = wh.read("functions").filter(F.col("uid") == "u_map").collect()
    if len(got) != 1 or got[0]["name"] != "mapped" or got[0]["size"] != 8:
        raise AssertionError(f"+= map merge produced {got}")
    return wh.read("functions").select(
        "uid", "name", "type", "size", "address"
    ).orderBy("uid")
