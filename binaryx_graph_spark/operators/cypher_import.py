"""Verbatim replay of the reference's Cypher import surface.

The reference drives its ENTIRE ingest through eleven Cypher write
templates, one Bolt round trip per entity (importer.rs:86-320; the
client session computes uids/addresses/resolution first, session.rs).
This module replays those templates — copied VERBATIM — through
:func:`cypher.cypher_write_batch`, binding each template's ``$params``
to the matching client-session item stream (`operators/ingest.
item_streams`, the same single source of truth `build_graph_tables`
consumes).

The contract, certified by the `cypher_merge_import_verbatim*` gate
rows and `tests/test_cypher_write_batch.py`: replaying the statements
set-orientedly produces BIT-IDENTICAL tables to the direct ETL — the
Cypher lane and the DataFrame lane cannot drift.

Scale shape: 10 statement batches → 10 LWW merge commits (one shuffle
each, the same shuffle MERGE INTO needs), versus the reference's one
round trip per entity.  Endpoint MATCH preconditions are semi-joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cypher import cypher_write_batch
from ..functions.addr import normalize_address
from ..plans.lineage import release
from .ingest import item_streams, project_documents

# -- importer.rs:87-94
TPL_BINARY = """
    MERGE (b:Binary {hash: $hash})
    SET b.filename = $filename,
        b.file_path = $file_path,
        b.file_size = $file_size,
        b.format = $format,
        b.arch = $arch
"""

# -- importer.rs:113-120 (functions, imports and exports all funnel
#    through this one template with different $type/$address/$size)
TPL_FUNCTION = """
    MERGE (f:Function {uid: $uid})
    SET f.name = $name,
        f.address = $address,
        f.type = $type,
        f.size = $size
"""

# -- importer.rs:152-155
TPL_CONTAINS = """
    MATCH (b:Binary {hash: $binary_hash}), (f:Function {uid: $function_uid})
    MERGE (b)-[:CONTAINS]->(f)
"""

# -- importer.rs:176-179
TPL_BELONGS_TO = """
    MATCH (f:Function {uid: $function_uid}), (l:Library {name: $library_name})
    MERGE (f)-[:BELONGS_TO]->(l)
"""

# -- importer.rs:194-197
TPL_STRING = """
    MERGE (s:String {uid: $uid})
    SET s.value = $value
"""

# -- importer.rs:215-218
TPL_CONTAINS_STRING = """
    MATCH (b:Binary {hash: $binary_hash}), (s:String {uid: $string_uid})
    MERGE (b)-[r:CONTAINS_STRING {address: $address}]->(s)
"""

# -- importer.rs:234-236
TPL_LIBRARY = """
    MERGE (l:Library {name: $name})
"""

# -- importer.rs:246-249
TPL_IMPORTS_LIBRARY = """
    MATCH (b:Binary {hash: $binary_hash}), (l:Library {name: $library_name})
    MERGE (b)-[:IMPORTS_LIBRARY]->(l)
"""

# -- importer.rs:269-273
TPL_IMPORTS = """
    MATCH (b:Binary {hash: $binary_hash}), (f:Function {uid: $function_uid})
    MERGE (b)-[r:IMPORTS]->(f)
    SET r.address = $address
"""

# -- importer.rs:293-298
TPL_CALLS = """
    MATCH (from:Function {uid: $from_uid}), (to:Function {uid: $to_uid})
    MERGE (from)-[r:CALLS]->(to)
    SET r.offset = $offset,
        r.call_type = $call_type
"""


def replay_reference_import(wh, docs_raw: DataFrame) -> dict[str, int]:
    """Import ``docs_raw`` into ``wh`` by replaying the reference's
    verbatim Cypher templates over the client-session item streams.

    Statement order follows the reference's session (nodes before the
    edges that MATCH them); within the functions batch, the
    (ingest_seq, stage, pos) order columns reproduce the reference's
    file-sequential Internal→Import→Export statement order exactly, so
    cross-stage uid collisions resolve identically to one-at-a-time
    replay.  Returns {table: merged-row-count}.
    """
    docs = project_documents(docs_raw).cache()
    s = item_streams(docs)
    try:
        order = ["ingest_seq", "pos"]
        out: dict[str, int] = {}

        def run(tpl: str, params: DataFrame, order_cols) -> None:
            r = cypher_write_batch(wh, tpl, params, order_cols=order_cols)
            out[r["table"]] = r["rows"]

        run(
            TPL_BINARY,
            docs.select(
                F.col("binary_hash").alias("hash"),
                "filename", "file_path", "file_size", "format", "arch",
                "ingest_seq",
            ),
            ["ingest_seq"],
        )
        run(
            TPL_FUNCTION,
            s["fn_nodes_internal"]
            .unionByName(s["fn_nodes_import"])
            .unionByName(s["fn_nodes_export"]),
            ["ingest_seq", "stage", "pos"],
        )
        run(TPL_STRING, s["str_items"].select("uid", "value", *order), order)
        run(
            TPL_LIBRARY,
            s["imp_items"].select(F.col("library").alias("name"), *order),
            order,
        )
        run(
            TPL_CONTAINS,
            s["fn_items"].select(
                "binary_hash", F.col("uid").alias("function_uid"), *order
            ),
            order,
        )
        run(
            TPL_CONTAINS_STRING,
            s["str_items"].select(
                "binary_hash",
                F.col("uid").alias("string_uid"),
                # normalized-or-RAW (session.rs:368-371); missing → '' at
                # the importer call (importer.rs:227 unwrap_or(""))
                F.coalesce(
                    normalize_address("address"), F.col("address"), F.lit("")
                ).alias("address"),
                *order,
            ),
            order,
        )
        run(
            TPL_BELONGS_TO,
            s["imp_items"].select(
                F.col("uid").alias("function_uid"),
                F.col("library").alias("library_name"),
                *order,
            ),
            order,
        )
        run(
            TPL_IMPORTS_LIBRARY,
            s["imp_items"].select(
                "binary_hash", F.col("library").alias("library_name"), *order
            ),
            order,
        )
        run(
            TPL_IMPORTS,
            s["imp_items"].select(
                "binary_hash",
                F.col("uid").alias("function_uid"),
                F.col("iat_address").alias("address"),
                *order,
            ),
            order,
        )
        run(
            TPL_CALLS,
            s["calls_resolved"]
            .filter(F.col("src_uid").isNotNull() & F.col("dst_uid").isNotNull())
            .select(
                F.col("src_uid").alias("from_uid"),
                F.col("dst_uid").alias("to_uid"),
                "offset",
                "call_type",
                *order,
            ),
            order,
        )
        return out
    finally:
        # release the cached documents and the checkpointed address map,
        # so no cached plan outlives the import
        release(docs)
        release(s["addr_map"])
