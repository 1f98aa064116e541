"""Ingestion ETL (SURVEY.md §2.2 E1-E12): analysis JSON documents → graph
warehouse node/edge DataFrames.

The reference executes one Neo4j MERGE round-trip per node and edge
(/root/reference/src/neo4j/importer.rs:86-320 driven by
src/api/session.rs:19-258). Here the whole batch is a handful of
declarative transformations — Catalyst plans hash aggregations for the
dedups and broadcast joins for address resolution; throughput is bounded
by parquet scan speed, not round-trips.

MERGE semantics (reference quirks preserved):
- node upsert last-write-wins on key            (importer.rs:86-138)
- CALLS collapses parallel edges per (src,dst); last offset/type wins
                                                (importer.rs:299-304)
- IMPORTS keyed (binary,function); last IAT address wins (importer.rs:274-278)
- CONTAINS_STRING keyed (binary,string,address) — occurrences at distinct
  addresses are distinct edges                  (importer.rs:215-218)
- address→uid map precedence: imports overwrite internal functions;
  exports register only-if-absent               (session.rs:66-72,163-169,216-224)
- unresolved call edges are skipped and counted (session.rs:494-510)

"Last" is made deterministic with (ingest_seq, element position) — the
reference's in-order file iteration (SURVEY.md §7.3 #2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.addr import normalize_address
from ..functions.uid import function_uid, import_uid, library_uid, string_uid
from ..plans.lineage import release
from ..sources.json_source import (
    CALL_ITEM,
    EXPORT_ITEM,
    FUNCTION_ITEM,
    IMPORT_ITEM,
    STRING_ITEM,
)

# Rust Debug-format enum spellings stored by the reference
# (src/models/nodes.rs:5-24, src/models/relationships.rs:5-28).
_CALL_TYPES = {"direct": "Direct", "indirect": "Indirect", "virtual": "Virtual", "tail": "Tail"}


def classify_format(col):
    """BinaryFormat by substring match — PE is checked FIRST and is also
    the default (session.rs:296-305), so e.g. an "ELF PIE" type string
    classifies as PE exactly like the reference."""
    u = F.upper(col)
    return (
        F.when(u.contains("PE"), "PE")
        .when(u.contains("ELF"), "Elf")
        .when(u.contains("MACH"), "MachO")
        .otherwise("PE")
    )


def call_type_expr(col):
    """CallType parse: lowercase match, unknown → Direct (relationships.rs:5-28)."""
    low = F.lower(F.coalesce(col, F.lit("direct")))
    expr = (
        F.when(low == "indirect", "Indirect")
        .when(low == "virtual", "Virtual")
        .when(low == "tail", "Tail")
        .otherwise("Direct")
    )
    return expr


def _last_wins(df: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """Keep the row with the greatest (order_cols) per key — deterministic
    MERGE-SET last-write-wins (E9/E10)."""
    w = Window.partitionBy(*keys).orderBy(*[F.desc(c) for c in order_cols])
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


def _explode_items(docs: DataFrame, array_col: str, item_schema: str) -> DataFrame:
    """posexplode an array-of-raw-JSON column and parse each element.

    Keeps (binary_hash, ingest_seq, pos, item.*); bare-string elements
    surface with every struct field null and are handled by callers."""
    return (
        docs.select(
            "binary_hash",
            "ingest_seq",
            F.posexplode_outer(array_col).alias("pos", "_raw"),
        )
        .filter(F.col("_raw").isNotNull())
        .withColumn("_item", F.from_json("_raw", item_schema))
        .select("binary_hash", "ingest_seq", "pos", "_raw", "_item.*")
    )


def project_documents(docs: DataFrame) -> DataFrame:
    """E1: binary projection with permissive coalescing (session.rs:260-320)."""
    b = F.col("binary_info")
    return docs.select(
        F.coalesce(b["hashes"].getItem("sha256"), b["hashes"].getItem("SHA256")).alias("binary_hash"),
        F.coalesce(b["name"], b["filename"]).alias("filename"),
        F.coalesce(b["file_path"], F.lit("")).alias("file_path"),
        F.coalesce(b["file_size"], F.lit(0)).alias("file_size"),
        classify_format(F.coalesce(b["file_type"]["type"], F.lit(""))).alias("format"),
        F.coalesce(b["file_type"]["architecture"], F.lit("unknown")).alias("arch"),
        "functions",
        "strings",
        "imports",
        "exports",
        "calls",
        "ingest_seq",
    ).filter(F.col("binary_hash").isNotNull())


def item_streams(docs: DataFrame) -> dict[str, DataFrame]:
    """The CLIENT-SESSION entity streams (session.rs): every per-item
    row the reference computes client-side and hands to its importer's
    Cypher templates (importer.rs:86-320), BEFORE any MERGE collapse.

    These are both the building blocks of :func:`build_graph_tables`
    (which applies the MERGE/LWW collapse set-orientedly) and the
    parameter batches for the verbatim Cypher write replay
    (`cypher.cypher_write_batch`) — one source of truth for UID
    generation, address normalization, the per-file address→uid map and
    call resolution, so the two paths cannot drift.

    Keys: ``fn_items str_items imp_items exp_items exp_new
    fn_nodes_internal fn_nodes_import fn_nodes_export addr_map
    calls_resolved`` — each carries its (ingest_seq, pos) statement
    order; the fn_nodes_* streams carry the session's ``stage`` rank
    (functions=0, imports=1, exports=2) so unioning them reproduces the
    reference's within-file statement order exactly.  ``addr_map``
    comes back as an eager local checkpoint: the caller frees it with
    ``plans.lineage.release`` once the streams are consumed.
    """
    # ---------------------------------------------------------------- E2
    fn_items = _explode_items(docs, "functions", FUNCTION_ITEM).select(
        "binary_hash",
        "ingest_seq",
        "pos",
        F.coalesce(F.col("name"), F.lit("unknown")).alias("name"),
        F.coalesce(F.col("address"), F.lit("0x0")).alias("raw_address"),
        F.col("size"),
    )
    fn_items = fn_items.withColumn(
        "uid", function_uid("binary_hash", "raw_address")
    ).withColumn("norm_address", F.coalesce(normalize_address("raw_address"), F.lit("0x0")))

    fn_nodes_internal = fn_items.select(
        "uid",
        "name",
        F.lit("Internal").alias("type"),
        F.col("norm_address").alias("address"),
        F.coalesce(F.col("size"), F.lit(-1)).alias("size"),  # sentinel, importer.rs:131-133
        "binary_hash",
        "ingest_seq",
        F.lit(0).alias("stage"),
        "pos",
    )

    # ---------------------------------------------------------------- E3
    str_items = _explode_items(docs, "strings", STRING_ITEM)
    str_items = str_items.select(
        "binary_hash",
        "ingest_seq",
        "pos",
        # object item → parsed value; bare-string item → the raw text itself
        F.coalesce(
            F.col("value"),
            F.when(~F.trim("_raw").startswith("{"), F.col("_raw")),
        ).alias("value"),
        F.col("address"),
    ).filter(F.col("value").isNotNull())
    str_items = str_items.withColumn("value", F.regexp_replace("value", "\x00+$", "")).withColumn(
        "uid", string_uid("value")
    )

    # ---------------------------------------------------------------- E5
    imp_items = _explode_items(docs, "imports", IMPORT_ITEM).filter(
        F.col("name").isNotNull() & F.col("library").isNotNull()
    )
    imp_items = imp_items.select(
        "binary_hash",
        "ingest_seq",
        "pos",
        "name",
        library_uid("library").alias("library"),
        F.coalesce(F.col("address"), F.lit("0x0")).alias("raw_iat"),
    ).withColumn(
        # normalized-or-RAW, exactly session.rs:163-165 — an unparseable
        # IAT address is kept verbatim, not defaulted
        "iat_address",
        F.coalesce(normalize_address("raw_iat"), F.col("raw_iat")),
    ).withColumn("uid", import_uid("library", "name"))

    fn_nodes_import = imp_items.select(
        "uid",
        "name",
        F.lit("Import").alias("type"),
        F.lit("").alias("address"),  # import nodes carry no address; it lives on the IMPORTS edge
        F.lit(-1).cast("long").alias("size"),
        "binary_hash",
        "ingest_seq",
        F.lit(1).alias("stage"),
        "pos",
    )

    # ---------------------------------------------------------------- E6
    # exports with unparseable addresses are SKIPPED (error-collected),
    # not defaulted — session.rs:207-213
    exp_items = _explode_items(docs, "exports", EXPORT_ITEM).filter(
        F.col("name").isNotNull()
        & F.col("address").isNotNull()
        & normalize_address("address").isNotNull()
    )
    exp_items = exp_items.select(
        "binary_hash",
        "ingest_seq",
        "pos",
        "name",
        normalize_address("address").alias("norm_address"),
    ).withColumn("uid", function_uid("binary_hash", "norm_address"))
    # EVERY parseable export node is MERGEd (import_function always runs,
    # session.rs:226) — an Export at an internal function's address
    # OVERWRITES that node's name/type/size via last-write-wins below.
    fn_nodes_export = exp_items.select(
        "uid",
        "name",
        F.lit("Export").alias("type"),
        F.col("norm_address").alias("address"),
        F.lit(-1).cast("long").alias("size"),
        "binary_hash",
        "ingest_seq",
        F.lit(2).alias("stage"),
        "pos",
    )
    # the address→uid MAP entry, however, is only-if-absent
    # (session.rs:217-224): absent from every earlier key form OF THE
    # SAME FILE's map (the map is per-file — see addr_map below)
    prior_keys = (
        fn_items.select("binary_hash", "ingest_seq", F.col("raw_address").alias("norm_address"))
        .unionByName(fn_items.select("binary_hash", "ingest_seq", F.col("norm_address")))
        .unionByName(
            imp_items.select("binary_hash", "ingest_seq", F.col("raw_iat").alias("norm_address"))
        )
        .unionByName(
            imp_items.select("binary_hash", "ingest_seq", F.col("iat_address").alias("norm_address"))
        )
        .dropDuplicates()
    )
    exp_new = exp_items.join(prior_keys, ["binary_hash", "ingest_seq", "norm_address"], "left_anti")

    # ---------------------------------------------------------------- E7
    # address→uid map per binary; precedence imports > functions > exports
    # (imports overwrite, exports only-if-absent). Both raw and normalized
    # key forms for functions (session.rs:66-72).
    # The reference builds the map PER FILE being imported (session.rs:66-72:
    # a fresh session map per document) — so the map is scoped by
    # (binary_hash, ingest_seq): a duplicate binary_hash appearing in two
    # files of one batch resolves each file's calls against that file's OWN
    # entries, never an interleaved mix (ADVICE r1).
    def _arm(df: DataFrame, addr_col: str, prio: int) -> DataFrame:
        return df.select(
            "binary_hash",
            "ingest_seq",
            F.col(addr_col).alias("addr"),
            "uid",
            F.lit(prio).alias("prio"),
            "pos",
        )

    addr_map = (
        _arm(fn_items, "raw_address", 2)
        .unionByName(_arm(fn_items, "norm_address", 2))
        # imports insert BOTH the raw and normalized key forms
        # (session.rs:166-169), overwriting earlier function entries
        .unionByName(_arm(imp_items, "raw_iat", 3))
        .unionByName(_arm(imp_items, "iat_address", 3))
        .unionByName(_arm(exp_new, "norm_address", 1))
    )
    # materialized once: call resolution probes the map four times (norm
    # and raw key forms, for src and dst), and each lazy probe recomputed
    # the 5-way union, the prior_keys anti-join and the window (staging
    # calls took 18 jobs; over the checkpoint it takes 3)
    addr_map = (
        _last_wins(addr_map, ["binary_hash", "ingest_seq", "addr"], ["prio", "pos"])
        .select("binary_hash", "ingest_seq", "addr", "uid")
        .localCheckpoint(eager=True)
    )

    # ---------------------------------------------------------------- E8
    call_items = _explode_items(docs, "calls", CALL_ITEM).filter(
        F.col("from_address").isNotNull() & F.col("to_address").isNotNull()
    )
    call_items = (
        call_items.select(
            "binary_hash",
            "ingest_seq",
            "pos",
            "from_address",
            "to_address",
            F.coalesce(F.col("offset"), F.lit("0x0")).alias("offset"),  # stored RAW (session.rs:471-474)
            call_type_expr(F.col("type")).alias("call_type"),
        )
        .withColumn("from_norm", F.coalesce(normalize_address("from_address"), F.col("from_address")))
        .withColumn("to_norm", F.coalesce(normalize_address("to_address"), F.col("to_address")))
    )

    def resolve(df: DataFrame, norm_col: str, raw_col: str, out: str) -> DataFrame:
        m_norm = addr_map.select(
            F.col("binary_hash").alias("_mb"),
            F.col("ingest_seq").alias("_ms"),
            F.col("addr").alias("_ma"),
            F.col("uid").alias("_mu"),
        )
        m_raw = addr_map.select(
            F.col("binary_hash").alias("_rb"),
            F.col("ingest_seq").alias("_rs"),
            F.col("addr").alias("_ra"),
            F.col("uid").alias("_ru"),
        )
        # normalized form first, raw fallback (session.rs:487-492); each
        # call resolves against its OWN file's map (ingest_seq equality);
        # the map is dimension-sized per batch and materialized once
        # (checkpointed above) → all four probes broadcast its rows
        df = df.join(
            F.broadcast(m_norm),
            (F.col("binary_hash") == F.col("_mb"))
            & (F.col("ingest_seq") == F.col("_ms"))
            & (F.col(norm_col) == F.col("_ma")),
            "left",
        ).drop("_mb", "_ms", "_ma")
        df = df.join(
            F.broadcast(m_raw),
            (F.col("binary_hash") == F.col("_rb"))
            & (F.col("ingest_seq") == F.col("_rs"))
            & (F.col(raw_col) == F.col("_ra")),
            "left",
        ).drop("_rb", "_rs", "_ra")
        return df.withColumn(out, F.coalesce("_mu", "_ru")).drop("_mu", "_ru")

    resolved = resolve(call_items, "from_norm", "from_address", "src_uid")
    resolved = resolve(resolved, "to_norm", "to_address", "dst_uid")

    return {
        "fn_items": fn_items,
        "str_items": str_items,
        "imp_items": imp_items,
        "exp_items": exp_items,
        "exp_new": exp_new,
        "fn_nodes_internal": fn_nodes_internal,
        "fn_nodes_import": fn_nodes_import,
        "fn_nodes_export": fn_nodes_export,
        "addr_map": addr_map,
        "calls_resolved": resolved,
    }


class GraphTables(dict):
    """The tables :func:`build_graph_tables` returns, keyed by name, plus
    the ``held`` frames several of them read (the cached documents and
    the checkpointed address map).  Consume the tables in a ``with``
    block: leaving it releases those frames, so no cached plan outlives
    the ingest, and the lazy tables cannot be read after it."""

    def __init__(self, tables: dict[str, DataFrame], held: list[DataFrame]):
        super().__init__(tables)
        self.held = held

    def __enter__(self) -> GraphTables:
        return self

    def __exit__(self, *exc) -> None:
        for df in self.held:
            release(df)


def build_graph_tables(docs_raw: DataFrame, *, parallel_calls: bool = False) -> GraphTables:
    """Full batch ETL: documents → the 4 node + 6 edge tables + stats.

    Returns a :class:`GraphTables` with keys: binaries functions strings
    libraries contains imports imports_library belongs_to calls
    contains_string import_stats.

    ``parallel_calls=True`` keys CALLS by (src, dst, offset) instead of
    the reference's pair-collapse — preserving one edge per call SITE so
    call-frequency aggregations (G8/A4) count real call sites. Richer
    than the reference; off by default for parity (SURVEY.md §7.3 #7).
    """
    docs = project_documents(docs_raw)
    # The per-binary arrays are re-visited by several branches below —
    # cache the projected documents once (at scale: this is the raw input
    # partitioned by file, no shuffle yet).
    docs.cache()

    order = ["ingest_seq", "pos"]
    s = item_streams(docs)
    fn_items, str_items, imp_items = s["fn_items"], s["str_items"], s["imp_items"]

    # ---------------------------------------------------------------- E1
    binaries = _last_wins(
        docs.select("binary_hash", "filename", "file_path", "file_size", "format", "arch", "ingest_seq"),
        ["binary_hash"],
        ["ingest_seq"],
    ).select(F.col("binary_hash").alias("hash"), "filename", "file_path", "file_size", "format", "arch")

    contains = fn_items.select("binary_hash", F.col("uid").alias("function_uid")).dropDuplicates()

    strings = str_items.select("uid", "value").dropDuplicates(["uid"])  # E11
    contains_string = str_items.select(
        "binary_hash",
        F.col("uid").alias("string_uid"),
        # normalized-or-RAW (session.rs:368-371); missing → '' sentinel
        # at the MERGE (importer.rs:227)
        F.coalesce(normalize_address("address"), F.col("address"), F.lit("")).alias("address"),
    ).dropDuplicates()  # triple key: occurrences at distinct addresses kept

    libraries = imp_items.select(F.col("library").alias("name")).dropDuplicates()  # E4
    belongs_to = imp_items.select(
        F.col("uid").alias("function_uid"), F.col("library").alias("library_name")
    ).dropDuplicates()
    imports_library = imp_items.select(
        "binary_hash", F.col("library").alias("library_name")
    ).dropDuplicates()
    imports_edges = _last_wins(
        imp_items.select(
            "binary_hash", F.col("uid").alias("function_uid"), F.col("iat_address").alias("address"),
            "ingest_seq", "pos",
        ),
        ["binary_hash", "function_uid"],
        order,
    ).select("binary_hash", "function_uid", "address")

    # function node upsert across Internal ∪ Import ∪ Export (E9):
    # precedence is pure last-write-wins in (file, stage, item) order —
    # the reference MERGEs functions, then imports, then exports within
    # one file; the streams carry that stage rank.
    functions = _last_wins(
        s["fn_nodes_internal"]
        .unionByName(s["fn_nodes_import"])
        .unionByName(s["fn_nodes_export"]),
        ["uid"],
        ["ingest_seq", "stage", "pos"],
    ).select("uid", "name", "type", "address", "size")

    resolved = s["calls_resolved"]
    ok = resolved.filter(F.col("src_uid").isNotNull() & F.col("dst_uid").isNotNull())
    call_key = ["src_uid", "dst_uid", "offset"] if parallel_calls else ["src_uid", "dst_uid"]
    calls = _last_wins(ok, call_key, order).select(
        "src_uid", "dst_uid", "offset", "call_type"
    )

    # ------------------------------------------------------------ A6 stats
    import_stats = (
        resolved.groupBy("binary_hash")
        .agg(
            F.count(F.lit(1)).alias("calls_total"),
            F.sum(
                F.when(F.col("src_uid").isNull() | F.col("dst_uid").isNull(), 1).otherwise(0)
            ).alias("calls_skipped"),
        )
    )

    return GraphTables(
        {
            "binaries": binaries,
            "functions": functions,
            "strings": strings,
            "libraries": libraries,
            "contains": contains,
            "imports": imports_edges,
            "imports_library": imports_library,
            "belongs_to": belongs_to,
            "calls": calls,
            "contains_string": contains_string,
            "import_stats": import_stats,
        },
        [docs, s["addr_map"]],
    )
