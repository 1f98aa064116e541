"""Oracle-checked ingest ETL (SURVEY.md §2.2): run the full JSON →
graph-warehouse pipeline on the deterministic micro-graph fixture and
compare the resulting node/edge tables against hand-computed expected rows
(static VALUES oracles).

The Spark side genuinely executes the whole E1-E12 dataflow — JSON scan,
permissive projection, UID generation, address-map resolution, MERGE
dedup — so any regression in those operators breaks the value hash.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures.micro_graph import (
    HASH_A,
    HASH_B,
    UID_CREATEFILE,
    UID_EXPORTED_A,
    UID_HELPER_A,
    UID_MAIN_A,
    UID_MAIN_B,
    UID_WORKER_A,
    write_fixture,
)
from ..operators.ingest import build_graph_tables
from ..registry import register
from ..sources.json_source import read_analysis_json
from ._harness import function_rows, phase_rows, scratch_root, snap

_CACHE: dict[str, dict[str, DataFrame]] = {}

_FIXTURE_TABLES = [
    "binaries", "functions", "strings", "libraries", "contains", "imports",
    "imports_library", "belongs_to", "calls", "contains_string", "import_stats",
]


def _fixture_version() -> str:
    """Content hash of the fixture + ingest implementation — the ETL
    output is a pure function of these, so a disk cache keyed by this
    hash is always coherent."""
    import hashlib

    import binaryx_graph_spark.fixtures.micro_graph as mg
    import binaryx_graph_spark.operators.ingest as ing
    import binaryx_graph_spark.sources.json_source as js

    h = hashlib.sha256()
    for mod in (mg, ing, js):
        h.update(Path(mod.__file__).read_bytes())
    return h.hexdigest()[:16]


def graph_tables(spark: SparkSession) -> dict[str, DataFrame]:
    """Micro-graph fixture as warehouse tables. First build per MACHINE
    runs the real JSON→ETL pipeline and persists parquet to a
    content-addressed /tmp cache; later sessions (e.g. the driver
    running each gate query in a fresh session) reload in ~0.5s instead
    of re-running the multi-job ingest."""
    key = str(id(spark))
    if key in _CACHE:
        return _CACHE[key]

    root = Path(tempfile.gettempdir()) / f"bxg_fixture_wh_{_fixture_version()}"
    if not root.exists():
        docs_dir = tempfile.mkdtemp(prefix="bxg_fixture_")
        docs = read_analysis_json(spark, write_fixture(docs_dir))
        stage = Path(tempfile.mkdtemp(prefix="bxg_fixture_stage_"))
        with build_graph_tables(docs) as tables:
            for name in _FIXTURE_TABLES:
                tables[name].coalesce(1).write.mode("overwrite").parquet(str(stage / name))
        try:
            os.rename(stage, root)  # atomic publish
        except OSError:
            shutil.rmtree(stage)  # lost the race: the winner's copy is the cache
        shutil.rmtree(docs_dir)
    _CACHE[key] = {
        name: spark.read.parquet(str(root / name)).cache() for name in _FIXTURE_TABLES
    }
    return _CACHE[key]


@register(
    "ingest_function_nodes",
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
    tags=("ingest",),
)
def ingest_function_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2/E5/E6/E9: function-node upsert across Internal ∪ Import ∪ Export
    with per-binary and global UID scopes."""
    return graph_tables(spark)["functions"].orderBy("uid")


@register(
    "ingest_call_edges",
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
    tags=("ingest",),
)
def ingest_call_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7/E8: address-map resolution (imports>functions>exports precedence,
    normalized-then-raw fallback) + CALLS pair-collapse MERGE; unresolved
    rows skipped."""
    return graph_tables(spark)["calls"].orderBy("src_uid", "dst_uid")


@register(
    "ingest_string_nodes",
    oracle="""
    SELECT 'str:' || sha256(v) AS uid, v AS value
    FROM (VALUES ('Pay Bitcoin'), ('hello'), ('barestr')) AS t(v)
    ORDER BY uid
    """,
    tags=("ingest",),
)
def ingest_string_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3/E11: NUL-trim + sha256 string UIDs, object-or-bare-string items,
    global dedup across binaries."""
    return graph_tables(spark)["strings"].orderBy("uid")


@register(
    "ingest_merge_last_write_wins",
    oracle=f"""
    SELECT * FROM (VALUES
      ('{HASH_A}', 'mal_a_v2.exe', CAST(8192 AS BIGINT)),
      ('{HASH_B}', 'mal_b.elf',    CAST(2048 AS BIGINT))
    ) AS t(hash, filename, file_size)
    ORDER BY hash
    """,
    tags=("ingest",),
)
def ingest_merge_last_write_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9/S6: warehouse MERGE across two batches — re-importing binary A
    with a changed filename/size must overwrite (last write wins,
    importer.rs:86-138) while binary B is untouched. Runs the REAL
    parquet warehouse merge path, not just the in-batch dedup."""
    import copy
    import json

    from ..fixtures.micro_graph import DOC_A
    from ..sources.warehouse import Warehouse

    _NODE_TABLES = ["binaries", "functions", "strings", "libraries"]
    key = f"merge_{id(spark)}"
    if key not in _CACHE:
        root = Path(scratch_root(sf_dir, "bxg_merge_scratch"))
        wh = Warehouse(spark, str(root / "wh"))
        # no initialize(): merge_batch creates tables on first write,
        # skipping 10 empty-table write jobs
        batch1 = graph_tables(spark)
        wh.merge_batch({k: batch1[k] for k in _NODE_TABLES}, batch_seq=1)

        doc_a2 = copy.deepcopy(DOC_A)
        doc_a2["binary_info"]["name"] = "mal_a_v2.exe"
        doc_a2["binary_info"]["file_size"] = 8192
        d2 = root / "in2"
        d2.mkdir()
        (d2 / "a2.json").write_text(json.dumps(doc_a2))
        docs2 = read_analysis_json(spark, str(d2))
        with build_graph_tables(docs2) as batch2:
            wh.merge_batch({k: batch2[k] for k in _NODE_TABLES}, batch_seq=2)
        _CACHE[key] = {"binaries": wh.read("binaries").cache()}
    return (
        _CACHE[key]["binaries"]
        .select("hash", "filename", "file_size")
        .orderBy("hash")
    )


@register(
    "python_datasource_functions",
    oracle=f"""
    SELECT * FROM (VALUES
      ('{HASH_A}', 'main',   '0x401000', CAST(256 AS BIGINT),  'a.json'),
      ('{HASH_A}', 'helper', '4198656',  CAST(128 AS BIGINT),  'a.json'),
      ('{HASH_A}', 'worker', '4198912',  CAST(NULL AS BIGINT), 'a.json'),
      ('{HASH_B}', 'main',   '0x401000', CAST(64 AS BIGINT),   'b.json')
    ) AS t(binary_hash, fn_name, address, size, source_file)
    ORDER BY binary_hash, fn_name
    """,
    tags=("ingest", "source"),
)
def python_datasource_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family extension: the fixture read through a Spark 4 PYTHON
    DATASOURCE (pyspark.sql.datasource) — file-granular partition
    planning on the driver, executor-side Python parsing, raw function
    rows verbatim.  Pins the custom-source machinery end-to-end
    (registration, partition planning, Arrow row transport) against a
    static oracle."""
    from ..sources.pyds import register_analysis_datasource

    register_analysis_datasource(spark)
    d = write_fixture(scratch_root(sf_dir, "bxg_pyds_scratch"))
    return (
        spark.read.format("analysis_json_py")
        .option("path", d)
        .load()
        .orderBy("binary_hash", "fn_name")
    )


@register(
    "python_datasource_stream",
    oracle="""
    SELECT CAST(i % 7 AS BIGINT) AS user_id,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum((i * 37) % 1000) AS BIGINT) AS total_cents
    FROM range(0, 60) t(i)
    GROUP BY 1
    ORDER BY user_id
    """,
    tags=("ingest", "source", "streaming"),
)
def python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family extension: a pure-Python STREAMING source (Spark 4
    SimpleDataSourceStreamReader) drained to a parquet file sink with a
    persistent checkpoint — restarted availableNow runs resume from the
    committed offset (each run consumes the next prefetched batch), so
    the loop pins the offset/commit/replay contract end-to-end:
    exactly-once delivery of the full bounded feed across restarts,
    aggregated and checked against the feed formula replayed in SQL."""
    from ..sources.pyds import register_event_feed_datasource

    register_event_feed_datasource(spark)
    base = scratch_root(sf_dir, "bxg_pyfeed_scratch")
    out, ckpt = f"{base}/out", f"{base}/ckpt"
    prev = -1
    for _ in range(12):  # bounded restart loop; stops when no progress
        q = (
            spark.readStream.format("event_feed_py")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n = spark.read.parquet(out).count() if Path(out).exists() else 0
        if n == prev:
            break
        prev = n
    return (
        spark.read.parquet(out)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("amount_cents").alias("total_cents"),
        )
        .orderBy("user_id")
    )


@register(
    "ingest_import_stats",
    oracle="""
    SELECT * FROM (VALUES
      ('mal_a.exe', CAST(6 AS BIGINT), CAST(1 AS BIGINT))
    ) AS t(filename, calls_total, calls_skipped)
    """,
    tags=("ingest", "agg"),
)
def ingest_import_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: per-binary import-statistics accumulation — total call rows
    seen and rows skipped for unresolved endpoints (the counters the
    reference CLI prints per imported file).  mal_a.exe carries 6 call
    rows, 1 unresolvable (`0x999999` maps to no function); mal_b.elf
    has none and produces no row, like the reference's empty-file
    accumulator."""
    t = graph_tables(spark)
    stats = t["import_stats"]
    bins = t["binaries"].select(
        F.col("hash").alias("binary_hash"), "filename"
    )
    return (
        stats.join(F.broadcast(bins), "binary_hash")
        .select(
            "filename",
            F.col("calls_total").cast("long"),
            F.col("calls_skipped").cast("long"),
        )
        .orderBy("filename")
    )


@register(
    "warehouse_lifecycle_counts",
    oracle="""
    SELECT * FROM (VALUES
      ('1_init',  'binaries', CAST(0 AS BIGINT)), ('1_init', 'calls', CAST(0 AS BIGINT)),
      ('1_init',  'functions', CAST(0 AS BIGINT)), ('1_init', 'strings', CAST(0 AS BIGINT)),
      ('2_chunked_merge', 'binaries', CAST(2 AS BIGINT)), ('2_chunked_merge', 'calls', CAST(5 AS BIGINT)),
      ('2_chunked_merge', 'functions', CAST(6 AS BIGINT)), ('2_chunked_merge', 'strings', CAST(3 AS BIGINT)),
      ('3_clear', 'binaries', CAST(0 AS BIGINT)), ('3_clear', 'calls', CAST(0 AS BIGINT)),
      ('3_clear', 'functions', CAST(0 AS BIGINT)), ('3_clear', 'strings', CAST(0 AS BIGINT))
    ) AS t(phase, tbl, n)
    ORDER BY phase, tbl
    """,
    tags=("ingest", "warehouse"),
)
def warehouse_lifecycle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S6/E12 as one data-plane gate: schema INIT (empty typed
    tables), CHUNKED import (one analysis file per batch, successive
    batch_seq MERGEs — the --chunk-size path), then CLEAR (drop +
    recreate).  Counts per phase must be exactly the fixture's merge
    result — chunked == single-batch, proving the MERGE keys make
    batching invisible — and return to zero after clear."""
    from ..sources.warehouse import Warehouse

    root = scratch_root(sf_dir, "bxg_lifecycle_scratch")
    wh = Warehouse(spark, f"{root}/wh")
    wh.initialize()
    watched = ["binaries", "functions", "strings", "calls"]

    def phase(name: str) -> list[tuple]:
        return [(name, t, wh.read(t).count()) for t in watched]

    rows = phase("1_init")
    fixture_dir = Path(write_fixture(f"{root}/in"))
    # E12: one JSON file per chunk, ascending batch_seq — the CLI's
    # --chunk-size=1 execution shape
    for seq, f in enumerate(sorted(fixture_dir.glob("*.json")), start=1):
        docs = read_analysis_json(spark, str(f))
        # merge only the watched tables: same chunked-MERGE semantics,
        # 60% fewer parquet write jobs in the gate
        with build_graph_tables(docs) as tables:
            wh.merge_batch(
                {k: v for k, v in tables.items() if k in watched}, batch_seq=seq
            )
    rows += phase("2_chunked_merge")
    wh.clear()
    rows += phase("3_clear")
    return spark.createDataFrame(
        rows, "phase string, tbl string, n long"
    ).orderBy("phase", "tbl")


@register(
    "display_escape_truncate",
    oracle="""
    SELECT doc_id,
           CASE WHEN length(esc) > 60 THEN substr(esc, 1, 60) || '...'
                ELSE esc END AS display
    FROM (
      SELECT doc_id,
             replace(replace(text, chr(10), '\\n'), chr(13), '\\r') AS esc
      FROM documents
    )
    ORDER BY doc_id
    LIMIT 100
    """,
    tags=("scalar", "presentation"),
)
def display_escape_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/C9 as a data-plane Column kernel: the reference's table-output
    transform — escape newlines/CRs, truncate to 60 chars + '...'
    (query.rs:230-236) — applied to the documents corpus (every row
    exercises the truncate arm).  Twin of the CLI's driver-side
    ``_truncate_for_table``, which stays pinned to this semantics by
    tests."""
    from ..model import load_table

    docs = load_table(spark, sf_dir, "documents")
    esc = F.regexp_replace(
        F.regexp_replace(F.col("text"), "\n", r"\\n"), "\r", r"\\r"
    )
    display = F.when(
        F.length(esc) > 60, F.concat(F.substring(esc, 1, 60), F.lit("..."))
    ).otherwise(esc)
    return (
        docs.select("doc_id", display.alias("display"))
        .orderBy("doc_id")
        .limit(100)
    )


@register(
    "ingest_validation_errors",
    oracle="""
    SELECT * FROM (VALUES
      ('binary_info is required',                        CAST(2 AS BIGINT)),
      ('binary_info missing required field: file_path',  CAST(1 AS BIGINT)),
      ('binary_info missing required field: file_size',  CAST(1 AS BIGINT)),
      ('binary_info missing required field: file_type',  CAST(1 AS BIGINT)),
      ('binary_info missing required field: hashes',     CAST(1 AS BIGINT)),
      ('binary_info missing required field: name',       CAST(1 AS BIGINT)),
      ('binary_info must be an object',                  CAST(1 AS BIGINT)),
      ('exports must be an array',                       CAST(1 AS BIGINT)),
      ('functions must be an array',                     CAST(1 AS BIGINT)),
      ('imports must be an array',                       CAST(1 AS BIGINT)),
      ('strings must be an array',                       CAST(1 AS BIGINT))
    ) AS t(error, n)
    ORDER BY error
    """,
    tags=("ingest", "validation"),
)
def ingest_validation_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 direct gate: the reference's validate_data error catalog
    (src/api/client.rs:42-81) over a seeded batch — two valid docs plus
    MALFORMED_DOCS covering every branch (missing/non-object
    binary_info, each required subfield, each non-array section).
    Validation runs on the RAW JSON text (sources/json_source.py
    validate_raw_json), before schema-on-read coercion can mask type
    errors; the aggregate is one error-keyed shuffle over per-document
    error rows.  The valid docs contribute zero rows, pinning the
    no-false-positive side."""
    from ..fixtures.micro_graph import write_validation_fixture
    from ..sources.json_source import validate_raw_json

    d = write_validation_fixture(scratch_root(sf_dir, "bxg_validate_scratch"))
    errs = validate_raw_json(spark, d)
    return (
        errs.groupBy("error")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("error")
    )


@register(
    "ingest_validation_null_arrays",
    oracle="""
    SELECT * FROM (VALUES
      ('exports must be an array',   CAST(1 AS BIGINT)),
      ('functions must be an array', CAST(1 AS BIGINT)),
      ('imports must be an array',   CAST(1 AS BIGINT)),
      ('strings must be an array',   CAST(1 AS BIGINT))
    ) AS t(error, n)
    ORDER BY error
    """,
    tags=("ingest", "validation"),
)
def ingest_validation_null_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 edge-case gate (r5 ADVICE): the reference's Value::is_array
    check (src/api/client.rs:61-74) rejects explicit JSON nulls and
    string/boolean scalars in the four section fields — cases a
    leading-character probe misses because get_json_object returns SQL
    NULL for nulls and unquoted content for strings.  Fixture seeds one
    doc with ``functions: null, strings: null``, one string-typed
    exports, one boolean imports, one valid doc (zero rows), and the
    documented residual (string content ``"[1,2]"`` probes as an array
    → intentionally absent from the expected errors)."""
    from ..fixtures.micro_graph import write_validation_nulls_fixture
    from ..sources.json_source import validate_raw_json

    d = write_validation_nulls_fixture(scratch_root(sf_dir, "bxg_validate_n_scratch"))
    errs = validate_raw_json(spark, d)
    return (
        errs.groupBy("error")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("error")
    )


@register(
    "streaming_ingest_counts",
    oracle="""
    SELECT * FROM (VALUES
      ('1_stream', 'binaries',  CAST(2 AS BIGINT)), ('1_stream', 'calls',   CAST(5 AS BIGINT)),
      ('1_stream', 'functions', CAST(6 AS BIGINT)), ('1_stream', 'strings', CAST(3 AS BIGINT)),
      ('2_replay', 'binaries',  CAST(2 AS BIGINT)), ('2_replay', 'calls',   CAST(5 AS BIGINT)),
      ('2_replay', 'functions', CAST(6 AS BIGINT)), ('2_replay', 'strings', CAST(3 AS BIGINT))
    ) AS t(phase, tbl, n)
    ORDER BY phase, tbl
    """,
    tags=("ingest", "streaming", "warehouse"),
)
def streaming_ingest_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the reference's directory-batch import
    (src/commands/import.rs:106-233): the fixture's analysis JSON
    drained through readStream → foreachBatch MERGE with
    maxFilesPerTrigger=1 — one micro-batch per file, the streaming
    analog of --chunk-size=1 — then the WHOLE stream REPLAYED into the
    same warehouse.  Phase 1 counts must equal the one-shot batch
    ingest (micro-batching invisible: per-file dense-rank ingest_seq +
    keyed MERGE — the same additivity argument as the CDC dedup twin);
    phase 2 counts must be identical (idempotent upsert ⇒ at-least-once
    delivery has exactly-once effect).  Expected counts are the
    warehouse_lifecycle_counts '2_chunked_merge' phase."""
    from ..streaming.ingest_stream import stream_analysis_json

    watched = ("binaries", "functions", "strings", "calls")
    from ..sources.warehouse import Warehouse

    scratch = scratch_root(sf_dir, "bxg_sting_scratch")
    fixture = write_fixture(f"{scratch}/in")
    root = f"{scratch}/wh"

    rows: list[tuple] = []
    for phase in ("1_stream", "2_replay"):
        q = stream_analysis_json(
            spark, fixture, root,
            max_files_per_trigger=1, merge_tables=watched,
        )
        q.awaitTermination()
        wh = Warehouse(spark, root)
        rows += [(phase, t, wh.read(t).count()) for t in watched]
    return spark.createDataFrame(
        rows, "phase string, tbl string, n long"
    ).orderBy("phase", "tbl")


@register(
    "warehouse_compaction_certified",
    oracle="""
    SELECT * FROM (
      SELECT 'calls' AS tbl, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(src * 1000 + dst) AS BIGINT) AS checksum
      FROM (SELECT DISTINCT o_orderkey % 500 AS src,
                   (o_custkey * 13) % 500 AS dst FROM orders)
      UNION ALL
      SELECT 'functions', CAST(count(*) AS BIGINT),
             CAST(sum(o_orderkey % 997) AS BIGINT)
      FROM orders
    ) t
    ORDER BY tbl
    """,
    tags=("warehouse", "layout", "scale"),
)
def warehouse_compaction_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse maintenance lever #4 (after z-order, bucketing, hive
    partitioning): small-file COMPACTION, certified INSIDE the gate.
    Four successive MERGE batches (the chunked/streaming ingest shape —
    each rewrites the table into up to shuffle-partitions tiny files),
    then ``Warehouse.optimize`` rewrites every table toward the target
    file size PRESERVING the merge-key hash distribution — at 100 TB the
    task count and namenode pressure of every later scan are bounded by
    file count, so a merge-heavy table decays without this lever.

    The query RAISES unless (a) compaction strictly reduced the file
    count of every watched table and (b) the result is within the
    size-derived bound — and returns per-table row counts + exact
    integer checksums the oracle replays from `orders`, so a green row
    certifies the rewrite changed LAYOUT ONLY: same rows, same values,
    fewer files (reference parity: Neo4j's store compaction is implicit;
    schema.rs:13-76 constraints are the dedup invariants optimize must
    preserve, enforced here by the key-hash repartition)."""
    from ..model import load_table
    from ..sources.warehouse import Warehouse

    root = scratch_root(sf_dir, "bxg_compact_scratch")
    wh = Warehouse(spark, root)

    orders = load_table(spark, sf_dir, "orders")
    fns = function_rows(orders, F.col("o_orderkey") % 997)
    calls = orders.select(
        (F.col("o_orderkey") % 500).cast("string").alias("src_uid"),
        ((F.col("o_custkey") * 13) % 500).cast("string").alias("dst_uid"),
        F.lit("").alias("offset"),
        F.lit("Direct").alias("call_type"),
    )
    for seq in range(4):  # chunked-merge shape: 4 rewrites, tiny files each
        batch = F.col("o_orderkey") % 4 == seq
        wh.merge_batch(
            {
                "functions": fns.filter(batch),
                "calls": calls.filter(batch),
            },
            batch_seq=seq + 1,
        )

    # At gate scale AQE coalesces each merge write to ~1 file, so the
    # small-file decay a 100 TB warehouse suffers (every merge emits a
    # file per shuffle partition) never materializes — recreate it
    # explicitly: fragment each live table to 48 files, the state a few
    # merge rounds leave behind on a real cluster.  optimize() must undo
    # exactly this without changing a single value.
    watched = ("functions", "calls")
    for t in watched:
        tmp_frag = os.path.join(root, f"_{t}_frag")
        wh.read(t).repartition(48).write.mode("overwrite").parquet(tmp_frag)
        shutil.rmtree(os.path.join(root, t))
        os.rename(tmp_frag, os.path.join(root, t))
        # the hand-fragmented directory replaces the manifested state —
        # drop the table's manifests so it reads as a legacy flat dir
        # (optimize adopts it, then compacts through the protocol)
        shutil.rmtree(os.path.join(root, "_manifests", t), ignore_errors=True)
    before = {
        t: len([f for f in (Path(root) / t).glob("part-*") if f.is_file()])
        for t in watched
    }
    res = wh.optimize(target_bytes=128 * 1024 * 1024)
    for t in watched:
        b, a = res.get(t, (before[t], before[t]))
        # size-derived bound: these tables are far under one 128 MB
        # target file even at sf1, so ceil(size/target) == 1; allow
        # a small slack for parquet's per-task file minimum
        if not (before[t] >= 40 and a < before[t] and a <= 4):
            raise AssertionError(
                f"compaction did not certify for {t}: files {before[t]} -> {a}"
            )

    edges = wh.read("calls").withColumn(
        "edge", F.col("src_uid").cast("long") * 1000 + F.col("dst_uid").cast("long")
    )
    return spark.createDataFrame(
        [("calls", *snap(edges, "edge")), ("functions", *snap(wh.read("functions")))],
        "tbl string, n long, checksum long",
    ).orderBy("tbl")


@register(
    "warehouse_time_travel_certified",
    oracle="""
    WITH b1 AS (
      SELECT o_orderkey AS k, o_orderkey % 997 AS sz FROM orders
      WHERE o_orderkey % 2 = 0
    ),
    live AS (
      SELECT k, CASE WHEN k % 3 = 0 THEN k % 991 ELSE k % 997 END AS sz
      FROM (SELECT o_orderkey AS k FROM orders
            WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0) t
    )
    SELECT * FROM (
      SELECT '1_live_after_merge2' AS phase, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(sz) AS BIGINT) AS checksum FROM live
      UNION ALL
      SELECT '2_snapshot_v1', CAST(count(*) AS BIGINT), CAST(sum(sz) AS BIGINT) FROM b1
      UNION ALL
      SELECT '3_live_after_rollback', CAST(count(*) AS BIGINT), CAST(sum(sz) AS BIGINT) FROM b1
      UNION ALL
      SELECT '4_versions_after_vacuum', CAST(3 AS BIGINT), CAST(0 AS BIGINT)
    ) t ORDER BY phase
    """,
    tags=("warehouse", "layout"),
)
def warehouse_time_travel_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse maintenance lever #5: MANIFEST VERSIONING on FLAT
    tables / TIME TRAVEL / ROLLBACK / VACUUM, certified INSIDE the gate
    (the compaction-row pattern).  Flat tables commit through the SAME
    manifest protocol as bucketed ones (r9 unification — one
    object-store-safe protocol, no POSIX directory renames): a freshly
    initialized table is v0, a manifest listing no files, and each MERGE
    publishes a manifest over new immutable root files.  Two MERGE
    commits at data scale (batch 2 last-write-wins over the overlap
    keys), then the query pins, via counts + exact integer checksums
    the oracle replays from `orders`:

    - the LIVE state after both commits (LWW result),
    - ``read(version=1)`` — the batch-1 state, byte-stable after later
      commits (time travel over shared immutable files),
    - the live state after ``rollback(1)`` — a PURE-METADATA commit
      (RAISES if any data byte under the table dir changed),
    - and RAISES unless ``vacuum(keep_last=2)`` leaves exactly versions
      [1, 2, 3] readable AND the files on disk are exactly the union of
      the retained manifests' file lists.

    Reference parity: the reference has no time travel (Neo4j store =
    one mutable state); this is the table-format-lite contract
    (Delta/Iceberg read-at-version, rollback-as-commit, vacuum) a
    100 TB warehouse needs for reproducible training snapshots."""
    from ..model import load_table
    from ..sources.warehouse import Warehouse

    root = scratch_root(sf_dir, "bxg_timetravel_scratch")
    wh = Warehouse(spark, root)
    wh.initialize()  # v0 manifests: the merges below commit v1 and v2

    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    wh.merge_batch(
        {"functions": function_rows(orders.filter(k % 2 == 0), k % 997)}, batch_seq=1
    )
    wh.merge_batch(
        {"functions": function_rows(orders.filter(k % 3 == 0), k % 991)}, batch_seq=2
    )

    live_n, live_c = snap(wh.read("functions"))
    v1_n, v1_c = snap(wh.read("functions", version=1))

    # rollback on a flat table: pure metadata — zero data bytes move
    table_dir = Path(root) / "functions"
    data_before = {
        str(p): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in table_dir.glob("part-*")
        if p.is_file()
    }
    wh.rollback("functions", 1)
    data_after = {
        str(p): (p.stat().st_size, p.stat().st_mtime_ns)
        for p in table_dir.glob("part-*")
        if p.is_file()
    }
    if data_after != data_before:
        raise AssertionError("flat rollback moved data bytes; must be manifest-only")
    rb_n, rb_c = snap(wh.read("functions"))

    wh.vacuum(keep_last=2)
    vs = wh.versions("functions")
    if vs != [1, 2, 3]:
        raise AssertionError(f"vacuum horizon wrong: versions {vs} != [1, 2, 3]")
    # precise reachable set: disk == union of retained flat manifests
    reach = set()
    for v in vs:
        reach |= set(wh._manifest("functions", v)["files"])
    on_disk = {
        p.name for p in table_dir.glob("part-*") if p.is_file()
    }
    if on_disk != reach:
        raise AssertionError(
            f"vacuum reachable-set mismatch: {len(on_disk - reach)} orphans, "
            f"{len(reach - on_disk)} missing"
        )
    return phase_rows(
        spark,
        [
            ("1_live_after_merge2", live_n, live_c),
            ("2_snapshot_v1", v1_n, v1_c),
            ("3_live_after_rollback", rb_n, rb_c),
            ("4_versions_after_vacuum", len(vs), 0),
        ],
    )


@register(
    "warehouse_incremental_merge_certified",
    oracle="""
    SELECT * FROM (
      SELECT '1_after_base' AS phase, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(o_orderkey % 997) AS BIGINT) AS checksum
      FROM orders
      UNION ALL
      SELECT '2_after_increment', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN o_orderkey % 9973 = 0
                           THEN o_orderkey % 991
                           ELSE o_orderkey % 997 END) AS BIGINT)
      FROM orders
    ) t ORDER BY phase
    """,
    tags=("warehouse", "layout", "scale"),
)
def warehouse_incremental_merge_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse maintenance lever #6 — INCREMENTAL MERGE, the scale
    fix for the whole-table-rewrite commit: `merge_batch` costs
    O(table) per commit, so a stream of small batches is quadratic in
    total at 100 TB; `merge_batch_incremental` hive-partitions the
    table by a 64-way key-bucket hash and rewrites ONLY the buckets the
    batch touches (partition pruning skips the rest on read; bucket-dir
    swaps skip them on write).

    Certified INSIDE the gate, two ways: (a) the query RAISES unless
    every parquet file in every UNTOUCHED bucket is byte-stable across
    the incremental commit — same file set, same sizes, same mtimes —
    and at least one bucket was untouched (the batch is 1-16 keys
    across the gate SFs, far under the 64 buckets; the guard makes the
    certificate loud if the batch ever covers all);
    (b) the returned counts + integer checksums replay in DuckDB from
    `orders` — the LWW result equals the full-rewrite semantics (keys
    ≡ 0 mod 9973 get the batch's size, everything else keeps the base's).
    Per-bucket LWW == global LWW because the bucket is a function of
    the merge key."""
    from ..model import load_table
    from ..sources.warehouse import Warehouse

    root = scratch_root(sf_dir, "bxg_incmerge_scratch")
    wh = Warehouse(spark, root)

    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    wh.merge_batch_incremental({"functions": function_rows(orders, k % 997)}, batch_seq=1)
    base_n, base_c = snap(wh.read("functions"))

    table_dir = Path(root) / "functions"

    def stat_map():
        return {
            str(p): (p.stat().st_size, p.stat().st_mtime_ns)
            for p in table_dir.rglob("*")
            if p.is_file() and not p.name.startswith(("_SUCCESS", "."))
        }

    before = stat_map()
    touched = wh.merge_batch_incremental(
        {"functions": function_rows(orders.filter(k % 9973 == 0), k % 991)}, batch_seq=2
    )["functions"]
    after = stat_map()
    changed_dirs = {
        os.path.dirname(p)
        for p in (set(before) ^ set(after))
        | {p for p in before.keys() & after.keys() if before[p] != after[p]}
    }
    all_dirs = {os.path.dirname(p) for p in after}
    if len(changed_dirs) > touched or len(all_dirs) <= len(changed_dirs):
        raise AssertionError(
            f"incremental merge touched too much: {len(changed_dirs)} bucket dirs "
            f"changed, {touched} reported touched, {len(all_dirs)} total"
        )
    inc_n, inc_c = snap(wh.read("functions"))
    return phase_rows(
        spark, [("1_after_base", base_n, base_c), ("2_after_increment", inc_n, inc_c)]
    )


@register(
    "warehouse_manifest_time_travel_certified",
    oracle="""
    WITH c2 AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 9973 = 0 THEN o_orderkey % 991
                  ELSE o_orderkey % 997 END AS sz
      FROM orders
    ),
    c3 AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 7919 = 0 THEN o_orderkey % 983
                  WHEN o_orderkey % 9973 = 0 THEN o_orderkey % 991
                  ELSE o_orderkey % 997 END AS sz
      FROM orders
    )
    SELECT * FROM (
      SELECT '1_live_after_c3' AS phase, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(sz) AS BIGINT) AS checksum FROM c3
      UNION ALL
      SELECT '2_timetravel_base', CAST(count(*) AS BIGINT),
             CAST(sum(o_orderkey % 997) AS BIGINT) FROM orders
      UNION ALL
      SELECT '3_timetravel_c2', CAST(count(*) AS BIGINT), CAST(sum(sz) AS BIGINT) FROM c2
      UNION ALL
      SELECT '4_rollback_to_c2', CAST(count(*) AS BIGINT), CAST(sum(sz) AS BIGINT) FROM c2
      UNION ALL
      SELECT '5_recommit_equals_c3', CAST(count(*) AS BIGINT), CAST(sum(sz) AS BIGINT) FROM c3
      UNION ALL
      SELECT '6_versions_after_vacuum', CAST(3 AS BIGINT), CAST(0 AS BIGINT)
    ) t ORDER BY phase
    """,
    tags=("warehouse", "layout", "scale"),
)
def warehouse_manifest_time_travel_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse lever #7 — the COMMIT MANIFEST: incremental merge, time
    travel, and object-store safety as ONE mechanism, certified inside
    the gate.  Every ``merge_batch_incremental`` commit publishes a
    manifest (bucket→file-list + pinned bucket count) whose single
    atomic rename IS the commit; data files are immutable, so old and
    new versions share untouched buckets' files and every incremental
    commit is a time-travelable version at zero extra bytes
    (`sources/warehouse.py` module docstring — the Delta/Iceberg-lite
    protocol replacing r7's POSIX directory-rename commit).

    Three incremental commits at data scale (base, then two overlay
    batches), then the query RAISES unless:

    - **object-store safety**: across an incremental commit, NO
      pre-existing data file under the table directory is renamed,
      rewritten, or deleted (stat-map superset check: the commit only
      ADDS files), and exactly ONE new manifest file appears — the
      commit point;
    - **rollback is pure metadata**: ``rollback`` to the mid version
      changes ZERO bytes under the table directory (a new manifest
      repeating an old file list is the whole commit);
    - **rollback-then-recommit equivalence**: replaying the third
      batch after the rollback reproduces the third state exactly;
    - **vacuum's reachable set is precise**: after ``vacuum(keep_last=2)``
      the files on disk are EXACTLY the union of the retained
      manifests' file lists (orphans and expired versions gone), and
      reading an expired version raises.

    The returned counts + integer checksums replay in DuckDB from
    `orders`: live-after-c3, read(version=base), read(version=c2) —
    time travel ACROSS incremental commits, the capability r7's
    directory-snapshot versioning lost on the incremental path."""
    from ..model import load_table
    from ..sources.warehouse import Warehouse

    root = scratch_root(sf_dir, "bxg_manifest_scratch")
    wh = Warehouse(spark, root)

    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    table_dir = Path(root) / "functions"
    manifest_dir = Path(root) / "_manifests" / "functions"

    def stat_map(d):
        return {
            str(p): (p.stat().st_size, p.stat().st_mtime_ns)
            for p in d.rglob("*")
            if p.is_file()
        }

    wh.merge_batch_incremental({"functions": function_rows(orders, k % 997)}, batch_seq=1)
    v_base = wh.versions("functions")[-1]
    wh.merge_batch_incremental(
        {"functions": function_rows(orders.filter(k % 9973 == 0), k % 991)}, batch_seq=2
    )
    v_c2 = wh.versions("functions")[-1]

    # commit 3 under the stat microscope: immutable data files, one
    # new manifest = the commit
    data_before, man_before = stat_map(table_dir), stat_map(manifest_dir)
    c3 = function_rows(orders.filter(k % 7919 == 0), k % 983)
    wh.merge_batch_incremental({"functions": c3}, batch_seq=3)
    data_after, man_after = stat_map(table_dir), stat_map(manifest_dir)
    mutated = {p for p in data_before if data_after.get(p) != data_before[p]}
    if mutated:
        raise AssertionError(
            f"commit mutated/removed {len(mutated)} pre-existing data files: "
            f"{sorted(mutated)[:3]}"
        )
    new_manifests = set(man_after) - set(man_before)
    if len(new_manifests) != 1 or any(man_after.get(p) != man_before[p] for p in man_before):
        raise AssertionError(
            f"commit point not a single new manifest: +{sorted(new_manifests)}"
        )

    live_n, live_c = snap(wh.read("functions"))
    vb_n, vb_c = snap(wh.read("functions", version=v_base))
    v2_n, v2_c = snap(wh.read("functions", version=v_c2))

    # rollback: pure metadata — zero bytes change under the table dir
    data_before = stat_map(table_dir)
    wh.rollback("functions", v_c2)
    if stat_map(table_dir) != data_before:
        raise AssertionError("rollback moved data bytes; must be manifest-only")
    rb_n, rb_c = snap(wh.read("functions"))

    # recommit the third batch after the rollback → third state again
    wh.merge_batch_incremental({"functions": c3}, batch_seq=4)
    rc_n, rc_c = snap(wh.read("functions"))
    if (rc_n, rc_c) != (live_n, live_c):
        raise AssertionError(
            f"rollback-then-recommit diverged: {(rc_n, rc_c)} != {(live_n, live_c)}"
        )

    wh.vacuum(keep_last=2)
    vs = wh.versions("functions")
    if len(vs) != 3:
        raise AssertionError(f"vacuum horizon wrong: versions {vs}")
    # precise reachable set: disk == union of retained manifests
    reach = set()
    for v in vs:
        m = wh._manifest("functions", v)
        reach |= {
            f"_kb={b}/{fn}" for b, fs_ in m["buckets"].items() for fn in fs_
        }
    on_disk = {
        f"{p.parent.name}/{p.name}"
        for p in table_dir.glob("_kb=*/*")
        if p.is_file() and not p.name.startswith((".", "_"))
    }
    if on_disk != reach:
        raise AssertionError(
            f"vacuum reachable-set mismatch: {len(on_disk - reach)} orphans, "
            f"{len(reach - on_disk)} missing"
        )
    try:
        wh.read("functions", version=v_base)
        raise AssertionError("expired version still readable after vacuum")
    except FileNotFoundError:
        pass
    return phase_rows(
        spark,
        [
            ("1_live_after_c3", live_n, live_c),
            ("2_timetravel_base", vb_n, vb_c),
            ("3_timetravel_c2", v2_n, v2_c),
            ("4_rollback_to_c2", rb_n, rb_c),
            ("5_recommit_equals_c3", rc_n, rc_c),
            ("6_versions_after_vacuum", len(vs), 0),
        ],
    )


@register(
    "warehouse_concurrent_commit_certified",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_orderkey % 997 AS sz FROM orders
    )
    SELECT * FROM (
      SELECT '1_base' AS phase, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(sz) AS BIGINT) AS checksum FROM base
      UNION ALL
      SELECT '2_disjoint_serialized', CAST(count(*) + 2 AS BIGINT),
             CAST(sum(sz) + 333 AS BIGINT) FROM base
      UNION ALL
      SELECT '3_overlap_rejected', CAST(1 AS BIGINT), CAST(0 AS BIGINT)
      UNION ALL
      SELECT '4_final_live', CAST(count(*) + 3 AS BIGINT),
             CAST(sum(sz) + 834 AS BIGINT) FROM base
    ) t ORDER BY phase
    """,
    tags=("warehouse", "layout"),
)
def warehouse_concurrent_commit_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse lever #8 — OPTIMISTIC CONCURRENCY on the manifest
    commit, certified inside the gate.  The r8 protocol published
    manifests with ``os.replace``, which overwrites: two writers racing
    on one table would both "win" a version and one commit silently
    vanished.  The commit loop now publishes with an atomic
    create-if-absent (hard link; the object-store analog is one
    conditional PUT) and on conflict re-reads the head and REBASES when
    the loser's touched buckets are disjoint from every intervening
    commit's — Delta/Iceberg's commit loop on the same structure
    (`sources/warehouse.py:_commit_manifest/_rebase_buckets`).

    Two REAL interleaved `merge_batch_incremental` races at data scale
    (writer B is injected between writer A's merge work and A's
    manifest publish — the deterministic worst-case schedule), then the
    query RAISES unless:

    - **disjoint race serializes**: A touches bucket(a), B wins the
      race touching bucket(b) ≠ bucket(a); A's publish rebases onto B's
      head — BOTH rows are live (the lost-update the old protocol
      suffered is the pinned failure), and the versions are strictly
      serial;
    - **overlapping race rejects loudly**: both writers touch the SAME
      key; the loser raises ConcurrentCommitError (its merge was
      computed against stale content — rebasing would resurrect the
      lost update), the winner's value stays live, and the loser's
      staged files are invisible orphans;
    - the final live state replays exactly in DuckDB from `orders`.
    """
    from ..model import load_table
    from ..sources.warehouse import ConcurrentCommitError, Warehouse

    root = scratch_root(sf_dir, "bxg_concurrency_scratch")

    class Interleaved(Warehouse):
        """Runs an injected action (the other writer winning the race)
        after this writer's merge work but before its publish."""

        _inject = None

        def _commit_manifest(self, table, buckets=None, n_buckets=None, **kw):
            inj, self._inject = self._inject, None
            if inj is not None:
                inj()
            return super()._commit_manifest(table, buckets, n_buckets, **kw)

    a, b = Interleaved(spark, root), Warehouse(spark, root)
    orders = load_table(spark, sf_dir, "orders")
    base_fns = function_rows(orders, F.col("o_orderkey") % 997)

    def one(uid: str, size: int) -> DataFrame:
        return spark.createDataFrame(
            [(uid, f"fn_{uid}", "", size, "Internal")],
            "uid string, name string, address string, size long, type string",
        )

    def bucket_of(uid: str) -> int:
        return (
            spark.range(1)
            .select(
                F.pmod(F.xxhash64(F.lit(uid)), F.lit(Warehouse.N_KEY_BUCKETS))
                .cast("int")
                .alias("b")
            )
            .collect()[0]["b"]
        )

    b.merge_batch_incremental({"functions": base_fns}, batch_seq=1)
    base_n, base_c = snap(b.read("functions"))
    v_base = b.versions("functions")[-1]

    # --- disjoint race: A and B touch different buckets -> rebase
    ka = "A_1"
    ba = bucket_of(ka)
    kb = next(f"B_{j}" for j in range(1, 64) if bucket_of(f"B_{j}") != ba)
    a._inject = lambda: b.merge_batch_incremental(
        {"functions": one(kb, 222)}, batch_seq=2
    )
    a.merge_batch_incremental({"functions": one(ka, 111)}, batch_seq=3)
    vs = a.versions("functions")
    if vs[-3:] != [v_base, v_base + 1, v_base + 2]:
        raise AssertionError(f"race did not serialize: versions {vs}")
    got = {
        r["uid"]: r["size"]
        for r in a.read("functions").filter(F.col("uid").isin(ka, kb)).collect()
    }
    if got.get(ka) != 111:
        raise AssertionError("loser's commit was LOST instead of rebased")
    if got.get(kb) != 222:
        raise AssertionError("winner's commit was clobbered by the rebase")
    d_n, d_c = snap(a.read("functions"))

    # --- overlapping race: same key -> the loser must raise
    kc = "C_1"
    a._inject = lambda: b.merge_batch_incremental(
        {"functions": one(kc, 501)}, batch_seq=4
    )
    rejected = 0
    try:
        a.merge_batch_incremental({"functions": one(kc, 502)}, batch_seq=5)
    except ConcurrentCommitError:
        rejected = 1
    if not rejected:
        raise AssertionError("overlapping concurrent commit did not raise")
    crow = a.read("functions").filter(F.col("uid") == kc).collect()
    if len(crow) != 1 or crow[0]["size"] != 501:
        raise AssertionError("winner's value not live after the rejected race")
    f_n, f_c = snap(a.read("functions"))

    return phase_rows(
        spark,
        [
            ("1_base", base_n, base_c),
            ("2_disjoint_serialized", d_n, d_c),
            ("3_overlap_rejected", rejected, 0),
            ("4_final_live", f_n, f_c),
        ],
    )


@register(
    "warehouse_rebucket_certified",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_orderkey % 997 AS sz FROM orders
    ),
    live AS (
      SELECT k, CASE WHEN k % 3 = 0 THEN k % 991 ELSE k % 997 END AS sz
      FROM base
    )
    SELECT * FROM (
      SELECT '1_base' AS phase, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(sz) AS BIGINT) AS checksum FROM base
      UNION ALL
      SELECT '2_after_rebucket', CAST(count(*) AS BIGINT),
             CAST(sum(sz) AS BIGINT) FROM base
      UNION ALL
      SELECT '3_timetravel_old', CAST(count(*) AS BIGINT),
             CAST(sum(sz) AS BIGINT) FROM base
      UNION ALL
      SELECT '4_live_after_overlay', CAST(count(*) AS BIGINT),
             CAST(sum(sz) AS BIGINT) FROM live
    ) t ORDER BY phase
    """,
    tags=("warehouse", "layout"),
)
def warehouse_rebucket_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse lever #9 — REBUCKET, the B ∝ table-size lever,
    certified inside the gate.  SCALE.md addendum 42's cost law
    (write volume O(|batch| + k·table/B)) says the bucket count must
    grow with the table — a table that grew 100× past its birth-time
    modulus was previously stuck ("re-bucketing requires a full
    conversion").  ``rebucket(table, new_B)`` performs the one-time
    O(table) re-layout AS a manifest commit
    (`sources/warehouse.py:rebucket`).

    One base commit at data scale, rebucket 64→128, then the query
    RAISES unless:

    - **values identical** before/after the rebucket (count + integer
      checksum), and the new manifest pins n_buckets=128 with every
      observed bucket id under the new modulus;
    - **old versions stay readable**: read(version=pre-rebucket) equals
      the base state — time travel crosses the re-layout because each
      manifest pins its OWN modulus and file list;
    - **incremental commits work at the new modulus**: an overlay batch
      (every 3rd key) last-write-wins with NO duplicate keys — the
      exact invariant a silent modulus change would break.
    """
    from ..model import load_table
    from ..sources.warehouse import Warehouse

    wh = Warehouse(spark, scratch_root(sf_dir, "bxg_rebucket_scratch"))
    orders = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    wh.merge_batch_incremental({"functions": function_rows(orders, k % 997)}, batch_seq=1)
    v_old = wh.versions("functions")[-1]
    base_n, base_c = snap(wh.read("functions"))

    v_new = wh.rebucket("functions", 128)
    m = wh._manifest("functions", v_new)
    if m["n_buckets"] != 128:
        raise AssertionError(f"rebucket did not pin the new modulus: {m['n_buckets']}")
    ids = [int(kb) for kb, fs_ in m["buckets"].items() if fs_]
    if ids and (max(ids) >= 128 or max(ids) < 64):
        raise AssertionError(
            f"rebucketed layout inconsistent with modulus 128: max id {max(ids)}"
        )
    rb_n, rb_c = snap(wh.read("functions"))
    tt_n, tt_c = snap(wh.read("functions", version=v_old))

    wh.merge_batch_incremental(
        {"functions": function_rows(orders.filter(k % 3 == 0), k % 991)}, batch_seq=2
    )
    live = wh.read("functions")
    n_rows, n_keys = live.count(), live.select("uid").distinct().count()
    if n_rows != n_keys:
        raise AssertionError(
            f"duplicate keys after post-rebucket merge: {n_rows} rows, {n_keys} keys"
        )
    ov_n, ov_c = snap(live)

    return phase_rows(
        spark,
        [
            ("1_base", base_n, base_c),
            ("2_after_rebucket", rb_n, rb_c),
            ("3_timetravel_old", tt_n, tt_c),
            ("4_live_after_overlay", ov_n, ov_c),
        ],
    )


@register(
    "warehouse_zonemap_scan_certified",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, CAST(o_orderkey AS BIGINT) AS sz FROM orders
    ),
    bnd AS (
      SELECT min(k) + (max(k) - min(k)) // 10 AS lo,
             min(k) + (max(k) - min(k)) // 5 AS hi
      FROM base
    ),
    live AS (
      SELECT k, CAST(CASE WHEN k % 5 = 0 THEN k % 977 ELSE k END AS BIGINT) AS sz
      FROM base
    )
    SELECT * FROM (
      SELECT '1_flat_range_scan' AS phase, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(sz) AS BIGINT) AS checksum
      FROM base, bnd WHERE sz BETWEEN lo AND hi
      UNION ALL
      SELECT '2_bucketed_range_scan', CAST(count(*) AS BIGINT),
             CAST(sum(sz) AS BIGINT)
      FROM live, bnd WHERE sz BETWEEN lo AND hi
      UNION ALL
      SELECT '3_point_lookup', CAST(count(*) AS BIGINT),
             CAST(sum(sz) AS BIGINT)
      FROM live WHERE k = (SELECT min(k) FROM base)
    ) t ORDER BY phase
    """,
    tags=("warehouse", "layout", "scale"),
)
def warehouse_zonemap_scan_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse lever #10 — ZONE-MAP DATA SKIPPING, certified inside
    the gate.  Every commit records per-file column min/max in the
    manifest (footer-derived at write, carried forward for shared
    files — `sources/warehouse.py:_parquet_minmax`); ``scan`` prunes
    the file list on those stats before opening anything, and
    ``optimize(cluster_by=...)`` range-clusters a table so the stats
    are tight.  At 100 TB the skip decision is pure manifest metadata:
    no LIST, no footer GETs, no data pages for files that provably
    can't match.

    Three phases at data scale; the query RAISES unless:

    - **clustered range scan prunes**: after ``optimize(cluster_by=
      ['size'])`` the per-file size ranges are pairwise DISJOINT, and a
      BETWEEN scan opens strictly fewer files than the manifest lists
      (while returning exactly ``read().filter(...)`` — compared
      in-gate);
    - **skipping survives incremental commits**: after converting to
      the bucketed layout and overlaying a batch (every 5th key
      rewritten), the same range scan is still value-exact — carried
      files reuse their recorded stats, rewritten buckets get fresh
      ones;
    - **point lookup opens one bucket**: an equality scan on the full
      merge key hashes to its bucket first — files_read is bounded by
      ONE bucket's file count, not the table's.

    Counts + integer checksums replay in DuckDB from `orders`."""
    from ..model import load_table
    from ..sources.warehouse import Warehouse

    wh = Warehouse(spark, scratch_root(sf_dir, "bxg_zonemap_scratch"))
    orders = load_table(spark, sf_dir, "orders")

    # base commit, then cluster on `size` targeting ~8 files at ANY sf
    wh.merge_batch({"functions": function_rows(orders)})
    m0 = wh._manifest("functions", wh.versions("functions")[-1])
    target = max(4096, sum(m0["bytes"].values()) // 8)
    wh.optimize(target_bytes=target, cluster_by={"functions": ["size"]})
    m1 = wh._manifest("functions", wh.versions("functions")[-1])
    if any("size" not in st for st in m1["stats"].values()):
        raise AssertionError("clustered commit missing a size zone map")
    ranges = sorted(st["size"] for st in m1["stats"].values())
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        if hi1 >= lo2:
            raise AssertionError(
                f"range clustering produced overlapping zone maps: "
                f"[{lo1},{hi1}] vs [{lo2},..]"
            )
    # window = [min + span/10, min + span/5] of the key domain — narrow
    # relative to the clustered layout at EVERY sf, so pruning is
    # provable (a fixed window would swallow the whole domain at small
    # scale factors); the oracle derives the same bounds in SQL
    kb = orders.agg(
        F.min("o_orderkey").alias("kmin"), F.max("o_orderkey").alias("kmax")
    ).collect()[0]
    span = int(kb["kmax"]) - int(kb["kmin"])
    lo = int(kb["kmin"]) + span // 10
    hi = int(kb["kmin"]) + span // 5
    preds = [("size", "between", (lo, hi))]
    scanned, diag = wh.scan("functions", preds, with_diagnostics=True)
    flat_n, flat_c = snap(scanned)
    if not (1 <= diag["files_read"] < diag["files_total"]):
        raise AssertionError(f"clustered range scan did not prune: {diag}")
    full_n, full_c = snap(
        Warehouse._apply_predicates(wh.read("functions"), preds)
    )
    if (flat_n, flat_c) != (full_n, full_c):
        raise AssertionError(
            f"scan diverged from read().filter: {(flat_n, flat_c)} != "
            f"{(full_n, full_c)}"
        )

    # convert to the bucketed layout with an overlay batch (every 5th
    # key rewritten), then the same range scan on the LWW state
    k = F.col("o_orderkey")
    wh.merge_batch_incremental(
        {"functions": function_rows(orders.filter(k % 5 == 0), k % 977)}, batch_seq=2
    )
    inc_n, inc_c = snap(wh.scan("functions", preds))

    # point lookup: the minimum orderkey's uid, pinned by the full key
    k_min = orders.agg(F.min("o_orderkey")).collect()[0][0]
    pt, pdiag = wh.scan(
        "functions", [("uid", "=", str(k_min))], with_diagnostics=True
    )
    pt_n, pt_c = snap(pt)
    m2 = wh._manifest("functions", wh.versions("functions")[-1])
    biggest_bucket = max(len(fs) for fs in m2["buckets"].values())
    if not (pdiag["files_read"] <= biggest_bucket < pdiag["files_total"]):
        raise AssertionError(
            f"point lookup did not prune to one bucket: {pdiag}, "
            f"max bucket files {biggest_bucket}"
        )
    return phase_rows(
        spark,
        [
            ("1_flat_range_scan", flat_n, flat_c),
            ("2_bucketed_range_scan", inc_n, inc_c),
            ("3_point_lookup", pt_n, pt_c),
        ],
    )


@register(
    "warehouse_cdc_read_changes_certified",
    oracle="""
    WITH old AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS uid,
             CAST(o_orderkey % 997 AS BIGINT) AS size
      FROM orders
    ),
    new AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS uid,
             CAST(CASE WHEN o_orderkey % 1999 = 0 THEN o_orderkey % 983
                       ELSE o_orderkey % 997 END AS BIGINT) AS size
      FROM orders
      UNION ALL
      SELECT 'synthetic_new_key', CAST(123457 AS BIGINT)
    ),
    ins AS (SELECT * FROM new EXCEPT ALL SELECT * FROM old),
    del AS (SELECT * FROM old EXCEPT ALL SELECT * FROM new)
    SELECT * FROM (
      SELECT '1_inserts' AS phase, CAST(count(*) AS BIGINT) AS n,
             CAST(COALESCE(sum(size), 0) AS BIGINT) AS checksum FROM ins
      UNION ALL
      SELECT '2_deletes', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(size), 0) AS BIGINT) FROM del
      UNION ALL
      SELECT '3_apply_identity_residual', CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    ) t ORDER BY phase
    """,
    tags=("warehouse", "layout", "scale"),
)
def warehouse_cdc_read_changes_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse lever #11 — CDC BETWEEN VERSIONS, certified inside the
    gate.  ``read_changes(table, v0, v1)``
    (`sources/warehouse.py:read_changes`) returns the row-level net
    difference between two committed versions as insert/delete rows
    (an LWW update = its delete+insert pair), computed from the
    MANIFEST DIFF: only buckets whose file lists changed between the
    versions are listed and read — a commit that touched k of B
    buckets costs O(k·table/B) to diff, so an incremental consumer of
    a 100 TB table pays for the delta, not the table.

    One base commit at data scale, one overlay commit (every 1999th
    key rewritten + one brand-new key), then the query RAISES unless:

    - **the diff is bucket-pruned**: diagnostics show strictly fewer
      buckets read than the table has (the manifest diff, not a scan,
      chose them);
    - **apply-identity holds exactly**: ``old − deletes + inserts``
      equals the new version as a multiset (exceptAll in BOTH
      directions is empty — phase 3's pinned zeros);
    - **unchanged-value rewrites vanish**: overlay keys whose new size
      equals the old one (k%983 == k%997 happens for small k) are NOT
      reported — the diff is row-level, not file-level.

    Insert/delete counts + integer checksums replay in DuckDB from
    `orders` via the same EXCEPT ALL algebra."""
    from ..model import load_table
    from ..sources.warehouse import Warehouse

    wh = Warehouse(spark, scratch_root(sf_dir, "bxg_cdc_scratch"))
    orders = load_table(spark, sf_dir, "orders")

    def fns(df_keys):
        return df_keys.select(
            F.col("uid"),
            F.concat(F.lit("fn_"), F.col("uid")).alias("name"),
            F.lit("").alias("address"),
            F.col("size").cast("long").alias("size"),
            F.lit("Internal").alias("type"),
        )

    base = orders.select(
        F.col("o_orderkey").cast("string").alias("uid"),
        (F.col("o_orderkey") % 997).alias("size"),
    )
    overlay = orders.filter(F.col("o_orderkey") % 1999 == 0).select(
        F.col("o_orderkey").cast("string").alias("uid"),
        (F.col("o_orderkey") % 983).alias("size"),
    ).unionByName(
        spark.createDataFrame(
            [("synthetic_new_key", 123457)], "uid string, size long"
        )
    )

    wh.merge_batch_incremental({"functions": fns(base)}, batch_seq=1)
    v0 = wh.versions("functions")[-1]
    wh.merge_batch_incremental({"functions": fns(overlay)}, batch_seq=2)
    v1 = wh.versions("functions")[-1]

    ch, diag = wh.read_changes("functions", v0, v1, with_diagnostics=True)
    if not (0 < diag["buckets_read"] < diag["buckets_total"]):
        raise AssertionError(f"CDC diff not bucket-pruned: {diag}")
    ch = ch.localCheckpoint(eager=True)  # scanned for 2 phases + identity
    ins = ch.filter(F.col("_change") == "insert").drop("_change")
    dels = ch.filter(F.col("_change") == "delete").drop("_change")
    ins_n, ins_c = snap(ins)
    del_n, del_c = snap(dels)

    old = wh.read("functions", version=v0)
    new = wh.read("functions", version=v1)
    rebuilt = old.exceptAll(dels).unionByName(ins)
    residual = rebuilt.exceptAll(new).count() + new.exceptAll(rebuilt).count()
    if residual:
        raise AssertionError(
            f"apply-identity violated: {residual} residual rows after "
            f"old - deletes + inserts"
        )
    return phase_rows(
        spark,
        [
            ("1_inserts", ins_n, ins_c),
            ("2_deletes", del_n, del_c),
            ("3_apply_identity_residual", residual, 0),
        ],
    )


@register(
    "warehouse_exactly_once_replay_certified",
    oracle="""
    SELECT * FROM (VALUES
      ('binaries',  CAST(2 AS BIGINT)), ('calls',   CAST(5 AS BIGINT)),
      ('functions', CAST(6 AS BIGINT)), ('strings', CAST(3 AS BIGINT))
    ) AS t(tbl, n)
    ORDER BY tbl
    """,
    tags=("ingest", "streaming", "warehouse", "scale"),
)
def warehouse_exactly_once_replay_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse lever #12 — EXACTLY-ONCE COMMITS BY METADATA
    (Delta's txnAppId/txnVersion), certified inside the gate.  Each
    streaming micro-batch commit carries ``txn=(app, epoch)`` into the
    manifest's monotone txn map; a replayed epoch is skipped AT THE
    MANIFEST HEAD (`sources/warehouse.py:_commit_manifest`,
    :class:`IdempotentReplay`).  This upgrades the replay story from
    idempotent-by-LWW (equal values, but every replay rewrites buckets
    and burns write volume + versions) to exactly-once-by-metadata:
    a replay writes NOTHING.  At 100 TB the difference is the
    o(table)-sized bill for every checkpoint loss or retry storm.

    The fixture stream runs once with ``txn_app`` set
    (maxFilesPerTrigger=1 → one commit per file), then the WHOLE
    stream replays with a FRESH checkpoint — the post-checkpoint-loss
    reprocess, every epoch re-delivered.  The query RAISES unless:

    - **zero versions published on replay**: per-table version lists
      are identical before/after;
    - **zero bytes written on replay**: the stat-map of every table
      directory (path, size, mtime) is unchanged — not even orphaned
      staging output;
    - **the txn high-water mark survives**: last_txn_version equals the
      final epoch id from the FIRST run.

    Returned per-table counts replay in DuckDB as pinned constants
    (same fixture as streaming_ingest_counts)."""
    from ..sources.warehouse import Warehouse
    from ..streaming.ingest_stream import stream_analysis_json

    watched = ("binaries", "functions", "strings", "calls")
    scratch = scratch_root(sf_dir, "bxg_eo_scratch")
    fixture = write_fixture(f"{scratch}/in")
    root = f"{scratch}/wh"

    def run():
        q = stream_analysis_json(
            spark, fixture, root,
            max_files_per_trigger=1, merge_tables=watched,
            incremental=True, txn_app="gate_eo_stream",
        )
        q.awaitTermination()

    def snapshot():
        wh = Warehouse(spark, root)
        vs = {t: wh.versions(t) for t in watched}
        stat = {
            str(p): (p.stat().st_size, p.stat().st_mtime_ns)
            for t in watched
            for p in (Path(root) / t).rglob("*")
            if p.is_file()
        }
        return wh, vs, stat

    run()
    wh, vs1, stat1 = snapshot()
    hwm = wh.last_txn_version("functions", "gate_eo_stream")
    if hwm is None or hwm < 1:
        raise AssertionError(
            f"first run should record a txn high-water mark >= 1, got {hwm}"
        )
    run()  # fresh default checkpoint: every epoch re-delivered
    wh, vs2, stat2 = snapshot()
    if vs1 != vs2:
        raise AssertionError(
            f"replay published versions: {[(t, len(vs1[t]), len(vs2[t])) for t in watched]}"
        )
    if stat1 != stat2:
        changed = {p for p in set(stat1) ^ set(stat2)} | {
            p for p in stat1.keys() & stat2.keys() if stat1[p] != stat2[p]
        }
        raise AssertionError(
            f"replay wrote {len(changed)} files: {sorted(changed)[:3]}"
        )
    if wh.last_txn_version("functions", "gate_eo_stream") != hwm:
        raise AssertionError("txn high-water mark moved on a pure replay")
    return spark.createDataFrame(
        [(t, wh.read(t).count()) for t in watched], "tbl string, n long"
    ).orderBy("tbl")


@register(
    "warehouse_schema_evolution_certified",
    oracle="""
    WITH live AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS uid,
             CAST(CASE WHEN o_orderkey % 1999 = 0 THEN o_orderkey % 983
                       ELSE o_orderkey % 997 END AS BIGINT) AS size,
             CASE WHEN o_orderkey % 1999 = 0
                  THEN 'v' || CAST(o_orderkey % 7 AS VARCHAR) END AS lang
      FROM orders
    )
    SELECT * FROM (
      SELECT '1_evolved_rows' AS phase, CAST(count(*) AS BIGINT) AS n,
             CAST(COALESCE(sum(size), 0) AS BIGINT) AS checksum
      FROM live WHERE lang IS NOT NULL
      UNION ALL
      SELECT '2_null_backfill', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(size), 0) AS BIGINT)
      FROM live WHERE lang IS NULL
      UNION ALL
      SELECT '3_timetravel_base', CAST(count(*) AS BIGINT),
             CAST(sum(o_orderkey % 997) AS BIGINT)
      FROM orders
    ) t ORDER BY phase
    """,
    tags=("warehouse", "layout", "scale"),
)
def warehouse_schema_evolution_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse lever #13 — SCHEMA EVOLUTION through the manifest,
    certified inside the gate.  ``merge_batch_incremental(...,
    allow_new_columns=True)`` adds batch columns the table lacks: the
    manifest pins the evolved StructType
    (`sources/warehouse.py:_resolve_evolution`), stored rows read the
    new columns as typed nulls through that pin, and NO existing file
    is rewritten — at 100 TB, adding a column costs O(batch), not
    O(table) (the alternative — a full-table backfill rewrite — is
    exactly what Delta/Iceberg's metadata-only evolution exists to
    avoid).

    One base commit at data scale (no ``lang`` column), one evolution
    commit (every 1999th key re-merged WITH ``lang``), then the query
    RAISES unless:

    - **zero rewrites**: the evolution commit only ADDS files under the
      table directory (stat-map superset check, byte-for-byte);
    - **time travel keeps each version's own schema**: the base version
      reads back WITHOUT ``lang``;
    - **adds-only is enforced**: a follow-up batch missing a stored
      column raises, and so does re-typing one — evolution never
      implies implicit nulls or casts on stored data.

    Counts + checksums of evolved rows, null-backfilled rows, and the
    time-traveled base replay in DuckDB from `orders`."""
    from ..model import load_table
    from ..sources.warehouse import Warehouse

    root = scratch_root(sf_dir, "bxg_schemaevo_scratch")
    wh = Warehouse(spark, root)
    orders = load_table(spark, sf_dir, "orders")

    k = F.col("o_orderkey")
    base = function_rows(orders, k % 997)
    overlay = function_rows(orders.filter(k % 1999 == 0), k % 983).withColumn(
        "lang", F.concat(F.lit("v"), (F.col("uid").cast("long") % 7).cast("string"))
    )

    wh.merge_batch_incremental({"functions": base}, batch_seq=1)
    v0 = wh.versions("functions")[-1]

    def stat_map():
        return {
            str(p): (p.stat().st_size, p.stat().st_mtime_ns)
            for p in (Path(root) / "functions").rglob("*")
            if p.is_file()
        }

    before = stat_map()
    wh.merge_batch_incremental(
        {"functions": overlay}, batch_seq=2, allow_new_columns=True
    )
    after = stat_map()
    rewritten = {p for p in before if after.get(p) != before[p]}
    if rewritten:
        raise AssertionError(
            f"schema evolution rewrote {len(rewritten)} pre-existing files: "
            f"{sorted(rewritten)[:3]}"
        )

    live = wh.read("functions")
    if "lang" not in live.columns:
        raise AssertionError("evolved column missing from the live read")
    tt = wh.read("functions", version=v0)
    if "lang" in tt.columns:
        raise AssertionError("time travel leaked the evolved schema into the base")

    # adds-only enforcement: missing column and re-typed column both raise
    try:
        wh.merge_batch_incremental(
            {"functions": base.limit(1)}, batch_seq=3
        )
        raise AssertionError("batch missing the evolved column did not raise")
    except ValueError:
        pass
    retyped = overlay.limit(1).withColumn("size", F.col("size").cast("string"))
    try:
        wh.merge_batch_incremental(
            {"functions": retyped}, batch_seq=3, allow_new_columns=True
        )
        raise AssertionError("type-changing batch did not raise")
    except ValueError:
        pass

    ev_n, ev_c = snap(live.filter(F.col("lang").isNotNull()))
    nu_n, nu_c = snap(live.filter(F.col("lang").isNull()))
    tt_n, tt_c = snap(tt)
    return phase_rows(
        spark,
        [
            ("1_evolved_rows", ev_n, ev_c),
            ("2_null_backfill", nu_n, nu_c),
            ("3_timetravel_base", tt_n, tt_c),
        ],
    )


@register(
    "warehouse_zorder_scan_certified",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k,
             CAST(o_orderkey AS BIGINT) AS size,
             CAST((o_orderkey * 7919) % 1000000 AS BIGINT) AS size2
      FROM orders
    ),
    bnd AS (
      SELECT min(k) + (max(k) - min(k)) // 10 AS lo,
             min(k) + (max(k) - min(k)) // 5 AS hi
      FROM base
    )
    SELECT * FROM (
      SELECT '1_dim1_range_scan' AS phase, CAST(count(*) AS BIGINT) AS n,
             CAST(COALESCE(sum(size2), 0) AS BIGINT) AS checksum
      FROM base, bnd WHERE size BETWEEN lo AND hi
      UNION ALL
      SELECT '2_dim2_range_scan', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(size), 0) AS BIGINT)
      FROM base WHERE size2 BETWEEN 100000 AND 300000
    ) t ORDER BY phase
    """,
    tags=("warehouse", "layout", "scale"),
)
def warehouse_zorder_scan_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse lever #14 — Z-ORDER CLUSTERING × zone-map skipping,
    certified inside the gate.  ``optimize(cluster_by={'t': {'zorder':
    [c1, c2]}})`` interleaves two numeric columns' quantized bits
    (`functions/zorder.py:zvalue` — Morton code over width-bucketed
    bins, pure Column expressions, whole-stage codegen) and sorts files
    by the z-value, so every file's recorded zone map is a small
    RECTANGLE in (c1, c2): ``scan`` prunes range predicates on EITHER
    dimension, where lexicographic clustering prunes only the first.
    This is Delta/Iceberg's OPTIMIZE ZORDER composed with this
    manifest's footer-derived stats — the multi-dimensional layout
    lever a 100 TB fact table needs when two access paths matter.

    One commit at data scale carrying a second numeric column
    (``size2 = (k*7919) % 1e6`` — decorrelated from ``size = k`` by
    the multiplicative shuffle), one z-order compaction, then the
    query RAISES unless range scans on BOTH dimensions open strictly
    fewer files than the manifest lists while matching
    ``read().filter(...)`` exactly (compared in-gate).  Counts +
    cross-dimension checksums replay in DuckDB from `orders`."""
    from ..model import load_table
    from ..sources.warehouse import Warehouse

    wh = Warehouse(spark, scratch_root(sf_dir, "bxg_zorder_scratch"))
    orders = load_table(spark, sf_dir, "orders")

    df = function_rows(orders).withColumn("size2", (F.col("size") * 7919) % 1000000)
    wh.merge_batch({"functions": df}, allow_new_columns=True)
    m0 = wh._manifest("functions", wh.versions("functions")[-1])
    target = max(4096, sum(m0["bytes"].values()) // 16)
    wh.optimize(
        target_bytes=target,
        cluster_by={"functions": {"zorder": ["size", "size2"]}},
    )

    kb = orders.agg(
        F.min("o_orderkey").alias("kmin"), F.max("o_orderkey").alias("kmax")
    ).collect()[0]
    span = int(kb["kmax"]) - int(kb["kmin"])
    lo = int(kb["kmin"]) + span // 10
    hi = int(kb["kmin"]) + span // 5

    def certified_scan(preds, sum_col):
        scanned, diag = wh.scan("functions", preds, with_diagnostics=True)
        if not (1 <= diag["files_read"] < diag["files_total"]):
            raise AssertionError(f"z-order scan did not prune for {preds}: {diag}")
        got = snap(scanned, sum_col)
        full = snap(Warehouse._apply_predicates(wh.read("functions"), preds), sum_col)
        if got != full:
            raise AssertionError(
                f"scan diverged from read().filter for {preds}: {got} != {full}"
            )
        return got

    d1 = certified_scan([("size", "between", (lo, hi))], "size2")
    d2 = certified_scan([("size2", "between", (100000, 300000))], "size")
    return phase_rows(spark, [("1_dim1_range_scan", *d1), ("2_dim2_range_scan", *d2)])


@register(
    "warehouse_bloom_scan_certified",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, CAST(o_orderkey % 997 AS BIGINT) AS size
      FROM orders
    )
    SELECT * FROM (
      SELECT '1_point_hit' AS phase, CAST(count(*) AS BIGINT) AS n,
             CAST(COALESCE(sum(size), 0) AS BIGINT) AS checksum
      FROM base WHERE k = (SELECT min(k) FROM base)
      UNION ALL
      SELECT '2_definitely_absent', CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    ) t ORDER BY phase
    """,
    tags=("warehouse", "layout", "scale"),
)
def warehouse_bloom_scan_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse lever #15 — PER-FILE BLOOM FILTERS, certified inside
    the gate.  ``Warehouse(bloom_columns={'t': ['col']})`` builds a
    bloom sidecar per new file per opted-in column at commit
    (`sources/warehouse.py:_build_file_bloom` — sized by the textbook
    m/k formulas at 1% fpp, double-hashed blake2b, referenced — not
    embedded — by the manifest); ``scan`` probes it for ``=``/``in``
    predicates.  This is the skipping case zone maps structurally
    CANNOT serve: a uniformly distributed id (here ``name =
    md5(uid)``) falls inside ~every file's min/max range, but is
    definitely-absent from every bloom except its own file's — Delta's
    bloom index / parquet's column bloom, lifted to manifest level
    where the prune needs no file opens at all.

    One bucketed commit at data scale, then the query RAISES unless:

    - **zone maps provably can't prune this** (>= 90% of files' name
      ranges contain the probe value — the control that the win is the
      bloom's);
    - **the bloom prunes a point hit** to <= max(2, files/8) file opens
      while returning exactly the one row;
    - **a definitely-absent probe** opens <= max(2, files/8) files
      (false-positive budget) and returns zero rows.

    Counts + checksums replay in DuckDB from `orders` (the oracle never
    needs md5 — equality on the injective hash selects exactly the
    min-key row)."""
    from ..model import load_table
    from ..sources.warehouse import Warehouse

    wh = Warehouse(
        spark,
        scratch_root(sf_dir, "bxg_bloom_scratch"),
        bloom_columns={"functions": ["name"]},
    )
    orders = load_table(spark, sf_dir, "orders")
    df = function_rows(orders, F.col("o_orderkey") % 997).withColumn(
        "name", F.md5("uid")
    )
    wh.merge_batch_incremental({"functions": df})
    m = wh._manifest("functions", wh.versions("functions")[-1])
    total = sum(len(v) for v in m["buckets"].values())
    budget = max(2, total // 8)

    k_min = int(orders.agg(F.min("o_orderkey")).collect()[0][0])
    target = spark.sql(f"SELECT md5('{k_min}') AS h").collect()[0]["h"]
    inside = sum(
        1
        for st in m["stats"].values()
        if "name" in st and st["name"][0] <= target <= st["name"][1]
    )
    if inside < 0.9 * total:
        raise AssertionError(
            f"control failed: zone maps could prune the probe "
            f"({inside}/{total} files contain it) — the test no longer "
            f"isolates the bloom"
        )

    hit, d1 = wh.scan("functions", [("name", "=", target)], with_diagnostics=True)
    if not (d1["files_read"] <= budget < d1["files_total"]):
        raise AssertionError(f"bloom point scan did not prune: {d1}")
    hit_n, hit_c = snap(hit)

    miss, d2 = wh.scan(
        "functions", [("name", "=", "definitely_not_a_hash")], with_diagnostics=True
    )
    if d2["files_read"] > budget:
        raise AssertionError(f"absent-value scan exceeded the fp budget: {d2}")
    miss_n = miss.count()
    if miss_n:
        raise AssertionError(f"absent value returned {miss_n} rows")
    return phase_rows(
        spark, [("1_point_hit", hit_n, hit_c), ("2_definitely_absent", miss_n, 0)]
    )


@register(
    "warehouse_delete_certified",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, CAST(o_orderkey AS BIGINT) AS size FROM orders
    ),
    bnd AS (
      SELECT min(k) + (max(k) - min(k)) // 10 AS lo,
             min(k) + (max(k) - min(k)) // 5 AS hi
      FROM base
    )
    SELECT * FROM (
      SELECT '1_remaining_after_delete' AS phase, CAST(count(*) AS BIGINT) AS n,
             CAST(COALESCE(sum(size), 0) AS BIGINT) AS checksum
      FROM base, bnd WHERE size NOT BETWEEN lo AND hi
      UNION ALL
      SELECT '2_cdc_deleted_rows', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(size), 0) AS BIGINT)
      FROM base, bnd WHERE size BETWEEN lo AND hi
      UNION ALL
      SELECT '3_timetravel_pre_delete', CAST(count(*) AS BIGINT),
             CAST(sum(size) AS BIGINT)
      FROM base
    ) t ORDER BY phase
    """,
    tags=("warehouse", "layout", "scale"),
)
def warehouse_delete_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse lever #16 — ROW-LEVEL DELETE, certified inside the
    gate.  ``delete_where(table, predicates)``
    (`sources/warehouse.py:delete_where`) composes the whole stack:
    the skipping core picks the files that MAY contain matches
    (zone maps here — clustered layout makes the candidate set small),
    ONLY those are rewritten without their matching rows, every other
    file is carried untouched, and one manifest commit publishes the
    result.  At 100 TB, deleting a clustered range (GDPR purge, bad-
    batch retraction) rewrites O(matching files), not the table —
    Delta's DELETE semantics, including SQL NULL handling (a NULL
    predicate keeps the row).

    One clustered commit at data scale, one range delete, then the
    query RAISES unless:

    - **file-granular**: strictly fewer files rewritten than the
      manifest lists (and at least one);
    - **CDC is exactly the deletion**: ``read_changes`` across the
      delete commit reports the deleted rows as deletes and ZERO
      inserts;
    - **history intact**: time travel to the pre-delete version
      returns the full table, and the untouched files still prune a
      later scan.

    Remaining rows, the deleted set, and the pre-delete state replay
    in DuckDB from `orders`."""
    from ..model import load_table
    from ..sources.warehouse import Warehouse

    wh = Warehouse(spark, scratch_root(sf_dir, "bxg_delete_scratch"))
    orders = load_table(spark, sf_dir, "orders")
    wh.merge_batch({"functions": function_rows(orders)})
    m0 = wh._manifest("functions", wh.versions("functions")[-1])
    target = max(4096, sum(m0["bytes"].values()) // 8)
    wh.optimize(target_bytes=target, cluster_by={"functions": ["size"]})
    v_pre = wh.versions("functions")[-1]

    kb = orders.agg(
        F.min("o_orderkey").alias("kmin"), F.max("o_orderkey").alias("kmax")
    ).collect()[0]
    span = int(kb["kmax"]) - int(kb["kmin"])
    lo = int(kb["kmin"]) + span // 10
    hi = int(kb["kmin"]) + span // 5

    d = wh.delete_where("functions", [("size", "between", (lo, hi))])
    if not (1 <= d["files_rewritten"] < d["files_total"]):
        raise AssertionError(f"delete was not file-granular: {d}")

    rem_n, rem_c = snap(wh.read("functions"))
    ch = wh.read_changes("functions", v_pre)
    n_ins = ch.filter(F.col("_change") == "insert").count()
    if n_ins:
        raise AssertionError(f"delete CDC fabricated {n_ins} inserts")
    del_n, del_c = snap(ch.filter(F.col("_change") == "delete"))
    if del_n != d["rows_deleted"]:
        raise AssertionError(
            f"CDC delete count {del_n} != reported rows_deleted {d['rows_deleted']}"
        )
    tt_n, tt_c = snap(wh.read("functions", version=v_pre))
    _, diag = wh.scan(
        "functions",
        [("size", "between", (int(kb["kmin"]) + span // 2, int(kb["kmin"]) + span // 2 + span // 10))],
        with_diagnostics=True,
    )
    if not diag["files_read"] < diag["files_total"]:
        raise AssertionError(f"post-delete scan lost its pruning: {diag}")
    return phase_rows(
        spark,
        [
            ("1_remaining_after_delete", rem_n, rem_c),
            ("2_cdc_deleted_rows", del_n, del_c),
            ("3_timetravel_pre_delete", tt_n, tt_c),
        ],
    )


@register(
    "warehouse_update_certified",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, CAST(o_orderkey AS BIGINT) AS size FROM orders
    ),
    bnd AS (
      SELECT min(k) + (max(k) - min(k)) // 10 AS lo,
             min(k) + (max(k) - min(k)) // 5 AS hi
      FROM base
    )
    SELECT * FROM (
      SELECT '1_updated_rows' AS phase, CAST(count(*) AS BIGINT) AS n,
             CAST(COALESCE(sum(size + 1000000), 0) AS BIGINT) AS checksum
      FROM base, bnd WHERE size BETWEEN lo AND hi
      UNION ALL
      SELECT '2_untouched_rows', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(size), 0) AS BIGINT)
      FROM base, bnd WHERE size NOT BETWEEN lo AND hi
      UNION ALL
      SELECT '3_timetravel_pre_update', CAST(count(*) AS BIGINT),
             CAST(sum(size) AS BIGINT)
      FROM base
    ) t ORDER BY phase
    """,
    tags=("warehouse", "layout", "scale"),
)
def warehouse_update_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse lever #17 — ROW-LEVEL UPDATE, certified inside the
    gate (completing the DML trio: MERGE upsert, DELETE, UPDATE).
    ``update_where(table, predicates, set_values)``
    (`sources/warehouse.py:update_where`) is the same FILE-GRANULAR
    shape as delete: the skipping stack picks candidate files, only
    those rewrite (matching rows transformed via when/otherwise —
    column expressions allowed — non-matching rows carried verbatim in
    the same file), one manifest commit publishes; merge-key
    assignments raise (a key change moves the row's bucket — that is a
    delete + re-merge, stated, not silently mis-bucketed).

    One clustered commit at data scale, one range update
    (``size += 1_000_000`` + a type flip on the window), then the
    query RAISES unless the rewrite was file-granular (strictly fewer
    files than the manifest lists), the row count is preserved, and
    CDC across the update reports exactly one delete+insert pair per
    updated row.  Updated rows, untouched rows, and the pre-update
    state replay in DuckDB from `orders`."""
    from ..model import load_table
    from ..sources.warehouse import Warehouse

    wh = Warehouse(spark, scratch_root(sf_dir, "bxg_update_scratch"))
    orders = load_table(spark, sf_dir, "orders")
    wh.merge_batch({"functions": function_rows(orders)})
    m0 = wh._manifest("functions", wh.versions("functions")[-1])
    target = max(4096, sum(m0["bytes"].values()) // 8)
    wh.optimize(target_bytes=target, cluster_by={"functions": ["size"]})
    v_pre = wh.versions("functions")[-1]

    kb = orders.agg(
        F.min("o_orderkey").alias("kmin"), F.max("o_orderkey").alias("kmax")
    ).collect()[0]
    span = int(kb["kmax"]) - int(kb["kmin"])
    lo = int(kb["kmin"]) + span // 10
    hi = int(kb["kmin"]) + span // 5

    d = wh.update_where(
        "functions",
        [("size", "between", (lo, hi))],
        {"size": F.col("size") + 1_000_000, "type": "External"},
    )
    if not (1 <= d["files_rewritten"] < d["files_total"]):
        raise AssertionError(f"update was not file-granular: {d}")

    live = wh.read("functions")
    pre = wh.read("functions", version=v_pre)
    if live.count() != pre.count():
        raise AssertionError("UPDATE changed the row count")
    ch = wh.read_changes("functions", v_pre)
    pairs = (
        ch.groupBy("_change").count().collect()
    )
    counts = {r["_change"]: r["count"] for r in pairs}
    if counts.get("insert", 0) != d["rows_updated"] or counts.get("delete", 0) != d["rows_updated"]:
        raise AssertionError(
            f"CDC should be one delete+insert pair per updated row: "
            f"{counts} vs rows_updated={d['rows_updated']}"
        )

    up_n, up_c = snap(live.filter(F.col("type") == "External"))
    un_n, un_c = snap(live.filter(F.col("type") == "Internal"))
    tt_n, tt_c = snap(pre)
    return phase_rows(
        spark,
        [
            ("1_updated_rows", up_n, up_c),
            ("2_untouched_rows", un_n, un_c),
            ("3_timetravel_pre_update", tt_n, tt_c),
        ],
    )


@register(
    "warehouse_replication_certified",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, CAST(o_orderkey AS BIGINT) AS size FROM orders
    ),
    bnd AS (
      SELECT min(k) + (max(k) - min(k)) // 10 AS lo,
             min(k) + (max(k) - min(k)) // 5 AS hi,
             min(k) + (max(k) - min(k)) // 2 AS lo3,
             min(k) + (max(k) - min(k)) // 2 + (max(k) - min(k)) // 10 AS hi3
      FROM base
    ),
    upd AS (
      SELECT k,
             CASE WHEN size BETWEEN lo AND hi THEN size + 1000000
                  ELSE size END AS size
      FROM base, bnd
    ),
    fin AS (SELECT k, size FROM upd, bnd WHERE size NOT BETWEEN lo3 AND hi3)
    SELECT * FROM (
      SELECT '1_replica_state' AS phase, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(size) AS BIGINT) AS checksum FROM fin
      UNION ALL
      SELECT '2_replica_equals_source', CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      UNION ALL
      SELECT '3_replay_publishes_nothing', CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    ) t ORDER BY phase
    """,
    tags=("warehouse", "layout", "streaming", "scale"),
)
def warehouse_replication_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse lever #18 — CDC REPLICATION end-to-end, certified
    inside the gate: the composition the r9 ring exists for
    (`sources/replication.py`).  A polling change-feed consumer
    (durable offsets) drains ``read_changes`` batches — manifest-diff
    priced, O(changed buckets) per poll — and applies each to a
    REPLICA warehouse exactly once: true key deletions (delete rows
    whose keys don't re-insert in the batch) become a file-granular
    ``delete_where``, inserts MERGE under ``txn=(app, version)``.
    Delta's readChangeFeed → idempotent-writes pipeline, on this
    manifest.

    Source history at data scale: base commit, UPDATE (a key-domain
    window gets size += 1e6), DELETE (another window), then the query
    RAISES unless:

    - **the replica equals the source exactly** (exceptAll both ways
      empty) after draining — across a merge, an update, and a delete;
    - **one applied batch per source version**;
    - **crash-replay publishes nothing**: rewinding the consumer
      offset and re-draining leaves the replica's version list
      untouched (txn skip + zero-match delete are both metadata-free).

    The replica's final counts + checksums replay in DuckDB from
    `orders` through the same update/delete algebra."""
    from ..model import load_table
    from ..sources.replication import _write_offset, replicate
    from ..sources.warehouse import Warehouse

    root = scratch_root(sf_dir, "bxg_repl_scratch")
    src = Warehouse(spark, os.path.join(root, "src"))
    dst = Warehouse(spark, os.path.join(root, "dst"))
    off = os.path.join(root, "offsets.json")
    orders = load_table(spark, sf_dir, "orders")
    kb = orders.agg(
        F.min("o_orderkey").alias("kmin"), F.max("o_orderkey").alias("kmax")
    ).collect()[0]
    span = int(kb["kmax"]) - int(kb["kmin"])
    lo = int(kb["kmin"]) + span // 10
    hi = int(kb["kmin"]) + span // 5
    lo3 = int(kb["kmin"]) + span // 2
    hi3 = lo3 + span // 10

    src.merge_batch_incremental({"functions": function_rows(orders)})
    src.update_where(
        "functions", [("size", "between", (lo, hi))], {"size": F.col("size") + 1_000_000}
    )
    src.delete_where("functions", [("size", "between", (lo3, hi3))])

    applied = replicate(src, dst, "functions", off)
    if len(applied) != len(src.versions("functions")):
        raise AssertionError(
            f"expected one applied batch per source version: "
            f"{applied} vs {src.versions('functions')}"
        )
    a, b = src.read("functions"), dst.read("functions")
    resid = a.exceptAll(b).count() + b.exceptAll(a).count()
    if resid:
        raise AssertionError(f"replica diverged from source: {resid} residual rows")

    versions_before = dst.versions("functions")
    _write_offset(off, "functions", applied[-2])  # crash before last offset write
    replicate(src, dst, "functions", off)
    if dst.versions("functions") != versions_before:
        raise AssertionError("crash-replay published replica versions")

    return phase_rows(
        spark,
        [
            ("1_replica_state", *snap(dst.read("functions"))),
            ("2_replica_equals_source", resid, 0),
            ("3_replay_publishes_nothing", 0, 0),
        ],
    )


@register(
    "warehouse_cdf_stream_certified",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, CAST(o_orderkey % 997 AS BIGINT) AS sz
      FROM orders
    ),
    changes AS (
      SELECT 0 AS v, 'insert' AS ch, sz FROM base
      UNION ALL
      SELECT 1, 'insert', CAST(k % 983 AS BIGINT) FROM base
      WHERE k % 1999 = 0 AND k % 983 <> k % 997
      UNION ALL
      SELECT 1, 'insert', CAST(123457 AS BIGINT)
      UNION ALL
      SELECT 1, 'delete', sz FROM base
      WHERE k % 1999 = 0 AND k % 983 <> k % 997
      UNION ALL
      SELECT 2, 'delete',
             (SELECT CASE WHEN min(k) % 1999 = 0 THEN CAST(min(k) % 983 AS BIGINT)
                          ELSE CAST(min(k) % 997 AS BIGINT) END FROM base)
    )
    SELECT CAST(v AS VARCHAR) || '_' || ch AS phase,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(sz) AS BIGINT) AS checksum
    FROM changes GROUP BY 1 ORDER BY 1
    """,
    tags=("warehouse", "streaming", "scale"),
)
def warehouse_cdf_stream_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse lever #19 — the CHANGE FEED AS A STRUCTURED STREAMING
    SOURCE (`sources/cdf_stream.py` —
    ``readStream.format("warehouse_cdf")``, Delta's readChangeFeed
    streaming mode via Spark 4's Python DataSource API).  Offsets are
    MANIFEST VERSIONS (latestOffset = one directory listing, no data
    touched); ``partitions(start, end)`` is the manifest diff — one
    input partition per CHANGED BUCKET per version transition, so the
    work distributes bucket-granular and untouched buckets are never
    listed; ``read`` is executor-side pyarrow over the immutable
    parquet (no SparkSession on executors), computing the exact
    row-level multiset diff.  Composes with everything Structured
    Streaming owns: checkpointed offsets (restart resumes past
    committed versions — test-pinned on a file sink), watermarks,
    stream joins, any sink.

    Source history at data scale: base commit, LWW overlay (every
    1999th key re-merged at a different size + one brand-new key),
    point delete of the min key.  The stream drains (availableNow)
    into a memory sink; per-(version, change) counts + size checksums
    must replay in DuckDB from `orders` — the initial snapshot arrives
    as version 0's inserts, the overlay as its delete+insert pairs
    (unchanged-value re-merges contribute NOTHING — row-level, not
    file-level), the delete as one delete row."""
    import uuid as _uuid

    from ..model import load_table
    from ..sources.cdf_stream import register_warehouse_cdf_datasource
    from ..sources.warehouse import Warehouse

    root = scratch_root(sf_dir, "bxg_cdfstream_scratch")
    wh = Warehouse(spark, root)
    register_warehouse_cdf_datasource(spark)
    orders = load_table(spark, sf_dir, "orders")

    k = F.col("o_orderkey")
    base = function_rows(orders, k % 997)
    overlay = function_rows(orders.filter(k % 1999 == 0), k % 983).unionByName(
        spark.createDataFrame(
            [("synthetic_new_key", "fn_synthetic_new_key", "", 123457, "Internal")],
            "uid string, name string, address string, size long, type string",
        )
    )
    k_min = int(orders.agg(F.min("o_orderkey")).collect()[0][0])

    wh.merge_batch_incremental({"functions": base}, batch_seq=1)
    wh.merge_batch_incremental({"functions": overlay}, batch_seq=2)
    wh.delete_where("functions", [("uid", "=", str(k_min))])

    name = f"cdf_gate_{_uuid.uuid4().hex[:10]}"
    q = (
        spark.readStream.format("warehouse_cdf")
        .option("root", root)
        .option("table", "functions")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(name)
        .groupBy(
            F.concat(
                F.col("_version").cast("string"), F.lit("_"), F.col("_change")
            ).alias("phase")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("size").cast("long").alias("checksum"),
        )
        .orderBy("phase")
    )


@register(
    "warehouse_deletion_vectors_certified",
    oracle="""
    WITH base AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS uid,
             CAST(o_orderkey AS BIGINT) AS size
      FROM orders
    ),
    bnd AS (
      SELECT min(size) + (max(size) - min(size)) // 10 AS lo,
             min(size) + (max(size) - min(size)) // 5 AS hi,
             CAST(min(size) AS VARCHAR) AS point_uid
      FROM base
    ),
    gone AS (
      SELECT b.* FROM base b, bnd
      WHERE b.size BETWEEN bnd.lo AND bnd.hi OR b.uid = bnd.point_uid
    )
    SELECT * FROM (
      SELECT '1_remaining' AS phase, CAST(count(*) AS BIGINT) AS n,
             CAST(COALESCE(sum(size), 0) AS BIGINT) AS checksum
      FROM base WHERE uid NOT IN (SELECT uid FROM gone)
      UNION ALL
      SELECT '2_cdc_deleted', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(size), 0) AS BIGINT) FROM gone
      UNION ALL
      SELECT '3_timetravel_pre', CAST(count(*) AS BIGINT),
             CAST(sum(size) AS BIGINT) FROM base
      UNION ALL
      SELECT '4_after_purge', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(size), 0) AS BIGINT)
      FROM base WHERE uid NOT IN (SELECT uid FROM gone)
    ) t ORDER BY phase
    """,
    tags=("warehouse", "layout", "scale"),
)
def warehouse_deletion_vectors_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse lever #18 — DELETION VECTORS (merge-on-read DELETE),
    certified inside the gate.  ``delete_where_dv``
    (`sources/warehouse.py:delete_where_dv`) kills the last write-amp
    scale-killer: a trickle delete under copy-on-write rewrites whole
    files (O(file) per row); a DV commit records tombstone POSITIONS in
    one parquet sidecar and republishes the manifest — O(deleted rows)
    written, data files untouched.  Readers apply DVs as an anti-join;
    ``optimize`` is the purge point (Delta/Iceberg's design).

    One bucketed table at data scale, a range DV-delete plus a point
    DV-delete, then the query RAISES unless:

    - **zero rewrites, measured bytes**: both commits report
      ``files_rewritten == 0`` and the point-delete's sidecar is under
      half the SMALLEST data file (the O(rows)-not-O(file) claim,
      measured, not asserted by vibes);
    - **CDC is exactly the deletions**: ``read_changes`` across both
      DV commits reports the tombstoned rows as deletes, ZERO inserts
      — a DV-only commit changes no file list, so this proves the
      diff consults DV state;
    - **the CDF STREAM sees the same**: draining ``warehouse_cdf``
      yields the identical delete multiset for those versions;
    - **history intact**: time travel to the pre-delete version
      returns the full table;
    - **compaction purges**: after ``optimize`` the manifest carries
      no DV references and the content is unchanged.

    Remaining rows, the deleted set, pre-state and post-purge state
    replay in DuckDB from `orders`."""
    import uuid as _uuid

    from ..model import load_table
    from ..sources.cdf_stream import register_warehouse_cdf_datasource
    from ..sources.warehouse import Warehouse

    root = scratch_root(sf_dir, "bxg_dv_scratch")
    wh = Warehouse(spark, root)
    register_warehouse_cdf_datasource(spark)
    orders = load_table(spark, sf_dir, "orders")
    wh.merge_batch_incremental({"functions": function_rows(orders)}, n_buckets=16)
    v_pre = wh.versions("functions")[-1]
    m0 = wh._manifest("functions", v_pre)
    min_file = min(m0["bytes"].values())

    kb = orders.agg(
        F.min("o_orderkey").alias("kmin"), F.max("o_orderkey").alias("kmax")
    ).collect()[0]
    span = int(kb["kmax"]) - int(kb["kmin"])
    lo = int(kb["kmin"]) + span // 10
    hi = int(kb["kmin"]) + span // 5
    point_uid = str(int(kb["kmin"]))

    d1 = wh.delete_where_dv("functions", [("size", "between", (lo, hi))])
    d2 = wh.delete_where_dv("functions", [("uid", "=", point_uid)])
    if d1["files_rewritten"] or d2["files_rewritten"]:
        raise AssertionError(f"DV delete rewrote data files: {d1} {d2}")
    if d2["rows_deleted"] != 1:
        raise AssertionError(f"point DV delete matched {d2['rows_deleted']} rows")
    if not (0 < d2["dv_bytes"] < min_file / 2):
        raise AssertionError(
            f"point-delete sidecar {d2['dv_bytes']}B not O(rows) vs "
            f"smallest data file {min_file}B"
        )
    m1 = wh._manifest("functions", wh.versions("functions")[-1])
    if m1["bytes"] != m0["bytes"]:
        raise AssertionError("DV commits must not touch data files")

    rem_n, rem_c = snap(wh.read("functions"))
    ch = wh.read_changes("functions", v_pre)
    if ch.filter(F.col("_change") == "insert").count():
        raise AssertionError("DV delete CDC fabricated inserts")
    del_n, del_c = snap(ch.filter(F.col("_change") == "delete"))
    if del_n != d1["rows_deleted"] + d2["rows_deleted"]:
        raise AssertionError(
            f"CDC deletes {del_n} != reported {d1['rows_deleted']} + "
            f"{d2['rows_deleted']}"
        )
    # the CDF STREAM must surface the identical delete multiset
    name = f"cdf_dv_gate_{_uuid.uuid4().hex[:10]}"
    (
        spark.readStream.format("warehouse_cdf")
        .option("root", root)
        .option("table", "functions")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    sd = spark.table(name).filter(
        (F.col("_version") > v_pre) & (F.col("_change") == "delete")
    )
    sd_n, sd_c = snap(sd)
    if (sd_n, sd_c) != (del_n, del_c):
        raise AssertionError(
            f"CDF stream deletes ({sd_n}, {sd_c}) != read_changes "
            f"({del_n}, {del_c})"
        )
    tt_n, tt_c = snap(wh.read("functions", version=v_pre))
    wh.optimize(target_bytes=1 << 30)
    mfin = wh._manifest("functions", wh.versions("functions")[-1])
    if mfin.get("dvs"):
        raise AssertionError("optimize must purge deletion vectors")
    ap_n, ap_c = snap(wh.read("functions"))
    return phase_rows(
        spark,
        [
            ("1_remaining", rem_n, rem_c),
            ("2_cdc_deleted", del_n, del_c),
            ("3_timetravel_pre", tt_n, tt_c),
            ("4_after_purge", ap_n, ap_c),
        ],
    )


@register(
    "warehouse_column_mapping_certified",
    oracle="""
    WITH base AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS uid,
             CAST(o_orderkey AS BIGINT) AS size
      FROM orders
    ),
    bnd AS (SELECT min(size) + 9 AS hi, min(size) AS lo FROM base)
    SELECT * FROM (
      SELECT '1_renamed_scan' AS phase, CAST(count(*) AS BIGINT) AS n,
             CAST(COALESCE(sum(size), 0) AS BIGINT) AS checksum
      FROM base, bnd WHERE size BETWEEN lo AND hi
      UNION ALL
      SELECT '2_timetravel_pre', CAST(count(*) AS BIGINT),
             CAST(sum(size) AS BIGINT) FROM base
      UNION ALL
      SELECT '3_cdf_dv_deletes', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(size), 0) AS BIGINT)
      FROM base, bnd WHERE size BETWEEN lo AND hi
      UNION ALL
      SELECT '4_remaining', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(size), 0) AS BIGINT)
      FROM base, bnd WHERE size NOT BETWEEN lo AND hi
    ) t ORDER BY phase
    """,
    tags=("warehouse", "layout", "scale"),
)
def warehouse_column_mapping_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse lever #19 — COLUMN MAPPING (rename/drop/type-widen as
    metadata-only commits), certified inside the gate.
    ``rename_column`` / ``drop_column`` / ``widen_column``
    (`sources/warehouse.py`) give Delta's column-mapping contract: the
    manifest's pinned schema is the physical truth, an overlay maps
    physical→logical names, so a rename is ONE manifest write — at
    100 TB, renaming a column on a billion-file table costs the same
    as on an empty one.

    One bucketed table at data scale, then rename size→byte_size and
    drop address; the query RAISES unless:

    - **zero data movement, measured**: the rename and drop commits
      carry byte-identical file maps (same rels, same sizes) — the
      stat-map device from `warehouse_manifest_time_travel_certified`;
    - **rename is zero-CDC**: ``read_changes`` across the rename
      reports no row changes;
    - **everything speaks logical names**: scans prune on the renamed
      column (zone maps are physical), a DV delete + merge use the new
      name, the dropped column is gone from live reads;
    - **time travel is per-version**: the pre-rename version still
      reads ``size`` and ``address``;
    - **the CDF stream composes**: a stream started after the rename
      declares the logical schema and surfaces the DV delete's rows.

    All phase values replay in DuckDB from `orders`."""
    import uuid as _uuid

    from ..model import load_table
    from ..sources.cdf_stream import register_warehouse_cdf_datasource
    from ..sources.warehouse import Warehouse

    root = scratch_root(sf_dir, "bxg_colmap_scratch")
    wh = Warehouse(spark, root)
    register_warehouse_cdf_datasource(spark)
    orders = load_table(spark, sf_dir, "orders")
    wh.merge_batch_incremental({"functions": function_rows(orders)}, n_buckets=16)
    v_pre = wh.versions("functions")[-1]
    m0 = wh._manifest("functions", v_pre)

    v_ren = wh.rename_column("functions", "size", "byte_size")
    v_drop = wh.drop_column("functions", "address")
    for v, what in ((v_ren, "rename"), (v_drop, "drop")):
        mm = wh._manifest("functions", v)
        if mm["bytes"] != m0["bytes"] or mm["buckets"] != m0["buckets"]:
            raise AssertionError(f"{what} moved data bytes — not metadata-only")
    if wh.read_changes("functions", v_pre, v_ren).count() != 0:
        raise AssertionError("rename must be zero-CDC")
    cols = wh.read("functions").columns
    if "byte_size" not in cols or "size" in cols or "address" in cols:
        raise AssertionError(f"live logical schema wrong: {cols}")
    old_cols = wh.read("functions", version=v_pre).columns
    if "size" not in old_cols or "address" not in old_cols:
        raise AssertionError(f"time travel lost the old schema: {old_cols}")

    kmin = int(orders.agg(F.min("o_orderkey")).collect()[0][0])
    lo, hi = kmin, kmin + 9
    got, diag = wh.scan(
        "functions", [("byte_size", "between", (lo, hi))], with_diagnostics=True
    )
    if not diag["files_read"] < diag["files_total"]:
        raise AssertionError(f"renamed-column scan lost its pruning: {diag}")
    s1_n, s1_c = snap(got, "byte_size")
    tt_n, tt_c = snap(wh.read("functions", version=v_pre))

    d = wh.delete_where_dv("functions", [("byte_size", "between", (lo, hi))])
    if d["files_rewritten"] != 0 or d["rows_deleted"] != s1_n:
        raise AssertionError(f"DV delete under mapping misbehaved: {d}")
    name = f"cdf_cm_gate_{_uuid.uuid4().hex[:10]}"
    (
        spark.readStream.format("warehouse_cdf")
        .option("root", root)
        .option("table", "functions")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    st = spark.table(name)
    if "byte_size" not in st.columns or "size" in st.columns:
        raise AssertionError(f"CDF stream schema not logical: {st.columns}")
    sd_n, sd_c = snap(st.filter(F.col("_change") == "delete"), "byte_size")
    rem_n, rem_c = snap(wh.read("functions"), "byte_size")
    return phase_rows(
        spark,
        [
            ("1_renamed_scan", s1_n, s1_c),
            ("2_timetravel_pre", tt_n, tt_c),
            ("3_cdf_dv_deletes", sd_n, sd_c),
            ("4_remaining", rem_n, rem_c),
        ],
    )


@register(
    "warehouse_multi_table_txn_certified",
    oracle="""
    WITH base AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS uid,
             CAST(o_orderkey AS BIGINT) AS size
      FROM orders
    )
    SELECT * FROM (
      SELECT '1_snapshot_during_crash' AS phase,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(size) AS BIGINT) AS checksum
      FROM base
      UNION ALL
      SELECT '2_snapshot_after_retry', CAST(2 * count(*) AS BIGINT),
             CAST(2 * sum(size) AS BIGINT)
      FROM base
    ) t ORDER BY phase
    """,
    tags=("warehouse", "layout", "scale"),
)
def warehouse_multi_table_txn_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse lever #20 — CATALOG-LEVEL MULTI-TABLE ATOMIC COMMIT,
    certified inside the gate with real crash injection.
    ``import_atomic`` (`sources/warehouse.py:import_atomic`) merges
    each table under one shared txn key, then publishes ONE catalog
    object pinning {table: version} — so a graph import's 10 tables
    appear all-or-nothing to snapshot readers.  (The reference cannot
    offer this at all: one Bolt round trip per entity,
    importer.rs:86-320.)

    Sequence, with the query RAISING at any violation:

    1. atomic import of functions+calls (catalog v0);
    2. a second import CRASHES between the two table commits
       (injected) — the catalog must be untouched, snapshot reads of
       BOTH tables must still total the complete first import, even
       though the live per-table head is provably torn;
    3. retry with the same txn key converges idempotently (committed
       tables replay as no-ops — no double-merge) and the catalog pin
       publishes; snapshot reads now total the complete second import;
    4. re-running the whole import creates no new catalog version.

    Phase 1 totals the first import (sum of sizes over `orders`);
    phase 2 totals the second (doubled rows: both tables keyed
    disjointly across imports)."""
    from ..model import load_table
    from ..sources.warehouse import Warehouse

    wh = Warehouse(spark, scratch_root(sf_dir, "bxg_cat_scratch"))
    orders = load_table(spark, sf_dir, "orders")

    def fns(tag):
        return orders.select(
            F.concat(F.lit(tag), F.col("o_orderkey").cast("string")).alias("uid"),
            F.lit("fn").alias("name"),
            F.lit("").alias("address"),
            F.col("o_orderkey").cast("long").alias("size"),
            F.lit("Internal").alias("type"),
        )

    def calls(tag):
        return orders.select(
            F.concat(F.lit(tag), F.col("o_orderkey").cast("string")).alias("src_uid"),
            F.concat(F.lit(tag), F.col("o_orderkey").cast("string")).alias("dst_uid"),
            F.lit("0x0").alias("offset"),
            F.lit("Direct").alias("call_type"),
        )

    wh.import_atomic(
        {"functions": fns("a"), "calls": calls("a")}, txn=("imp", 1)
    )
    pins0 = wh.catalog_snapshot()

    try:
        wh.import_atomic(
            {"functions": fns("b"), "calls": calls("b")},
            txn=("imp", 2),
            batch_seq=2,
            _crash_after=1,
        )
    except RuntimeError:
        pass
    else:
        raise AssertionError("crash injection did not fire")
    if wh.catalog_snapshot() != pins0:
        raise AssertionError("crash between table commits moved the catalog")
    pins = wh.catalog_snapshot()

    def pinned(pins_):
        nf, size_sum = snap(wh.read_snapshot("functions", pins_))
        nc = wh.read_snapshot("calls", pins_).count()
        if nf != nc:
            raise AssertionError(f"snapshot is TORN: {nf} functions vs {nc} calls")
        return nf, size_sum

    # the live head must be torn right now (that is what we protect from)
    if wh.read("calls").count() == wh.read("functions").count():
        raise AssertionError("crash injection failed to tear the live head")
    n1, c1 = pinned(pins)

    v2 = wh.import_atomic(
        {"functions": fns("b"), "calls": calls("b")},
        txn=("imp", 2),
        batch_seq=2,
    )
    pins2 = wh.catalog_snapshot()
    n2, c2 = pinned(pins2)
    v3 = wh.import_atomic(
        {"functions": fns("b"), "calls": calls("b")},
        txn=("imp", 2),
        batch_seq=2,
    )
    if v3 != v2:
        raise AssertionError("idempotent replay created a new catalog version")
    return phase_rows(
        spark, [("1_snapshot_during_crash", n1, c1), ("2_snapshot_after_retry", n2, c2)]
    )


@register(
    "warehouse_cdf_watermark_certified",
    oracle="""
    WITH r AS (
      SELECT o_orderkey % 100 AS res, 1000 + (o_orderkey % 100) AS ts
      FROM orders
    ),
    wm AS (SELECT 1000 + max(res) + 5 AS wm2 FROM r)
    SELECT win_start, n_rows, sum_size FROM (
      SELECT CAST(1000 + 10 * (res // 10) AS BIGINT) AS win_start,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(ts) AS BIGINT) AS sum_size
      FROM r
      GROUP BY 1
    ) w, wm
    WHERE w.win_start + 10 <= wm.wm2
    ORDER BY win_start
    """,
    tags=("warehouse", "streaming", "scale"),
)
def warehouse_cdf_watermark_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF lever #21 — WATERMARK / LATE-DATA semantics over the change
    feed, certified with REAL multi-batch processing (not a single
    drained batch, where nothing can ever be late).
    `streaming/cdf_consumers.cdf_windowed_query`: event-time tumbling
    windows under a 10s watermark in APPEND mode, event time derived
    from a data column.

    Phases, interleaving commits with ``processAllAvailable()``:

    1. snapshot commit (residue-spread event times) → batch 1 emits
       exactly the windows whose end the watermark passed — STRICTLY
       FEWER than the final set (asserted: append mode closes windows
       incrementally, not all at once);
    2. a second commit carries one LATE row (event time far below the
       advanced watermark — must be DROPPED) and one on-time row that
       advances the watermark further → batch 2 closes the remaining
       snapshot windows; the late row's window total must NOT change,
       and the on-time row's own window (still open) must not emit;
    3. every window appears EXACTLY once in the append sink (no
       re-emission).

    The final sink equals the batch twin the oracle computes from
    `orders` with the same watermark arithmetic."""
    import uuid as _uuid

    from ..model import load_table
    from ..sources.warehouse import Warehouse
    from ..streaming.cdf_consumers import cdf_windowed_query

    root = scratch_root(sf_dir, "bxg_cdfwm_scratch")
    wh = Warehouse(spark, root)
    orders = load_table(spark, sf_dir, "orders")

    seed = function_rows(orders, F.lit(1000) + F.col("o_orderkey") % 100)
    wh.merge_batch_incremental({"functions": seed}, n_buckets=8)
    max_res = int(orders.agg(F.max(F.col("o_orderkey") % 100)).collect()[0][0])
    wm1 = 1000 + max_res - 10

    name = f"cdfwm_gate_{_uuid.uuid4().hex[:10]}"
    q = cdf_windowed_query(
        spark, root, "functions",
        window="10 seconds", watermark="10 seconds",
        queryName=name,
        checkpoint=os.path.join(root, "_ckpt"),
    )
    try:
        q.processAllAvailable()
        n_batch1 = spark.table(name).count()
        late = spark.createDataFrame(
            [("late", "fn", "", 1000, "Internal"),
             ("ontime", "fn", "", wm1 + 25, "Internal")],
            "uid string, name string, address string, size long, type string",
        )
        wh.merge_batch_incremental({"functions": late}, batch_seq=2)
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(name)
    n_final = out.count()
    if not n_batch1 < n_final:
        raise AssertionError(
            f"append mode must close windows incrementally: batch1 emitted "
            f"{n_batch1}, final {n_final}"
        )
    if out.groupBy("win_start").count().filter(F.col("count") > 1).count():
        raise AssertionError("append sink re-emitted a window")
    w0 = out.filter(F.col("win_start") == 1000).head()
    base0 = orders.filter(F.col("o_orderkey") % 100 < 10).count()
    if w0 is None or w0["n_rows"] != base0:
        raise AssertionError(
            f"late row leaked into a closed window: {w0} vs base {base0}"
        )
    if out.filter(F.col("win_start") > 1000 + max_res).count():
        raise AssertionError("the on-time row's open window must not emit")
    return out.orderBy("win_start")


@register(
    "warehouse_cdf_join_certified",
    oracle="""
    WITH p AS (
      SELECT o_orderkey % 40 AS lag
      FROM orders
      WHERE o_orderkey % 2 = 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_replicated,
           CAST(sum(lag) AS BIGINT) AS sum_lag_s,
           CAST(max(lag) AS BIGINT) AS max_lag_s
    FROM p
    WHERE lag <= 30
    """,
    tags=("warehouse", "streaming", "scale"),
)
def warehouse_cdf_join_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDF lever #22 — STREAM-STREAM JOIN over TWO change feeds: the
    replica-lag monitor.  `streaming/cdf_consumers.cdf_two_feed_join`
    inner-joins the primary table's insert feed with the replica's on
    uid, constraining the replica's event time to
    [primary, primary + 30s], BOTH sides watermarked — Spark evicts
    join state past watermark + bound, so state is O(one lag-window),
    not O(stream) (measured by tools/endurance_cdf_watermark.py).

    Fixture: every even-keyed primary row exists on the replica with
    apply time = primary + (key mod 40) seconds — so exactly the
    lag ≤ 30 subset must join; rows beyond the bound (the lag monitor's
    alarms) and odd keys (not yet replicated) must not.  The drained
    stream result must equal the batch twin (asserted in-gate against
    a static join of the two live tables; the oracle replays the same
    from `orders`)."""
    import uuid as _uuid

    from ..model import load_table
    from ..sources.warehouse import Warehouse
    from ..streaming.cdf_consumers import cdf_two_feed_join

    root = scratch_root(sf_dir, "bxg_cdfjoin_scratch")
    wh = Warehouse(spark, root)
    orders = load_table(spark, sf_dir, "orders")

    def fns(df):
        return df.select(
            "uid",
            F.lit("fn").alias("name"),
            F.lit("").alias("address"),
            F.col("ts").cast("long").alias("size"),
            F.lit("Internal").alias("type"),
        )

    p = orders.select(
        F.col("o_orderkey").cast("string").alias("uid"),
        (F.lit(1000) + F.col("o_orderkey") % 100).alias("ts"),
    )
    r = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").cast("string").alias("uid"),
        (F.lit(1000) + F.col("o_orderkey") % 100 + F.col("o_orderkey") % 40).alias("ts"),
    )
    wh.merge_batch_incremental({"functions": fns(p)}, n_buckets=8)
    # the replica table reuses the functions schema under another name:
    # register it ad hoc (same shape, own manifest)
    from ..sources import warehouse as wh_mod

    if "functions_replica" not in wh_mod.MERGE_KEYS:
        wh_mod.MERGE_KEYS["functions_replica"] = ["uid"]
        wh_mod.ALL_TABLES["functions_replica"] = wh_mod.ALL_TABLES["functions"]
    wh.merge_batch_incremental({"functions_replica": fns(r)}, n_buckets=8)

    joined = cdf_two_feed_join(
        spark, root, "functions", "functions_replica",
        lag_bound_s=30, watermark="60 seconds",
    )
    name = f"cdfjoin_gate_{_uuid.uuid4().hex[:10]}"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(root, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table(name)
    # batch twin, in-gate: the same join computed statically
    twin = (
        wh.read("functions")
        .select("uid", F.col("size").alias("p_ts"))
        .join(
            wh.read("functions_replica").select("uid", F.col("size").alias("r_ts")),
            "uid",
        )
        .filter(
            (F.col("r_ts") >= F.col("p_ts"))
            & (F.col("r_ts") <= F.col("p_ts") + 30)
        )
        .select("uid", (F.col("r_ts") - F.col("p_ts")).alias("lag_s"))
    )
    sg = sorted(tuple(x) for x in got.collect())
    st = sorted(tuple(x) for x in twin.collect())
    if sg != st:
        raise AssertionError(
            f"stream-stream join diverged from the batch twin: "
            f"{len(sg)} vs {len(st)} rows"
        )
    return got.agg(
        F.count(F.lit(1)).alias("n_replicated"),
        F.sum("lag_s").alias("sum_lag_s"),
        F.max("lag_s").alias("max_lag_s"),
    )


@register(
    "warehouse_merge_into_certified",
    oracle="""
    WITH base AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS uid,
             CAST(o_orderkey AS BIGINT) AS size,
             o_orderkey AS k
      FROM orders
    ),
    merged AS (
      SELECT uid,
             CASE WHEN k % 5 = 0 THEN size + 1000000 ELSE size END AS size
      FROM base WHERE k % 5 <> 1
      UNION ALL
      SELECT 'x' || uid AS uid, CAST(NULL AS BIGINT) AS size
      FROM base WHERE k % 11 = 0
    )
    SELECT * FROM (
      SELECT '1_updated' AS phase,
             CAST(count(*) AS BIGINT) AS n,
             CAST(COALESCE(sum(size + 1000000), 0) AS BIGINT) AS checksum
      FROM base WHERE k % 5 = 0
      UNION ALL
      SELECT '2_deleted', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(size), 0) AS BIGINT)
      FROM base WHERE k % 5 = 1
      UNION ALL
      SELECT '3_inserted', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT)
      FROM base WHERE k % 11 = 0
      UNION ALL
      SELECT '4_final', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(size), 0) AS BIGINT)
      FROM merged
    ) t ORDER BY phase
    """,
    tags=("warehouse", "layout", "scale"),
)
def warehouse_merge_into_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse lever #23 — Delta's three-arm **MERGE INTO**
    (`sources/warehouse.py:merge_into`), certified inside the gate:
    one conditional merge whose source drives an UPDATE arm
    (``size += 1e6`` on keys ≡0 mod 5), a DELETE arm (keys ≡1 mod 5)
    and an INSERT arm (fresh ``x``-prefixed keys), against a bucketed
    table at data scale.  The engine reads and rewrites ONLY the
    buckets the source touches (manifest-level pruning, DV-applied),
    runs ONE full-outer join in logical space, and publishes one
    commit.

    In-gate raises unless: the arm counts match the constructed sets;
    ``read_changes`` across the merge is EXACTLY the arms (update =
    delete+insert pair, delete = delete, insert = insert, carries
    contribute nothing); and replaying the merge under the same txn key
    publishes nothing.  Final state replays in DuckDB from `orders`."""
    from ..model import load_table
    from ..sources.warehouse import Warehouse

    wh = Warehouse(spark, scratch_root(sf_dir, "bxg_mi_scratch"))
    orders = load_table(spark, sf_dir, "orders")
    wh.merge_batch_incremental({"functions": function_rows(orders)}, n_buckets=16)
    v0 = wh.versions("functions")[-1]

    upd = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").cast("string").alias("uid"),
        (F.col("o_orderkey").cast("long") + 1000000).alias("new_size"),
    )
    dele = orders.filter(F.col("o_orderkey") % 5 == 1).select(
        F.col("o_orderkey").cast("string").alias("uid"),
        F.lit(-1).cast("long").alias("new_size"),
    )
    ins = orders.filter(F.col("o_orderkey") % 11 == 0).select(
        F.concat(F.lit("x"), F.col("o_orderkey").cast("string")).alias("uid"),
        F.lit(0).cast("long").alias("new_size"),
    )
    src = upd.unionByName(dele).unionByName(ins)
    d = wh.merge_into(
        "functions", src,
        when_matched_update={"size": F.col("s.new_size")},
        when_matched_condition=F.col("s.new_size") >= 0,
        when_matched_delete=F.col("s.new_size") < 0,
        when_not_matched_insert=True,
        txn=("mi", 1),
    )
    n_upd = orders.filter(F.col("o_orderkey") % 5 == 0).count()
    n_del = orders.filter(F.col("o_orderkey") % 5 == 1).count()
    n_ins = orders.filter(F.col("o_orderkey") % 11 == 0).count()
    if (d["rows_updated"], d["rows_deleted"], d["rows_inserted"]) != (
        n_upd, n_del, n_ins,
    ):
        raise AssertionError(f"merge arms wrong: {d} vs {(n_upd, n_del, n_ins)}")
    ch = wh.read_changes("functions", v0)
    cc = {
        r["_change"]: r["n"]
        for r in ch.groupBy("_change").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # update = delete+insert pair; delete = delete; insert = insert
    if cc != {"delete": n_upd + n_del, "insert": n_upd + n_ins}:
        raise AssertionError(f"merge CDC wrong: {cc}")
    v1 = wh.versions("functions")[-1]
    d2 = wh.merge_into(
        "functions", src,
        when_matched_update={"size": F.col("s.new_size")},
        when_matched_condition=F.col("s.new_size") >= 0,
        when_matched_delete=F.col("s.new_size") < 0,
        when_not_matched_insert=True,
        txn=("mi", 1),
    )
    if wh.versions("functions")[-1] != v1 or d2["rows_updated"]:
        raise AssertionError("txn replay must publish nothing")

    live = wh.read("functions")
    u_n, u_c = snap(live.filter(F.col("size") >= 1000000))
    del_keys = orders.filter(F.col("o_orderkey") % 5 == 1).select(
        F.col("o_orderkey").cast("string").alias("uid")
    )
    if live.join(del_keys, "uid", "left_semi").count():
        raise AssertionError("deleted keys survived the merge")
    i_n, _ = snap(live.filter(F.col("uid").startswith("x")))
    f_n, f_c = snap(live)
    _, del_c = snap(orders.filter(F.col("o_orderkey") % 5 == 1), "o_orderkey")
    return phase_rows(
        spark,
        [
            ("1_updated", u_n, u_c),
            ("2_deleted", n_del, del_c),
            ("3_inserted", i_n, 0),
            ("4_final", f_n, f_c),
        ],
    )


@register(
    "warehouse_timestamp_travel_certified",
    oracle="""
    WITH base AS (
      SELECT CAST(o_orderkey AS BIGINT) AS size FROM orders
    )
    SELECT * FROM (
      SELECT '1_as_of_first_commit' AS phase,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(size) AS BIGINT) AS checksum
      FROM base
      UNION ALL
      SELECT '2_as_of_second_commit', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(size), 0) AS BIGINT)
      FROM base WHERE size >= (SELECT min(size) + 100 FROM base)
    ) t ORDER BY phase
    """,
    tags=("warehouse", "layout"),
)
def warehouse_timestamp_travel_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse lever #24 — TIMESTAMP AS OF (Delta's second time-travel
    axis).  Every manifest records its PUBLISH wall-clock
    (``committed_at``, re-stamped on commit-loop retries so it is the
    moment the version became visible); ``read(table, timestamp=ts)``
    resolves to the newest version published at or before ``ts`` —
    metadata-only resolution, no file reads.

    In-gate raises unless: reading AT each commit's own timestamp
    returns that commit's exact state; a timestamp BETWEEN two commits
    resolves to the earlier one; a far-future timestamp reads the live
    head; and a timestamp BEFORE the first commit raises loudly
    (asking for a state that never existed must not silently read
    something else).  Both states replay in DuckDB from `orders`."""
    import time

    from ..model import load_table
    from ..sources.warehouse import Warehouse

    wh = Warehouse(spark, scratch_root(sf_dir, "bxg_tstravel_scratch"))
    orders = load_table(spark, sf_dir, "orders")
    wh.merge_batch_incremental({"functions": function_rows(orders)}, n_buckets=8)
    v0 = wh.versions("functions")[-1]
    ts0 = wh._manifest("functions", v0)["committed_at"]
    kmin = int(orders.agg(F.min("o_orderkey")).collect()[0][0])
    wh.delete_where_dv(
        "functions", [("size", "<", kmin + 100)]
    )
    v1 = wh.versions("functions")[-1]
    ts1 = wh._manifest("functions", v1)["committed_at"]
    if not ts1 >= ts0:
        raise AssertionError("publish timestamps must be monotone")

    def as_of(ts):
        return snap(wh.read("functions", timestamp=ts))

    n0, c0 = as_of(ts0)
    mid = (ts0 + ts1) / 2
    if ts1 > ts0 and as_of(mid) != (n0, c0):
        raise AssertionError("between-commit timestamp must resolve backward")
    n1, c1 = as_of(ts1)
    if as_of(time.time() + 3600) != (n1, c1):
        raise AssertionError("future timestamp must read the live head")
    try:
        wh.read("functions", timestamp=ts0 - 1e6)
    except FileNotFoundError:
        pass
    else:
        raise AssertionError("pre-first-commit timestamp must raise")
    return phase_rows(
        spark, [("1_as_of_first_commit", n0, c0), ("2_as_of_second_commit", n1, c1)]
    )


@register(
    "warehouse_mor_update_certified",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, CAST(o_orderkey AS BIGINT) AS size FROM orders
    ),
    bnd AS (
      SELECT min(k) + (max(k) - min(k)) // 10 AS lo,
             min(k) + (max(k) - min(k)) // 5 AS hi
      FROM base
    )
    SELECT * FROM (
      SELECT '1_updated_rows' AS phase, CAST(count(*) AS BIGINT) AS n,
             CAST(COALESCE(sum(size + 1000000), 0) AS BIGINT) AS checksum
      FROM base, bnd WHERE size BETWEEN lo AND hi
      UNION ALL
      SELECT '2_untouched_rows', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(size), 0) AS BIGINT)
      FROM base, bnd WHERE size NOT BETWEEN lo AND hi
      UNION ALL
      SELECT '3_timetravel_pre_update', CAST(count(*) AS BIGINT),
             CAST(sum(size) AS BIGINT)
      FROM base
      UNION ALL
      SELECT '4_cow_equivalence_diff', 0, 0
    ) t ORDER BY phase
    """,
    tags=("warehouse", "layout", "scale"),
)
def warehouse_mor_update_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse lever #26 — MERGE-ON-READ UPDATE, certified inside the
    gate.  ``update_where_dv`` (`sources/warehouse.py:update_where_dv`)
    is Delta's DV+append update: the matching rows' old positions are
    tombstoned into ONE parquet sidecar and their updated images are
    APPENDED as new files — the commit writes O(updated rows), not
    O(touched files), closing the last copy-on-write write-amp in the
    DML surface (delete got the DV lane in round 10).

    One bucketed commit at data scale, the same range update the CoW
    certifier runs (``size += 1_000_000`` + a type flip), then the
    query RAISES unless:

    - ZERO data files were rewritten and every pre-update file kept its
      exact byte size (merge-on-read, measured);
    - the commit's write volume (sidecar + appended images) is a small
      fraction of the candidate files' bytes (O(changed rows), the
      write-amp claim priced in-gate);
    - the row count is preserved and CDC across the update reports
      exactly one delete+insert pair per updated row;
    - a twin warehouse updated through the COPY-ON-WRITE lane reads
      back bit-identical (symmetric multiset difference empty) — the
      MOR lane is observationally invisible.

    Updated rows, untouched rows, and the pre-update state replay in
    DuckDB from `orders`; phase 4 pins the measured CoW diff at 0."""
    from ..model import load_table
    from ..sources.warehouse import Warehouse

    root = scratch_root(sf_dir, "bxg_mor_update_scratch")
    orders = load_table(spark, sf_dir, "orders")
    df = function_rows(orders)

    kb = orders.agg(
        F.min("o_orderkey").alias("kmin"), F.max("o_orderkey").alias("kmax")
    ).collect()[0]
    span = int(kb["kmax"]) - int(kb["kmin"])
    lo = int(kb["kmin"]) + span // 10
    hi = int(kb["kmin"]) + span // 5
    preds = [("size", "between", (lo, hi))]
    assigns = {"size": F.col("size") + 1_000_000, "type": "External"}

    wh = Warehouse(spark, os.path.join(root, "mor"))
    wh.merge_batch_incremental({"functions": df}, n_buckets=8)
    v_pre = wh.versions("functions")[-1]
    m0 = wh._manifest("functions", v_pre)

    d = wh.update_where_dv("functions", preds, assigns)
    if d["files_rewritten"] != 0:
        raise AssertionError(f"MOR update rewrote files: {d}")
    m1 = wh._manifest("functions", wh.versions("functions")[-1])
    for rel, b in m0["bytes"].items():
        if m1["bytes"].get(rel) != b:
            raise AssertionError(f"MOR update changed bytes of {rel}")
    cand_bytes = sum(m0["bytes"].values())
    written = d["dv_bytes"] + d["appended_bytes"]
    if not (0 < written < cand_bytes / 2):
        raise AssertionError(
            f"MOR commit wrote {written}B vs {cand_bytes}B of data files — "
            f"not O(changed rows)"
        )

    live = wh.read("functions")
    pre = wh.read("functions", version=v_pre)
    if live.count() != pre.count():
        raise AssertionError("MOR UPDATE changed the row count")
    ch = wh.read_changes("functions", v_pre)
    counts = {r["_change"]: r["count"] for r in ch.groupBy("_change").count().collect()}
    if (
        counts.get("insert", 0) != d["rows_updated"]
        or counts.get("delete", 0) != d["rows_updated"]
    ):
        raise AssertionError(
            f"CDC should be one delete+insert pair per updated row: "
            f"{counts} vs rows_updated={d['rows_updated']}"
        )

    # twin warehouse through the CoW lane: must read back identical
    cow = Warehouse(spark, os.path.join(root, "cow"))
    cow.merge_batch_incremental({"functions": df}, n_buckets=8)
    cow.update_where("functions", preds, assigns)
    diff_n = (
        live.exceptAll(cow.read("functions"))
        .unionAll(cow.read("functions").exceptAll(live))
        .count()
    )
    if diff_n != 0:
        raise AssertionError(f"MOR vs CoW update diverge by {diff_n} rows")

    up_n, up_c = snap(live.filter(F.col("type") == "External"))
    un_n, un_c = snap(live.filter(F.col("type") == "Internal"))
    tt_n, tt_c = snap(pre)
    return phase_rows(
        spark,
        [
            ("1_updated_rows", up_n, up_c),
            ("2_untouched_rows", un_n, un_c),
            ("3_timetravel_pre_update", tt_n, tt_c),
            ("4_cow_equivalence_diff", diff_n, 0),
        ],
    )


@register(
    "warehouse_merge_into_mor_certified",
    oracle="""
    WITH base AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS uid,
             CAST(o_orderkey AS BIGINT) AS size,
             o_orderkey AS k
      FROM orders
    ),
    merged AS (
      SELECT uid,
             CASE WHEN k % 5 = 0 THEN size + 1000000 ELSE size END AS size
      FROM base WHERE k % 5 <> 1
      UNION ALL
      SELECT 'x' || uid AS uid, CAST(NULL AS BIGINT) AS size
      FROM base WHERE k % 11 = 0
    )
    SELECT * FROM (
      SELECT '1_updated' AS phase,
             CAST(count(*) AS BIGINT) AS n,
             CAST(COALESCE(sum(size + 1000000), 0) AS BIGINT) AS checksum
      FROM base WHERE k % 5 = 0
      UNION ALL
      SELECT '2_deleted', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(size), 0) AS BIGINT)
      FROM base WHERE k % 5 = 1
      UNION ALL
      SELECT '3_inserted', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT)
      FROM base WHERE k % 11 = 0
      UNION ALL
      SELECT '4_final', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(size), 0) AS BIGINT)
      FROM merged
      UNION ALL
      SELECT '5_mor_cow_diff', 0, 0
    ) t ORDER BY phase
    """,
    tags=("warehouse", "layout", "scale"),
)
def warehouse_merge_into_mor_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse lever #27 — MERGE INTO through the MERGE-ON-READ lane
    (``strategy='mor'``, the r11 default): matched update/delete arms
    DV-tombstone their target positions into ONE sidecar and only the
    update/insert images are appended — carry rows are never rewritten,
    so the commit writes O(changed rows) where the copy-on-write lane
    rewrites every touched bucket in full.

    The same three-arm conditional merge the CoW certifier runs, driven
    through BOTH lanes on twin warehouses; in-gate raises unless:

    - the MOR manifest carries every pre-merge file at its exact byte
      size (zero rewrites, measured);
    - the MOR commit's new bytes (appended images + DV sidecar) are a
      small fraction of the bytes the CoW lane rewrote;
    - both lanes read back bit-identical (symmetric multiset
      difference pinned at 0 in phase 5) and report identical arm
      counts;
    - CDC across the MOR merge is exactly the arms (update =
      delete+insert pair, delete = delete, insert = insert).

    Arm counts and the final state replay in DuckDB from `orders`."""
    from ..model import load_table
    from ..sources.warehouse import Warehouse

    root = scratch_root(sf_dir, "bxg_mi_mor_scratch")
    orders = load_table(spark, sf_dir, "orders")
    df = function_rows(orders)
    upd = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").cast("string").alias("uid"),
        (F.col("o_orderkey").cast("long") + 1000000).alias("new_size"),
    )
    dele = orders.filter(F.col("o_orderkey") % 5 == 1).select(
        F.col("o_orderkey").cast("string").alias("uid"),
        F.lit(-1).cast("long").alias("new_size"),
    )
    ins = orders.filter(F.col("o_orderkey") % 11 == 0).select(
        F.concat(F.lit("x"), F.col("o_orderkey").cast("string")).alias("uid"),
        F.lit(0).cast("long").alias("new_size"),
    )
    src = upd.unionByName(dele).unionByName(ins)
    arms = dict(
        when_matched_update={"size": F.col("s.new_size")},
        when_matched_condition=F.col("s.new_size") >= 0,
        when_matched_delete=F.col("s.new_size") < 0,
        when_not_matched_insert=True,
    )

    mor = Warehouse(spark, os.path.join(root, "mor"))
    cow = Warehouse(spark, os.path.join(root, "cow"))
    for w in (mor, cow):
        w.merge_batch_incremental({"functions": df}, n_buckets=16)
    v0 = mor.versions("functions")[-1]
    m0 = mor._manifest("functions", v0)
    c0 = cow._manifest("functions", cow.versions("functions")[-1])

    d_mor = mor.merge_into("functions", src, strategy="mor", **arms)
    d_cow = cow.merge_into("functions", src, strategy="cow", **arms)
    if d_mor != d_cow:
        raise AssertionError(f"lanes report different outcomes: {d_mor} vs {d_cow}")

    m1 = mor._manifest("functions", mor.versions("functions")[-1])
    for rel, b in m0["bytes"].items():
        if m1["bytes"].get(rel) != b:
            raise AssertionError(f"MOR merge rewrote {rel}")
    mor_new = sum(
        b for rel, b in m1["bytes"].items() if rel not in m0["bytes"]
    ) + sum(f.stat().st_size for f in mor._dv_dir("functions").glob("dv-*.parquet"))
    c1 = cow._manifest("functions", cow.versions("functions")[-1])
    cow_rewritten = sum(
        b for rel, b in c1["bytes"].items() if rel not in c0["bytes"]
    )
    # every key-bucket is touched here (dense arms), so CoW rewrites the
    # whole table; MOR must still write materially less than that
    if not (0 < mor_new < cow_rewritten):
        raise AssertionError(
            f"MOR wrote {mor_new}B, CoW rewrote {cow_rewritten}B — "
            f"merge-on-read saved nothing"
        )

    ch = mor.read_changes("functions", v0)
    cc = {
        r["_change"]: r["n"]
        for r in ch.groupBy("_change").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_upd, n_del, n_ins = (
        d_mor["rows_updated"], d_mor["rows_deleted"], d_mor["rows_inserted"],
    )
    if cc != {"delete": n_upd + n_del, "insert": n_upd + n_ins}:
        raise AssertionError(f"MOR merge CDC wrong: {cc}")

    live_m, live_c = mor.read("functions"), cow.read("functions")
    diff_n = (
        live_m.exceptAll(live_c).unionAll(live_c.exceptAll(live_m)).count()
    )
    if diff_n != 0:
        raise AssertionError(f"MOR vs CoW merge diverge by {diff_n} rows")

    u_n, u_c = snap(live_m.filter(F.col("size") >= 1000000))
    d_n, d_c = snap(
        mor.read("functions", version=v0).join(
            dele.select("uid"), "uid", "left_semi"
        )
    )
    i_n, _ = snap(live_m.filter(F.col("uid").startswith("x")))
    f_n, f_c = snap(live_m)
    return phase_rows(
        spark,
        [
            ("1_updated", u_n, u_c),
            ("2_deleted", d_n, d_c),
            ("3_inserted", i_n, 0),
            ("4_final", f_n, f_c),
            ("5_mor_cow_diff", diff_n, 0),
        ],
    )


@register(
    "warehouse_cdf_update_images_certified",
    oracle="""
    WITH base AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS uid,
             CAST(o_orderkey AS BIGINT) AS size,
             o_orderkey AS k
      FROM orders
    )
    SELECT * FROM (
      SELECT '1_update_preimages' AS phase,
             CAST(count(*) AS BIGINT) AS n,
             CAST(COALESCE(sum(size), 0) AS BIGINT) AS checksum
      FROM base WHERE k % 5 = 0
      UNION ALL
      SELECT '2_update_postimages', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(size + 1000000), 0) AS BIGINT)
      FROM base WHERE k % 5 = 0
      UNION ALL
      SELECT '3_plain_deletes', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(size), 0) AS BIGINT)
      FROM base WHERE k % 5 = 1
      UNION ALL
      SELECT '4_plain_inserts', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT)
      FROM base WHERE k % 11 = 0
      UNION ALL
      SELECT '5_replica_diff', 0, 0
    ) t ORDER BY phase
    """,
    tags=("warehouse", "streaming", "scale"),
)
def warehouse_cdf_update_images_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse lever #28 — CDF UPDATE PRE/POST IMAGES (Delta's change
    types).  ``read_changes(update_images=True)``
    (`sources/warehouse.py:read_changes`) relabels a version diff's
    keyed delete+insert pairs as ``update_preimage``/``update_postimage``
    by linking on the table's MERGE KEYS — the signal CDC consumers use
    to distinguish row MUTATION from key churn.  The linking is one
    window over the CHANGE SET (O(commit), never O(table)); the
    streaming source's ``updateImages`` option does the same pairing
    executor-locally per bucket (merge keys are bucket-colocated — no
    extra shuffle at any scale).

    One three-arm MERGE at data scale (updates ≡0 mod 5, deletes ≡1
    mod 5, inserts ≡0 mod 11), then the gate RAISES unless:

    - every updated key yields exactly one preimage (old values) and
      one postimage (new values), deletes and inserts keep plain
      labels, and key churn is never mislabeled;
    - the multiset identity rebuilds the new version exactly:
      old − preimages + postimages − (none) ∪ plain arms == live;
    - the canonical CDC-apply sink draining the feed WITH images
      (`streaming/merge_sink.py:apply_changes_merge_into` — postimages
      and inserts MERGE-upsert, plain deletes delete) leaves a replica
      bit-identical to the source (phase 5 pins the diff at 0); the
      replica seeds from a filesystem snapshot of v0 (how a real
      replica bootstraps) and the sink consumes the SAME checkpointed
      change frame every assertion phase reads — the r12 diet: one
      feed derivation for the whole harness, not one per phase.

    All four label populations replay in DuckDB from `orders`."""
    from ..model import load_table
    from ..sources.warehouse import Warehouse
    from ..streaming.merge_sink import apply_changes_merge_into

    root = scratch_root(sf_dir, "bxg_cdfimg_scratch")
    orders = load_table(spark, sf_dir, "orders")
    src_wh = Warehouse(spark, os.path.join(root, "src"))
    src_wh.merge_batch_incremental({"functions": function_rows(orders)}, n_buckets=16)
    v0 = src_wh.versions("functions")[-1]
    # replica bootstrap = filesystem snapshot of v0 (copied BEFORE the
    # DML commit) — a real replica restores from a storage snapshot,
    # and the harness saves a second full-table Spark write
    shutil.copytree(os.path.join(root, "src"), os.path.join(root, "dst"))

    upd = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").cast("string").alias("uid"),
        (F.col("o_orderkey").cast("long") + 1000000).alias("new_size"),
    )
    dele = orders.filter(F.col("o_orderkey") % 5 == 1).select(
        F.col("o_orderkey").cast("string").alias("uid"),
        F.lit(-1).cast("long").alias("new_size"),
    )
    ins = orders.filter(F.col("o_orderkey") % 11 == 0).select(
        F.concat(F.lit("x"), F.col("o_orderkey").cast("string")).alias("uid"),
        F.lit(0).cast("long").alias("new_size"),
    )
    src_wh.merge_into(
        "functions", upd.unionByName(dele).unionByName(ins),
        when_matched_update={"size": F.col("s.new_size")},
        when_matched_condition=F.col("s.new_size") >= 0,
        when_matched_delete=F.col("s.new_size") < 0,
        when_not_matched_insert=True,
    )

    ch = src_wh.read_changes("functions", v0, update_images=True)
    ch = ch.localCheckpoint(eager=True)

    pre = ch.filter(F.col("_change") == "update_preimage")
    post = ch.filter(F.col("_change") == "update_postimage")
    pdel = ch.filter(F.col("_change") == "delete")
    pins = ch.filter(F.col("_change") == "insert")
    # all four label populations in ONE aggregation job
    by_label = {
        r["_change"]: (int(r["n"]), int(r["c"] or 0))
        for r in ch.groupBy("_change").agg(
            F.count(F.lit(1)).alias("n"), F.sum("size").alias("c")
        ).collect()
    }
    pre_n, pre_c = by_label.get("update_preimage", (0, 0))
    post_n, post_c = by_label.get("update_postimage", (0, 0))
    del_n, del_c = by_label.get("delete", (0, 0))
    ins_n, _ = by_label.get("insert", (0, 0))
    if pre_n != post_n:
        raise AssertionError(f"unbalanced images: {pre_n} pre vs {post_n} post")
    # each updated key yields exactly one pre + one post
    bad_keys = (
        pre.select("uid").groupBy("uid").count().filter(F.col("count") != 1)
    )
    if not bad_keys.isEmpty():
        raise AssertionError("a key produced multiple preimages")
    if pins.filter(~F.col("uid").startswith("x")).count():
        raise AssertionError("a non-inserted key was labeled insert")
    if pdel.join(post.select("uid"), "uid", "left_semi").count():
        raise AssertionError("key churn mislabeled: a deleted key has a postimage")

    # multiset identity with image labels
    old = src_wh.read("functions", version=v0)
    live = src_wh.read("functions").localCheckpoint(eager=True)
    rebuilt = (
        old.exceptAll(pre.drop("_change"))
        .exceptAll(pdel.drop("_change"))
        .unionAll(post.drop("_change"))
        .unionAll(pins.drop("_change"))
    )
    ident = rebuilt.exceptAll(live).unionAll(live.exceptAll(rebuilt)).count()
    if ident != 0:
        raise AssertionError(f"image multiset identity broken by {ident} rows")

    # the canonical CDC-apply sink drains the SAME checkpointed frame
    dst_wh = Warehouse(spark, os.path.join(root, "dst"))
    head = src_wh.versions("functions")[-1]
    apply_changes_merge_into(
        dst_wh, "functions", ch.withColumn("_version", F.lit(head))
    )
    rep = dst_wh.read("functions")
    diff_n = rep.exceptAll(live).unionAll(live.exceptAll(rep)).count()
    if diff_n != 0:
        raise AssertionError(f"image-fed replica diverges by {diff_n} rows")

    return phase_rows(
        spark,
        [
            ("1_update_preimages", pre_n, pre_c),
            ("2_update_postimages", post_n, post_c),
            ("3_plain_deletes", del_n, del_c),
            ("4_plain_inserts", ins_n, 0),
            ("5_replica_diff", diff_n, 0),
        ],
    )


@register(
    "warehouse_model_store_certified",
    oracle="""
    WITH s AS (SELECT CAST(sum(o_orderkey) AS BIGINT) AS t FROM orders)
    SELECT * FROM (
      SELECT '1_put_get' AS phase, CAST(1 AS BIGINT) AS n,
             t AS checksum FROM s
      UNION ALL SELECT '2_stale_key_miss', 1, 0
      UNION ALL SELECT '3_overwrite_live', 1, 2 * t FROM s
      UNION ALL SELECT '4_timetravel_old', 1, t FROM s
      UNION ALL SELECT '5_vacuumed_live', 1, 2 * t FROM s
    ) q ORDER BY phase
    """,
    tags=("warehouse", "scale"),
)
def warehouse_model_store_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse lever #29 — the MODEL STORE
    (`sources/model_store.ModelStore`), certified inside the gate like
    every other warehouse feature: trained artifacts (IVF/PQ codebooks)
    are LWW rows of the ``_models`` table, so they inherit the manifest
    protocol wholesale instead of living as driver-local tempfiles.

    The full artifact lifecycle, each step RAISING on divergence:

    - **put → get** round-trips a payload derived from `orders` (so
      DuckDB replays the checksum);
    - **stale content key** misses (a retrained implementation
      invalidates old artifacts — get returns None, never a stale
      codebook);
    - **LWW overwrite** publishes a new version whose get supersedes;
    - **time travel** still reads the OLD artifact at its version;
    - **vacuum** (keep_last=0) expires the old version — the live
      artifact survives, the expired one is gone.

    Production roots resolve via ``spark.bxg.modelRoot``
    (`operators/similarity.py:_default_model_store`); the scratch root
    here plays that role."""
    from ..model import load_table
    from ..sources.model_store import ModelStore

    orders = load_table(spark, sf_dir, "orders")
    t = int(orders.agg(F.sum("o_orderkey").alias("t")).collect()[0]["t"])

    store = ModelStore(spark, scratch_root(sf_dir, "bxg_modelstore_scratch"))
    ck = "trainer-v1"
    store.put("codebook:test", {"total": t}, kind="kmeans_codebook", content_key=ck)
    got1 = store.get("codebook:test", content_key=ck)
    if got1 != {"total": t}:
        raise AssertionError(f"put/get round-trip lost the payload: {got1}")
    v1 = store.wh.versions("_models")[-1]

    if store.get("codebook:test", content_key="trainer-v2") is not None:
        raise AssertionError("stale content key must MISS, not serve old bits")
    miss_n = 1

    store.put(
        "codebook:test", {"total": 2 * t}, kind="kmeans_codebook", content_key=ck
    )
    got2 = store.get("codebook:test", content_key=ck)
    if got2 != {"total": 2 * t}:
        raise AssertionError(f"LWW overwrite not visible: {got2}")

    import json as _json

    old_rows = (
        store.wh.read("_models", version=v1)
        .filter(F.col("name") == "codebook:test")
        .collect()
    )
    if len(old_rows) != 1:
        raise AssertionError("time travel lost the old artifact version")
    old_payload = _json.loads(old_rows[0]["payload"])
    if old_payload != {"total": t}:
        raise AssertionError(f"old version payload wrong: {old_payload}")

    store.wh.vacuum(keep_last=0, staging_ttl_hours=0)
    got3 = store.get("codebook:test", content_key=ck)
    if got3 != {"total": 2 * t}:
        raise AssertionError("vacuum harmed the live artifact")
    try:
        store.wh.read("_models", version=v1).collect()
    except Exception:
        pass  # expired version unreadable, as vacuum promises
    else:
        # some layouts share files across versions — acceptable only if
        # the version list itself no longer advertises v1
        if v1 in store.wh.versions("_models")[:-1]:
            raise AssertionError("vacuum kept the expired artifact version")

    return phase_rows(
        spark,
        [
            ("1_put_get", 1, got1["total"]),
            ("2_stale_key_miss", miss_n, 0),
            ("3_overwrite_live", 1, got2["total"]),
            ("4_timetravel_old", 1, old_payload["total"]),
            ("5_vacuumed_live", 1, got3["total"]),
        ],
    )


@register(
    "warehouse_auto_optimize_certified",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, CAST(o_orderkey AS BIGINT) AS size FROM orders
    ),
    live AS (
      SELECT k, CASE WHEN k % 5 = 1 THEN size + 1000000 ELSE size END AS size
      FROM base WHERE k % 3 <> 0
    )
    SELECT * FROM (
      SELECT '1_live_after_dml' AS phase, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(size) AS BIGINT) AS checksum
      FROM live
      UNION ALL
      SELECT '2_tombstones_before_purge',
             CAST((SELECT count(*) FROM base WHERE k % 3 = 0)
                + (SELECT count(*) FROM base WHERE k % 5 = 1 AND k % 3 <> 0)
                AS BIGINT),
             0
      UNION ALL
      SELECT '3_tombstones_after_purge', 0, 0
      UNION ALL
      SELECT '4_content_diff_across_purge', 0, 0
    ) t ORDER BY phase
    """,
    tags=("warehouse", "layout", "scale"),
)
def warehouse_auto_optimize_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse lever #30 — the DV-DENSITY AUTO-COMPACTION POLICY
    (`sources/warehouse.py:maybe_optimize`): checking costs one
    manifest read plus sidecar parquet footers (``dv_stats`` — no data
    pages), and the O(table) compaction runs ONLY when a trigger fires
    (DV'd-file fraction, sidecar stack depth, or small-file factor —
    the `maybe_rebucket` cadence pattern).  Compaction is the DV purge
    point, so a fired trigger resets every metric it measured — SCALE
    addendum 56 priced the read tax this policy bounds.

    At data scale: a DV delete (ids ≡0 mod 3) plus a MOR update (ids
    ≡1 mod 5) build real merge-on-read debt, then the gate RAISES
    unless (a) ``dv_stats`` counts exactly the tombstones the DML
    wrote, (b) ``maybe_optimize`` fires on the fraction trigger and a
    re-check reports zero debt, (c) the purge changed NOTHING
    observable (symmetric multiset diff across it pinned at 0), and
    (d) a threshold-disarmed call is a metadata-only no-op (no commit).
    Phases replay in DuckDB from `orders`."""
    from ..model import load_table
    from ..sources.warehouse import Warehouse

    wh = Warehouse(spark, scratch_root(sf_dir, "bxg_autoopt_scratch"))
    df = function_rows(load_table(spark, sf_dir, "orders"))
    wh.merge_batch_incremental({"functions": df}, n_buckets=16)

    # disarmed thresholds: checking must commit nothing
    v0 = wh.versions("functions")[-1]
    if wh.maybe_optimize(
        "functions", dv_file_fraction=1.1, max_dv_stack=10_000,
        small_file_factor=10_000,
    ) is not None:
        raise AssertionError("disarmed policy check still fired")
    if wh.versions("functions")[-1] != v0:
        raise AssertionError("policy CHECK published a commit")

    # build merge-on-read debt SET-ORIENTEDLY: a MOR MERGE delete arm
    # then a MOR MERGE update arm (a collected IN-list predicate would
    # be a plan-size bomb at data scale — the source stays a DataFrame)
    d1 = wh.merge_into(
        "functions",
        df.filter(F.col("size") % 3 == 0).select("uid"),
        when_matched_delete=True,
        when_not_matched_insert=False,
    )
    d2 = wh.merge_into(
        "functions",
        df.filter(F.col("size") % 5 == 1).select(
            "uid", (F.col("size") + 1_000_000).alias("new_size")
        ),
        when_matched_update={"size": F.col("s.new_size")},
        when_not_matched_insert=False,
    )
    s_before = wh.dv_stats("functions")
    if s_before["tombstone_rows"] != d1["rows_deleted"] + d2["rows_updated"]:
        raise AssertionError(
            f"dv_stats counted {s_before['tombstone_rows']} tombstones, DML "
            f"wrote {d1['rows_deleted'] + d2['rows_updated']}"
        )
    before_df = wh.read("functions").localCheckpoint(eager=True)

    fired = wh.maybe_optimize(
        "functions", target_bytes=1 << 30, dv_file_fraction=0.2,
    )
    if fired is None or "dv_file_fraction" not in fired["triggers"]:
        raise AssertionError(f"policy did not fire on DV density: {fired}")
    s_after = wh.dv_stats("functions")
    if s_after["files_dvd"] or s_after["tombstone_rows"]:
        raise AssertionError(f"purge left debt behind: {s_after}")
    live = wh.read("functions")
    diff_n = (
        live.exceptAll(before_df).unionAll(before_df.exceptAll(live)).count()
    )
    if diff_n != 0:
        raise AssertionError(f"auto-purge changed content by {diff_n} rows")

    return phase_rows(
        spark,
        [
            ("1_live_after_dml", *snap(live)),
            ("2_tombstones_before_purge", int(s_before["tombstone_rows"]), 0),
            ("3_tombstones_after_purge", int(s_after["tombstone_rows"]), 0),
            ("4_content_diff_across_purge", diff_n, 0),
        ],
    )


@register(
    "streaming_merge_into_apply",
    oracle="""
    WITH base AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS uid,
             CAST(o_orderkey AS BIGINT) AS size,
             o_orderkey AS k
      FROM orders
    ),
    live AS (
      SELECT uid,
             CASE WHEN k % 5 = 0 THEN size + 1000000 ELSE size END AS size
      FROM base WHERE k % 3 <> 0
      UNION ALL
      SELECT 'x' || uid, CAST(0 AS BIGINT) FROM base WHERE k % 11 = 0
    )
    SELECT * FROM (
      SELECT '1_replica_state' AS phase, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(size) AS BIGINT) AS checksum
      FROM live
      UNION ALL
      SELECT '2_source_replica_diff', 0, 0
      UNION ALL
      SELECT '3_replayed_batch_writes', 0, 0
    ) t ORDER BY phase
    """,
    tags=("streaming", "warehouse", "scale"),
)
def streaming_merge_into_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING MERGE INTO sink (`streaming/merge_sink.py`) — the
    canonical lakehouse CDC-apply: the ``warehouse_cdf`` feed (update
    images on) drains through ``foreachBatch`` into a replica via
    per-version MOR MERGE INTO under ``txn=(app, version)`` keys —
    Structured Streaming owns delivery (checkpointed offsets), the txn
    map makes the apply idempotent, so the composition is exactly-once
    end to end.

    At data scale: seed, then a MOR update commit (ids ≡0 mod 5), a DV
    delete commit (ids ≡0 mod 3), and an insert commit (x-prefixed ids
    ≡0 mod 11) on the source; one availableNow drain.  The gate RAISES
    unless the replica reads back bit-identical to the source (phase 2
    pins the diff at 0), and a hand-replayed copy of the final feed
    batch publishes ZERO writes (phase 3 — the crash contract).
    The replica state replays in DuckDB from `orders`."""
    from ..model import load_table
    from ..sources.warehouse import Warehouse
    from ..streaming.merge_sink import (
        apply_changes_merge_into,
        cdf_merge_into_apply,
    )

    root = scratch_root(sf_dir, "bxg_mergesink_scratch")
    orders = load_table(spark, sf_dir, "orders")
    df = function_rows(orders)
    src = Warehouse(spark, os.path.join(root, "src"))
    src.merge_batch_incremental({"functions": df}, n_buckets=16)
    src.merge_into(
        "functions",
        orders.filter(F.col("o_orderkey") % 5 == 0).select(
            F.col("o_orderkey").cast("string").alias("uid"),
            (F.col("o_orderkey").cast("long") + 1000000).alias("new_size"),
        ),
        when_matched_update={"size": F.col("s.new_size")},
        when_not_matched_insert=False,
    )
    # set-oriented MOR delete (a collected IN-list predicate would be
    # a plan-size bomb at data scale)
    src.merge_into(
        "functions",
        df.filter(F.col("size") % 3 == 0).select("uid"),
        when_matched_delete=True,
        when_not_matched_insert=False,
    )
    src.merge_batch_incremental(
        {"functions": orders.filter(F.col("o_orderkey") % 11 == 0).select(
            F.concat(F.lit("x"), F.col("o_orderkey").cast("string")).alias("uid"),
            F.lit("ins").alias("name"),
            F.lit("").alias("address"),
            F.lit(0).cast("long").alias("size"),
            F.lit("Internal").alias("type"),
        )},
        batch_seq=2,
    )

    cdf_merge_into_apply(
        spark, os.path.join(root, "src"), "functions",
        os.path.join(root, "dst"), checkpoint=os.path.join(root, "ckpt"),
    )
    dst = Warehouse(spark, os.path.join(root, "dst"))
    s_live, d_live = src.read("functions"), dst.read("functions")
    diff_n = (
        s_live.exceptAll(d_live).unionAll(d_live.exceptAll(s_live)).count()
    )
    if diff_n != 0:
        raise AssertionError(f"replica diverges from source by {diff_n} rows")

    # crash contract: re-deliver the final version's feed by hand — the
    # txn'd merges must publish nothing
    head = src.versions("functions")[-1]
    replay = src.read_changes(
        "functions", head - 1, head, update_images=True
    ).withColumn("_version", F.lit(head))
    v_dst = dst.versions("functions")[-1]
    stats = apply_changes_merge_into(dst, "functions", replay)
    replay_writes = sum(sum(s.values()) for s in stats.values())
    if replay_writes or dst.versions("functions")[-1] != v_dst:
        raise AssertionError(
            f"replayed batch wrote {replay_writes} rows / published a commit"
        )

    return phase_rows(
        spark,
        [
            ("1_replica_state", *snap(d_live)),
            ("2_source_replica_diff", diff_n, 0),
            ("3_replayed_batch_writes", int(replay_writes), 0),
        ],
    )


@register(
    "warehouse_merge_into_by_source_certified",
    oracle="""
    WITH base AS (
      SELECT CAST(o_orderkey AS VARCHAR) AS uid,
             CAST(o_orderkey AS BIGINT) AS size,
             o_orderkey AS k
      FROM orders
    ),
    live AS (
      SELECT uid, size + 1000000 AS size, 'Internal' AS type
      FROM base WHERE k % 2 = 0
      UNION ALL
      SELECT uid, size, 'Stale' FROM base WHERE k % 2 = 1 AND k % 3 <> 0
    )
    SELECT * FROM (
      SELECT '1_matched_updates' AS phase, CAST(count(*) AS BIGINT) AS n,
             CAST(COALESCE(sum(size + 1000000), 0) AS BIGINT) AS checksum
      FROM base WHERE k % 2 = 0
      UNION ALL
      SELECT '2_by_source_deleted', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(size), 0) AS BIGINT)
      FROM base WHERE k % 2 = 1 AND k % 3 = 0
      UNION ALL
      SELECT '3_by_source_updated', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(size), 0) AS BIGINT)
      FROM base WHERE k % 2 = 1 AND k % 3 <> 0
      UNION ALL
      SELECT '4_final', CAST(count(*) AS BIGINT),
             CAST(COALESCE(sum(size), 0) AS BIGINT)
      FROM live
      UNION ALL
      SELECT '5_mor_cow_diff', 0, 0
    ) t ORDER BY phase
    """,
    tags=("warehouse", "layout", "scale"),
)
def warehouse_merge_into_by_source_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse lever #31 — Delta's FOURTH merge arm, **WHEN NOT
    MATCHED BY SOURCE** (`sources/warehouse.py:merge_into`,
    ``when_not_matched_by_source_delete/update/condition``): target
    rows the source does NOT name take their own delete/update arms —
    the full-table-sync idiom (one merge makes the target mirror the
    source).  A by-source arm forces a WHOLE-TABLE read by definition
    (every target row must learn its fate), which the engine makes
    explicit: without one, only source-touched buckets are read.

    One merge at data scale driving all three target fates — matched
    rows update (``size += 1e6``), unmatched rows with ``t.size % 3 =
    0`` DELETE, the remaining unmatched rows get ``type = 'Stale'`` —
    through BOTH write lanes on twin warehouses.  RAISES unless the
    lanes report identical arm counts and read back bit-identical
    (phase 5 pins the diff at 0) and every pre-merge file kept its
    exact bytes on the MOR side.  All four populations replay in
    DuckDB from `orders`."""
    from ..model import load_table
    from ..sources.warehouse import Warehouse

    root = scratch_root(sf_dir, "bxg_mibs_scratch")
    orders = load_table(spark, sf_dir, "orders")
    df = function_rows(orders)
    src = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").cast("string").alias("uid"),
        (F.col("o_orderkey").cast("long") + 1000000).alias("new_size"),
    )
    arms = dict(
        when_matched_update={"size": F.col("s.new_size")},
        when_not_matched_insert=False,
        when_not_matched_by_source_delete=F.col("t.size") % 3 == 0,
        when_not_matched_by_source_update={"type": "Stale"},
    )
    mor = Warehouse(spark, os.path.join(root, "mor"))
    cow = Warehouse(spark, os.path.join(root, "cow"))
    for w in (mor, cow):
        w.merge_batch_incremental({"functions": df}, n_buckets=16)
    m0 = mor._manifest("functions", mor.versions("functions")[-1])

    d_mor = mor.merge_into("functions", src, strategy="mor", **arms)
    d_cow = cow.merge_into("functions", src, strategy="cow", **arms)
    if d_mor != d_cow:
        raise AssertionError(f"lanes disagree: {d_mor} vs {d_cow}")
    m1 = mor._manifest("functions", mor.versions("functions")[-1])
    for rel, b in m0["bytes"].items():
        if m1["bytes"].get(rel) != b:
            raise AssertionError(f"by-source MOR merge rewrote {rel}")

    live_m, live_c = mor.read("functions"), cow.read("functions")
    diff_n = (
        live_m.exceptAll(live_c).unionAll(live_c.exceptAll(live_m)).count()
    )
    if diff_n != 0:
        raise AssertionError(f"MOR vs CoW by-source merge diverge by {diff_n}")

    mu_n, mu_c = snap(live_m.filter(F.col("size") >= 1000000))
    st_n, st_c = snap(live_m.filter(F.col("type") == "Stale"))
    del_n = d_mor["rows_deleted"]
    _, del_c = snap(df.filter((F.col("size") % 2 == 1) & (F.col("size") % 3 == 0)))
    if d_mor["rows_updated"] != mu_n + st_n:
        raise AssertionError(
            f"arm accounting wrong: {d_mor['rows_updated']} != {mu_n}+{st_n}"
        )
    f_n, f_c = snap(live_m)
    return phase_rows(
        spark,
        [
            ("1_matched_updates", mu_n, mu_c),
            ("2_by_source_deleted", del_n, del_c),
            ("3_by_source_updated", st_n, st_c),
            ("4_final", f_n, f_c),
            ("5_mor_cow_diff", diff_n, 0),
        ],
    )


@register(
    "warehouse_auto_maintenance_certified",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, CAST(o_orderkey AS BIGINT) AS size FROM orders
    ),
    live AS (
      SELECT k, CASE WHEN k % 5 = 1 THEN size + 1000000 ELSE size END AS size
      FROM base WHERE k % 3 <> 0
    )
    SELECT * FROM (
      SELECT '1_replica_state' AS phase, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(size) AS BIGINT) AS checksum
      FROM live
      UNION ALL
      SELECT '2_source_replica_diff', 0, 0
      UNION ALL
      SELECT '3_policy_fired', 1, 0
      UNION ALL
      SELECT '4_replay_writes', 0, 0
      UNION ALL
      SELECT '5_residual_tombstones', 0, 0
    ) t ORDER BY phase
    """,
    tags=("warehouse", "streaming", "scale"),
)
def warehouse_auto_maintenance_certified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Warehouse lever #31 — UNATTENDED maintenance (r12 directive #1):
    the r11 policy (`maybe_optimize`) and `vacuum` existed but nothing
    ever CALLED them — at 100 TB "remember to run maintenance" is the
    thing that doesn't scale.  `Warehouse.auto_maintain` is the cadence
    (version arithmetic → metadata-only check every k commits →
    O(table) purge only past thresholds), wired post-batch into the
    CDC-apply sink (`apply_changes_merge_into(auto_maintenance=k)`,
    streaming/merge_sink.py) and post-commit into Engine DML.

    At data scale: a trickle-DML source (four chunked MOR deletes of
    ids ≡0 mod 3 interleaved with a MOR update of ids ≡1 mod 5)
    replicates wave-by-wave through the sink with auto_maintenance=1
    and ZERO manual maintenance calls.  The gate RAISES unless (a) the
    policy fired at least once during the run, (b) the replica reads
    back bit-identical to the source, (c) a hand-replayed copy of the
    final wave publishes ZERO writes — the txn map rides maintenance
    commits, so a fire never breaks replay idempotency — and (d) the
    replica ends with zero residual merge-on-read debt (the flat-scan
    invariant `tools/endurance_replication.py --auto-maintain` holds
    over long sessions).  Replica state replays in DuckDB from
    `orders`."""
    from ..model import load_table
    from ..sources.warehouse import Warehouse
    from ..streaming.merge_sink import apply_changes_merge_into

    root = scratch_root(sf_dir, "bxg_automaint_scratch")
    df = function_rows(load_table(spark, sf_dir, "orders"))
    src = Warehouse(spark, os.path.join(root, "src"))
    src.merge_batch_incremental({"functions": df}, n_buckets=16)
    # replica bootstrap = filesystem snapshot of the seed (the
    # cdf_update_images diet pattern): one full-table write, not two
    shutil.copytree(os.path.join(root, "src"), os.path.join(root, "dst"))
    dst = Warehouse(spark, os.path.join(root, "dst"))

    # trickle-DML waves, each one MOR merge commit, all set-oriented;
    # wave 1 arms the cadence, wave 2's post-apply check fires (the
    # spread delete DVs every bucket) — the MINIMAL fire-and-verify
    # script, because this harness is priced per-job in MAINTBENCH
    # (the long-session claim lives in tools/endurance_replication.py
    # --auto-maintain, not here)
    waves = [
        ("delete", df.filter(F.col("size") % 3 == 0).select("uid")),
        ("update", df.filter(F.col("size") % 5 == 1).select(
            "uid", (F.col("size") + 1_000_000).alias("new_size"))),
    ]
    fires = 0
    last_feed = None
    for kind, src_df in waves:
        before = src.versions("functions")[-1]
        if kind == "delete":
            src.merge_into(
                "functions", src_df,
                when_matched_delete=True, when_not_matched_insert=False,
            )
        else:
            src.merge_into(
                "functions", src_df,
                when_matched_update={"size": F.col("s.new_size")},
                when_not_matched_insert=False,
            )
        head = src.versions("functions")[-1]
        feed = src.read_changes(
            "functions", before, head, update_images=True
        ).withColumn("_version", F.lit(head))
        out = apply_changes_merge_into(
            dst, "functions", feed, auto_maintenance=1
        )
        if "maintenance" in out:
            fires += 1
        last_feed = feed
    if fires < 1:
        raise AssertionError("unattended policy never fired across the run")

    s_live, d_live = src.read("functions"), dst.read("functions")
    diff_n = (
        s_live.exceptAll(d_live).unionAll(d_live.exceptAll(s_live)).count()
    )
    if diff_n != 0:
        raise AssertionError(f"replica diverges from source by {diff_n} rows")

    # crash contract ACROSS a maintenance fire: replay the final wave —
    # the txn map rides every maintenance commit, so zero writes
    v_dst = dst.versions("functions")[-1]
    stats = apply_changes_merge_into(dst, "functions", last_feed)
    replay_writes = sum(
        sum(s.values()) for k, s in stats.items() if k != "maintenance"
    )
    if replay_writes or dst.versions("functions")[-1] != v_dst:
        raise AssertionError(
            f"replayed wave wrote {replay_writes} rows across a fire"
        )

    debt = dst.dv_stats("functions")
    if debt["files_dvd"] or debt["tombstone_rows"]:
        raise AssertionError(f"unattended replica kept MOR debt: {debt}")

    return phase_rows(
        spark,
        [
            ("1_replica_state", *snap(d_live)),
            ("2_source_replica_diff", diff_n, 0),
            ("3_policy_fired", min(fires, 1), 0),
            ("4_replay_writes", int(replay_writes), 0),
            ("5_residual_tombstones", int(debt["tombstone_rows"]), 0),
        ],
    )
