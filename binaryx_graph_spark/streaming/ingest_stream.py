"""Structured Streaming surface (SURVEY.md §2.12 notes the reference has
none — its directory batch import, src/commands/import.rs:106-233, is the
closest analog; north star adds real streaming ops).

Two entry points:
- :func:`stream_analysis_json` — streaming version of the batch ingest:
  ``readStream.json(dir)`` → per-micro-batch graph merge via
  ``foreachBatch`` (exactly-once into the parquet warehouse)
- :func:`windowed_event_counts` — watermarked tumbling-window aggregation
  over the events table, runnable to completion on a static directory
  (memory sink + processAllAvailable) for deterministic testing
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.ingest import build_graph_tables
from ..sources.json_source import ANALYSIS_SCHEMA
from ..sources.warehouse import Warehouse

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # TIMESTAMP(NANOS) read as long
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_analysis_json(
    spark: SparkSession,
    input_dir: str,
    warehouse_root: str,
    *,
    max_files_per_trigger: int | None = None,
    merge_tables: tuple[str, ...] | None = None,
    incremental: bool = False,
    checkpoint_location: str | None = None,
    maintenance_every: int | None = None,
    vacuum_keep_last: int = 2,
    auto_rebucket_bytes: int | None = None,
    txn_app: str | None = None,
):
    """Streaming graph ingest: each micro-batch runs the SAME batch ETL
    (build_graph_tables) and MERGEs into the warehouse — foreachBatch
    gives exactly-once upsert semantics over the idempotent merge.

    ``max_files_per_trigger`` bounds each micro-batch (availableNow
    respects it), making the N-batch execution shape deterministic for
    the gate; ``merge_tables`` optionally restricts which graph tables
    are merged (fewer parquet write jobs when the gate only watches a
    subset).

    ``incremental=True`` commits each micro-batch through
    ``Warehouse.merge_batch_incremental`` — the bucket-granular MERGE
    (SCALE.md addendum 39).  This is the 100 TB streaming default: a
    stream of small micro-batches through the whole-table-rewrite
    ``merge_batch`` is O(table) per TRIGGER (quadratic in stream
    length); the incremental path rewrites only the key-buckets each
    micro-batch touches.  Same LWW semantics (pinned equal by
    tests/test_north_star.py).

    ``checkpoint_location`` persists the source offsets so successive
    ``availableNow`` runs RESUME instead of reprocessing — the real
    exactly-once restart configuration (and what lets maintenance —
    compaction, vacuum — interleave between waves of an endless
    stream; tools/endurance_stream.py drives 100+ commits this way).
    Default stays a temporary checkpoint (single-run semantics).

    ``maintenance_every=N`` runs the production cadence INSIDE the
    stream: every N micro-batch commits, ``Warehouse.optimize`` (bucket
    compaction — live file count stays bounded by the bucket layout,
    SCALE.md addendum 42) then ``vacuum(keep_last=vacuum_keep_last)``
    (time-travel horizon — disk stays bounded by live + retained
    versions).  Maintenance runs between commits on the foreachBatch
    thread, so it can never race a concurrent merge of the same
    table (and since r9's optimistic commit loop, a racing external
    writer would serialize or fail loudly rather than lose a commit).

    ``auto_rebucket_bytes`` (off by default) adds the B ∝ table-size
    policy to the cadence: each maintenance pass calls
    ``Warehouse.maybe_rebucket(table, target_bucket_bytes=...)`` —
    a metadata-only check that re-layouts a merge table only once it
    has outgrown its pinned bucket count 4×, so an endless stream
    never strands a table on its birth-time modulus.

    ``txn_app`` (off by default) upgrades the replay story from
    idempotent-by-LWW to EXACTLY-ONCE-by-metadata: each micro-batch
    commit carries ``txn=(txn_app, epoch_id)`` into the manifest
    (Delta's txnAppId/txnVersion), so a replayed epoch — a foreachBatch
    retry after a sink failure, or a full reprocess after the
    CHECKPOINT ITSELF is lost — is skipped at the manifest head with
    zero files written and zero versions published, instead of
    re-merging equal content.  The contract is the standard one: a
    given (app, epoch) must denote the same batch content across
    retries, which availableNow + deterministic file listing provides."""
    wh = Warehouse(spark, warehouse_root)
    wh.initialize()

    reader = (
        spark.readStream.schema(ANALYSIS_SCHEMA)
        .option("multiLine", "true")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    docs = reader.json(input_dir).withColumn("source_file", F.input_file_name())

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql.window import Window

        # Per-batch ingest_seq = dense rank over source_file — the SAME
        # derivation as the batch path (read_analysis_json), so two files
        # carrying the same merge key inside one micro-batch resolve by
        # deterministic file order, not a row_number tie-break (ADVICE r1:
        # a constant lit(1) made _last_wins nondeterministic here).
        # Single-partition window is CORRECT here, not a scale seam: the
        # frame is one row per file in THIS micro-batch, bounded by
        # maxFilesPerTrigger — the unbounded-file-count case is the
        # batch path, which ranks via functions/ranking.dense_rank_sharded.
        w = Window.orderBy("source_file")
        seq = (
            batch_df.select("source_file")
            .distinct()
            .withColumn("ingest_seq", F.dense_rank().over(w))
        )
        tables = build_graph_tables(batch_df.join(F.broadcast(seq), "source_file"))
        keep = merge_tables if merge_tables is not None else tuple(
            k for k in tables if k != "import_stats"
        )
        commit = wh.merge_batch_incremental if incremental else wh.merge_batch
        with tables:
            commit(
                {k: v for k, v in tables.items() if k in keep},
                batch_seq=epoch_id + 1,
                txn=(txn_app, int(epoch_id)) if txn_app else None,
            )
        if maintenance_every and (epoch_id + 1) % maintenance_every == 0:
            if auto_rebucket_bytes is not None:
                for t in keep:
                    wh.maybe_rebucket(t, target_bucket_bytes=auto_rebucket_bytes)
            wh.optimize()
            wh.vacuum(keep_last=vacuum_keep_last)

    writer = docs.writeStream.foreachBatch(merge).trigger(availableNow=True)
    if checkpoint_location is not None:
        writer = writer.option("checkpointLocation", checkpoint_location)
    return writer.start()


def _events_stream(spark: SparkSession, sf_dir: str, *, prefix: str) -> DataFrame:
    """Stage the static events parquet behind a symlink dir (the file
    source needs a DIRECTORY; testdata is read-only) and return the
    events readStream with ``ts`` restored to a proper timestamp.

    The physical ``ts`` unit is NOT assumed: the generator has shipped
    both TIMESTAMP(NANOS) and TIMESTAMP(MICROS) parquet across rounds,
    and the streaming reader sees either as BIGINT under the explicit
    schema — so the to-micros divisor comes from the parquet footer
    (``load_table`` gets the same robustness from Spark's native
    micros decoding; only this long-schema path needs the probe).
    """
    import os
    import tempfile

    import pyarrow.parquet as pq

    unit = pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type.unit
    div = {"ns": 1000, "us": 1}[unit]
    stage = tempfile.mkdtemp(prefix=prefix)
    os.symlink(f"{sf_dir}/events.parquet", f"{stage}/events.parquet")
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(stage)
        .withColumn("ts", F.timestamp_micros((F.col("ts") / F.lit(div)).cast("long")))
    )


def windowed_event_counts(
    spark: SparkSession, sf_dir: str, *, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type, driven to
    completion over the static events parquet. Returns a STATIC frame
    (window_start, event_type, n_events, sum_value_cents) — comparable
    against a batch oracle.

    The watermark + append sink is the real late-data configuration;
    ``availableNow`` drains the directory then stops.
    """
    sink = f"win_counts_{uuid.uuid4().hex[:8]}"
    events = _events_stream(spark, sf_dir, prefix="bxg_stream_")
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        )
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value_cents",
    )


def streaming_session_windows(
    spark: SparkSession, sf_dir: str, *, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """STREAMING sessionization with the built-in ``session_window``
    (30-min gap) — the stateful merging-window operator (sessions merge
    as late events bridge gaps), drained with availableNow. Complete
    output mode keeps every session in state so the final table equals
    the batch twin; production append mode would emit each session once
    its gap passes the watermark. Returns a static frame."""
    import uuid

    sink = f"sess_win_{uuid.uuid4().hex[:8]}"
    events = _events_stream(spark, sf_dir, prefix="bxg_sess_")
    agg = (
        events.filter(F.col("user_id") % 40 == 11)
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).select(
        "user_id",
        "n_events",
        F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
    )


def stream_static_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join: the events stream enriched against the static
    customer dimension (market segment), then aggregated per segment —
    the standard streaming-enrichment topology (dimension broadcast to
    every micro-batch; no state, no watermark needed for the join
    itself).  Drained with availableNow; returns a static frame the
    batch oracle reproduces.

    100 TB posture: the static side re-reads per micro-batch and
    broadcasts when small (it is dimension-sized); a slowly-changing
    dimension would swap in the SCD2 intervals + as-of join instead.
    """
    import uuid

    from ..model import load_table

    sink = f"enrich_{uuid.uuid4().hex[:8]}"
    events = _events_stream(spark, sf_dir, prefix="bxg_stream_enrich_")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    agg = (
        events.join(F.broadcast(cust), "user_id")  # stream-static equi join
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
        )
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink)


def stream_stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join: the purchases stream joins the
    clicks stream of the same user within the preceding 6 hours
    (click-attribution, the canonical double-unbounded topology). Both
    sides carry watermarks so the join state is EVICTABLE: a click
    older than watermark - 30min can never match a future purchase and
    is dropped — bounded state on unbounded inputs, the property that
    makes this run forever at 100 TB/day. Drained with availableNow;
    returns the per-user attributed-purchase counts as a static frame."""
    import uuid

    sink = f"ss_attr_{uuid.uuid4().hex[:8]}"
    clicks = (
        _events_stream(spark, sf_dir, prefix="bxg_ss_clicks_")
        .filter((F.col("event_type") == "click") & (F.col("user_id") % 30 == 5))
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "12 hours")
    )
    buys = (
        _events_stream(spark, sf_dir, prefix="bxg_ss_buys_")
        .filter((F.col("event_type") == "purchase") & (F.col("user_id") % 30 == 5))
        .select(F.col("user_id").alias("b_user"), F.col("ts").alias("buy_ts"))
        .withWatermark("buy_ts", "12 hours")
    )
    joined = buys.join(
        clicks,
        (F.col("b_user") == F.col("c_user"))
        & (F.col("buy_ts") >= F.col("click_ts"))
        & (F.col("buy_ts") <= F.col("click_ts") + F.expr("INTERVAL 6 HOURS")),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(sink)
        .groupBy(F.col("b_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_attributed"))
    )


def stream_dedup_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicatesWithinWatermark over (user_id,
    event_type): the streaming twin of exact dedup — duplicate keys
    arriving across micro-batches inside the watermark are dropped,
    state is evicted once the watermark passes. The OUTPUT is the
    deduped KEY SET (which physical row survives is arrival-order
    dependent; the key set is not), so the batch oracle is SELECT
    DISTINCT. Drained with availableNow; returns a static frame."""
    import uuid

    sink = f"sdedup_{uuid.uuid4().hex[:8]}"
    events = _events_stream(spark, sf_dir, prefix="bxg_sdedup_").filter(
        F.col("user_id") % 25 == 12
    )
    deduped = (
        events.withWatermark("ts", "24 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(sink).select("user_id", "event_type").distinct()
