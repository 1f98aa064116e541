"""Pipeline-extension queries: streaming window aggregation, multimodal
decode plumbing, sessionization — each oracle-checked (the streaming one
against its batch-equivalent SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..model import load_table
from ..operators.multimodal import decode_media, media_from_documents
from ..registry import register
from ..streaming.ingest_stream import windowed_event_counts
from ._harness import scratch_root

_HEX = "0123456789abcdef"


def _sql_hexval(expr: str, pos: int) -> str:
    return f"(strpos('{_HEX}', substr({expr}, {pos}, 1)) - 1)"


@register(
    "streaming_window_counts",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("streaming", "headline"),
)
def streaming_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming: watermarked 1-hour tumbling windows over the
    events stream, drained with availableNow — the oracle is the batch
    equivalent, proving stream/batch agreement (north-star §2.12)."""
    return windowed_event_counts(spark, sf_dir).orderBy("window_start", "event_type")


@register(
    "multimodal_decode",
    oracle=f"""
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
                           ELSE 'video/mp4' END AS mime,
           CAST(1 + ({_sql_hexval('h', 1)} * 4096 + {_sql_hexval('h', 2)} * 256
                     + {_sql_hexval('h', 3)} * 16 + {_sql_hexval('h', 4)}) % 2048 AS INTEGER) AS width,
           CAST(1 + ({_sql_hexval('h', 5)} * 4096 + {_sql_hexval('h', 6)} * 256
                     + {_sql_hexval('h', 7)} * 16 + {_sql_hexval('h', 8)}) % 2048 AS INTEGER) AS height,
           CAST(1 + {_sql_hexval('h', 9)} % 4 AS INTEGER) AS channels,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM (SELECT doc_id, text, sha256(text) AS h FROM documents)
    ORDER BY media_id
    """,
    tags=("multimodal",),
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column media pipeline: encode → Arrow-batched mapInPandas
    decode (deterministic fake kernel, real plumbing) → typed metadata.
    The oracle recomputes the fake decode from sha256 in SQL, so the
    whole binary/Arrow/batching path is hash-verified."""
    docs = load_table(spark, sf_dir, "documents")
    media = media_from_documents(docs)
    return decode_media(media).orderBy("media_id")


@register(
    "event_sessionization",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WHERE user_id % 50 = 7
    ),
    sess AS (
      SELECT user_id, event_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
    FROM sess
    GROUP BY user_id, session_id
    ORDER BY user_id, session_id
    """,
    tags=("window",),
)
def event_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-min-gap sessions via lag + running sum windows
    (the batch twin of streaming session_window)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 50 == 7)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 1800 * 1_000_000
    marked = ev.withColumn(
        "new_sess",
        F.when(
            F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w) > gap_us, 1
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "session_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        )
        .orderBy("user_id", "session_id")
    )


@register(
    "streaming_stateful_totals",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
           epoch_us(max(ts)) AS last_ts_us
    FROM events
    WHERE user_id % 25 = 3
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("streaming",),
)
def streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running totals with keyed state; final snapshot must equal
    the batch aggregation — the oracle IS that batch aggregation."""
    from ..streaming.stateful import stateful_user_totals

    out = stateful_user_totals(spark, sf_dir)
    return out.filter(F.col("user_id") % 25 == 3).orderBy("user_id")


@register(
    "stats_approx_distinct",
    # ERROR-BOUNDS oracle: Spark's HLL++ estimate is engine-specific, so
    # the hash pins (exact count, estimate-within-3·rsd) instead of the
    # raw estimate — DuckDB computes the exact count and asserts TRUE.
    # A Spark estimate outside the documented bound flips the boolean
    # and reds the row, so the approximation quality itself is gated.
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_rel_err
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("agg", "approx"),
)
def stats_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 at scale: approx_count_distinct (HLL++) per event type — the
    100 TB substitute for exact distinct counts.  Output is
    (event_type, exact_users, within_rel_err) where the boolean checks
    |estimate − exact| ≤ ⌈3·rsd·exact⌉ at rsd = 2%: the estimate cannot
    be replayed in another engine, but its documented error bound can —
    the value hash therefore pins the bound.  (Tighter per-type accuracy
    is additionally asserted in tests/test_approx.py.)"""
    ev = load_table(spark, sf_dir, "events")
    rsd = 0.02
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=rsd).alias("_approx"),
            F.countDistinct("user_id").cast("long").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("_approx") - F.col("exact_users"))
                <= F.ceil(F.lit(3 * rsd) * F.col("exact_users"))
            ).alias("within_rel_err"),
        )
        .orderBy("event_type")
    )


@register(
    "asof_join_last_purchase",
    oracle="""
    WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
                    AND user_id % 20 = 3),
    purchases AS (
      SELECT user_id, ts, max(event_id) AS purchase_id,
             max(CAST(round(value*100) AS BIGINT)) AS purchase_cents
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts
    )
    SELECT c.event_id,
           c.user_id,
           p.purchase_id,
           p.purchase_cents
    FROM clicks c
    ASOF LEFT JOIN purchases p ON c.user_id = p.user_id AND c.ts >= p.ts
    ORDER BY c.event_id
    """,
    tags=("join", "temporal"),
)
def asof_join_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark has no native one): each click gets the user's
    latest purchase at-or-before it. The oracle is DuckDB's NATIVE
    ASOF LEFT JOIN — an independent implementation of the semantics."""
    from ..operators.temporal import as_of_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter((F.col("event_type") == "click") & (F.col("user_id") % 20 == 3)).select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("purchase_id"),
            F.max(F.round(F.col("value") * 100).cast("long")).alias("purchase_cents"),
        )
    )
    out = as_of_join(
        clicks, purchases, on="user_id", left_id="event_id",
        right_cols=["purchase_id", "purchase_cents"], suffix="",
    )
    return out.select("event_id", "user_id", "purchase_id", "purchase_cents").orderBy("event_id")


@register(
    "rollup_daily_events",
    oracle="""
    SELECT event_type,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           count(*) AS n,
           CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    WHERE user_id % 10 = 1
    GROUP BY ROLLUP(event_type, strftime(date_trunc('day', ts), '%Y-%m-%d'))
    ORDER BY event_type NULLS FIRST, day NULLS FIRST
    """,
    tags=("agg", "rollup"),
)
def rollup_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (event_type → day hierarchy with subtotals and
    a grand total) — Catalyst expands grouping sets; DuckDB recomputes."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 1)
    return (
        ev.select(
            "event_type",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "value",
        )
        .rollup("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .orderBy(F.asc_nulls_first("event_type"), F.asc_nulls_first("day"))
    )


@register(
    "vectorized_udf_quality",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')) AS BIGINT)
             AS n_tokens_udf
    FROM documents
    WHERE doc_id % 4 = 2
    ORDER BY doc_id
    """,
    tags=("text", "udf"),
)
def vectorized_udf_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas_udf computing token counts — must
    agree with the pure-Column implementation AND the oracle. Exists to
    pin the @pandas_udf Arrow path (the sanctioned Python escape hatch);
    the Column version remains the hot path."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no type annotations: `from __future__ import annotations` turns them
    # into strings pyspark can't resolve against function-local imports
    @pandas_udf("long")
    def n_tokens_udf(texts):
        return texts.str.lower().str.split().map(len).astype("int64")

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 4 == 2)
    return docs.select("doc_id", n_tokens_udf(F.col("text")).alias("n_tokens_udf")).orderBy("doc_id")


@register(
    "session_window_builtin",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WHERE user_id % 40 = 11
    ),
    sess AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
    FROM sess
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    tags=("window", "streaming"),
)
def session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's BUILT-IN session_window (30-min gap) vs a hand-rolled
    lag+cumsum sessionization in SQL — two independent formulations of
    session semantics must produce identical sessions."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 40 == 11)
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            "n_events",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "streaming_session_windows",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WHERE user_id % 40 = 11
    ),
    sess AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id, count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
    FROM sess
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
    tags=("streaming", "window"),
)
def streaming_session_windows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session_window (stateful merging windows, availableNow
    drain) must equal the hand-rolled batch lag+cumsum sessionization —
    the oracle is that independent batch formulation, proving
    stream/batch session agreement."""
    from ..streaming.ingest_stream import streaming_session_windows

    return streaming_session_windows(spark, sf_dir).orderBy("user_id", "session_start")


@register(
    "streaming_interval_join",
    oracle="""
    WITH c AS (SELECT user_id, ts FROM events
               WHERE event_type = 'click' AND user_id % 30 = 5),
    b AS (SELECT user_id, ts FROM events
          WHERE event_type = 'purchase' AND user_id % 30 = 5)
    SELECT b.user_id, count(*) AS n_attributed
    FROM b JOIN c ON c.user_id = b.user_id
       AND b.ts >= c.ts AND b.ts <= c.ts + INTERVAL 6 HOUR
    GROUP BY b.user_id
    ORDER BY b.user_id
    """,
    tags=("streaming", "join"),
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click attribution): purchases join
    clicks of the same user within the preceding 6 hours, both sides
    unbounded with watermark-bounded state. The oracle is the batch
    range join — stream/batch agreement on the double-unbounded
    topology."""
    from ..streaming.ingest_stream import stream_stream_click_attribution

    return stream_stream_click_attribution(spark, sf_dir).orderBy("user_id")


@register(
    "streaming_dedup_keys",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    WHERE user_id % 25 = 12
    ORDER BY user_id, event_type
    """,
    tags=("streaming", "dedup"),
)
def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicatesWithinWatermark on (user_id, event_type):
    cross-micro-batch duplicate keys are dropped while state stays
    watermark-bounded. Output is the deduped key SET (survivor row is
    arrival-order dependent; the set is not) — oracle is batch SELECT
    DISTINCT."""
    from ..streaming.ingest_stream import stream_dedup_event_types

    return stream_dedup_event_types(spark, sf_dir).orderBy("user_id", "event_type")


@register(
    "sliding_window_counts",
    oracle="""
    WITH contrib AS (
      SELECT date_trunc('hour', ts) AS w, event_type FROM events WHERE user_id % 15 = 4
      UNION ALL
      SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type
      FROM events WHERE user_id % 15 = 4
    )
    SELECT strftime(w, '%Y-%m-%d %H:%M') AS window_start,
           event_type,
           count(*) AS n
    FROM contrib
    GROUP BY w, event_type
    ORDER BY window_start, event_type
    """,
    tags=("window", "streaming"),
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h width, 1h slide): every event lands in two
    windows; the oracle materializes the same assignment as a two-arm
    UNION. Batch mode here — identical semantics stream with a
    watermark."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 15 == 4)
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm").alias("window_start"),
            "event_type",
            "n",
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "events_json_extract",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("agg", "semistructured"),
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull a typed field out of the JSON
    ``props`` column (get_json_object — JVM-side, no UDF) and aggregate
    it. The pattern for event payloads at scale: extract early, then the
    rest of the plan is plain columnar ops with full codegen."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("_k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_k").alias("sum_k"),
            F.min("_k").alias("min_k"),
            F.max("_k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "skew_salted_counts",
    oracle="""
    SELECT event_type, count(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("agg", "skew"),
)
def skew_salted_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation as a first-class operator:
    event_type has only 5 values, so at 100 TB a naive groupBy funnels
    each hot key through ONE reducer; the salted variant spreads every
    key over 16 partial partitions first. Results are provably identical
    to the plain GROUP BY — the oracle IS the plain GROUP BY."""
    from ..functions.skew import salted_count

    ev = load_table(spark, sf_dir, "events")
    return salted_count(ev, "event_type", buckets=16).orderBy("event_type")


@register(
    "sketch_cms_user_counts",
    oracle=None,  # assigned below (needs the sketch SQL builders)
    tags=("sketch", "approx"),
)
def sketch_cms_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch (4×256, sha256 bucket hashing) built over ALL
    event user_ids, then point-estimated for a deterministic probe set.
    The sketch is a (d, bucket, cnt) TABLE — mergeable, map-side
    combinable, constant-size regardless of corpus — and the DuckDB
    oracle rebuilds the identical sketch, so the gate pins the
    ESTIMATES, not just the dataflow. CMS ≥-true and error-bound
    behavior asserted in tests/test_sketch.py."""
    from ..operators.sketch import cms_build, cms_estimate

    ev = load_table(spark, sf_dir, "events")
    sketch = cms_build(ev, F.col("user_id"))
    probes = ev.select("user_id").filter(F.col("user_id") % 7 == 5).distinct()
    return cms_estimate(sketch, probes, "user_id").orderBy("user_id")


from ..operators.sketch import sql_cms_estimate as _sql_cms  # noqa: E402
from ..registry import REGISTRY as _REG_CMS  # noqa: E402

_REG_CMS["sketch_cms_user_counts"].oracle = (
    _sql_cms(
        "events",
        "user_id",
        "SELECT DISTINCT user_id FROM events WHERE user_id % 7 = 5",
        "user_id",
    )
    + " ORDER BY user_id"
)


@register(
    "sketch_hll_distinct",
    oracle=None,  # assigned below (needs the sketch SQL builder)
    tags=("sketch", "approx"),
)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog (m=64, sha256-sliced registers) distinct
    estimate for event ids (n >> m, the raw estimator's regime),
    alongside the exact count.  Unlike
    ``stats_approx_distinct`` (Spark's native HLL++, hash pins the error
    BOUND, not the estimate), this sketch is engine-portable: register
    indices and rho come from
    sha256 slices, the harmonic sum is an EXACT int64 (terms scaled to
    2^(53-M)), so the DuckDB oracle reproduces the estimate bit-for-bit
    — the gate pins the approximation itself.  Accuracy (~13% σ at
    m=64) asserted in tests/test_sketch.py."""
    from ..operators.sketch import hll_estimate, hll_registers

    ev = load_table(spark, sf_dir, "events")
    regs = hll_registers(ev, F.col("event_id"))
    est = hll_estimate(spark, regs)
    exact = ev.agg(F.countDistinct("event_id").cast("long").alias("n_exact"))
    return est.crossJoin(exact)


from ..operators.sketch import sql_hll_estimate as _sql_hll  # noqa: E402

_REG_CMS["sketch_hll_distinct"].oracle = f"""
    SELECT est.hll_estimate, exact.n_exact
    FROM ({_sql_hll("events", "event_id")}) est,
         (SELECT CAST(count(DISTINCT event_id) AS BIGINT) AS n_exact FROM events) exact
"""


@register(
    "grouped_map_user_stats",
    oracle=None,  # assigned below
    tags=("pipeline", "python-boundary"),
)
def grouped_map_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch grouped-map applyInPandas (the per-group Python escape
    hatch — per-group model fits / scipy / resampling): per-user value
    mean and population std with exact-int64 internals, so the DuckDB
    oracle verifies the ARROW GROUPED-MAP PATH itself (group splitting,
    Arrow conversion, dtype handling) by value hash.  A pure-Column twin
    is pinned equal in tests/test_grouped_stats.py — the demo is the
    Python path, the twin is the hot path."""
    from ..operators.grouped_stats import user_value_stats

    ev = load_table(spark, sf_dir, "events")
    return user_value_stats(ev).orderBy("user_id")


from ..operators.grouped_stats import SQL_USER_VALUE_STATS as _SQL_UVS  # noqa: E402

_REG_CMS["grouped_map_user_stats"].oracle = _SQL_UVS + " ORDER BY user_id"


@register(
    "sketch_histogram_quantiles",
    oracle="""
    WITH cents AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS c FROM events
    ),
    hist AS (
      SELECT c // 100 AS bucket, count(*) AS cnt FROM cents GROUP BY c // 100
    ),
    cum AS (
      SELECT bucket, cnt,
             sum(cnt) OVER (ORDER BY bucket) AS cum_cnt,
             (SELECT count(*) FROM cents) AS n
      FROM hist
    )
    SELECT
      (SELECT min(bucket) FROM cum WHERE cum_cnt * 2 >= n) AS p50_bucket,
      (SELECT min(bucket) FROM cum WHERE cum_cnt * 20 >= n * 19) AS p95_bucket,
      (SELECT min(bucket) FROM cum WHERE cum_cnt * 100 >= n * 99) AS p99_bucket,
      (SELECT count(*) FROM hist) AS n_buckets
    """,
    tags=("sketch", "approx"),
)
def sketch_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantiles: values binned to exact integer dollar
    buckets (cents div 100), quantile = first bucket whose cumulative
    count crosses q·n — ALL integer arithmetic (cross-multiplied
    thresholds, no float quantile interpolation), so the DuckDB oracle
    reproduces the estimates exactly.  Constant-size state (one row per
    occupied bucket), map-side combinable — the portable alternative to
    engine-specific t-digest/GK sketches whose merge order leaks into
    results.  Contrast: stats_approx_distinct pins Spark's native HLL++
    path with an error-bounds oracle; this query makes the approximation
    itself part of the contract."""
    ev = load_table(spark, sf_dir, "events")
    hist = (
        ev.select(
            F.expr("CAST(round(value * 100) AS BIGINT) div 100").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bucket", "cnt", F.sum("cnt").over(w).alias("cum_cnt")
    ).crossJoin(F.broadcast(ev.agg(F.count(F.lit(1)).alias("n"))))

    def pick(mult_lhs: int, mult_rhs: int, name: str):
        return (
            cum.filter(F.col("cum_cnt") * mult_lhs >= F.col("n") * mult_rhs)
            .agg(F.min("bucket").alias(name))
        )

    return (
        pick(2, 1, "p50_bucket")
        .crossJoin(pick(20, 19, "p95_bucket"))
        .crossJoin(pick(100, 99, "p99_bucket"))
        .crossJoin(hist.agg(F.count(F.lit(1)).alias("n_buckets")))
    )


@register(
    "python_udtf_ngrams",
    oracle="""
    WITH arrs AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                         t -> t <> '') AS toks
      FROM documents WHERE doc_id % 100 = 1
    )
    SELECT doc_id, CAST(r.i - 1 AS BIGINT) AS pos,
           toks[r.i] || ' ' || toks[r.i + 1] AS bigram
    FROM arrs, unnest(range(1, len(toks))) AS r(i)
    ORDER BY doc_id, pos
    """,
    tags=("text", "python-boundary"),
)
def python_udtf_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 PYTHON UDTF (user-defined table function): one row of
    text lateral-expands to its positional word bigrams in Python —
    the table-function escape hatch for row→many-rows logic built-ins
    can't express (custom tokenizers, parsers).  The UDTF body mirrors
    the SQL twin exactly (lowercase, [^a-z]+ split, drop empties,
    adjacent pairs), so the oracle pins the UDTF machinery — lateral
    join planning, batch row transport — by value hash.  Scoped to a
    deterministic doc subset; the oracle indexes the token array
    explicitly (toks[i] || toks[i+1]) so positions never depend on
    unnest emission order."""
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="pos bigint, bigram string")
    class Bigrams:
        def eval(self, text: str):
            toks = [t for t in re.split(r"[^a-z]+", (text or "").lower()) if t]
            for i in range(len(toks) - 1):
                yield i, f"{toks[i]} {toks[i + 1]}"

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 100 == 1)
        .select("doc_id", "text")
    )
    docs.createOrReplaceTempView("_udtf_docs")
    spark.udtf.register("bxg_bigrams", Bigrams)
    return spark.sql(
        """
        SELECT d.doc_id, b.pos, b.bigram
        FROM _udtf_docs d, LATERAL bxg_bigrams(d.text) b
        ORDER BY d.doc_id, b.pos
        """
    )


@register(
    "streaming_enriched_counts",
    oracle="""
    SELECT c_mktsegment, event_type,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c_mktsegment, event_type
    ORDER BY c_mktsegment, event_type
    """,
    tags=("streaming", "join"),
)
def streaming_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC dimension enrichment (the remaining streaming join
    topology after stream-stream and stateful): events stream ⋈
    broadcast customer dimension → per-segment counts, drained with
    availableNow; the oracle is the batch twin, proving stream/batch
    agreement for the enrichment path too."""
    from ..streaming.ingest_stream import stream_static_enriched_counts

    return stream_static_enriched_counts(spark, sf_dir).orderBy(
        "c_mktsegment", "event_type"
    )


@register(
    "arrow_python_udf_langlen",
    oracle="""
    SELECT doc_id,
           CAST(length(trim(coalesce(text, ''))) AS BIGINT) AS trimmed_len,
           CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 'empty'
                WHEN length(trim(coalesce(text, ''))) < 200 THEN 'short'
                WHEN length(trim(coalesce(text, ''))) < 1000 THEN 'medium'
                ELSE 'long' END AS length_class
    FROM documents
    WHERE doc_id % 6 = 1
    ORDER BY doc_id
    """,
    tags=("text", "udf"),
)
def arrow_python_udf_langlen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-OPTIMIZED row Python UDF (Spark 4 `useArrow=True`) — the
    remaining Python-boundary lane next to pandas_udf / mapInPandas /
    applyInPandas / UDTF / DataSource: per-row Python but Arrow-batched
    transfer, ~2-5× over pickled row UDFs. Exists to pin the lane; the
    pure-Column twin is what a hot path would use, and the oracle
    recomputes both columns relationally."""
    from pyspark.sql.functions import udf

    @udf("struct<trimmed_len: long, length_class: string>", useArrow=True)
    def classify(text):
        # strip(' ') — space-only, matching SQL trim() in both engines;
        # Python's bare strip() also removes \n/\t and would diverge on
        # documents with trailing newlines.
        t = (text or "").strip(" ")
        n = len(t)
        cls = "empty" if n == 0 else "short" if n < 200 else "medium" if n < 1000 else "long"
        return (n, cls)

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 6 == 1)
    return (
        docs.select("doc_id", classify(F.col("text")).alias("_c"))
        .select("doc_id", F.col("_c.trimmed_len").alias("trimmed_len"),
                F.col("_c.length_class").alias("length_class"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Domain mixture resampling (temperature-weighted, deterministic)
# ---------------------------------------------------------------------------

#: exact integer sqrt — floor(sqrt(n)) with a ±1 correction so a 1-ulp
#: double-sqrt difference between engines can never flip the result
#: (the same defensive pattern as the quantized idf/surprisal math).
#: Valid syntax in BOTH Spark SQL and DuckDB.
_ISQRT = (
    "CASE"
    " WHEN (CAST(floor(sqrt(CAST({n} AS DOUBLE))) AS BIGINT) + 1)"
    "      * (CAST(floor(sqrt(CAST({n} AS DOUBLE))) AS BIGINT) + 1) <= {n}"
    " THEN CAST(floor(sqrt(CAST({n} AS DOUBLE))) AS BIGINT) + 1"
    " WHEN CAST(floor(sqrt(CAST({n} AS DOUBLE))) AS BIGINT)"
    "      * CAST(floor(sqrt(CAST({n} AS DOUBLE))) AS BIGINT) > {n}"
    " THEN CAST(floor(sqrt(CAST({n} AS DOUBLE))) AS BIGINT) - 1"
    " ELSE CAST(floor(sqrt(CAST({n} AS DOUBLE))) AS BIGINT) END"
)

_MIX_TARGET = 100  # total docs the resampled mixture should contain


@register(
    "pipeline_domain_mixture",
    oracle=f"""
    WITH counts AS (
      SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ),
    wts AS (
      SELECT source, n_docs, {_ISQRT.format(n="n_docs")} AS weight FROM counts
    ),
    tot AS (SELECT CAST(sum(weight) AS BIGINT) AS w_total FROM wts),
    alloc0 AS (
      SELECT source, n_docs, weight,
             CAST(({_MIX_TARGET} * weight) // t.w_total AS BIGINT) AS m_base,
             CAST(({_MIX_TARGET} * weight) % t.w_total AS BIGINT) AS m_rem
      FROM wts CROSS JOIN tot t
    ),
    alloc AS (
      SELECT source, n_docs, weight,
             CAST(m_base + CASE
               WHEN row_number() OVER (ORDER BY m_rem DESC, source)
                    <= {_MIX_TARGET} - (SELECT sum(m_base) FROM alloc0)
               THEN 1 ELSE 0 END AS BIGINT) AS m_target
      FROM alloc0
    ),
    ranked AS (
      SELECT d.source, d.doc_id,
             row_number() OVER (
               PARTITION BY d.source
               ORDER BY sha256(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rk
      FROM documents d
    ),
    sel AS (
      SELECT r.source, count(*) AS n_selected, sum(r.doc_id) AS id_digest
      FROM ranked r JOIN alloc a USING (source)
      WHERE r.rk <= a.m_target
      GROUP BY r.source
    )
    SELECT a.source,
           CAST(a.n_docs AS BIGINT) AS n_docs,
           CAST(a.weight AS BIGINT) AS weight,
           a.m_target,
           CAST(coalesce(s.n_selected, 0) AS BIGINT) AS n_selected,
           CAST(coalesce(s.id_digest, 0) AS BIGINT) AS id_digest
    FROM alloc a LEFT JOIN sel s USING (source)
    ORDER BY a.source
    """,
    tags=("pipeline",),
)
def pipeline_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted domain mixture (the multilingual/domain
    resampling scheme from XLM/mT5-style pipelines, T = 2 i.e.
    weight ∝ √n): per-source doc counts → exact-integer isqrt weights →
    largest-remainder integer allocation of a fixed sample budget (Σ m_target = budget exactly) → a
    deterministic per-source hash-ordered pick of exactly that many
    docs. Output is the allocation table plus the selected-id digest,
    so the gate pins BOTH the arithmetic and the selection.

    Scale notes: every corpus-sized step is a partial-aggregated groupBy;
    the per-source rank window sorts only within a source — with few,
    huge sources, replace it with a 256-bucket hash-histogram cutoff
    (two aggregation passes, no per-source sort); the allocation table
    is dimension-sized and broadcast. No float transcendental crosses
    an engine boundary (isqrt carries a ±1 exactness correction)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    wts = counts.withColumn("weight", F.expr(_ISQRT.format(n="n_docs")))
    tot = wts.agg(F.sum("weight").cast("long").alias("w_total"))
    alloc0 = wts.crossJoin(F.broadcast(tot)).select(
        "source", "n_docs", "weight",
        F.expr(f"CAST(({_MIX_TARGET} * weight) div w_total AS BIGINT)").alias("m_base"),
        F.expr(f"CAST(({_MIX_TARGET} * weight) % w_total AS BIGINT)").alias("m_rem"),
    )
    # largest-remainder step: hand the floored-away budget (Σ ≤ T) to the
    # sources with the biggest remainders — Σ m_target == _MIX_TARGET
    # exactly. Both windows run over the SOURCE DIMENSION (20 rows), the
    # one place a single-partition window is the honest plan.
    w_all = Window.partitionBy()
    alloc = (
        alloc0.withColumn(
            "_rk", F.row_number().over(Window.orderBy(F.desc("m_rem"), "source"))
        )
        .withColumn("_extra", F.lit(_MIX_TARGET) - F.sum("m_base").over(w_all))
        .select(
            "source", "n_docs", "weight",
            (F.col("m_base") + F.when(F.col("_rk") <= F.col("_extra"), 1).otherwise(0))
            .cast("long")
            .alias("m_target"),
        )
    )
    ranked = docs.select(
        "source", "doc_id",
        F.row_number().over(
            Window.partitionBy("source").orderBy(
                F.sha2(F.col("doc_id").cast("string"), 256), "doc_id"
            )
        ).alias("rk"),
    )
    sel = (
        ranked.join(F.broadcast(alloc.select("source", "m_target")), "source")
        .filter(F.col("rk") <= F.col("m_target"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_selected"),
            F.sum("doc_id").alias("id_digest"),
        )
    )
    return (
        alloc.join(sel, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("weight").cast("long").alias("weight"),
            "m_target",
            F.coalesce(F.col("n_selected"), F.lit(0)).cast("long").alias("n_selected"),
            F.coalesce(F.col("id_digest"), F.lit(0)).cast("long").alias("id_digest"),
        )
        .orderBy("source")
    )


@register(
    "events_variant_extract",
    oracle="""
    SELECT CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS BIGINT) AS k_bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1
    ORDER BY k_bucket
    """,
    tags=("agg", "semistructured"),
)
def events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT lane: ``parse_json`` the payload ONCE into the
    native semi-structured type, then ``variant_get`` typed paths —
    unlike per-path get_json_object string re-parsing, the variant
    binary encoding is parsed once and shredded columnar at scale (the
    events_json_extract twin shows the string-path lane; same oracle
    discipline). Buckets by the extracted field + exact-cents value
    aggregation."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "bigint")
    return (
        ev.select(
            (k % 10).alias("k_bucket"),
            "user_id",
            F.round(F.col("value") * 100).cast("long").alias("_cents"),
        )
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_cents").alias("value_cents"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("k_bucket")
    )


# ---------------------------------------------------------------------------
# Curated-corpus export: sharded JSONL + read-back-verified manifest
# ---------------------------------------------------------------------------

_N_SHARDS = 8


@register(
    "pipeline_export_shards",
    oracle=f"""
    WITH sharded AS (
      SELECT ({_sql_hexval("sha256(CAST(doc_id AS VARCHAR))", 1)} * 4096
              + {_sql_hexval("sha256(CAST(doc_id AS VARCHAR))", 2)} * 256
              + {_sql_hexval("sha256(CAST(doc_id AS VARCHAR))", 3)} * 16
              + {_sql_hexval("sha256(CAST(doc_id AS VARCHAR))", 4)}) % {_N_SHARDS} AS shard,
             doc_id, length(text) AS n_chars
      FROM documents
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(sum(doc_id * doc_id + 7919) AS BIGINT) AS id_digest
    FROM sharded
    GROUP BY shard
    ORDER BY shard
    """,
    tags=("pipeline", "sink"),
)
def pipeline_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAST pipeline stage: write the curated corpus as hash-sharded
    JSONL (the trainer-facing layout — shard by content-hash of the id,
    so shard sizes are balanced and assignment is reproducible anywhere)
    and return the shard MANIFEST computed by READING THE EXPORT BACK —
    the gate then pins the whole writer/reader round trip (a lost or
    duplicated row changes n_docs/id_digest; a mangled text changes
    n_chars). The digest is an order-independent integer sum, so it is
    partitioning-proof on both engines."""
    docs = load_table(spark, sf_dir, "documents")
    shard = (
        F.conv(F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 4), 16, 10)
        .cast("long")
        % _N_SHARDS
    )
    out = scratch_root(sf_dir, "bxg_export_scratch") + "/jsonl"
    (
        docs.select("doc_id", "text", shard.alias("shard"))
        .repartition(_N_SHARDS, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .json(out)
    )
    # partitionBy moved `shard` into the directory name; the read
    # restores it as a partition column
    back = spark.read.schema("doc_id bigint, text string").json(out)
    return (
        back.groupBy(F.col("shard").cast("long").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("n_chars"),
            F.sum(F.col("doc_id") * F.col("doc_id") + 7919).alias("id_digest"),
        )
        .orderBy("shard")
    )


@register(
    "multimodal_features",
    oracle=f"""
    SELECT doc_id AS media_id,
           {", ".join(
               f"round(CAST(CAST(({_sql_hexval('h', 2*i+1)} * 16 + {_sql_hexval('h', 2*i+2)})"
               f" / 255.0 AS REAL) AS DOUBLE), 6) AS f{i}"
               for i in range(8)
           )}
    FROM (SELECT doc_id, sha256(text) AS h FROM documents)
    ORDER BY media_id
    """,
    tags=("multimodal",),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over the binary column (mapInPandas, stands in
    for a CLIP/audio encoder): the array<float> output contract is
    gate-verified per element — the oracle recomputes the deterministic
    kernel from sha256 AND replays the float32 quantization
    (REAL→DOUBLE→round), so the Arrow float path itself is pinned."""
    from ..operators.multimodal import extract_features, media_from_documents

    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(media_from_documents(docs))
    return feats.select(
        "media_id",
        *[
            F.round(F.element_at("features", i + 1).cast("double"), 6).alias(f"f{i}")
            for i in range(8)
        ],
    ).orderBy("media_id")


@register(
    "multimodal_phash_neardup",
    oracle="""
    WITH s AS (
      -- strided-byte sampling replayed on VARCHAR (pure-ASCII corpus,
      -- octet_length == length — same contract as multimodal_frames)
      SELECT doc_id AS media_id, CAST(t.i AS INTEGER) AS i,
             ascii(substr(text, CAST((t.i * length(text)) // 64 AS INTEGER) + 1, 1)) AS v
      FROM documents, unnest(range(0, 64)) AS t(i)
    ),
    m AS (SELECT media_id, sum(v) // 64 AS mean FROM s GROUP BY media_id),
    b AS (
      SELECT s.media_id, s.i, CASE WHEN s.v > m.mean THEN 1 ELSE 0 END AS bit
      FROM s JOIN m USING (media_id)
    ),
    h AS (
      SELECT media_id, CAST(i // 16 AS INTEGER) AS band,
             CAST(sum(bit * (1 << CAST(15 - (i % 16) AS INTEGER))) AS INTEGER) AS hv
      FROM b GROUP BY media_id, i // 16
    ),
    cand AS (
      SELECT DISTINCT a.media_id AS media_a, c.media_id AS media_b
      FROM h a JOIN h c ON a.band = c.band AND a.hv = c.hv
      WHERE a.media_id < c.media_id
    ),
    ham AS (
      SELECT cand.media_a, cand.media_b,
             CAST((SELECT sum(bit_count(xor(x.hv, y.hv)))
                   FROM h x JOIN h y ON x.band = y.band
                   WHERE x.media_id = cand.media_a
                     AND y.media_id = cand.media_b) AS BIGINT) AS hamming
      FROM cand
    )
    SELECT media_a, media_b, hamming FROM ham
    WHERE hamming <= 3
    ORDER BY media_a, media_b
    """,
    tags=("multimodal", "dedup"),
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate detection by perceptual average-hash: the
    aHash kernel runs over the binary column (mapInPandas), its four
    16-bit bands double as LSH bands, and one banded equi-join finds
    every pair within hamming ≤ 3 (pigeonhole-complete — no quadratic
    scan).  The oracle recomputes the hash from the payload bytes and
    the same banded candidate set, so kernel, banding, and hamming
    filter are all value-pinned."""
    from ..operators.multimodal import media_from_documents, phash_near_dup

    docs = load_table(spark, sf_dir, "documents")
    return phash_near_dup(media_from_documents(docs), max_hamming=3)


@register(
    "multimodal_frames",
    oracle="""
    WITH v AS (
      -- byte slicing replayed on VARCHAR: the corpus is pure ASCII at
      -- every SF (octet_length == length verified), so char offsets ==
      -- byte offsets; a non-ASCII doc would hash-mismatch and flag here
      SELECT doc_id AS media_id, text AS payload
      FROM documents WHERE doc_id % 3 = 2
    ),
    f AS (
      SELECT media_id, CAST(t.i AS INTEGER) AS frame_no,
             substring(payload,
                       CAST(t.i AS INTEGER) * (length(payload) // 4) + 1,
                       length(payload) // 4) AS fb
      FROM v, unnest(range(0, 4)) AS t(i)
    )
    SELECT media_id, frame_no,
           CAST(length(fb) AS BIGINT) AS n_bytes,
           sha256(fb) AS frame_sha
    FROM f
    ORDER BY media_id, frame_no
    """,
    tags=("multimodal",),
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over video payloads (explode → one row per frame,
    byte-range slicing on the binary column): frame boundaries, sizes
    and CONTENT (sha256 of each frame's bytes) are oracle-pinned, so
    the binary-slicing dataflow — not just row counts — is verified."""
    from ..operators.multimodal import media_from_documents, sample_frames

    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(media_from_documents(docs), n_frames=4)
    return frames.select(
        "media_id",
        "frame_no",
        F.length("frame_bytes").cast("long").alias("n_bytes"),
        F.sha2("frame_bytes", 256).alias("frame_sha"),
    ).orderBy("media_id", "frame_no")


@register(
    "multimodal_resize",
    oracle="""
    -- byte cycling replayed on VARCHAR (pure-ASCII corpus, see
    -- multimodal_frames); the empty-payload branch of the fake kernel
    -- is unreachable on this corpus — a zero-length doc would flag
    WITH m AS (
      SELECT doc_id AS media_id, text AS src
      FROM documents WHERE doc_id % 7 = 0
    )
    SELECT media_id,
           CAST(64 AS INTEGER) AS width, CAST(64 AS INTEGER) AS height,
           CAST(12288 AS BIGINT) AS n_bytes_out,
           sha256(substring(repeat(src, CAST(12288 // length(src) + 1 AS INTEGER)),
                            1, 12288)) AS resized_sha
    FROM m
    ORDER BY media_id
    """,
    tags=("multimodal",),
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize kernel (mapInPandas; deterministic byte-cycling fake with
    the real size contract width·height·3): output payload BYTES are
    oracle-pinned via sha256 — DuckDB replays the cycling with
    repeat+substring on the blob — so the Arrow binary round trip is
    verified content-exact, not just size-exact."""
    from ..operators.multimodal import media_from_documents, resize_media

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0)
    out = resize_media(media_from_documents(docs), width=64, height=64)
    return out.select(
        "media_id", "width", "height", "n_bytes_out",
        F.sha2("resized", 256).alias("resized_sha"),
    ).orderBy("media_id")


@register(
    "sketch_hll_merge",
    oracle=f"""
    SELECT path, hll_estimate FROM (
      SELECT 'direct' AS path, hll_estimate FROM ({_sql_hll("events", "event_id")})
      UNION ALL
      SELECT 'merged' AS path, hll_estimate FROM ({_sql_hll("events", "event_id")})
    ) t
    ORDER BY path
    """,
    tags=("sketch", "approx"),
)
def sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MERGEABILITY property made an explicit gate: per-event-type
    partial sketches (the shape shards/executors ship at 100 TB) merged
    with max-per-register must estimate IDENTICALLY to the one-pass
    global sketch — max is associative, so the oracle's single direct
    estimate must hash-match both rows.  A merge-path divergence (wrong
    register key, lossy combine) breaks the value hash."""
    from ..operators.sketch import HLL_M, hll_estimate, hll_registers

    ev = load_table(spark, sf_dir, "events")
    # partial sketches: one register table per event_type shard
    h = F.sha2(F.col("event_id").cast("string"), 256)
    reg = (F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % HLL_M).alias("reg")
    v52 = F.conv(F.substring(h, 5, 13), 16, 10).cast("long")
    rho = F.when(v52 == 0, F.lit(53)).otherwise(F.lit(53) - F.length(F.bin(v52)))
    partials = (
        ev.select(F.col("event_type").alias("shard"), reg, rho.cast("long").alias("rho"))
        .groupBy("shard", "reg")
        .agg(F.max("rho").alias("m_val"))
    )
    merged_regs = partials.groupBy("reg").agg(F.max("m_val").alias("m_val"))
    merged = hll_estimate(spark, merged_regs).select(
        F.lit("merged").alias("path"), "hll_estimate"
    )
    direct = hll_estimate(spark, hll_registers(ev, F.col("event_id"))).select(
        F.lit("direct").alias("path"), "hll_estimate"
    )
    return direct.unionByName(merged).orderBy("path")


@register(
    "stats_approx_quantiles_bounds",
    # ERROR-BOUNDS oracle, the stats_approx_distinct pattern: Spark's
    # approx_percentile (GK sketch) guarantees a RANK error <= n/accuracy;
    # the boolean verifies rank(estimate) lands inside that window by
    # COUNTING values <= estimate — a distributed comparison, no sorted
    # arrays.  DuckDB pins the exact median (interpolated percentiles on
    # integer cents are exact binary fractions) and asserts TRUE.
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5)
             AS exact_p50_cents,
           TRUE AS within_rank_bound
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("agg", "approx"),
)
def stats_approx_quantiles_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate quantiles at scale with a VERIFIED error bound:
    approx_percentile(accuracy=1000) per event type, checked by rank —
    count(x <= estimate) must fall within ⌈n/2⌉ ± (⌈n/1000⌉ + 1).  The
    sketch value itself is engine-specific; its rank-error contract is
    not, so the hash pins (n, exact median, bound-holds).  The exact
    median rides along as the ground truth (exact binary fraction on
    integer cents in both engines)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    approx = ev.groupBy("event_type").agg(
        F.expr("approx_percentile(cents, 0.5, 1000)").alias("_est"),
        F.percentile("cents", F.lit(0.5)).alias("exact_p50_cents"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    ranked = (
        ev.join(F.broadcast(approx.select("event_type", "_est")), "event_type")
        .groupBy("event_type")
        .agg(F.sum(F.when(F.col("cents") <= F.col("_est"), 1).otherwise(0)).alias("_rk"))
    )
    return (
        approx.join(ranked, "event_type")
        .select(
            "event_type",
            "n_events",
            "exact_p50_cents",
            (
                F.abs(F.col("_rk") - F.ceil(F.col("n_events") / 2))
                <= (F.ceil(F.col("n_events") / 1000) + 1)
            ).alias("within_rank_bound"),
        )
        .orderBy("event_type")
    )


_PGM_HEX = "0123456789abcdef"


def _pgm_hexpair(src: str, pos: str) -> str:
    """SQL int value of the hex byte at 0-based byte offset ``pos`` of
    hex string ``src`` (two chars per byte)."""
    return (
        f"(strpos('{_PGM_HEX}', substr({src}, 2*({pos})+1, 1)) - 1) * 16"
        f" + (strpos('{_PGM_HEX}', substr({src}, 2*({pos})+2, 1)) - 1)"
    )


@register(
    "multimodal_decode_pgm_real",
    oracle=f"""
    WITH seeds AS (SELECT doc_id, sha256(text) AS seed FROM documents),
    dims AS (
      SELECT doc_id, seed,
             4 + ({_pgm_hexpair('seed', '0')}) % 29 AS w,
             4 + ({_pgm_hexpair('seed', '1')}) % 29 AS h
      FROM seeds
    ),
    blocks AS (
      SELECT doc_id, b.j AS b,
             sha256(seed || ':' || CAST(b.j AS VARCHAR)) AS dg
      FROM dims, UNNEST(range((w*h + 31) // 32)) AS b(j)
    ),
    px AS (
      SELECT d.doc_id, bl.b*32 + k.j AS pos,
             {_pgm_hexpair('bl.dg', 'k.j')} AS p
      FROM dims d JOIN blocks bl USING (doc_id), UNNEST(range(32)) AS k(j)
      WHERE bl.b*32 + k.j < d.w*d.h
    ),
    sums AS (SELECT doc_id, CAST(sum(p) AS BIGINT) AS pixel_sum FROM px GROUP BY doc_id),
    samp AS (
      SELECT d.doc_id, g.j AS gidx,
             ((g.j // 8) * d.h) // 8 * d.w + ((g.j % 8) * d.w) // 8 AS pos
      FROM dims d, UNNEST(range(64)) AS g(j)
    ),
    sampv AS (
      SELECT s.doc_id, s.gidx, p.p
      FROM samp s JOIN px p ON p.doc_id = s.doc_id AND p.pos = s.pos
    ),
    asum AS (SELECT doc_id, sum(p) AS ssum FROM sampv GROUP BY doc_id),
    abits AS (
      SELECT v.doc_id,
             string_agg(CASE WHEN 64*v.p > a.ssum THEN '1' ELSE '0' END,
                        '' ORDER BY v.gidx) AS ahash
      FROM sampv v JOIN asum a USING (doc_id) GROUP BY v.doc_id
    )
    SELECT d.doc_id AS media_id, CAST(d.w AS INTEGER) AS width,
           CAST(d.h AS INTEGER) AS height, CAST(255 AS INTEGER) AS maxval,
           CAST(d.w*d.h AS BIGINT) AS n_pixels, s.pixel_sum AS pixel_sum,
           ab.ahash AS ahash
    FROM dims d JOIN sums s USING (doc_id) JOIN abits ab USING (doc_id)
    ORDER BY media_id
    """,
    tags=("multimodal",),
)
def multimodal_decode_pgm_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal path with NO fake anywhere (unlike the labeled
    stand-ins behind multimodal_decode, which model codec formats this
    container can't parse): documents become valid binary PGM images
    (synthesize_pgm), the decoder does REAL header parsing on the raw
    bytes, and the kernels — pixel sum, nearest-neighbor 8×8 resample,
    integer average-hash — run on real pixel data
    (operators/multimodal.decode_pgm).  The oracle recomputes expected
    outputs from the synthesis definition in pure SQL (sha256 byte
    stream replayed hex-pair by hex-pair), so a green row proves
    parse(synthesize(doc)) round-trips bit-for-bit and pins every
    kernel.  Scale: one Arrow mapInPandas pass per stage, no shuffle
    until the final sort."""
    from ..operators.multimodal import decode_pgm, synthesize_pgm

    docs = load_table(spark, sf_dir, "documents")
    return decode_pgm(synthesize_pgm(docs)).orderBy("media_id")


@register(
    "multimodal_decode_wav_real",
    oracle=f"""
    WITH seeds AS (SELECT doc_id, sha256(text) AS seed FROM documents),
    par AS (
      SELECT doc_id, seed,
             64 + ({_pgm_hexpair('seed', '0')}) % 193 AS n,
             8000 * (1 + (strpos('{_PGM_HEX}', substr(seed, 3, 1)) - 1) % 3) AS rate
      FROM seeds
    ),
    blocks AS (
      SELECT doc_id, b.j AS b,
             sha256(seed || ':' || CAST(b.j AS VARCHAR)) AS dg
      FROM par, UNNEST(range((2*n + 31) // 32)) AS b(j)
    ),
    smp AS (
      SELECT p.doc_id, bl.b*16 + k.j AS sidx,
             ({_pgm_hexpair('bl.dg', '2*k.j')})
             + 256 * ({_pgm_hexpair('bl.dg', '2*k.j+1')}) AS u
      FROM par p JOIN blocks bl USING (doc_id), UNNEST(range(16)) AS k(j)
      WHERE bl.b*16 + k.j < p.n
    ),
    sv AS (
      SELECT doc_id, CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS v
      FROM smp
    )
    SELECT p.doc_id AS media_id, CAST(p.rate AS INTEGER) AS sample_rate,
           CAST(p.n AS BIGINT) AS n_samples,
           CAST(sum(v) AS BIGINT) AS sum_samples,
           CAST(sum(v*v) AS BIGINT) AS sum_squares,
           CAST(max(abs(v)) AS INTEGER) AS peak_abs
    FROM par p JOIN sv USING (doc_id)
    GROUP BY p.doc_id, p.rate, p.n
    ORDER BY media_id
    """,
    tags=("multimodal",),
)
def multimodal_decode_wav_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio twin of multimodal_decode_pgm_real — NO fake anywhere:
    documents become VALID RIFF/WAVE files (mono PCM16, rate and length
    from the text sha256, samples the sha256 byte stream as LE int16),
    the decoder really walks the chunk list and unpacks samples, and
    the kernels — sample sum, energy (Σv²), peak |amplitude| — are the
    integer loudness/clipping stats an audio curation pass filters on.
    Oracle replays the synthesis in pure SQL (hex pairs → LE int16 with
    two's-complement fold), so the green row proves the RIFF round-trip
    and pins every kernel.  Scale: one Arrow mapInPandas pass per
    stage, no shuffle until the final sort."""
    from ..operators.multimodal import decode_wav, synthesize_wav

    docs = load_table(spark, sf_dir, "documents")
    return decode_wav(synthesize_wav(docs)).orderBy("media_id")


@register(
    "multimodal_decode_y4m_real",
    oracle=f"""
    WITH seeds AS (SELECT doc_id, sha256(text) AS seed FROM documents),
    dims AS (
      SELECT doc_id, seed,
             4 + ({_pgm_hexpair('seed', '0')}) % 13 AS w,
             4 + ({_pgm_hexpair('seed', '1')}) % 13 AS h,
             2 + (strpos('{_PGM_HEX}', substr(seed, 5, 1)) - 1) % 4 AS nf
      FROM seeds
    ),
    frames AS (
      SELECT doc_id, f.j AS f FROM dims, UNNEST(range(nf)) AS f(j)
    ),
    blocks AS (
      SELECT d.doc_id, fr.f, b.j AS b,
             sha256(d.seed || ':' || CAST(fr.f AS VARCHAR)
                    || ':' || CAST(b.j AS VARCHAR)) AS dg
      FROM dims d JOIN frames fr USING (doc_id),
           UNNEST(range((d.w*d.h + 31) // 32)) AS b(j)
    ),
    px AS (
      SELECT d.doc_id, bl.f, {_pgm_hexpair('bl.dg', 'k.j')} AS p
      FROM dims d JOIN blocks bl USING (doc_id), UNNEST(range(32)) AS k(j)
      WHERE bl.b*32 + k.j < d.w*d.h
    )
    SELECT d.doc_id AS media_id, CAST(d.w AS INTEGER) AS width,
           CAST(d.h AS INTEGER) AS height, CAST(d.nf AS INTEGER) AS n_frames,
           CAST(px.f AS INTEGER) AS frame_no,
           CAST(sum(px.p) AS BIGINT) AS frame_sum
    FROM dims d JOIN px USING (doc_id)
    GROUP BY d.doc_id, d.w, d.h, d.nf, px.f
    ORDER BY media_id, frame_no
    """,
    tags=("multimodal",),
)
def multimodal_decode_y4m_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video twin of the real PGM/WAV paths — NO fake anywhere:
    documents become VALID YUV4MPEG2 streams (mono plane, dims and
    frame count from the text sha256), the decoder really parses the
    parameter header and walks the FRAME markers extracting each raw
    plane — the true frame-sampling dataflow the labeled stand-in
    `sample_frames` models for codec formats — and emits one row per
    frame with its integer pixel sum.  Oracle replays the synthesis in
    pure SQL per (frame, block, byte), pinning the container walk and
    the kernel.  Scale: one Arrow mapInPandas pass, rows ∝ frames."""
    from ..operators.multimodal import decode_y4m, synthesize_y4m

    docs = load_table(spark, sf_dir, "documents")
    return decode_y4m(synthesize_y4m(docs)).orderBy("media_id", "frame_no")


from ..registry import REGISTRY as _REG  # noqa: E402  (oracle reuse below)


@register(
    "multimodal_decode_pgm_arrow",
    # byte-identical oracle to multimodal_decode_pgm_real: the two
    # queries differ ONLY in the Python-boundary lane (mapInArrow vs
    # mapInPandas), so the same expected output pins lane equivalence
    oracle=_REG["multimodal_decode_pgm_real"].oracle,
    tags=("multimodal", "python-boundary"),
)
def multimodal_decode_pgm_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multimodal_decode_pgm_real through the ARROW-NATIVE lane:
    ``mapInArrow`` RecordBatches instead of ``mapInPandas`` frames —
    binary payloads stay Arrow buffers end-to-end with no pandas
    object-dtype copy (measured 13-25% faster at 262 KB payloads;
    converges at ~300 B — the gap grows with payload size, the axis
    100 TB media grows on).  Same parse, same kernels,
    same oracle: a green row next to pgm_real's proves the two
    Python-boundary lanes are output-identical, completing the
    escape-hatch catalog (pandas_udf, mapInPandas, applyInPandas,
    applyInPandasWithState, UDTF, Python DataSource, mapInArrow)."""
    from ..operators.multimodal import decode_pgm_arrow, synthesize_pgm

    docs = load_table(spark, sf_dir, "documents")
    return decode_pgm_arrow(synthesize_pgm(docs)).orderBy("media_id")


@register(
    "multimodal_decode_wav_arrow",
    # byte-identical oracle to multimodal_decode_wav_real — the queries
    # differ ONLY in the Python-boundary lane (mapInArrow vs mapInPandas)
    oracle=_REG["multimodal_decode_wav_real"].oracle,
    tags=("multimodal", "python-boundary"),
)
def multimodal_decode_wav_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multimodal_decode_wav_real through the ARROW-NATIVE lane
    (r6 verdict #2: finish the Arrow family — the measured pandas
    object-dtype copy cost scales with payload bytes, so mapInArrow is
    the 100 TB default for binary columns).  Same RIFF chunk walk, same
    integer kernels (shared _wav_stats), same oracle: a green row next
    to wav_real's pins the two lanes output-identical."""
    from ..operators.multimodal import decode_wav_arrow, synthesize_wav

    docs = load_table(spark, sf_dir, "documents")
    return decode_wav_arrow(synthesize_wav(docs)).orderBy("media_id")


@register(
    "multimodal_decode_y4m_arrow",
    # byte-identical oracle to multimodal_decode_y4m_real (same lane-
    # equivalence device); this one also pins that an Arrow lane can
    # FAN OUT rows (one per frame), not just map 1:1
    oracle=_REG["multimodal_decode_y4m_real"].oracle,
    tags=("multimodal", "python-boundary"),
)
def multimodal_decode_y4m_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multimodal_decode_y4m_real through the ARROW-NATIVE lane: same
    YUV4MPEG2 header/FRAME walk (shared _y4m_stats), same one-row-per-
    frame contract — the RecordBatch fans out rows — same oracle."""
    from ..operators.multimodal import decode_y4m_arrow, synthesize_y4m

    docs = load_table(spark, sf_dir, "documents")
    return decode_y4m_arrow(synthesize_y4m(docs)).orderBy("media_id", "frame_no")
