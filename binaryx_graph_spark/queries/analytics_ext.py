"""Round-2 analytics extensions: whole-graph algorithms (PageRank,
triangles) on the derived call graph, plus training-pipeline utilities
(stratified split, quantized TF-IDF, deterministic sampling) on the
documents corpus.  Every query carries a DuckDB oracle; the iterative
PageRank is oracle-replayable through fixed-point integer arithmetic
(the round-2 technique — int sums are order-independent, so K unrolled
CTE iterations match Spark bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..model import load_table
from ..operators.graphalgo import (
    community_modularity,
    hits_fixed,
    kcore_peel,
    label_propagation,
    pagerank_fixed,
    sql_community_modularity,
    sql_hits_fixed,
    sql_kcore_peel,
    sql_label_propagation,
    sql_pagerank_fixed,
    sql_personalized_pagerank_fixed,
    sql_triangle_counts,
    triangle_counts,
)
from ..plans.graph_project import SQL_EDGES, derived_edges
from ..registry import register

# ---------------------------------------------------------------------------
# Whole-graph analytics on the derived call graph
# ---------------------------------------------------------------------------


@register(
    "graph_kcore",
    oracle=sql_kcore_peel(SQL_EDGES, k=10, rounds=4)
    + " ORDER BY degree DESC, node",
    tags=("graph", "iterative"),
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-substructure extraction: 4 rounds of k-core peeling
    (k=10) over the undirected derived call graph — the web-graph
    quality/spam-filter primitive. Survivors + final degrees; the
    DuckDB oracle unrolls the identical rounds as chained CTEs, so
    the contract is exact regardless of convergence state."""
    return (
        kcore_peel(derived_edges(spark, sf_dir), k=10, rounds=4)
        .orderBy(F.desc("degree"), "node")
    )


@register(
    "graph_pagerank",
    oracle=sql_pagerank_fixed(SQL_EDGES)
    + """
    ORDER BY rank_fp DESC, node
    LIMIT 50
    """,
    tags=("graph", "iterative"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-function centrality: 5 damped PageRank iterations over the
    derived call graph in exact int64 fixed point — the DuckDB oracle
    unrolls the identical iterations and matches every rank bit-for-bit
    (no float tolerance).  Top-50 by rank."""
    ranks = pagerank_fixed(derived_edges(spark, sf_dir), iters=5)
    return ranks.orderBy(F.desc("rank_fp"), "node").limit(50)


@register(
    "graph_hits",
    oracle=sql_hits_fixed(SQL_EDGES)
    + """
    ORDER BY auth_fp DESC, hub_fp DESC, node
    LIMIT 50
    """,
    tags=("graph", "iterative"),
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hub/authority centrality (HITS, Kleinberg 1999): 3 mutually-
    reinforcing iterations over the derived call graph in exact int64
    L1-normalized fixed point — like graph_pagerank, the DuckDB oracle
    unrolls the identical iterations and matches every score
    bit-for-bit.  Top-50 authorities."""
    scores = hits_fixed(derived_edges(spark, sf_dir), iters=3)
    return scores.orderBy(
        F.desc("auth_fp"), F.desc("hub_fp"), "node"
    ).limit(50)


@register(
    "graph_label_propagation",
    oracle=sql_label_propagation(SQL_EDGES, rounds=4)
    + " ORDER BY node",
    tags=("graph", "iterative"),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the derived call graph: 4 synchronous
    label-propagation rounds (most-frequent neighbor label, smallest-
    label tie-break).  The deterministic schedule + total tie-break let
    the DuckDB oracle unroll the identical rounds and match every node's
    community exactly — no "one arbitrary run" hand-waving."""
    return label_propagation(derived_edges(spark, sf_dir), rounds=4).orderBy("node")


@register(
    "graph_community_modularity",
    oracle=sql_community_modularity(SQL_EDGES, rounds=4),
    tags=("graph", "iterative"),
)
def graph_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality metric for the LPA communities: Newman modularity as an
    exact-int64 per-community numerator (contrib_q = 4·m·in_c − d_c²;
    Q = Σ/4m²) — detection AND evaluation both oracle-replayable, no
    float division anywhere in the contract."""
    return community_modularity(derived_edges(spark, sf_dir), rounds=4)


@register(
    "graph_triangle_counts",
    oracle=sql_triangle_counts(SQL_EDGES)
    + """
    ORDER BY n_triangles DESC, node
    """,
    tags=("graph",),
)
def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation over the undirected call graph —
    degree-ordered O(m^1.5) enumeration on Spark, naive a<b<c three-way
    join in the oracle: different enumeration, identical counts."""
    return triangle_counts(derived_edges(spark, sf_dir)).orderBy(
        F.desc("n_triangles"), "node"
    )


# ---------------------------------------------------------------------------
# Training-pipeline utilities on documents
# ---------------------------------------------------------------------------

_HEX = "0123456789abcdef"


def _sql_hex4(expr: str) -> str:
    """DuckDB: first 4 hex chars of a sha256 hex string → BIGINT."""
    terms = " + ".join(
        f"(strpos('{_HEX}', substr({expr}, {i}, 1)) - 1) * {16 ** (4 - i)}"
        for i in range(1, 5)
    )
    return f"CAST({terms} AS BIGINT)"


@register(
    "pipeline_stratified_split",
    oracle=f"""
    WITH bucketed AS (
      SELECT lang,
             {_sql_hex4("sha256(CAST(doc_id AS VARCHAR))")} % 100 AS bucket
      FROM documents
    ),
    labeled AS (
      SELECT lang,
             CASE WHEN bucket < 80 THEN 'train'
                  WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
      FROM bucketed
    ),
    counted AS (
      SELECT lang, split, count(*) AS n_docs FROM labeled GROUP BY lang, split
    )
    SELECT lang, split, n_docs,
           CAST(n_docs AS DOUBLE)
             / sum(n_docs) OVER (PARTITION BY lang) AS frac_within_lang
    FROM counted
    ORDER BY lang, split
    """,
    tags=("pipeline",),
)
def pipeline_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified train/val/test split: bucket =
    int(sha256(doc_id)[:4], 16) % 100 → 80/10/10, reported per language
    stratum.  Content-hash bucketing is reproducible across engines,
    runs, and cluster sizes (no RNG, no partition dependence) — the
    standard way to split a 100 TB corpus without a shuffle: the split
    column is a pure projection every reader recomputes."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 4), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    counted = docs.groupBy(F.col("lang"), split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return counted.select(
        "lang",
        "split",
        "n_docs",
        (
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(Window.partitionBy("lang"))
        ).alias("frac_within_lang"),
    ).orderBy("lang", "split")


@register(
    "text_tfidf_topk",
    oracle="""
    WITH toks AS (
      SELECT doc_id, t.tok
      FROM documents,
           unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
    df AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok AS term, tf.tf, df.df,
             tf.tf * ((n.n_docs * 1000) // df.df) AS score_q
      FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                                   ORDER BY score_q DESC, term) AS rk
      FROM scored WHERE doc_id % 25 = 0
    )
    SELECT doc_id, term, tf, df, score_q
    FROM ranked WHERE rk <= 3
    ORDER BY doc_id, score_q DESC, term
    """,
    tags=("text",),
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive terms per document by QUANTIZED TF-IDF:
    score = tf × ((N·1000) // df) — the idf factor is an exact integer
    (thousandths, floored), so Spark and DuckDB rank and score
    identically with no transcendental-function drift (ln(x) is not
    bit-portable across engines; N/df quantized to 1e-3 preserves the
    idf ordering at every df < N·1000).  Corpus-wide df, output
    restricted to every 25th doc to keep the gate compact."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("tok")
    ).filter(F.col("tok") != "")
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = toks.groupBy("tok").agg(F.countDistinct("doc_id").cast("long").alias("df"))
    n_docs = docs.count()  # scalar corpus property
    scored = (
        tf.join(df_, "tok")
        .select(
            "doc_id",
            F.col("tok").alias("term"),
            "tf",
            "df",
            (F.col("tf") * F.expr(f"({n_docs} * 1000) div df")).alias("score_q"),
        )
    )
    ranked = (
        scored.filter(F.col("doc_id") % 25 == 0)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.desc("score_q"), "term")
            ),
        )
        .filter(F.col("rk") <= 3)
    )
    return ranked.select("doc_id", "term", "tf", "df", "score_q").orderBy(
        "doc_id", F.desc("score_q"), "term"
    )


@register(
    "docs_deterministic_sample",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    ORDER BY sha256(CAST(doc_id AS VARCHAR)), doc_id
    LIMIT 25
    """,
    tags=("pipeline",),
)
def docs_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform sample: order by a content hash of the key
    and take k — a reproducible 'reservoir' that needs no RNG state and
    no coordination (any engine, any partitioning, same 25 docs).  At
    100 TB this is ORDER BY hash LIMIT k = a single TakeOrdered
    (per-partition top-k + driver merge), never a full sort."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", "lang", "n_chars", F.sha2(F.col("doc_id").cast("string"), 256).alias("_h")
        )
        .orderBy("_h", "doc_id")
        .limit(25)
        .select("doc_id", "lang", "n_chars")
    )


# ---------------------------------------------------------------------------
# Event analytics: funnel + window frames
# ---------------------------------------------------------------------------


@register(
    "events_funnel_conversion",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view'
      GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM s1) AS n_view,
           (SELECT count(*) FROM s2) AS n_view_click,
           (SELECT count(*) FROM s3) AS n_view_click_purchase
    """,
    tags=("events", "agg"),
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase, strictly increasing
    timestamps per user): each stage is one conditional min-aggregation
    joined back — three shuffles on user_id total, reusing the same key
    partitioning (no per-user explode, no window over the full event
    log).  Timestamps stay internal; only stage counts are emitted."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(s2.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(s3.agg(F.count(F.lit(1)).alias("n_view_click_purchase")))
    )


@register(
    "orders_daily_moving_avg",
    oracle="""
    WITH daily AS (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
             CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS rev_c
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
      GROUP BY 1
    )
    SELECT day,
           rev_c / 100.0 AS revenue,
           CAST(sum(rev_c) OVER w AS BIGINT)
             / (100.0 * count(*) OVER w) AS ma7
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY day
    """,
    tags=("window", "agg"),
)
def orders_daily_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily order revenue — a ROWS-frame
    running window over the (small) daily aggregate, after the heavy
    groupBy reduced the fact table to one row per day.  Cents sums stay
    exact int64 inside the frame; ONE double division per row at the
    end.  At 100 TB the window input is day-cardinality — the frame
    never sees the fact table."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-07-01 00:00:00").cast("timestamp"))
    )
    daily = orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_c"))
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        (F.col("rev_c") / F.lit(100.0)).alias("revenue"),
        (F.sum("rev_c").over(w) / (F.lit(100.0) * F.count(F.lit(1)).over(w))).alias("ma7"),
    ).orderBy("day")


@register(
    "graph_personalized_pagerank",
    oracle=sql_personalized_pagerank_fixed(SQL_EDGES, "v % 50 = 0")
    + """
    WHERE rank > 0
    ORDER BY rank_fp DESC, node
    LIMIT 50
    """,
    tags=("graph", "iterative"),
)
def graph_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a deterministic seed set (every 50th
    node = 'entry points'): teleport returns only to seeds, so rank
    measures importance RELATIVE to those entries — the call-graph
    question "what matters when execution starts here".  Same exact
    fixed-point contract as graph_pagerank; nodes unreachable from the
    seeds keep rank 0 and are filtered on both sides."""
    from ..operators.graphalgo import personalized_pagerank_fixed

    ranks = personalized_pagerank_fixed(
        derived_edges(spark, sf_dir), F.col("v") % 50 == 0, iters=5
    )
    return (
        ranks.filter(F.col("rank_fp") > 0)
        .orderBy(F.desc("rank_fp"), "node")
        .limit(50)
    )


@register(
    "events_scd2_intervals",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
             strftime(lead(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id),
                      '%Y-%m-%d %H:%M:%S') AS valid_to
      FROM events
    )
    SELECT user_id, event_type, valid_from,
           COALESCE(valid_to, '9999-12-31 00:00:00') AS valid_to
    FROM ordered
    WHERE user_id % 25 = 3
    ORDER BY user_id, valid_from, event_type
    """,
    tags=("temporal", "window"),
)
def events_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 validity intervals from an event stream: each user
    state row is valid from its own timestamp until the NEXT event
    (lead window, event_id tie-break), open intervals closed with a
    sentinel — the standard way a warehouse versions mutable state for
    as-of joins.  One window shuffle on user_id; at 100 TB the frame is
    per-user and never global.  Output scoped to a deterministic user
    subset to keep the gate compact."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    fmt = "yyyy-MM-dd HH:mm:ss"
    return (
        ev.select(
            "user_id",
            "event_type",
            F.date_format("ts", fmt).alias("valid_from"),
            F.coalesce(
                F.date_format(F.lead("ts").over(w), fmt),
                F.lit("9999-12-31 00:00:00"),
            ).alias("valid_to"),
        )
        .filter(F.col("user_id") % 25 == 3)
        .orderBy("user_id", "valid_from", "event_type")
    )


@register(
    "pipeline_weighted_sample",
    oracle=f"""
    WITH weighted AS (
      SELECT doc_id, lang,
             least(CAST(n_chars AS DOUBLE) / 500.0, 1.0) AS w,
             {_sql_hex4("sha256('samp:' || CAST(doc_id AS VARCHAR))")} AS h
      FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN h < w * 65536.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN h < w * 65536.0 THEN 1 ELSE 0 END) AS BIGINT)
             / CAST(count(*) AS DOUBLE) AS kept_frac
    FROM weighted
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("pipeline",),
)
def pipeline_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic IMPORTANCE sampling for training-mix construction:
    each document survives with probability proportional to its quality
    weight (here length/500 capped at 1), decided by comparing a
    16-bit content hash against w·2^16 — a per-row deterministic
    Bernoulli with NO RNG state, reproducible across engines, runs and
    partitionings (the only sampling that behaves at 100 TB, where a
    seeded RNG would depend on partition layout).  The salt ('samp:')
    decorrelates this draw from the train/val/test split buckets.
    Output: per-language kept counts and empirical keep rate."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.least(F.col("n_chars").cast("double") / F.lit(500.0), F.lit(1.0))
    h = (
        F.conv(
            F.substring(
                F.sha2(F.concat(F.lit("samp:"), F.col("doc_id").cast("string")), 256),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
    )
    kept = F.when(h < w * F.lit(65536.0), 1).otherwise(0)
    return (
        docs.select("lang", kept.alias("_k"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_k").cast("long").alias("n_kept"),
            (F.sum("_k").cast("long") / F.count(F.lit(1)).cast("double")).alias(
                "kept_frac"
            ),
        )
        .orderBy("lang")
    )


@register(
    "cube_event_stats",
    oracle="""
    SELECT COALESCE(event_type, '(all)') AS event_type,
           COALESCE(strftime(date_trunc('day', ts), '%w'), '(all)') AS dow,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    GROUP BY CUBE (event_type, strftime(date_trunc('day', ts), '%w'))
    ORDER BY event_type, dow
    """,
    tags=("agg", "cube"),
)
def cube_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (completing the grouping-set family next to
    rollup_daily_events): all four aggregation granularities of
    (event_type × day-of-week) in ONE pass — Catalyst expands the cube
    into a single Expand + aggregate, so the fact table is scanned once
    for all 2^k groupings (the multi-granularity dashboard pattern at
    100 TB).  Null grouping keys are labeled '(all)' on both sides."""
    ev = load_table(spark, sf_dir, "events")
    # dayofweek is 1=Sunday..7 → 0-6 matching strftime %w (0=Sunday)
    dow = (F.dayofweek(F.date_trunc("day", F.col("ts"))) - 1).cast("string")
    return (
        ev.cube(F.col("event_type"), dow.alias("dow"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("(all)")).alias("event_type"),
            F.coalesce(F.col("dow"), F.lit("(all)")).alias("dow"),
            "n_events",
            "value_cents",
        )
        .orderBy("event_type", "dow")
    )


@register(
    "bloom_prefilter_semi_join",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders o
    WHERE o.o_custkey IN (
      SELECT c_custkey FROM customer
      WHERE c_mktsegment = 'BUILDING' AND c_custkey % 3 = 1
    )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    tags=("join", "scale"),
)
def bloom_prefilter_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi-join: orders probe a 16 Kbit bitmap built
    from the selective customer subset BEFORE the exact semi-join, so at
    scale the shuffle moves only rows that (probably) match — the
    explicit twin of Spark's runtime row-level bloom filtering. The
    oracle is the PLAIN semi-join: bloom false positives are culled by
    the exact join, so outputs are provably identical."""
    from ..operators.bloom import bloom_semi_join

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_custkey") % 3 == 1)
    )
    hits = bloom_semi_join(orders, "o_custkey", cust, "c_custkey")
    return (
        hits.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
        )
        .orderBy("o_orderpriority")
    )


from ..functions.zorder import morton2, sql_morton2  # noqa: E402

_Z_X = "user_id % 256"
_Z_Y = "epoch_us(ts) // 86400000000 % 256"


@register(
    "layout_zorder_stats",
    oracle=f"""
    WITH z AS (
      SELECT user_id % 256 AS zx,
             epoch_us(ts) // 86400000000 % 256 AS zy
      FROM events
    ),
    b AS (SELECT {sql_morton2('zx', 'zy')} // 1024 AS z_bucket, zx, zy FROM z)
    SELECT z_bucket,
           count(*) AS n_events,
           CAST(min(zx) AS BIGINT) AS min_user, CAST(max(zx) AS BIGINT) AS max_user,
           CAST(min(zy) AS BIGINT) AS min_day,  CAST(max(zy) AS BIGINT) AS max_day
    FROM b
    GROUP BY z_bucket
    ORDER BY z_bucket
    """,
    tags=("layout", "scale"),
)
def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout demo: interleave (user bucket, day bucket) into a
    Morton value and show per-z-bucket min/max of BOTH dimensions — each
    bucket (≙ one file after a z-sorted write) covers a small rectangle,
    so parquet min/max stats prune files for predicates on either
    dimension. Pure shift/mask projection; the oracle replays the
    interleave bit-for-bit."""
    ev = load_table(spark, sf_dir, "events")
    zx = (F.col("user_id") % 256).cast("long")
    zy = (F.floor(F.unix_micros("ts") / F.lit(86_400_000_000)) % 256).cast("long")
    z = ev.select(zx.alias("zx"), zy.alias("zy")).withColumn(
        "z_bucket", F.floor(morton2(F.col("zx"), F.col("zy")) / F.lit(1024)).cast("long")
    )
    return (
        z.groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("zx").alias("min_user"),
            F.max("zx").alias("max_user"),
            F.min("zy").alias("min_day"),
            F.max("zy").alias("max_day"),
        )
        .orderBy("z_bucket")
    )


@register(
    "grouping_sets_explicit",
    oracle="""
    SELECT coalesce(event_type, '(all)') AS event_type,
           coalesce(strftime(date_trunc('day', ts), '%w'), '(all)') AS dow,
           GROUPING(event_type) * 2 + GROUPING(strftime(date_trunc('day', ts), '%w'))
             AS gid,
           count(*) AS n_events
    FROM events
    GROUP BY GROUPING SETS ((event_type, strftime(date_trunc('day', ts), '%w')),
                            (event_type), (strftime(date_trunc('day', ts), '%w')))
    ORDER BY gid, event_type, dow
    """,
    tags=("agg", "cube"),
)
def grouping_sets_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind cube/rollup):
    three chosen granularities in one Expand+aggregate pass, with
    grouping_id() distinguishing which set produced each row — the
    SQL-surface twin of the DataFrame cube query."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_gs_events")
    return spark.sql("""
        SELECT coalesce(event_type, '(all)') AS event_type,
               coalesce(dow, '(all)') AS dow,
               cast(grouping_id(event_type, dow) AS INT) AS gid,
               count(*) AS n_events
        FROM (SELECT event_type,
                     cast(dayofweek(date_trunc('day', ts)) - 1 AS STRING) AS dow
              FROM _gs_events)
        GROUP BY GROUPING SETS ((event_type, dow), (event_type), (dow))
        ORDER BY gid, event_type, dow
    """)


@register(
    "window_decile_stats",
    oracle="""
    WITH d AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS decile
      FROM events
    )
    SELECT event_type, CAST(decile AS INTEGER) AS decile,
           count(*) AS n_events,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents
    FROM d GROUP BY event_type, decile
    ORDER BY event_type, decile
    """,
    tags=("window",),
)
def window_decile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(10) equi-count deciles of value per event_type (tie-broken
    on event_id for determinism) → per-decile row count and cents
    bounds — the windowed-rank family's remaining member next to
    row_number/rank top-k."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    d = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.ntile(10).over(w).alias("decile"),
    )
    return (
        d.groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
        .orderBy("event_type", "decile")
    )


@register(
    "range_join_daily_windows",
    oracle="""
    WITH w AS (SELECT DISTINCT date_trunc('day', ts) AS win_start FROM events)
    SELECT strftime(w.win_start, '%Y-%m-%d') AS window_day,
           count(*) AS n_events,
           count(DISTINCT e.user_id) AS n_users
    FROM events e
    JOIN w ON e.ts >= w.win_start AND e.ts < w.win_start + INTERVAL 6 HOUR
    GROUP BY w.win_start
    ORDER BY window_day
    """,
    tags=("join", "temporal"),
)
def range_join_daily_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval range join: events against a derived dimension of daily
    [00:00, 06:00) windows — a pure non-equi join. The window side is
    dimension-sized and broadcast, so the probe is a scan-local
    predicate (the plan a calendar/maintenance-window join should have
    at any scale); DuckDB's native range-join handles the oracle side."""
    ev = load_table(spark, sf_dir, "events")
    wins = ev.select(F.date_trunc("day", "ts").alias("win_start")).distinct()
    j = ev.alias("e").join(
        F.broadcast(wins).alias("w"),
        (F.col("e.ts") >= F.col("w.win_start"))
        & (F.col("e.ts") < F.col("w.win_start") + F.expr("INTERVAL 6 HOURS")),
    )
    return (
        j.groupBy("w.win_start")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("e.user_id").alias("n_users"),
        )
        .select(
            F.date_format("win_start", "yyyy-MM-dd").alias("window_day"),
            "n_events",
            "n_users",
        )
        .orderBy("window_day")
    )


@register(
    "graph_shortest_paths",
    oracle=f"""
    WITH RECURSIVE
    raw AS ({SQL_EDGES}),
    e AS (SELECT src, dst, (src * 7 + dst) % 10 + 1 AS w FROM raw),
    walk(v, dist, depth) AS (
      SELECT CAST(35 AS BIGINT), CAST(0 AS BIGINT), 0
      UNION
      SELECT e.dst, w.dist + e.w, w.depth + 1
      FROM walk w JOIN e ON e.src = w.v
      WHERE w.depth < 6
    )
    SELECT v AS node, CAST(min(dist) AS BIGINT) AS dist
    FROM walk GROUP BY v ORDER BY node
    """,
    tags=("graph", "iterative"),
)
def graph_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths (≤ 6 hops) via bounded
    Bellman-Ford over the derived call graph with deterministic integer
    edge weights — the weighted companion to BFS reachability. Integer
    relaxations are exact, so the recursive-CTE oracle (min over all
    ≤6-edge walks) matches bit-for-bit."""
    from ..operators.graphalgo import bellman_ford

    e = derived_edges(spark, sf_dir).withColumn(
        "w", (F.col("src") * 7 + F.col("dst")) % 10 + 1
    )
    seeds = e.sparkSession.createDataFrame([(35,)], "v long")
    out = bellman_ford(e, seeds, iters=6)
    return out.select(F.col("v").alias("node"), "dist").orderBy("node")


@register(
    "unpivot_event_counts",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           event_type,
           count(*) AS n_events
    FROM events
    GROUP BY 1, 2
    ORDER BY day, event_type
    """,
    tags=("agg", "pivot"),
)
def unpivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot → unpivot round trip: per-day counts pivoted wide (one
    column per event_type) then melted back to tall with
    DataFrame.unpivot — the wide↔tall reshaping pair; the oracle is the
    plain groupBy the round trip must reproduce."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    wide = (
        ev.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .pivot("event_type", types)
        .count()
    )
    return (
        wide.unpivot("day", types, "event_type", "n_events")
        .filter(F.col("n_events").isNotNull())
        .orderBy("day", "event_type")
    )


@register(
    "lateral_topk_per_user",
    oracle="""
    SELECT u.user_id, t.event_id, t.cents
    FROM (SELECT DISTINCT user_id FROM events WHERE user_id % 50 = 17) u,
         LATERAL (SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents
                  FROM events e
                  WHERE e.user_id = u.user_id
                  ORDER BY e.value DESC, e.event_id LIMIT 3) t
    ORDER BY u.user_id, t.cents DESC, t.event_id
    """,
    tags=("join", "window"),
)
def lateral_topk_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL correlated-subquery join (Spark 4 SQL): top-3 events by
    value per user expressed as a per-row dependent subquery — the
    LateralJoin operator class, distinct from the window-function
    formulation (window_topk_per_group), which must produce the same
    rows. Catalyst decorrelates the lateral into a ranked join."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("_lat_events")
    return spark.sql("""
        SELECT u.user_id, t.event_id, t.cents
        FROM (SELECT DISTINCT user_id FROM _lat_events WHERE user_id % 50 = 17) u,
             LATERAL (SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents
                      FROM _lat_events e
                      WHERE e.user_id = u.user_id
                      ORDER BY e.value DESC, e.event_id LIMIT 3) t
        ORDER BY u.user_id, t.cents DESC, t.event_id
    """)


@register(
    "events_retention_cohorts",
    oracle="""
    WITH ev AS (
      SELECT user_id, date_trunc('week', ts) AS wk FROM events
    ),
    firstw AS (SELECT user_id, min(wk) AS cohort FROM ev GROUP BY user_id),
    act AS (
      SELECT DISTINCT e.user_id, e.wk, f.cohort
      FROM ev e JOIN firstw f USING (user_id)
    ),
    sizes AS (SELECT cohort, count(*) AS cohort_n FROM firstw GROUP BY cohort),
    r AS (
      SELECT cohort,
             (CAST(epoch(wk) AS BIGINT) - CAST(epoch(cohort) AS BIGINT)) // 604800
               AS week_k,
             count(DISTINCT user_id) AS n_active
      FROM act GROUP BY cohort, week_k
    )
    SELECT strftime(r.cohort, '%Y-%m-%d') AS cohort_week,
           CAST(r.week_k AS BIGINT) AS week_k,
           CAST(r.n_active AS BIGINT) AS n_active,
           CAST(s.cohort_n AS BIGINT) AS cohort_n,
           (r.n_active * 100.0) / s.cohort_n AS retention_pct
    FROM r JOIN sizes s USING (cohort)
    ORDER BY cohort_week, week_k
    """,
    tags=("temporal", "agg"),
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix — the classic product-analytics
    rollup: users are cohorted by the ISO week of their FIRST event;
    each later active week counts them at offset k.  retention_pct =
    active/cohort-size in the shared float order.

    Scale: two user-keyed shuffles (first-week min; distinct activity)
    and a (cohort, k)-keyed aggregate — cardinality ≤ users + weeks²;
    no window over the raw event stream, no driver state.  Timestamps
    leave as formatted strings (hash-stable across engines)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    )
    firstw = ev.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    act = ev.distinct().join(firstw, "user_id")
    sizes = firstw.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_n"))
    return (
        act.withColumn(
            "week_k",
            F.expr("(unix_timestamp(wk) - unix_timestamp(cohort)) div 604800"),
        )
        .groupBy("cohort", "week_k")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .join(sizes, "cohort")
        .select(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_week"),
            F.col("week_k").cast("long"),
            F.col("n_active").cast("long"),
            F.col("cohort_n").cast("long"),
            ((F.col("n_active") * F.lit(100.0)) / F.col("cohort_n")).alias(
                "retention_pct"
            ),
        )
        .orderBy("cohort_week", "week_k")
    )


@register(
    "quality_expectations",
    oracle="""
    WITH checks AS (
      SELECT 'orders' AS tbl, 'fk_custkey_in_customer' AS expectation,
             CAST((SELECT count(*) FROM orders o
                   WHERE NOT EXISTS (SELECT 1 FROM customer c
                                     WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
               AS violations
      UNION ALL
      SELECT 'lineitem', 'fk_orderkey_in_orders',
             CAST((SELECT count(*) FROM lineitem l
                   WHERE NOT EXISTS (SELECT 1 FROM orders o
                                     WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
      UNION ALL
      SELECT 'customer', 'pk_custkey_unique',
             CAST((SELECT count(*) - count(DISTINCT c_custkey) FROM customer) AS BIGINT)
      UNION ALL
      SELECT 'part', 'pk_partkey_unique',
             CAST((SELECT count(*) - count(DISTINCT p_partkey) FROM part) AS BIGINT)
      UNION ALL
      SELECT 'lineitem', 'quantity_in_1_50',
             CAST((SELECT count(*) FROM lineitem
                   WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT)
      UNION ALL
      SELECT 'events', 'user_id_not_null',
             CAST((SELECT count(*) FROM events WHERE user_id IS NULL) AS BIGINT)
      UNION ALL
      SELECT 'documents', 'n_chars_matches_length',
             CAST((SELECT count(*) FROM documents
                   WHERE n_chars <> length(text)) AS BIGINT)
    )
    SELECT tbl, expectation, violations, violations = 0 AS pass
    FROM checks
    ORDER BY tbl, expectation
    """,
    tags=("quality", "agg"),
)
def quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-test-style data-quality audit as ONE dataflow: referential
    integrity (anti-join counts), primary-key uniqueness, range and
    null-rate checks, and a derived-column consistency probe — each a
    scan+aggregate or anti-join, unioned into a (table, expectation,
    violations, pass) report.  The pipeline gate a 100 TB ingest runs
    before promoting a batch.

    Scale: every check is one partial-aggregated scan or one semi/anti
    join on a key — no cross joins, no driver loops; the report is
    expectation-cardinality."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    events = load_table(spark, sf_dir, "events")
    documents = load_table(spark, sf_dir, "documents")

    def check(tbl: str, name: str, violations_df: DataFrame) -> DataFrame:
        return violations_df.agg(F.count(F.lit(1)).alias("violations")).select(
            F.lit(tbl).alias("tbl"),
            F.lit(name).alias("expectation"),
            F.col("violations").cast("long"),
        )

    def check_scalar(tbl: str, name: str, agg_col) -> DataFrame:
        return (
            globals_map[tbl]
            .agg(agg_col.cast("long").alias("violations"))
            .select(
                F.lit(tbl).alias("tbl"),
                F.lit(name).alias("expectation"),
                "violations",
            )
        )

    globals_map = {
        "customer": customer,
        "part": part,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
    }
    checks = (
        check(
            "orders",
            "fk_custkey_in_customer",
            orders.join(
                customer.select(F.col("c_custkey").alias("o_custkey")),
                "o_custkey",
                "left_anti",
            ),
        )
        .unionByName(
            check(
                "lineitem",
                "fk_orderkey_in_orders",
                lineitem.join(
                    orders.select(F.col("o_orderkey").alias("l_orderkey")),
                    "l_orderkey",
                    "left_anti",
                ),
            )
        )
        .unionByName(
            check_scalar(
                "customer",
                "pk_custkey_unique",
                F.count(F.lit(1)) - F.countDistinct("c_custkey"),
            )
        )
        .unionByName(
            check_scalar(
                "part",
                "pk_partkey_unique",
                F.count(F.lit(1)) - F.countDistinct("p_partkey"),
            )
        )
        .unionByName(
            check(
                "lineitem",
                "quantity_in_1_50",
                lineitem.filter((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)),
            )
        )
        .unionByName(
            check("events", "user_id_not_null", events.filter(F.col("user_id").isNull()))
        )
        .unionByName(
            check(
                "documents",
                "n_chars_matches_length",
                documents.filter(F.col("n_chars") != F.length("text")),
            )
        )
    )
    return checks.withColumn("pass", F.col("violations") == 0).orderBy(
        "tbl", "expectation"
    )


@register(
    "range_join_binned_trading_windows",
    oracle="""
    WITH w AS (
      SELECT DISTINCT date_trunc('day', ts) + INTERVAL '9 hours 30 minutes'
               AS win_start,
             date_trunc('day', ts) + INTERVAL '15 hours 45 minutes'
               AS win_end
      FROM events
    )
    SELECT strftime(w.win_start, '%Y-%m-%d %H:%M') AS window_start,
           count(*) AS n_events,
           count(DISTINCT e.user_id) AS n_users
    FROM events e
    JOIN w ON e.ts >= w.win_start AND e.ts < w.win_end
    GROUP BY w.win_start
    ORDER BY window_start
    """,
    tags=("join", "temporal", "scale"),
)
def range_join_binned_trading_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BINNED range join (operators/temporal.interval_bin_join):
    events against daily [09:30, 15:45) windows — deliberately NOT
    bin-aligned, so each window straddles two 6-hour bins and the
    explode+equi-join+residual path is fully exercised.  Same semantics
    as range_join_daily_windows' broadcast-NLJ formulation, but the
    plan is a hash equi-join on the bin key: the formulation that still
    works when the interval side is fact-sized (maintenance windows ×
    telemetry at 100 TB).  The oracle is DuckDB's native range join —
    different algorithm, identical rows."""
    from ..operators.temporal import interval_bin_join

    ev = load_table(spark, sf_dir, "events")
    wins = ev.select(
        (F.date_trunc("day", "ts") + F.expr("INTERVAL 9 HOURS 30 MINUTES")).alias(
            "win_start"
        ),
        (F.date_trunc("day", "ts") + F.expr("INTERVAL 15 HOURS 45 MINUTES")).alias(
            "win_end"
        ),
    ).distinct()
    j = interval_bin_join(ev, "ts", wins, "win_start", "win_end", bin_seconds=21600)
    return (
        j.groupBy("win_start")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.date_format("win_start", "yyyy-MM-dd HH:mm").alias("window_start"),
            "n_events",
            "n_users",
        )
        .orderBy("window_start")
    )


@register(
    "events_attribution_touch",
    oracle="""
    WITH conv AS (
      SELECT event_id AS conv_id, user_id,
             ts - INTERVAL 24 HOUR AS w_start, ts AS w_end,
             CAST(round(value * 100) AS BIGINT) AS conv_cents
      FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
      SELECT user_id, ts, event_type, event_id
      FROM events WHERE event_type IN ('click', 'view')
    ),
    joined AS (
      SELECT c.conv_id, c.conv_cents, t.event_type, t.ts, t.event_id
      FROM conv c JOIN touch t
        ON t.user_id = c.user_id AND t.ts >= c.w_start AND t.ts < c.w_end
    ),
    ranked AS (
      SELECT conv_id, conv_cents, event_type,
             row_number() OVER (PARTITION BY conv_id ORDER BY ts, event_id)
               AS rn_first,
             row_number() OVER (PARTITION BY conv_id ORDER BY ts DESC, event_id DESC)
               AS rn_last
      FROM joined
    ),
    per_model AS (
      SELECT 'first_touch' AS model, event_type, conv_cents
      FROM ranked WHERE rn_first = 1
      UNION ALL
      SELECT 'last_touch', event_type, conv_cents
      FROM ranked WHERE rn_last = 1
    )
    SELECT model, event_type AS touch_type,
           CAST(count(*) AS BIGINT) AS n_conversions,
           CAST(sum(conv_cents) AS BIGINT) AS revenue_cents
    FROM per_model
    GROUP BY model, touch_type
    ORDER BY model, touch_type
    """,
    tags=("temporal", "join", "agg"),
)
def events_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch vs last-touch conversion attribution: each purchase
    is attributed to the user's earliest / latest click-or-view inside
    a 24 h lookback window — the binned per-entity interval join
    (operators/temporal.interval_bin_join with extra_keys=[user_id], so
    the shuffle key is (user, day-bin) and the plan is a pure
    equi-join), then one min/max-struct aggregate per conversion.
    Unattributed purchases (no touch in window) drop out, like the
    inner-join oracle.  Exact integer cents throughout.

    Scale: touches × conversions never cross-join — candidates pair
    only within (user, adjacent-bin); the attribution pick is a single
    (conv_id)-keyed aggregate, no window over the raw event stream."""
    from ..operators.temporal import interval_bin_join

    ev = load_table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 24 HOURS")).alias("w_start"),
        F.col("ts").alias("w_end"),
        F.round(F.col("value") * 100).cast("long").alias("conv_cents"),
    )
    touch = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id", "ts", "event_type", "event_id"
    )
    joined = interval_bin_join(
        touch, "ts", conv, "w_start", "w_end", bin_seconds=86400,
        extra_keys=["user_id"],
    )
    picked = joined.groupBy("conv_id", "conv_cents").agg(
        F.min(F.struct("ts", "event_id", "event_type")).alias("_first"),
        F.max(F.struct("ts", "event_id", "event_type")).alias("_last"),
    )
    per_model = picked.select(
        F.lit("first_touch").alias("model"),
        F.col("_first.event_type").alias("touch_type"),
        "conv_cents",
    ).unionByName(
        picked.select(
            F.lit("last_touch").alias("model"),
            F.col("_last.event_type").alias("touch_type"),
            "conv_cents",
        )
    )
    return (
        per_model.groupBy("model", "touch_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_conversions"),
            F.sum("conv_cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("model", "touch_type")
    )


@register(
    "events_anomaly_mad",
    oracle="""
    WITH base AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    med AS (
      SELECT event_type, quantile_cont(cents, 0.5) AS median_cents
      FROM base GROUP BY event_type
    ),
    dev AS (
      SELECT b.event_type, b.cents, m.median_cents,
             abs(CAST(b.cents AS DOUBLE) - m.median_cents) AS d
      FROM base b JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, median_cents, quantile_cont(d, 0.5) AS mad_cents
      FROM dev GROUP BY event_type, median_cents
    )
    SELECT d.event_type, m.median_cents, m.mad_cents,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN d.d > 3 * m.mad_cents THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type, m.median_cents, m.mad_cents
    ORDER BY d.event_type
    """,
    tags=("agg", "quality"),
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median / median-absolute-
    deviation (the estimator that survives the outliers it hunts),
    flagging |x − med| > 3·MAD.  On integer cents both engines'
    linear-interpolated percentile lands on exact binary fractions
    (…,.25,.5), so the float contract is exact — no tolerance.

    Scale: two grouped percentile passes (Spark computes them as
    per-group sorted aggregates) + a broadcast of the per-type medians
    (dimension-sized); the raw stream is scanned twice, never
    windowed globally."""
    base = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    med = base.groupBy("event_type").agg(
        F.percentile("cents", F.lit(0.5)).alias("median_cents")
    )
    dev = base.join(F.broadcast(med), "event_type").withColumn(
        "d", F.abs(F.col("cents").cast("double") - F.col("median_cents"))
    )
    mad = dev.groupBy("event_type", "median_cents").agg(
        F.percentile("d", F.lit(0.5)).alias("mad_cents")
    )
    return (
        dev.join(
            F.broadcast(mad.select("event_type", "mad_cents")), "event_type"
        )
        .groupBy("event_type", "median_cents", "mad_cents")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(
                F.when(F.col("d") > F.lit(3) * F.col("mad_cents"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


@register(
    "events_rfm_segments",
    oracle="""
    WITH p AS (
      SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    anchor AS (SELECT max(ts) AS a FROM p),
    per_user AS (
      SELECT user_id,
             (CAST(epoch((SELECT a FROM anchor)) AS BIGINT)
              - CAST(epoch(max(ts)) AS BIGINT)) // 86400 AS recency_days,
             count(*) AS frequency,
             CAST(sum(cents) AS BIGINT) AS monetary_cents
      FROM p GROUP BY user_id
    ),
    bounds AS (
      SELECT quantile_cont(recency_days, 0.2) AS r1, quantile_cont(recency_days, 0.4) AS r2,
             quantile_cont(recency_days, 0.6) AS r3, quantile_cont(recency_days, 0.8) AS r4,
             quantile_cont(frequency, 0.2) AS f1, quantile_cont(frequency, 0.4) AS f2,
             quantile_cont(frequency, 0.6) AS f3, quantile_cont(frequency, 0.8) AS f4,
             quantile_cont(monetary_cents, 0.2) AS m1, quantile_cont(monetary_cents, 0.4) AS m2,
             quantile_cont(monetary_cents, 0.6) AS m3, quantile_cont(monetary_cents, 0.8) AS m4
      FROM per_user
    ),
    seg AS (
      SELECT 1 + (recency_days > r1)::INT + (recency_days > r2)::INT
               + (recency_days > r3)::INT + (recency_days > r4)::INT AS r_seg,
             1 + (frequency > f1)::INT + (frequency > f2)::INT
               + (frequency > f3)::INT + (frequency > f4)::INT AS f_seg,
             1 + (monetary_cents > m1)::INT + (monetary_cents > m2)::INT
               + (monetary_cents > m3)::INT + (monetary_cents > m4)::INT AS m_seg
      FROM per_user, bounds
    )
    SELECT CAST(r_seg AS BIGINT) AS r_seg, CAST(f_seg AS BIGINT) AS f_seg,
           CAST(m_seg AS BIGINT) AS m_seg, CAST(count(*) AS BIGINT) AS n_users
    FROM seg GROUP BY r_seg, f_seg, m_seg
    ORDER BY r_seg, f_seg, m_seg
    """,
    tags=("agg", "temporal"),
)
def events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary
    quintiles) the SCALE-CORRECT way: quintile BOUNDARIES come from one
    percentile aggregate and each user is bucketed by comparison —
    never a global un-partitioned ntile window (the single-partition
    sort the plan audit exists to catch).  Boundary percentiles over
    integer day/count/cent values are exact binary fractions, so the
    strict-> bucket assignment is tolerance-free in both engines.

    Scale: one user-keyed aggregate, one 1-row boundary broadcast, one
    segment-keyed count — three shuffles total, all key-partitioned."""
    p = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id", "ts", F.round(F.col("value") * 100).cast("long").alias("cents")
    )
    anchor = p.agg(F.max("ts").alias("a"))
    per_user = (
        p.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            F.expr("(unix_timestamp(first(a)) - unix_timestamp(max(ts))) div 86400")
            .alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("cents").cast("long").alias("monetary_cents"),
        )
    )
    bounds = per_user.agg(
        *[
            F.percentile(c, F.lit(q)).alias(f"{c[0]}{i}")
            for c in ("recency_days", "frequency", "monetary_cents")
            for i, q in enumerate((0.2, 0.4, 0.6, 0.8), start=1)
        ]
    )

    def seg(col: str, pfx: str):
        e = F.lit(1)
        for i in range(1, 5):
            e = e + F.when(F.col(col) > F.col(f"{pfx}{i}"), 1).otherwise(0)
        return e.cast("long")

    return (
        per_user.crossJoin(F.broadcast(bounds))
        .select(
            seg("recency_days", "r").alias("r_seg"),
            seg("frequency", "f").alias("f_seg"),
            seg("monetary_cents", "m").alias("m_seg"),
        )
        .groupBy("r_seg", "f_seg", "m_seg")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("r_seg", "f_seg", "m_seg")
    )


from ..operators.graphalgo import (  # noqa: E402
    betweenness_sampled,
    sql_betweenness_sampled,
)


@register(
    "graph_betweenness_sampled",
    oracle=sql_betweenness_sampled(SQL_EDGES)
    + """
    ORDER BY bc_fp DESC, node
    LIMIT 50
    """,
    tags=("graph", "iterative"),
)
def graph_betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broker-node centrality: sampled-source depth-bounded Brandes
    betweenness (8 top-degree sources, depth ≤ 3) over the derived call
    graph in exact int64 fixed point — forward σ path counts are
    integer sums, backward δ dependencies floor independently per term,
    so the DuckDB oracle's unrolled forward/backward CTEs match every
    score bit-for-bit.  Top-50 brokers."""
    scores = betweenness_sampled(derived_edges(spark, sf_dir))
    return scores.orderBy(F.desc("bc_fp"), "node").limit(50)


from ..operators.graphalgo import scc_bounded, sql_scc_bounded  # noqa: E402


@register(
    "graph_scc",
    oracle=sql_scc_bounded(SQL_EDGES, max_depth=6) + " ORDER BY node",
    tags=("graph", "iterative"),
)
def graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components (bounded mutual reachability,
    depth ≤ 6) over the derived call graph — completing the component
    family next to the undirected WCC.  scc_id = min member id; the
    forward pair-set advances all sources together (the betweenness
    forward shape), mutuality is one self-join of the pair set against
    its swap, and the oracle replays it with a bounded recursive CTE."""
    return scc_bounded(derived_edges(spark, sf_dir), max_depth=6).orderBy("node")


from ..operators.graphalgo import scc_fwbw, sql_scc_exact  # noqa: E402


@register(
    "graph_scc_fwbw",
    oracle=sql_scc_exact(SQL_EDGES) + " ORDER BY node",
    tags=("graph", "iterative"),
)
def graph_scc_fwbw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SCCs over the derived call graph via distributed pivot
    FW-BW (the exact alternative to scc_bounded's pair set, promoted to
    a gate row): per round every active partition advances together —
    min-id pivot, partition-internal forward/backward closures to
    fixpoint, SCC = FW ∩ BW, remainders re-keyed by their min node.
    State is O(|V|) per frame (never the Σ|reach| pair set), the 100 TB
    posture.  The oracle is strategy-free exact SCC (fixpoint recursion
    + mutual self-join), so any under-approximation here is a hash
    mismatch — on this graph the depth-6 bounded estimator happens to
    agree, making graph_scc vs graph_scc_fwbw also a strategy-
    equivalence witness."""
    return scc_fwbw(derived_edges(spark, sf_dir)).orderBy("node")


from ..operators.graphalgo import sql_topo_layers, topo_layers  # noqa: E402


@register(
    "graph_topo_layers",
    oracle=sql_topo_layers(SQL_EDGES, max_depth=10)
    + " ORDER BY layer, scc_id, node",
    tags=("graph", "iterative"),
)
def graph_topo_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dependency layering of the derived call graph: SCC condensation
    (cycles collapse to one unit) then longest-path layers — leaves at
    0, every caller above everything it can reach.  The build/init-
    order analytics; per round one condensed-edge join + one max
    aggregate, frontier dies at the condensed DAG's true depth."""
    return topo_layers(derived_edges(spark, sf_dir), max_depth=10).orderBy(
        "layer", "scc_id", "node"
    )


@register(
    "graph_longest_paths_scaled",
    oracle="""
    WITH e AS MATERIALIZED (
      SELECT DISTINCT CAST(o_orderkey % 500 AS BIGINT) AS src,
             CAST((o_custkey * 13) % 500 AS BIGINT) AS dst
      FROM orders WHERE o_orderkey % 5 = 0
    ),
    p1 AS (SELECT src AS s0, dst AS s1 FROM e WHERE src = 45),
    p2 AS (SELECT p1.s0, p1.s1, e.dst AS s2 FROM p1 JOIN e ON e.src = p1.s1
           WHERE NOT (e.src = p1.s0 AND e.dst = p1.s1)),
    p3 AS (SELECT p2.s0, p2.s1, p2.s2, e.dst AS s3 FROM p2 JOIN e ON e.src = p2.s2
           WHERE NOT (e.src = p2.s0 AND e.dst = p2.s1)
             AND NOT (e.src = p2.s1 AND e.dst = p2.s2)),
    all_paths AS (
      SELECT CAST(s0 AS VARCHAR) || '→' || CAST(s1 AS VARCHAR) AS path,
             1 AS path_length FROM p1
      UNION ALL
      SELECT CAST(s0 AS VARCHAR) || '→' || CAST(s1 AS VARCHAR) || '→' ||
             CAST(s2 AS VARCHAR), 2 FROM p2
      UNION ALL
      SELECT CAST(s0 AS VARCHAR) || '→' || CAST(s1 AS VARCHAR) || '→' ||
             CAST(s2 AS VARCHAR) || '→' || CAST(s3 AS VARCHAR), 3 FROM p3
    )
    SELECT path, path_length FROM all_paths
    ORDER BY path_length DESC, path LIMIT 10
    """,
    tags=("graph", "paths", "iterative"),
)
def graph_longest_paths_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G4/K5 at DATA scale: the reference's top-10-longest-paths
    post-processing (src/commands/query.rs:454-458) over the sf-derived
    call graph instead of the micro fixture — native enumerate_paths
    from one seed (no-repeated-relationship, prefixes included), path
    strings joined client-shape, ORDER BY length DESC with the full
    path string as deterministic tie-break, hard LIMIT 10.  Catalyst
    plans the sort-limit as TakeOrderedAndProject on top of the
    frontier loop's per-level checkpoints; path strings are unique
    (node sequence determines edges), so the cut is total-ordered.
    The oracle unrolls the three no-repeated-edge hops relationally."""
    from ..operators.traverse import enumerate_paths
    from ..plans.graph_project import as_call_tables, derived_edges

    calls, nodes = as_call_tables(derived_edges(spark, sf_dir))
    seeds = nodes.filter(F.col("uid") == "45").select("uid")
    paths = enumerate_paths(calls, nodes, seeds, direction="out", max_depth=3)
    return (
        paths.select(
            F.concat_ws("→", "node_names").alias("path"),
            F.col("path_length").cast("int").alias("path_length"),
        )
        .orderBy(F.desc("path_length"), "path")
        .limit(10)
    )


# ---------------------------------------------------------------- drift

#: PSI monitoring geometry: 10 fixed-width value bins of 5,000 cents
#: (data-independent edges — no setup scan), per-bin PSI contribution
#: quantized to 2^-20 "bits" (log base 2, not ln: python math.log2 and
#: DuckDB log2 agree bit-for-bit on the count-ratio domain — verified
#: over 100k fuzzed integer ratios this round; DuckDB's ln() does NOT
#: match libm, measured ~10% ulp mismatches, so base-2 it is).
PSI_BINS = 10
PSI_BIN_CENTS = 5_000
PSI_SCALE = 1 << 20


@register(
    "events_drift_psi",
    oracle=f"""
    WITH ev AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS cents,
             CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END AS cur
      FROM events
    ),
    binned AS (
      SELECT GREATEST(0, LEAST({PSI_BINS - 1}, cents // {PSI_BIN_CENTS})) AS bin, cur FROM ev
    ),
    counts_raw AS (
      SELECT bin,
             CAST(sum(CASE WHEN cur = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
             CAST(sum(CASE WHEN cur = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cur_n
      FROM binned GROUP BY bin
    ),
    spine AS (SELECT unnest(range({PSI_BINS})) AS bin),
    counts AS (
      SELECT s.bin,
             CAST(coalesce(c.ref_n, 0) AS BIGINT) AS ref_n,
             CAST(coalesce(c.cur_n, 0) AS BIGINT) AS cur_n
      FROM spine s LEFT JOIN counts_raw c ON c.bin = s.bin
    ),
    tot AS (SELECT CAST(sum(ref_n) AS BIGINT) AS rt,
                   CAST(sum(cur_n) AS BIGINT) AS ct FROM counts)
    SELECT bin, ref_n, cur_n,
           CAST(floor((((cur_n + 1) / CAST(ct + {PSI_BINS} AS DOUBLE)
                        - (ref_n + 1) / CAST(rt + {PSI_BINS} AS DOUBLE))
                       * log2(((cur_n + 1) * (rt + {PSI_BINS}))
                              / CAST((ref_n + 1) * (ct + {PSI_BINS}) AS DOUBLE)))
                      * {PSI_SCALE} + 0.5) AS BIGINT) AS psi_q_bits
    FROM counts, tot
    ORDER BY bin
    """,
    tags=("quality", "temporal"),
)
def events_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitoring: Population Stability Index of the
    event-value distribution, calendar-split (days 1-15 = reference,
    16+ = current) — the standard pipeline health check before new data
    is allowed into a training mix.  Fixed-width integer-cents bins
    (edges are constants: no data-dependent setup scan), add-one
    smoothing so empty bins stay finite, per-bin contribution
    (cur% − ref%)·log2(cur%/ref%) in BITS quantized to 2^-20.

    Determinism contract (the bigram-LM precedent, textstats.py): the
    log2 runs ONCE per bin on the DRIVER with libm ``math.log2`` over
    exact integer-count ratios — a domain where DuckDB's log2 is
    bit-identical (fuzzed 100k ratios; raw doubles are NOT, ~10%
    mismatch, and ln() mismatches even on this domain) — then rides
    back into the distributed plan as a broadcast literal.  Every other
    op is exact integer or IEEE-exact (round, div, divide, subtract,
    multiply, floor).  Products stay < 2^53 up to ~90M rows per slice;
    beyond that, scale PSI_SCALE down or pre-aggregate per shard.

    Scale: ONE partial-agg shuffle on ≤10 keys (map-side combine makes
    the hot keys flat), a 10-row spine left-join, and a 10-row
    broadcast — the corpus is scanned once, projected to 2 ints."""
    from ..operators.sketch import drift_psi

    ev = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.when(F.dayofmonth("ts") <= 15, F.lit(0)).otherwise(F.lit(1)).alias("cur"),
    )
    # greatest(0, …) clamps negative values into bin 0 symmetrically with
    # the oracle: without it, Spark's `div` truncates toward zero while
    # DuckDB's `//` floors, so a negative cents value would bin
    # differently on the two sides (ADVICE r6 — latent divergence; the
    # clamp also keeps every row inside the scorer's [0, n_bins) spine)
    binned = ev.select(
        F.greatest(
            F.lit(0),
            F.least(F.lit(PSI_BINS - 1), F.expr(f"cents div {PSI_BIN_CENTS}")),
        ).alias("bin"),
        "cur",
    )
    return drift_psi(binned, "bin", "cur", n_bins=PSI_BINS, scale=PSI_SCALE)


@register(
    "streaming_drift_psi",
    oracle=f"""
    WITH ev AS (
      SELECT CAST(round(value * 100) AS BIGINT) AS cents,
             CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END AS cur
      FROM events
    ),
    binned AS (
      SELECT GREATEST(0, LEAST({PSI_BINS - 1}, cents // {PSI_BIN_CENTS})) AS bin, cur FROM ev
    ),
    counts_raw AS (
      SELECT bin,
             CAST(sum(CASE WHEN cur = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ref_n,
             CAST(sum(CASE WHEN cur = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cur_n
      FROM binned GROUP BY bin
    ),
    spine AS (SELECT unnest(range({PSI_BINS})) AS bin),
    counts AS (
      SELECT s.bin,
             CAST(coalesce(c.ref_n, 0) AS BIGINT) AS ref_n,
             CAST(coalesce(c.cur_n, 0) AS BIGINT) AS cur_n
      FROM spine s LEFT JOIN counts_raw c ON c.bin = s.bin
    ),
    tot AS (SELECT CAST(sum(ref_n) AS BIGINT) AS rt,
                   CAST(sum(cur_n) AS BIGINT) AS ct FROM counts)
    SELECT bin, ref_n, cur_n,
           CAST(floor((((cur_n + 1) / CAST(ct + {PSI_BINS} AS DOUBLE)
                        - (ref_n + 1) / CAST(rt + {PSI_BINS} AS DOUBLE))
                       * log2(((cur_n + 1) * (rt + {PSI_BINS}))
                              / CAST((ref_n + 1) * (ct + {PSI_BINS}) AS DOUBLE)))
                      * {PSI_SCALE} + 0.5) AS BIGINT) AS psi_q_bits
    FROM counts, tot
    ORDER BY bin
    """,
    tags=("streaming", "quality", "temporal"),
)
def streaming_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_drift_psi (same oracle: the drained
    result must equal the batch pass bit-for-bit): reference histogram
    computed once over days 1-15; the CURRENT slice (days 16+) arrives
    as 3 ascending event_id-range micro-batches whose per-bin counts
    merge additively into O(n_bins) state — no raw events retained —
    then the shared driver-libm PSI scorer runs on the drained
    histogram.  The additivity argument is the CDC-twin precedent:
    batches partition the slice, counts sum exactly."""
    from ..streaming.drift_stream import streaming_drift_psi as _run

    return _run(spark, sf_dir, n_bins=PSI_BINS, bin_cents=PSI_BIN_CENTS)
