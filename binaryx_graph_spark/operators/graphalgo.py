"""Whole-graph analytics over call-graph-shaped edge lists: PageRank and
triangle counting.

The reference engine's analytics surface stops at traversals and call
frequencies (src/neo4j/importer.rs:27-80 node/edge stats,
call_path_analyzer.rs path post-processing); PageRank/triangles are the
natural next analytics a binary-similarity user asks of a call graph
(hot-function centrality, clustering structure), so they are first-class
here with the same oracle discipline as everything else.

Determinism strategy (see round-2 notes in SCALE.md): PageRank runs in
FIXED-POINT int64 arithmetic — rank mass scaled by 1e12, per-edge
contribution = floor(rank/outdeg), damping applied as (85·s)//100.
Integer sums are order-independent, so a DuckDB oracle that unrolls the
same K iterations as chained CTEs reproduces every rank bit-for-bit —
no float tolerance anywhere.  The cost of quantization is a bounded
floor error per node per round (< outdeg ulps of 1e-12), irrelevant for
ranking and fully shared by both engines.

Triangle counting orients edges by (degree, id) — each triangle is
enumerated exactly once from its lowest-degree corner, bounding the
wedge join by O(m^1.5) instead of O(Σ deg²) (the hub-node blowup).  The
oracle counts the same triangles with the naive a<b<c three-way join —
different enumeration order, identical multiset.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.lineage import fixed_rounds, frontier_levels

PAGERANK_SCALE = 10**12  # int64 rank units: 1.0 == 1e12 (85×scale << 2^63)


def pagerank_fixed(
    edges: DataFrame,
    *,
    iters: int = 5,
    scale: int = PAGERANK_SCALE,
    cast_ids: bool = True,
) -> DataFrame:
    """Damped PageRank (d=0.85) in exact int64 fixed point →
    (node, rank_fp, rank).

    Per iteration: rank'(v) = (15·(scale//n))//100 + (85·Σ_{u→v}
    floor(rank(u)/outdeg(u)))//100.  Dangling-node mass is dropped (not
    redistributed) — documented divergence from the textbook formulation,
    shared by the oracle.  Every operation is integer, so the result is
    independent of partitioning, shuffle order, and engine.

    Scale: edges shuffle once per iteration on ``src`` (join) then
    ``dst`` (aggregate); ranks are node-cardinality.  The rounds run
    through ``plans.lineage.fixed_rounds``, which cuts lineage every
    second round — at cluster scale this becomes a persisted-table
    checkpoint every few rounds.

    Simple-graph semantics: duplicate (src, dst) rows are collapsed, so
    a repeated call edge carries no extra weight (matches the oracle's
    DISTINCT edge projection; property-tested against a float reference).

    ``cast_ids=False`` keeps node ids as-is (e.g. word strings for
    TextRank) — the algorithm only ever equality-joins and groups on
    them, so the arithmetic contract is unchanged.
    """
    if cast_ids:
        edges = edges.select(
            F.col("src").cast("long"), F.col("dst").cast("long")
        )
    edges = edges.select("src", "dst").distinct()
    # the (edges ⋈ outdeg) frame is LOOP-INVARIANT: materialize it once
    # so the per-round checkpoint jobs replay neither the upstream edge
    # derivation + distinct nor the outdeg aggregation (they did, every
    # round-pair — measured 3.3s → 2.3s at sf0.1, ranks bit-identical).
    # One edge-sized materialization replacing K recomputed shuffles is
    # the same storage-for-recompute trade `nodes` already makes.
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    edges_deg = edges.join(outdeg, "src").localCheckpoint(eager=True)
    nodes = (
        edges_deg.select(F.col("src").alias("v"))
        .unionByName(edges_deg.select(F.col("dst").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()  # scalar graph property, intentionally driver-side
    if n == 0:
        # empty graph: the DuckDB twin's CTE chain yields no rows;
        # mirror that instead of ZeroDivisionError on scale // n
        # (node keeps the caller's id type — string under cast_ids=False)
        return edges.select(
            F.col("src").alias("node"),
            F.lit(0).cast("long").alias("rank_fp"),
            F.lit(0.0).alias("rank"),
        ).limit(0)
    init = scale // n
    base = (15 * init) // 100

    ranks = nodes.select("v", F.lit(init).cast("long").alias("rank"))

    def step(ranks: DataFrame) -> DataFrame:
        inflow = (
            edges_deg.join(ranks, edges_deg.src == ranks.v)
            .select(F.col("dst").alias("v"), F.expr("rank div deg").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("s"))
        )
        return nodes.join(inflow, "v", "left").select(
            "v",
            (
                F.lit(base)
                + F.expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")
            ).alias("rank"),
        )

    ranks = fixed_rounds(ranks, step, iters)
    return ranks.select(
        F.col("v").alias("node"),
        F.col("rank").alias("rank_fp"),
        (F.col("rank") / F.lit(float(scale))).alias("rank"),
    )


def sql_pagerank_fixed(
    sql_edges: str, *, iters: int = 5, scale: int = PAGERANK_SCALE
) -> str:
    """DuckDB twin of :func:`pagerank_fixed`: the K iterations unrolled
    as chained CTEs (aggregation is not allowed in a recursive term, and
    unrolling keeps each round a plain join+groupBy the optimizer can
    see through).  Bit-identical by integer arithmetic."""
    ctes = [
        f"edges AS ({sql_edges})",
        "nodes AS (SELECT src AS v FROM edges UNION SELECT dst FROM edges)",
        "outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        "params AS (SELECT count(*) AS n FROM nodes)",
        f"r0 AS (SELECT v, CAST({scale} // n AS BIGINT) AS rank FROM nodes, params)",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""r{k} AS (
      SELECT nd.v,
             CAST((15 * ({scale} // p.n)) // 100
                  + (85 * COALESCE(fl.s, 0)) // 100 AS BIGINT) AS rank
      FROM nodes nd CROSS JOIN params p
      LEFT JOIN (
        SELECT e.dst AS v, CAST(sum(r.rank // d.deg) AS BIGINT) AS s
        FROM edges e
          JOIN r{k - 1} r ON e.src = r.v
          JOIN outdeg d ON e.src = d.src
        GROUP BY e.dst
      ) fl ON fl.v = nd.v
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT v AS node, rank AS rank_fp, rank / {float(scale)} AS rank
    FROM r{iters}"""
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation over the UNDIRECTED simple graph
    of ``edges`` → (node, n_triangles), only nodes in ≥1 triangle.

    Degree-ordered enumeration: undirected edges are oriented from the
    (degree, id)-smaller endpoint to the larger, making a DAG in which
    every triangle appears exactly once as wedge u→v, v→w closed by
    u→w.  The wedge join fans out from LOW-degree corners only — a hub
    of degree D costs O(D) oriented out-edges instead of O(D²) wedges,
    the standard O(m^1.5) bound.
    """
    edges = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )

    def okey(deg_col: Column, id_col: Column) -> Column:
        # single sortable key: degree-major, id tie-break (id < 2^20)
        return deg_col * F.lit(1 << 20).cast("long") + id_col

    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("_dega"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("_degb"))
    keyed = (
        und.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            "a",
            "b",
            okey(F.col("_dega"), F.col("a")).alias("ka"),
            okey(F.col("_degb"), F.col("b")).alias("kb"),
        )
    )
    fwd = keyed.select(
        F.when(F.col("ka") < F.col("kb"), F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(F.col("ka") < F.col("kb"), F.col("b")).otherwise(F.col("a")).alias("w"),
    ).localCheckpoint(eager=True)

    e1 = fwd.select(F.col("u").alias("x"), F.col("w").alias("y"))
    e2 = fwd.select(F.col("u").alias("y2"), F.col("w").alias("z"))
    e3 = fwd.select(F.col("u").alias("x2"), F.col("w").alias("z2"))
    tris = (
        e1.join(e2, F.col("y") == F.col("y2"))
        .join(e3, (F.col("x") == F.col("x2")) & (F.col("z") == F.col("z2")), "left_semi")
        .select("x", "y", "z")
    )
    return (
        tris.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def sql_triangle_counts(sql_edges: str) -> str:
    """DuckDB twin of :func:`triangle_counts`: the naive id-ordered
    a<b<c three-way join — a different (quadratic-wedge) enumeration of
    the SAME triangle set, which is exactly what an oracle should be."""
    return f"""
    WITH edges AS ({sql_edges}),
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM edges WHERE src <> dst
    ),
    tris AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    members AS (
      SELECT x AS node FROM tris
      UNION ALL SELECT y FROM tris
      UNION ALL SELECT z FROM tris
    )
    SELECT node, count(*) AS n_triangles FROM members GROUP BY node"""


def personalized_pagerank_fixed(
    edges: DataFrame,
    seed_pred: Column,
    *,
    iters: int = 5,
    scale: int = PAGERANK_SCALE,
) -> DataFrame:
    """Personalized PageRank: teleport mass returns only to the SEED set
    (nodes where ``seed_pred`` holds) → (node, rank_fp, rank).  The
    call-graph use case: "which functions matter relative to THESE entry
    points" — reachability-weighted centrality rather than global.

    Same exact int64 fixed-point contract (and simple-graph edge
    dedup) as :func:`pagerank_fixed`; non-seeds start at 0 and receive
    no teleport term."""
    edges = edges.select(
        F.col("src").cast("long"), F.col("dst").cast("long")
    ).distinct()
    nodes = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct()
        .withColumn("is_seed", seed_pred)
        .localCheckpoint(eager=True)
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n_seeds = nodes.filter("is_seed").count()
    if n_seeds == 0:
        # empty graph or a seed predicate matching nothing: mirror the
        # DuckDB twin's empty CTE chain instead of ZeroDivisionError
        return edges.sparkSession.createDataFrame(
            [], "node long, rank_fp long, rank double"
        )
    init = scale // n_seeds
    base = (15 * init) // 100

    ranks = nodes.select(
        "v",
        F.when(F.col("is_seed"), F.lit(init)).otherwise(F.lit(0)).cast("long").alias("rank"),
    )

    def step(ranks: DataFrame) -> DataFrame:
        inflow = (
            edges.join(ranks, edges.src == ranks.v)
            .join(outdeg, "src")
            .select(F.col("dst").alias("v"), F.expr("rank div deg").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("s"))
        )
        return nodes.join(inflow, "v", "left").select(
            "v",
            (
                F.when(F.col("is_seed"), F.lit(base)).otherwise(F.lit(0)).cast("long")
                + F.expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")
            ).alias("rank"),
        )

    ranks = fixed_rounds(ranks, step, iters)
    return ranks.select(
        F.col("v").alias("node"),
        F.col("rank").alias("rank_fp"),
        (F.col("rank") / F.lit(float(scale))).alias("rank"),
    )


def sql_personalized_pagerank_fixed(
    sql_edges: str, seed_sql: str, *, iters: int = 5, scale: int = PAGERANK_SCALE
) -> str:
    """DuckDB twin of :func:`personalized_pagerank_fixed` — unrolled
    iterations; seed membership via LEFT JOIN (no correlated scalar
    subqueries, per the oracle-stability rules)."""
    ctes = [
        f"edges AS ({sql_edges})",
        "nodes AS (SELECT src AS v FROM edges UNION SELECT dst FROM edges)",
        f"seeds AS (SELECT v FROM nodes WHERE {seed_sql})",
        "outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        "params AS (SELECT count(*) AS ns FROM seeds)",
        f"""r0 AS (
      SELECT nd.v,
             CAST(CASE WHEN sd.v IS NOT NULL THEN {scale} // p.ns ELSE 0 END AS BIGINT) AS rank
      FROM nodes nd CROSS JOIN params p LEFT JOIN seeds sd ON sd.v = nd.v
    )""",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""r{k} AS (
      SELECT nd.v,
             CAST(CASE WHEN sd.v IS NOT NULL
                       THEN (15 * ({scale} // p.ns)) // 100 ELSE 0 END
                  + (85 * COALESCE(fl.s, 0)) // 100 AS BIGINT) AS rank
      FROM nodes nd CROSS JOIN params p
      LEFT JOIN seeds sd ON sd.v = nd.v
      LEFT JOIN (
        SELECT e.dst AS v, CAST(sum(r.rank // d.deg) AS BIGINT) AS s
        FROM edges e
          JOIN r{k - 1} r ON e.src = r.v
          JOIN outdeg d ON e.src = d.src
        GROUP BY e.dst
      ) fl ON fl.v = nd.v
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT v AS node, rank AS rank_fp, rank / {float(scale)} AS rank
    FROM r{iters}"""
    )


def bellman_ford(edges_w: DataFrame, seeds: DataFrame, *, iters: int = 6) -> DataFrame:
    """Bounded Bellman-Ford: min-cost distance from the seed set using
    at most ``iters`` edges → (v, dist). Integer weights, so every
    relaxation is exact and the result is partitioning-independent.

    Per round: one shuffle joining current distances to out-edges plus
    one min-aggregate — the same two-shuffle iteration shape as
    PageRank, on ``plans.lineage.fixed_rounds``. The round
    count bounds path length (round i holds the min over ≤ i-edge
    walks, the standard BF invariant), which both caps work on huge
    graphs and makes the contract recursively-CTE-replayable."""
    dist = seeds.select(
        F.col("v").cast("long"), F.lit(0).cast("long").alias("dist")
    ).localCheckpoint(eager=True)
    e = edges_w.select(
        F.col("src").cast("long"), F.col("dst").cast("long"), F.col("w").cast("long")
    )

    def step(dist: DataFrame) -> DataFrame:
        cand = (
            dist.alias("d")
            .join(e.alias("e"), F.col("d.v") == F.col("e.src"))
            .select(F.col("e.dst").alias("v"), (F.col("d.dist") + F.col("e.w")).alias("dist"))
        )
        return dist.unionByName(cand).groupBy("v").agg(F.min("dist").alias("dist"))

    return fixed_rounds(dist, step, iters)


def kcore_peel(edges: DataFrame, *, k: int = 5, rounds: int = 4) -> DataFrame:
    """Bounded k-core peeling over the undirected simple graph →
    (node, degree): repeatedly drop nodes with degree < k for a FIXED
    number of rounds; survivors with their final degrees approximate
    the k-core from above (equal to it once the peel converges — both
    engines run the identical ``rounds``, so the contract is exact
    whatever the convergence state). The web-graph quality/spam
    filtering primitive (dense-substructure extraction).

    Scale: each round is one partial-aggregated degree groupBy plus two
    semi-joins on node id — no windows, no driver state; the rounds run
    through ``plans.lineage.fixed_rounds``. Full
    convergence at 100 TB = keep peeling until the survivor count is
    stable (round count is data-bounded by the degeneracy ordering;
    the fixed-round variant is the gate-replayable contract)."""
    und = (
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .unionByName(
            edges.select(
                F.col("dst").cast("long").alias("src"),
                F.col("src").cast("long").alias("dst"),
            )
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )

    def step(alive: DataFrame) -> DataFrame:
        keep = (
            alive.groupBy("src")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= k)
            .select(F.col("src").alias("node"))
        )
        return (
            alive.join(keep.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(keep.withColumnRenamed("node", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )

    alive = fixed_rounds(und, step, rounds)
    return (
        alive.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )


def sql_kcore_peel(sql_edges: str, *, k: int = 5, rounds: int = 4) -> str:
    """DuckDB twin of :func:`kcore_peel` — the same rounds unrolled as
    chained CTEs. Each a{i} is referenced twice (degree filter + next
    round), so the CTEs are MATERIALIZED — without it DuckDB inlines
    the whole subtree per reference and the plan doubles per round
    (2^rounds blowup, measured minutes at rounds=8)."""
    ctes = [
        f"""und AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM ({sql_edges})
        UNION ALL
        SELECT dst AS src, src AS dst FROM ({sql_edges})
      ) WHERE src <> dst
    )""",
        "a0 AS MATERIALIZED (SELECT src, dst FROM und)",
    ]
    for i in range(rounds):
        ctes.append(
            f"k{i} AS MATERIALIZED "
            f"(SELECT src AS node FROM a{i} GROUP BY src HAVING count(*) >= {k})"
        )
        ctes.append(
            f"a{i + 1} AS MATERIALIZED (SELECT e.src, e.dst FROM a{i} e "
            f"JOIN k{i} s ON e.src = s.node JOIN k{i} t ON e.dst = t.node)"
        )
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
    FROM a{rounds}
    GROUP BY src
    """
    )


def label_propagation(edges: DataFrame, *, rounds: int = 4) -> DataFrame:
    """Synchronous label-propagation community detection over the
    UNDIRECTED simple graph of ``edges`` → (node, community).

    Labels initialize to the node id; each round EVERY node
    simultaneously adopts its neighbors' most frequent label, ties
    broken by the smallest label (Raghavan et al. 2007, made
    deterministic: the synchronous schedule plus the total tie-break
    removes the algorithm's usual run-to-run variance, so a DuckDB
    oracle unrolling the same rounds matches every label exactly).

    Scale shape: one shuffle pair per round (neighbor-label join on the
    edge list, then the (node, label) count aggregation); the per-node
    argmax is a count-desc/label-asc window — partitioned by node, never
    global.  The rounds run through ``plans.lineage.fixed_rounds``.
    """
    from pyspark.sql.window import Window

    edges = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("w"))
        .unionByName(
            edges.filter(F.col("src") != F.col("dst")).select(
                F.col("dst").alias("u"), F.col("src").alias("w")
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = und.select(F.col("u").alias("v")).distinct().select(
        "v", F.col("v").alias("lbl")
    )
    win = Window.partitionBy("v").orderBy(F.desc("cnt"), F.asc("lbl"))

    def step(labels: DataFrame) -> DataFrame:
        counts = (
            und.join(labels.select(F.col("v").alias("w"), "lbl"), "w")
            .groupBy(F.col("u").alias("v"), "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return (
            counts.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") == 1)
            .select("v", "lbl")
        )

    labels = fixed_rounds(labels, step, rounds)
    return labels.select(F.col("v").alias("node"), F.col("lbl").alias("community"))


def sql_label_propagation(sql_edges: str, *, rounds: int = 4) -> str:
    """DuckDB twin of :func:`label_propagation`: identical synchronous
    rounds unrolled as CTEs, identical count-desc/label-asc argmax."""
    ctes = [
        f"edges AS ({sql_edges})",
        "und AS (SELECT src AS u, dst AS w FROM edges WHERE src <> dst"
        " UNION SELECT dst, src FROM edges WHERE src <> dst)",
        "l0 AS (SELECT DISTINCT u AS v, u AS lbl FROM und)",
    ]
    for k in range(1, rounds + 1):
        p = k - 1
        ctes.append(
            f"""l{k} AS (
      SELECT v, lbl FROM (
        SELECT e.u AS v, l.lbl,
               row_number() OVER (PARTITION BY e.u
                                  ORDER BY count(*) DESC, l.lbl ASC) AS rn
        FROM und e JOIN l{p} l ON e.w = l.v
        GROUP BY e.u, l.lbl
      ) WHERE rn = 1
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT v AS node, CAST(lbl AS BIGINT) AS community FROM l{rounds}"""
    )


def community_modularity(edges: DataFrame, *, rounds: int = 4) -> DataFrame:
    """Newman modularity of the label-propagation communities, in EXACT
    int64 → (community, n_members, intra_edges, degree_sum, contrib_q).

    Q = Σ_c [in_c/m − (d_c/2m)²] over the undirected simple graph; we
    emit the integer numerator ``contrib_q = 4·m·in_c − d_c²`` per
    community (Q = Σ contrib_q / 4m²), so the gate compares pure int64 —
    no float division order to drift.  Bounds: 4·m·in_c ≤ 4m² and
    d_c² ≤ 4m², comfortably inside int64 until m ~ 1.5e9 undirected
    edges PER community-summand; beyond that the sum widens to
    decimal(38,0) like the cents ledger (functions/exact.py note).

    Scale shape: LPA's rounds (see :func:`label_propagation`) plus three
    aggregations — canonical-edge dedup, per-node degree, per-community
    rollup.  ``m`` is one scalar ``count()`` (driver-side by design,
    like PageRank's ``n``).
    """
    # three consumers below (la, lb, per_c): materialize the lazy final round once
    labels = label_propagation(edges, rounds=rounds).localCheckpoint(eager=True)
    e = edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
    und = (
        e.filter(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    m = und.count()
    deg = (
        und.select(F.col("a").alias("v"))
        .unionByName(und.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    la = labels.select(F.col("node").alias("a"), F.col("community").alias("ca"))
    lb = labels.select(F.col("node").alias("b"), F.col("community").alias("cb"))
    intra = (
        und.join(la, "a")
        .join(lb, "b")
        .filter(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).alias("intra_edges"))
    )
    per_c = (
        deg.join(labels.select(F.col("node").alias("v"), "community"), "v")
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("deg").cast("long").alias("degree_sum"),
        )
    )
    return (
        per_c.join(intra, "community", "left")
        .select(
            "community",
            "n_members",
            F.coalesce(F.col("intra_edges"), F.lit(0)).cast("long").alias("intra_edges"),
            "degree_sum",
            (
                F.lit(4 * m) * F.coalesce(F.col("intra_edges"), F.lit(0))
                - F.col("degree_sum") * F.col("degree_sum")
            ).cast("long").alias("contrib_q"),
        )
        .orderBy("community")
    )


def sql_community_modularity(sql_edges: str, *, rounds: int = 4) -> str:
    """DuckDB twin of :func:`community_modularity`: the LPA replay as a
    nested WITH, then the identical integer rollups."""
    lpa = sql_label_propagation(sql_edges, rounds=rounds)
    return f"""
    WITH labels AS ({lpa}),
    e2 AS ({sql_edges}),
    und AS (
      SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      FROM e2 WHERE src <> dst
    ),
    mm AS (SELECT count(*) AS m FROM und),
    deg AS (
      SELECT v, count(*) AS deg FROM (
        SELECT a AS v FROM und UNION ALL SELECT b FROM und
      ) GROUP BY v
    ),
    intra AS (
      SELECT la.community AS community, count(*) AS intra_edges
      FROM und
        JOIN labels la ON und.a = la.node
        JOIN labels lb ON und.b = lb.node
      WHERE la.community = lb.community
      GROUP BY la.community
    ),
    per_c AS (
      SELECT l.community, count(*) AS n_members,
             CAST(sum(d.deg) AS BIGINT) AS degree_sum
      FROM deg d JOIN labels l ON d.v = l.node
      GROUP BY l.community
    )
    SELECT per_c.community,
           CAST(per_c.n_members AS BIGINT) AS n_members,
           CAST(coalesce(intra.intra_edges, 0) AS BIGINT) AS intra_edges,
           per_c.degree_sum,
           CAST(4 * mm.m * coalesce(intra.intra_edges, 0)
                - per_c.degree_sum * per_c.degree_sum AS BIGINT) AS contrib_q
    FROM per_c LEFT JOIN intra USING (community), mm
    ORDER BY per_c.community
    """


# --------------------------------------------------------------------- HITS

HITS_SCALE = 10**9  # L1 mass per score vector: Σ hub = Σ auth = ~1e9 << 2^63


def hits_fixed(edges: DataFrame, *, iters: int = 3, scale: int = HITS_SCALE) -> DataFrame:
    """HITS hubs/authorities (Kleinberg 1999) in exact int64 fixed point
    → (node, hub_fp, auth_fp).

    Per iteration: auth_raw(v) = Σ_{u→v} hub(u), then L1-normalize
    auth(v) = (auth_raw(v)·scale) // Σ auth_raw (integer division); the
    hub update mirrors it against the fresh auth.  L1 normalization
    (instead of the textbook L2) keeps every operation integer, so the
    result is independent of partitioning, shuffle order, and engine —
    the same technique as :func:`pagerank_fixed`.  Overflow-safe by the
    maintained invariant Σ score ≤ scale: every raw value ≤ scale, so
    raw·scale ≤ 1e18 < 2^63.

    Scale: two shuffle pairs per iteration (join on src / agg on dst,
    then join on dst / agg on src); the normalization total is a 1-row
    scalar aggregate broadcast (the plan-audit-bounded cross join);
    the first ``iters - 1`` rounds run through
    ``plans.lineage.fixed_rounds``.  ``iters`` must be at least 1.

    Simple-graph semantics: duplicate (src, dst) edges collapse, like
    :func:`pagerank_fixed` and the oracle's DISTINCT projection.
    """
    if iters < 1:
        raise ValueError(f"hits_fixed needs iters >= 1, got iters={iters}")
    edges = edges.select(
        F.col("src").cast("long"), F.col("dst").cast("long")
    ).distinct().localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()  # scalar graph property, intentionally driver-side
    if n == 0:
        # empty graph: mirror the DuckDB twin (its CTE chain yields no
        # rows) instead of ZeroDivisionError on scale // n — the same
        # empty-frame guard as betweenness_sampled / pagerank_fixed
        return edges.sparkSession.createDataFrame(
            [], "node long, hub_fp long, auth_fp long"
        )
    init = scale // n
    hub = nodes.select("v", F.lit(init).cast("long").alias("hub"))

    def _half(score: DataFrame, col: str, join_on: str, agg_to: str, out: str) -> DataFrame:
        # zero-score nodes are simply ABSENT from the intermediate
        # frames: they contribute nothing through edges and nothing to
        # the L1 total, so dropping them changes no surviving value —
        # two node-sized left joins per half-step saved; the final
        # output join restores explicit zeros
        raw = (
            edges.join(score, edges[join_on] == score.v)
            .groupBy(F.col(agg_to).alias("v"))
            .agg(F.sum(col).alias("s"))
        )
        tot = raw.agg(F.sum("s").alias("t"))
        # t == 0 (all surviving mass zero — degenerate but reachable on
        # adversarial graphs) would turn `div t` into NULL rows; drop
        # them instead, and the final left-join restores explicit
        # zeros.  NOTE: the DuckDB twin diverges here — its `// 0`
        # yields NULL, so the twin reports NULL scores for every node
        # in this degenerate case while we report zeros.  Accepted as
        # out-of-contract: unreachable on the gate corpora (any edge
        # with surviving mass keeps t > 0), and zeros are the saner
        # production answer.
        return (
            raw.crossJoin(F.broadcast(tot))
            .filter(F.col("t") > 0)
            .select("v", F.expr(f"(s * {scale}) div t").alias(out))
        )

    def step(hub: DataFrame) -> DataFrame:
        return _half(_half(hub, "hub", "src", "dst", "auth"), "auth", "dst", "src", "hub")

    hub = fixed_rounds(hub, step, iters - 1)
    # the final auth has two consumers (the last hub half-step and the
    # output join), so the last round runs here with auth materialized once
    auth = _half(hub, "hub", "src", "dst", "auth").localCheckpoint(eager=True)
    hub = _half(auth, "auth", "dst", "src", "hub")
    return (
        nodes.join(hub, "v", "left")
        .join(auth.withColumnRenamed("auth", "_a"), "v", "left")
        .select(
            F.col("v").alias("node"),
            F.coalesce("hub", F.lit(0)).cast("long").alias("hub_fp"),
            F.coalesce("_a", F.lit(0)).cast("long").alias("auth_fp"),
        )
    )


def sql_hits_fixed(sql_edges: str, *, iters: int = 3, scale: int = HITS_SCALE) -> str:
    """DuckDB twin of :func:`hits_fixed`: the K iterations unrolled as
    chained CTEs, bit-identical by integer arithmetic."""
    if iters < 1:
        raise ValueError(f"sql_hits_fixed needs iters >= 1, got iters={iters}")
    ctes = [
        f"edges AS (SELECT DISTINCT src, dst FROM ({sql_edges}))",
        "nodes AS (SELECT src AS v FROM edges UNION SELECT dst FROM edges)",
        "params AS (SELECT count(*) AS n FROM nodes)",
        f"h0 AS (SELECT v, CAST({scale} // n AS BIGINT) AS s FROM nodes, params)",
    ]
    for k in range(1, iters + 1):
        ctes.append(
            f"""a{k}raw AS (
      SELECT e.dst AS v, CAST(sum(h.s) AS BIGINT) AS s
      FROM edges e JOIN h{k - 1} h ON e.src = h.v GROUP BY e.dst
    )"""
        )
        ctes.append(f"a{k}tot AS (SELECT CAST(sum(s) AS BIGINT) AS t FROM a{k}raw)")
        ctes.append(
            f"""a{k} AS (
      SELECT nd.v, CAST((COALESCE(r.s, 0) * {scale}) // t.t AS BIGINT) AS s
      FROM nodes nd CROSS JOIN a{k}tot t LEFT JOIN a{k}raw r ON r.v = nd.v
    )"""
        )
        ctes.append(
            f"""h{k}raw AS (
      SELECT e.src AS v, CAST(sum(a.s) AS BIGINT) AS s
      FROM edges e JOIN a{k} a ON e.dst = a.v GROUP BY e.src
    )"""
        )
        ctes.append(f"h{k}tot AS (SELECT CAST(sum(s) AS BIGINT) AS t FROM h{k}raw)")
        ctes.append(
            f"""h{k} AS (
      SELECT nd.v, CAST((COALESCE(r.s, 0) * {scale}) // t.t AS BIGINT) AS s
      FROM nodes nd CROSS JOIN h{k}tot t LEFT JOIN h{k}raw r ON r.v = nd.v
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT nd.v AS node,
           CAST(COALESCE(h.s, 0) AS BIGINT) AS hub_fp,
           CAST(COALESCE(a.s, 0) AS BIGINT) AS auth_fp
    FROM nodes nd
    LEFT JOIN h{iters} h ON h.v = nd.v
    LEFT JOIN a{iters} a ON a.v = nd.v"""
    )


# ------------------------------------------------------- betweenness (sampled)

BETWEENNESS_SCALE = 10**6  # fixed-point unit for dependency accumulation


def betweenness_sampled(
    edges: DataFrame,
    *,
    n_sources: int = 8,
    max_depth: int = 3,
    scale: int = BETWEENNESS_SCALE,
) -> DataFrame:
    """Sampled-source betweenness centrality (Brandes 2001, directed,
    depth-bounded) in exact int64 fixed point → (node, bc_fp).

    Forward phase per source: BFS levels with path counts σ (integer
    sums).  Backward phase: dependency δ(v) = Σ_{w ∈ succ(v)}
    ⌊σ_v·(scale + δ_w) / σ_w⌋ — each term floors independently, so the
    sum is order-independent and the DuckDB oracle replays it exactly.
    BC(v) = Σ_sources δ(v), v ≠ source.

    Sources: the ``n_sources`` highest-out-degree nodes (ties by node id)
    — deterministic in both engines.  Depth bound ``max_depth`` is the
    documented approximation (exact betweenness is all-pairs; sampled +
    bounded is the standard scalable estimator, e.g. Riondato-Kornaropoulos).

    Scale: ALL sources advance together as (source, v) pairs — one
    edge-join + one (source, v) aggregate per level, forward and
    backward; never a per-source driver loop over the graph.  Overflow-
    safe: σ ≤ paths-per-level (≲1e6 at the A10-measured fan-out),
    σ·(scale + δ) ≲ 1e17 < 2^63.
    """
    edges = edges.select(
        F.col("src").cast("long"), F.col("dst").cast("long")
    ).distinct().localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("_d"))
    sources = (
        deg.orderBy(F.desc("_d"), "src")
        .limit(n_sources)
        .select(F.col("src").alias("s"))
        .localCheckpoint(eager=True)
    )

    levels: list[DataFrame] = [
        sources.select("s", F.col("s").alias("v"), F.lit(1).cast("long").alias("sigma"))
    ]
    # visited is a union of already-checkpointed level frames — lineage
    # stays ≤ max_depth shallow scans of materialized data, so it needs
    # no eager checkpoint of its own (each one would be a full Spark job
    # whose cost dwarfs these frame sizes; measured −0.3s at sf0.1)
    visited = levels[0].select("s", "v")
    for _d in range(1, max_depth + 1):
        nxt = (
            levels[-1]
            .join(edges, levels[-1].v == edges.src)
            .groupBy("s", F.col("dst").alias("v2"))
            .agg(F.sum("sigma").alias("sigma"))
            .withColumnRenamed("v2", "v")
            .join(visited, ["s", "v"], "left_anti")
            .localCheckpoint(eager=True)
        )
        levels.append(nxt)
        visited = visited.unionByName(nxt.select("s", "v"))

    # backward: δ at the deepest level is 0; accumulate upward
    spark = edges.sparkSession
    delta = levels[max_depth].select(
        "s", "v", F.lit(0).cast("long").alias("delta")
    )
    bc_parts: list[DataFrame] = []
    for d in range(max_depth - 1, 0, -1):
        cur, nxt_lvl = levels[d], levels[d + 1]
        succ = (
            cur.join(edges, cur.v == edges.src)
            .select("s", "v", "sigma", F.col("dst").alias("w"))
            .join(
                nxt_lvl.select(
                    "s", F.col("v").alias("w"), F.col("sigma").alias("sigma_w")
                ),
                ["s", "w"],
            )
            .join(
                delta.select("s", F.col("v").alias("w"), F.col("delta").alias("delta_w")),
                ["s", "w"],
                "left",  # a successor absent from δ has δ = 0 (it had no
                         # successors of its own) — its σ·scale still flows up
            )
        )
        delta = (
            succ.select(
                "s",
                "v",
                F.expr(
                    f"(sigma * ({scale} + coalesce(delta_w, CAST(0 AS BIGINT)))) div sigma_w"
                ).alias("_t"),
            )
            .groupBy("s", "v")
            .agg(F.sum("_t").alias("delta"))
            # nodes at this level with NO successors keep δ = 0 — they
            # simply produce no rows, matching the oracle's inner join
            .localCheckpoint(eager=True)
        )
        bc_parts.append(delta)
    if not bc_parts:
        return spark.createDataFrame([], "node long, bc_fp long")
    out = bc_parts[0]
    for p in bc_parts[1:]:
        out = out.unionByName(p)
    return (
        out.groupBy(F.col("v").alias("node"))
        .agg(F.sum("delta").cast("long").alias("bc_fp"))
        .filter(F.col("bc_fp") > 0)
    )


def sql_betweenness_sampled(
    sql_edges: str,
    *,
    n_sources: int = 8,
    max_depth: int = 3,
    scale: int = BETWEENNESS_SCALE,
) -> str:
    """DuckDB twin of :func:`betweenness_sampled`: forward levels and
    backward dependency accumulation unrolled as chained CTEs,
    bit-identical by integer arithmetic (independent per-term floors)."""
    ctes = [
        f"edges AS (SELECT DISTINCT src, dst FROM ({sql_edges}))",
        f"""srcs AS (
      SELECT src AS s FROM (
        SELECT src, count(*) AS d FROM edges GROUP BY src
        ORDER BY d DESC, src LIMIT {n_sources}
      )
    )""",
        "l0 AS (SELECT s, s AS v, CAST(1 AS BIGINT) AS sigma FROM srcs)",
        "vis0 AS (SELECT s, v FROM l0)",
    ]
    for d in range(1, max_depth + 1):
        ctes.append(
            f"""l{d} AS MATERIALIZED (
      SELECT t.s, t.v, t.sigma FROM (
        SELECT p.s, e.dst AS v, CAST(sum(p.sigma) AS BIGINT) AS sigma
        FROM l{d - 1} p JOIN edges e ON e.src = p.v
        GROUP BY p.s, e.dst
      ) t
      WHERE NOT EXISTS (
        SELECT 1 FROM vis{d - 1} x WHERE x.s = t.s AND x.v = t.v
      )
    )"""
        )
        ctes.append(
            f"vis{d} AS MATERIALIZED (SELECT s, v FROM vis{d - 1} UNION ALL SELECT s, v FROM l{d})"
        )
    ctes.append(
        f"d{max_depth} AS (SELECT s, v, CAST(0 AS BIGINT) AS delta FROM l{max_depth})"
    )
    for d in range(max_depth - 1, 0, -1):
        ctes.append(
            f"""d{d} AS MATERIALIZED (
      SELECT c.s, c.v,
             CAST(sum((c.sigma * ({scale} + COALESCE(dn.delta, 0))) // nw.sigma) AS BIGINT)
               AS delta
      FROM l{d} c
        JOIN edges e ON e.src = c.v
        JOIN l{d + 1} nw ON nw.s = c.s AND nw.v = e.dst
        LEFT JOIN d{d + 1} dn ON dn.s = c.s AND dn.v = e.dst
      GROUP BY c.s, c.v
    )"""
        )
    parts = " UNION ALL ".join(
        f"SELECT s, v, delta FROM d{d}" for d in range(max_depth - 1, 0, -1)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT v AS node, CAST(sum(delta) AS BIGINT) AS bc_fp
    FROM ({parts})
    GROUP BY v
    HAVING sum(delta) > 0"""
    )


def scc_bounded(edges: DataFrame, *, max_depth: int = 6) -> DataFrame:
    """Strongly connected components by MUTUAL REACHABILITY within
    ``max_depth`` hops → (node, scc_id), scc_id = the minimum node id
    in the component.  u and v share a component iff u →* v AND
    v →* u; with paths bounded at ``max_depth`` this is EXACT whenever
    max_depth ≥ the longest shortest path between co-component nodes
    (any digraph on ≤ max_depth+1 nodes qualifies — the differential
    fuzz exploits that), and a documented under-approximation beyond —
    the same bounded-estimator contract as :func:`betweenness_sampled`.

    Plan: ONE forward reachability pair-set (iterated distinct
    (u, v)-pair edge joins, the betweenness forward-phase shape — all
    sources advance together, never a per-source loop), then mutuality
    is a SELF-join of the pair set against its own swap and scc_id one
    (node)-keyed min aggregate.  Pair count is Σ|reach(v)| — bounded by
    n·|V| like the (source, v) frames in betweenness; once Σ|reach|
    outgrows the cluster, :func:`scc_fwbw` computes EXACT SCCs in
    O(|V|) state per round (pivot forward/backward partitioning, the
    escape hatch promoted from SCALE.md addendum 30), exactly as IVF
    supersedes brute-force ANN.

    Every step is set arithmetic on integer pairs — the DuckDB twin
    (:func:`sql_scc_bounded`) replays it with a bounded recursive CTE,
    bit-for-bit."""
    edges = edges.select(
        F.col("src").cast("long"), F.col("dst").cast("long")
    ).distinct().localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    reach = nodes.select(F.col("v").alias("u"), F.col("v").alias("w"))

    def step(frontier: DataFrame) -> DataFrame:
        return (
            frontier.join(edges, frontier.w == edges.src)
            .select("u", F.col("dst").alias("w"))
            .distinct()
            .join(reach, ["u", "w"], "left_anti")
        )

    for _depth, frontier in frontier_levels(reach, step, max_depth):
        # reach stays materialized per round: it is re-read by EVERY
        # later round's anti-join and twice by the final mutual
        # semi-join — a lazy-union variant re-scanned the union per
        # consumer and measured 1.11× slower at sf0.1
        reach = reach.unionByName(frontier).localCheckpoint(eager=True)
    mutual = reach.join(
        reach.select(F.col("w").alias("u"), F.col("u").alias("w")),
        ["u", "w"],
        "left_semi",
    )
    return (
        mutual.groupBy(F.col("u").alias("node"))
        .agg(F.min("w").cast("long").alias("scc_id"))
    )


def sql_scc_bounded(sql_edges: str, *, max_depth: int = 6) -> str:
    """DuckDB twin of :func:`scc_bounded`: bounded recursive reachability
    CTE, mutual self-join, min-id aggregate."""
    return f"""
    WITH RECURSIVE
    edges AS (SELECT DISTINCT src, dst FROM ({sql_edges})),
    nodes AS (SELECT src AS v FROM edges UNION SELECT dst FROM edges),
    reach(u, w, d) AS (
      SELECT v, v, 0 FROM nodes
      UNION
      SELECT r.u, e.dst, r.d + 1 FROM reach r JOIN edges e ON e.src = r.w
      WHERE r.d < {max_depth}
    ),
    pairs AS (SELECT DISTINCT u, w FROM reach)
    SELECT p.u AS node, CAST(min(p.w) AS BIGINT) AS scc_id
    FROM pairs p JOIN pairs q ON q.u = p.w AND q.w = p.u
    GROUP BY p.u
    """


def sql_scc_exact(sql_edges: str) -> str:
    """DuckDB twin of :func:`scc_fwbw`: EXACT SCCs — reachability
    recursion to fixpoint (no depth bound; UNION dedup terminates it),
    mutual self-join, min-id aggregate.  Strategy-free: any exact SCC
    algorithm must hash-match this."""
    return f"""
    WITH RECURSIVE
    edges AS (SELECT DISTINCT src, dst FROM ({sql_edges})),
    nodes AS (SELECT src AS v FROM edges UNION SELECT dst FROM edges),
    reach(u, w) AS (
      SELECT v, v FROM nodes
      UNION
      SELECT r.u, e.dst FROM reach r JOIN edges e ON e.src = r.w
    )
    SELECT p.u AS node, CAST(min(p.w) AS BIGINT) AS scc_id
    FROM reach p JOIN reach q ON q.u = p.w AND q.w = p.u
    GROUP BY p.u
    """


def scc_fwbw(edges: DataFrame, *, max_rounds: int = 60) -> DataFrame:
    """EXACT strongly connected components by distributed pivot FW-BW
    (Fleischer/Hendrickson/Pinar 2000) → (node, scc_id), scc_id = the
    minimum node id in the component — the 100 TB alternative to
    :func:`scc_bounded`'s Σ|reach| pair set.

    Each outer round first TRIMS: nodes with no incoming or no outgoing
    edge among still-active nodes cannot lie on a cycle and are emitted
    immediately as singleton SCCs (capped peel, 8 layers/round) — the
    MultiStep hybrid (Slota/Rajamanickam/Madduri, IPDPS 2014), which
    confines the closure work to the cyclic core.  Then EVERY active
    partition advances together (never a
    per-partition loop): the pivot is the partition's MINIMUM node id,
    forward and backward reachability closures run restricted to
    partition-internal edges, and SCC(pivot) = FW ∩ BW.  Because the
    pivot is the partition minimum and SCC ⊆ partition ∋ pivot,
    min(SCC) == pivot — the emitted scc_id needs no extra aggregate.
    The three remainders (FW∖SCC, BW∖SCC, REST) each wholly contain
    every surviving SCC (the FW-BW partition theorem), and are re-keyed
    by their own minimum node id for the next round.

    State: O(|V|) rows per frame (partition map, FW/BW closures) — never
    the Σ|reach| pair set of :func:`scc_bounded`; per inner step ONE
    partition-labeled edge join + anti-join dedup.  Lineage is cut by
    :func:`~binaryx_graph_spark.plans.lineage.checkpoint_cut`, NOT the
    plain localCheckpoint the linear frontier loops use: each FW-BW
    round's plan is a product of several previous-round frames, so the
    size statistics LogicalRDD carries over a checkpoint compound
    multiplicatively (~4× bits/round measured) until Catalyst's BigInt
    size arithmetic dominates planning — the stats reset bounds it.  With
    min-id pivots the expected round count is logarithmic on real
    graphs; if ``max_rounds`` is exhausted (adversarial chains of tiny
    SCCs), the small remainder falls back to the exact pair-set path
    (depth = remaining node count, so still exact).

    Strategy equivalence: on any graph where ``max_depth`` covers
    co-component shortest paths, output is BIT-IDENTICAL to
    ``scc_bounded`` (both emit min-member ids) — pinned by the
    differential fuzz in tests/test_graphalgo_properties.py against an
    independent Tarjan."""
    from ..plans.lineage import checkpoint_cut as _cut

    edges = (
        edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .distinct()
        .transform(_cut)
    )
    nodes = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct()
        .transform(_cut)
    )
    # Partition map (v, p); p = min node id of the partition.
    #
    # Seeded with one initial partition PER WEAKLY CONNECTED COMPONENT
    # (min-member id — exactly the p-invariant), via the
    # pointer-jumping CC operator.  FW-BW's partition theorem only
    # splits each partition ≤3 ways per round, so with a single global
    # seed a graph of many disjoint regions (the NORMAL call-graph
    # shape: one weak component per binary) spends rounds just
    # DISCOVERING the disjointness — measured 52.8s → (see SCALE.md
    # addendum 38) on 10 disjoint replicas at sf0.1.  WCC seeding is
    # the standard FW-BW-Trim decomposition (Slota et al., IPDPS 2014
    # run coloring/WCC first for the same reason); on a connected graph
    # it degenerates to the single global partition at the cost of one
    # O(log d)-round CC pass.
    if nodes.isEmpty():
        return nodes.select(F.col("v").alias("node"), F.col("v").alias("scc_id"))
    from .dedup import connected_components as _cc

    und = edges.select(F.col("src").alias("doc_a"), F.col("dst").alias("doc_b"))
    part = (
        _cc(und)
        .select(
            F.col("doc_id").cast("long").alias("v"),
            F.col("cluster_id").cast("long").alias("p"),
        )
        .transform(_cut)
    )
    done: list[DataFrame] = []

    def _closure(piv: DataFrame, pedges: DataFrame, src: str, dst: str) -> DataFrame:
        """All (p, v) reachable from each partition's pivot via
        partition-internal edges, walking src→dst (pass dst/src swapped
        for the backward closure).  All partitions advance together."""
        reach = piv.select("p", F.col("pivot").alias("v"))
        frontier = reach
        while True:
            frontier = (
                frontier.join(
                    pedges,
                    (frontier.p == pedges.ep) & (frontier.v == pedges[src]),
                )
                .select(F.col("ep").alias("p"), F.col(dst).alias("v"))
                .distinct()
                .join(reach, ["p", "v"], "left_anti")
                .transform(_cut)
            )
            if frontier.isEmpty():
                return reach.transform(_cut)
            reach = reach.unionByName(frontier)

    for _round in range(max_rounds):
        # --- trim phase (the MultiStep hybrid, Slota/Rajamanickam/
        # Madduri IPDPS 2014): a node with no incoming OR no outgoing
        # edge among still-active nodes cannot lie on a cycle — it is a
        # singleton SCC.  Peeling these first confines the (closure-
        # depth-bounded) pivot rounds to the cyclic core, which on call
        # graphs is a small fraction of |V|; without it, min-id pivots
        # burn one diameter-deep closure pair per acyclic chain layer.
        # Capped per round: anything the cap leaves behind is still
        # handled exactly by the FW-BW partition theorem below.
        for _t in range(8):
            act_edges = (
                edges.join(part.select(F.col("v").alias("src")), "src", "left_semi")
                .join(part.select(F.col("v").alias("dst")), "dst", "left_semi")
                .transform(_cut)
            )
            keep = (
                act_edges.select(F.col("src").alias("v"))
                .distinct()
                .join(act_edges.select(F.col("dst").alias("v")).distinct(), "v")
            )
            trimmed = part.join(keep, "v", "left_anti").transform(_cut)
            if trimmed.isEmpty():
                break
            done.append(
                trimmed.select(F.col("v").alias("node"), F.col("v").alias("scc_id"))
            )
            part = part.join(keep, "v", "left_semi").transform(_cut)
        if part.isEmpty():
            part = None
            break
        # trim may have removed a partition's minimum node — re-key so
        # the scc_id == pivot == partition-min invariant holds
        rekey = part.groupBy("p").agg(F.min("v").alias("np"))
        part = (
            part.join(rekey, "p")
            .select("v", F.col("np").alias("p"))
            .transform(_cut)
        )
        piv = part.groupBy("p").agg(F.min("v").alias("pivot"))
        # partition-internal edges, labeled with their partition id
        pedges = (
            edges.join(part.select(F.col("v").alias("src"), F.col("p").alias("ep")), "src")
            .join(part.select(F.col("v").alias("dst"), F.col("p").alias("_pd")), "dst")
            .filter(F.col("ep") == F.col("_pd"))
            .select("src", "dst", "ep")
            .transform(_cut)
        )
        fw = _closure(piv, pedges, "src", "dst")
        bw = _closure(piv, pedges, "dst", "src")
        scc = fw.join(bw, ["p", "v"], "left_semi")
        # scc_id == p: pivot is the partition min, and pivot ∈ SCC
        done.append(
            scc.select(F.col("v").alias("node"), F.col("p").alias("scc_id"))
            .transform(_cut)
        )
        rem = part.join(scc, ["p", "v"], "left_anti")
        if rem.isEmpty():
            part = None
            break
        # tag: 1 = FW∖SCC, 2 = BW∖SCC, 3 = REST; re-key by (p, tag) min
        tagged = (
            rem.join(fw.withColumn("_f", F.lit(1)), ["p", "v"], "left")
            .join(bw.withColumn("_b", F.lit(1)), ["p", "v"], "left")
            .select(
                "v",
                "p",
                F.when(F.col("_f") == 1, F.lit(1))
                .when(F.col("_b") == 1, F.lit(2))
                .otherwise(F.lit(3))
                .alias("tag"),
            )
        )
        keys = tagged.groupBy("p", "tag").agg(F.min("v").alias("np"))
        part = (
            tagged.join(keys, ["p", "tag"])
            .select("v", F.col("np").alias("p"))
            .transform(_cut)
        )
    if part is not None and not part.isEmpty():
        # max_rounds exhausted: finish the (small) remainder exactly with
        # the pair-set path, depth = remaining node count (always enough)
        rem_nodes = part.select("v").distinct()
        rem_edges = (
            edges.join(rem_nodes.withColumnRenamed("v", "src"), "src", "left_semi")
            .join(rem_nodes.withColumnRenamed("v", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )
        depth = rem_nodes.count()
        tail = scc_bounded(rem_edges, max_depth=depth)
        # isolated remainder nodes (no surviving internal edges) are
        # their own singleton components
        iso = rem_nodes.join(
            tail.select(F.col("node").alias("v")), "v", "left_anti"
        ).select(F.col("v").alias("node"), F.col("v").alias("scc_id"))
        done.append(tail.unionByName(iso))
    out = done[0]
    for d in done[1:]:
        out = out.unionByName(d)
    return out


def topo_layers(edges: DataFrame, *, max_depth: int = 10) -> DataFrame:
    """Dependency layering of a (possibly cyclic) digraph → (node,
    scc_id, layer): condense strongly connected components
    (:func:`scc_bounded`) into a DAG, then layer(c) = the longest
    condensed path ending at c, computed as ``max_depth`` rounds of
    max-propagation — leaf dependencies at layer 0, each consumer above
    everything it depends on (the build-order / init-order analytics a
    call-graph user asks next after cycles).  Exact when ``max_depth``
    covers the condensed DAG's depth; bounded-estimator contract beyond,
    as in :func:`scc_bounded`/:func:`betweenness_sampled`.

    Plan: the condensed edge list is two broadcast-or-hash joins onto
    the SCC map + distinct; each round is ONE edge join + ONE max
    aggregate on condensed ids (strictly fewer than |V|); walks in the
    condensed DAG cannot revisit a component, so the frontier dies at
    the true depth.  The DuckDB twin replays walks with a bounded
    recursive CTE and takes the same max."""
    edges = edges.select(
        F.col("src").cast("long"), F.col("dst").cast("long")
    ).distinct().localCheckpoint(eager=True)
    scc = scc_bounded(edges, max_depth=max_depth).localCheckpoint(eager=True)
    cmap_src = scc.select(F.col("node").alias("src"), F.col("scc_id").alias("_ca"))
    cmap_dst = scc.select(F.col("node").alias("dst"), F.col("scc_id").alias("_cb"))
    cedges = (
        edges.join(cmap_src, "src")
        .join(cmap_dst, "dst")
        .filter(F.col("_ca") != F.col("_cb"))
        .select(F.col("_ca").alias("csrc"), F.col("_cb").alias("cdst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    layer = scc.select(F.col("scc_id").alias("c")).distinct().withColumn(
        "layer", F.lit(0).cast("long")
    )

    def step(frontier: DataFrame) -> DataFrame:
        return (
            frontier.join(cedges, frontier.c == cedges.csrc)
            .groupBy(F.col("cdst").alias("c"))
            .agg((F.max("layer") + 1).alias("layer"))
        )

    for _depth, frontier in frontier_levels(layer, step, max_depth):
        layer = (
            layer.unionByName(frontier)
            .groupBy("c")
            .agg(F.max("layer").alias("layer"))
            .localCheckpoint(eager=True)
        )
    return scc.join(layer, scc.scc_id == layer.c).select(
        "node", "scc_id", F.col("layer").cast("long").alias("layer")
    )


def sql_topo_layers(sql_edges: str, *, max_depth: int = 10) -> str:
    """DuckDB twin of :func:`topo_layers`: SCC CTE + bounded walk
    recursion over the condensed DAG, max depth per component."""
    return f"""
    WITH RECURSIVE
    edges AS (SELECT DISTINCT src, dst FROM ({sql_edges})),
    nodes AS (SELECT src AS v FROM edges UNION SELECT dst FROM edges),
    reach(u, w, d) AS (
      SELECT v, v, 0 FROM nodes
      UNION
      SELECT r.u, e.dst, r.d + 1 FROM reach r JOIN edges e ON e.src = r.w
      WHERE r.d < {max_depth}
    ),
    pairs AS (SELECT DISTINCT u, w FROM reach),
    scc AS (
      SELECT p.u AS node, CAST(min(p.w) AS BIGINT) AS scc_id
      FROM pairs p JOIN pairs q ON q.u = p.w AND q.w = p.u
      GROUP BY p.u
    ),
    cedges AS (
      SELECT DISTINCT a.scc_id AS csrc, b.scc_id AS cdst
      FROM edges e JOIN scc a ON a.node = e.src JOIN scc b ON b.node = e.dst
      WHERE a.scc_id <> b.scc_id
    ),
    walk(c, d) AS (
      SELECT DISTINCT scc_id, 0 FROM scc
      UNION
      SELECT w2.cdst, walk.d + 1 FROM walk JOIN cedges w2 ON w2.csrc = walk.c
      WHERE walk.d < {max_depth}
    ),
    layers AS (SELECT c, CAST(max(d) AS BIGINT) AS layer FROM walk GROUP BY c)
    SELECT s.node, s.scc_id, l.layer
    FROM scc s JOIN layers l ON l.c = s.scc_id
    """
