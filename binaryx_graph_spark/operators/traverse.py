"""Variable-length graph traversal (SURVEY.md §2.6-2.7, G1-G9 + O1-O2).

Neo4j's ``[:CALLS*1..N]`` has no Catalyst equivalent; the idiomatic Spark
realization is a driver-side loop issuing one bounded join per BFS level
(reference queries: /root/reference/src/neo4j/importer.rs:471-549,
src/neo4j/call_path_analyzer.rs:20-538).

Scale design:
- each level is ``frontier ⋈ calls`` — a shuffle-free broadcast join while
  the frontier is small, an ordinary shuffled hash join when it isn't
  (Catalyst/AQE decides; we hint broadcast only for the seed level)
- visited-set left-anti joins keep frontiers minimal (BFS, not walks)
- every loop runs through ``plans.lineage.frontier_levels``: each
  non-final level is ``localCheckpoint``-ed (plan depth stays O(1) per
  level rather than O(levels)) and probed with ``isEmpty`` for an early
  exit; the final level is neither
- path enumeration carries array columns; Cypher's no-repeated-
  RELATIONSHIP rule is enforced via an edge-id membership check
  (call_path_analyzer.rs default semantics; SURVEY.md §7.3 #1)
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.lineage import frontier_levels


def _edges(calls: DataFrame, direction: str) -> DataFrame:
    """Orient the edge list: 'out' follows calls, 'in' reverses them."""
    if direction == "out":
        return calls.select(F.col("src_uid").alias("_from"), F.col("dst_uid").alias("_to"))
    return calls.select(F.col("dst_uid").alias("_from"), F.col("src_uid").alias("_to"))


def reachable(
    calls: DataFrame,
    seeds: DataFrame,
    *,
    direction: str = "out",
    max_depth: int = 1,
    members: DataFrame | None = None,
) -> DataFrame:
    """G1/G2: distinct nodes reachable in 1..max_depth hops → (uid, depth).

    ``depth`` is the minimum hop count (BFS). ``members`` (a one-column
    ``uid`` frame) restricts every reached node, reproducing the
    per-binary EXISTS filter (J2, importer.rs:482).
    Seeds frame: one column ``uid``.
    """
    edges = _edges(calls, direction)
    if members is not None:
        edges = edges.join(
            members.select(F.col("uid").alias("_to")), "_to", "left_semi"
        )
    # materialize the (filtered) edge list ONCE — otherwise every BFS
    # level re-executes the full edge lineage (scan + distinct + joins)
    edges = edges.localCheckpoint(eager=True)

    frontier = seeds.select("uid").distinct().localCheckpoint(eager=True)
    # visited starts EMPTY: Cypher `*1..N` reports the seed itself when a
    # cycle returns to it (DISTINCT callee includes f). Reported nodes are
    # then pruned from later frontiers — min-depth BFS.
    visited = frontier.limit(0)
    out: DataFrame | None = None

    def step(frontier: DataFrame) -> DataFrame:
        return (
            frontier.join(edges, frontier.uid == edges._from)
            .select(F.col("_to").alias("uid"))
            .distinct()
            .join(visited, "uid", "left_anti")
        )

    for depth, nxt in frontier_levels(frontier, step, max_depth):
        level = nxt.withColumn("depth", F.lit(depth))
        out = level if out is None else out.unionByName(level)
        # visited is a union of the checkpointed level frames: lineage
        # stays ≤ max_depth shallow scans of materialized data, so its
        # own per-level eager re-materialization was pure job-floor cost
        # (addendum 31's betweenness fix; measured 2.20 s → 1.88 s min,
        # 3.17 s → 2.23 s med at sf0.1, output bit-identical)
        visited = visited.unionByName(nxt)

    if out is None:
        schema_src = seeds.sparkSession
        return schema_src.createDataFrame([], "uid string, depth int")
    return out


@dataclass
class PathColumns:
    """Array-column payload carried along enumerated paths."""

    names: str = "node_names"
    addresses: str = "node_addresses"
    offsets: str = "edge_offsets"


def enumerate_paths(
    calls: DataFrame,
    functions: DataFrame,
    seeds: DataFrame,
    *,
    direction: str = "out",
    max_depth: int = 5,
    members: DataFrame | None = None,
) -> DataFrame:
    """G3/G5: ALL paths of every length 1..max_depth from the seed set
    (prefixes included — Cypher ``*1..N`` semantics), projecting the
    name/address arrays the reference returns
    (call_path_analyzer.rs:36-38).

    Returns (start_uid, end_uid, node_names, node_addresses, edge_offsets,
    path_length). No relationship repeats within a path (Cypher rule);
    node repeats allowed — cycles appear as paths revisiting nodes.
    ``members`` restricts EVERY path node (ALL(n IN nodes(path)) …,
    call_path_analyzer.rs:34).
    """
    fn = functions.select(
        F.col("uid").alias("_fuid"), F.col("name").alias("_fname"), F.col("address").alias("_faddr")
    )
    if direction == "out":
        e = calls.select(
            F.col("src_uid").alias("_from"), F.col("dst_uid").alias("_to"), F.col("offset").alias("_off")
        )
    else:
        e = calls.select(
            F.col("dst_uid").alias("_from"), F.col("src_uid").alias("_to"), F.col("offset").alias("_off")
        )
    e = e.withColumn("_eid", F.concat_ws("→", "_from", "_to"))
    if members is not None:
        e = e.join(members.select(F.col("uid").alias("_to")), "_to", "left_semi")
    # r12 (guide §2.4): carry the DESTINATION node's display columns on
    # the edge row — the per-level loop then joins the frontier against
    # this one materialized frame only.  The old shape joined `fn`
    # inside every level, re-deriving the (un-checkpointed) functions
    # frame once per depth; same inner-join semantics, one join and
    # zero re-derivations per level.
    e = e.join(fn, F.col("_to") == fn._fuid).select(
        "_from", "_to", "_off", "_eid", "_fname", "_faddr"
    )
    e = e.localCheckpoint(eager=True)  # levels re-join this, not the lineage

    seed_nodes = seeds.select("uid").distinct().join(fn, F.col("uid") == fn._fuid).select(
        F.col("uid").alias("start_uid"),
        F.col("uid").alias("end_uid"),
        F.array("_fname").alias("node_names"),
        F.array("_faddr").alias("node_addresses"),
        F.array().cast("array<string>").alias("edge_offsets"),
        F.array().cast("array<string>").alias("_eids"),
        F.lit(0).alias("path_length"),
    )
    if members is not None:
        seed_nodes = seed_nodes.join(
            members.select(F.col("uid").alias("start_uid")), "start_uid", "left_semi"
        )

    def step(frontier: DataFrame) -> DataFrame:
        return (
            frontier.join(e, frontier.end_uid == e._from)
            .filter(~F.array_contains("_eids", F.col("_eid")))
            .select(
                "start_uid",
                F.col("_to").alias("end_uid"),
                F.array_append("node_names", F.col("_fname")).alias("node_names"),
                F.array_append("node_addresses", F.col("_faddr")).alias("node_addresses"),
                F.array_append("edge_offsets", F.col("_off")).alias("edge_offsets"),
                F.array_append("_eids", F.col("_eid")).alias("_eids"),
                (F.col("path_length") + 1).alias("path_length"),
            )
        )

    first = seed_nodes.localCheckpoint(eager=True)
    levels = [ext for _depth, ext in frontier_levels(first, step, max_depth)]
    if not levels:
        return seed_nodes.sparkSession.createDataFrame(
            [],
            "start_uid string, end_uid string, node_names array<string>, "
            "node_addresses array<string>, edge_offsets array<string>, path_length int",
        )
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out.drop("_eids")


def direct_recursion(calls: DataFrame, functions: DataFrame) -> DataFrame:
    """G6: self-loop `(f)-[:CALLS]->(f)` (call_path_analyzer.rs:253-290)."""
    self_loops = calls.filter(F.col("src_uid") == F.col("dst_uid"))
    return (
        self_loops.join(functions, self_loops.src_uid == functions.uid)
        .select("uid", "name", "offset", "call_type")
    )


def indirect_recursion(
    calls: DataFrame,
    seeds: DataFrame,
    *,
    max_depth: int = 10,
) -> DataFrame:
    """G7: cycles `(f)-[:CALLS*2..10]->(f)` → (uid, cycle_length) with the
    reference's hard depth bound (call_path_analyzer.rs:292-331).

    All seeds advance simultaneously as (origin, current) pairs — one
    distinct-pair frame per level instead of per-seed traversals.
    Reports the SHORTEST cycle per origin ≥2 (the reference enumerates
    all cycle paths; we return one row per origin+length — the shape its
    client dedupes to anyway).

    Self-loop edges are EXCLUDED before traversal: the pair iteration
    enumerates closed WALKS, and on a loop-free graph the shortest
    closed walk of length ≥2 through f equals the shortest
    relationship-unique cycle through f (decompose the walk into
    edge-disjoint cycles; one passes through f and is no longer).  With
    loops kept, a self-loop-only node would report a length-2 "cycle"
    (the loop twice) that Neo4j's rel-unique semantics reject — and no
    genuine cycle of length ≥2 ever needs a loop edge (dropping a loop
    from a closed path of length L ≥ 3 leaves a closed path of L-1;
    loop+loop at length 2 repeats the relationship).  Length-1
    recursion is G6's surface (:func:`direct_recursion`).
    """
    edges = (
        _edges(calls, "out")
        .filter(F.col("_from") != F.col("_to"))
        .localCheckpoint(eager=True)
    )
    pairs = seeds.select(
        F.col("uid").alias("origin"), F.col("uid").alias("cur")
    ).localCheckpoint(eager=True)

    def step(pairs: DataFrame) -> DataFrame:
        return (
            pairs.join(edges, pairs.cur == edges._from)
            .select("origin", F.col("_to").alias("cur"))
            .distinct()
        )

    hits: list[DataFrame] = []
    for depth, level in frontier_levels(pairs, step, max_depth):
        if depth >= 2:
            hits.append(
                level.filter(F.col("origin") == F.col("cur")).select(
                    F.col("origin").alias("uid"), F.lit(depth).alias("cycle_length")
                )
            )
    if not hits:
        return calls.sparkSession.createDataFrame([], "uid string, cycle_length int")
    out = hits[0]
    for h in hits[1:]:
        out = out.unionByName(h)
    return out.groupBy("uid").agg(F.min("cycle_length").alias("cycle_length"))


def call_sequences(
    calls: DataFrame,
    functions: DataFrame,
    target_uid_pred,
    *,
    direction: str = "out",
) -> DataFrame:
    """O1/O2: 1-hop edges of a target function ordered by the RAW offset
    string (lexicographic — '0x9' > '0x10'; replicated, not fixed:
    call_path_analyzer.rs:211, session.rs:471-474) with a client-style
    order counter (query.rs:230-247)."""
    from pyspark.sql.window import Window

    here, there = ("src_uid", "dst_uid") if direction == "out" else ("dst_uid", "src_uid")
    tgt = functions.filter(target_uid_pred).select(F.col("uid").alias("_tgt"))
    edges = calls.join(tgt, calls[here] == F.col("_tgt"), "left_semi")
    other = functions.select(F.col("uid").alias("_ouid"), F.col("name").alias("peer_name"))
    w = Window.partitionBy("function_uid").orderBy("offset", "peer_uid")
    return (
        edges.join(other, edges[there] == F.col("_ouid"))
        .select(
            F.col(here).alias("function_uid"),
            F.col(there).alias("peer_uid"),
            "peer_name",
            "offset",
            "call_type",
        )
        .withColumn("order", F.row_number().over(w))
    )
