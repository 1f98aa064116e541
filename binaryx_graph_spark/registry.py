"""Central query registry: name → (spark callable, DuckDB oracle SQL).

Every operator claimed in SURVEY.md §2 registers here; ``__spark_entry__``
exposes the registry to the driver.  A query's Spark side takes
``(spark, sf_dir)`` and returns a DataFrame; the oracle side is ANSI SQL
DuckDB runs on the same parquet tables (views pre-registered by the driver:
region nation customer supplier part orders lineitem events documents
embeddings).

Rules enforced by convention here (see tools/check_oracle.py):
- every computed column is aliased identically on both sides;
- floating-point aggregates are rounded to a fixed number of decimals on
  both sides so double summation-order noise cannot flip the value hash;
- any LIMIT carries a total deterministic ORDER BY (tie-broken on a key).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: SparkQuery
    oracle: str | None  # None → driver runs weaker rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""
    #: Non-empty ⇒ the query INTENTIONALLY contains a cartesian/BNLJ the
    #: plan audit cannot bound structurally (e.g. an unanchored OPTIONAL
    #: MATCH — Cypher's optional cartesian, unbounded by semantics).  The
    #: auditor reports `acknowledged cartesian: <reason>` instead of a
    #: flag — visible in PLANS.md, never silent, and the ONLY exemption
    #: channel (no name lists in the auditor).
    expects_cartesian: str = ""


REGISTRY: dict[str, Query] = {}

def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    expects_cartesian: str = "",
):
    """Decorator: add a query to the registry."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(
            name=name,
            fn=fn,
            oracle=oracle,
            tags=tags,
            doc=fn.__doc__ or "",
            expects_cartesian=expects_cartesian,
        )
        return fn

    return deco


def load_all() -> dict[str, Query]:
    """Import every query-defining module (side effect: registration)."""
    from .queries import (  # noqa: F401
        analytics_ext,
        cypher_queries,
        cypher_write_queries,
        graph,
        ingest_demo,
        ingest_scaled,
        layout_ext,
        north_star,
        pipeline_demo,
        pipeline_ext,
        relational,
        scalars,
        search,
        sql_surface,
        tpch_ext,
    )

    # Reorder so never-witnessed queries iterate first, each group in
    # registration order.  SELF-ROTATING: the set of already-green names
    # is read from the repo's own CORRECTNESS_r*.json artifacts (the
    # driver samples the first 50 queries in registry iteration order
    # and writes one artifact per round), so each round's sample
    # automatically lands on queries no prior round has hash-verified —
    # no manual rotation step.  Names, signatures and oracle strings
    # stay byte-stable; only dict ordering changes.
    green = _witnessed_green()
    ordered = {n: q for n, q in REGISTRY.items() if n not in green}
    ordered.update((n, q) for n, q in REGISTRY.items() if n in green)
    REGISTRY.clear()
    REGISTRY.update(ordered)
    return REGISTRY


def oracle_fingerprint(oracle: str | None) -> str:
    """Stable fingerprint of a query's oracle SQL (the semantic identity
    the witness ledger keys on).  ``None`` oracles hash a sentinel."""
    import hashlib

    return hashlib.sha256((oracle or "\x00no_oracle").encode()).hexdigest()[:16]


def _witnessed_green() -> set[str]:
    """Names with a fully-green (rows+schema+hash) row in ANY prior
    round's driver correctness artifact WHOSE ORACLE IS UNCHANGED since
    that witnessing.  Rows-only rows (err == 'no_oracle') do NOT count.

    The oracle check reads tools/witness_fps.json — a checked-in ledger
    mapping name → sha256-prefix of the oracle string at witness time
    (tools/update_witness_fps.py appends newly-green names each round,
    run BEFORE any oracle edits).  A query whose oracle has since been
    edited no longer matches its recorded fingerprint, so it re-floats
    to the sampled head for fresh driver witnessing — prior green rows
    cannot vouch for semantics they never tested.  A green name missing
    from the ledger entirely also re-floats (fail-closed)."""
    import glob
    import json

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        with open(os.path.join(repo, "tools", "witness_fps.json")) as f:
            fps: dict[str, str] = json.load(f)
    except Exception:
        fps = {}
    seen: set[str] = set()
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as f:
                rows = json.load(f)
        except Exception:
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            ):
                q = REGISTRY.get(name)
                if q is not None and fps.get(name) == oracle_fingerprint(q.oracle):
                    seen.add(name)
    return seen
