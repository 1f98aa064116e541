"""Scale-factor-proportional ingest gate: the full E1-E12 ETL over the
synthesized analysis corpus (plans/corpus_project.py), with oracles
recomputing expected graph tables straight from the raw relational data.

At sf0.01 this ingests 1,500 binaries / 15,000 functions; at sf0.1 it is
10× that — the ETL's scaling surface (explode, from_json, address-map
broadcast join, MERGE dedup windows) is exercised proportionally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ingest import build_graph_tables
from ..plans.corpus_project import scaled_analysis_docs
from ..registry import register

_CACHE: dict[str, dict[str, DataFrame]] = {}


def _tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    key = f"{id(spark)}:{sf_dir}"
    if key not in _CACHE:
        docs = scaled_analysis_docs(spark, sf_dir)
        with build_graph_tables(docs) as tables:
            _CACHE[key] = {k: v.localCheckpoint(eager=True) for k, v in tables.items()}
    return _CACHE[key]


@register(
    "ingest_scaled_counts",
    oracle="""
    SELECT
      (SELECT count(DISTINCT o_custkey) FROM orders) AS n_binaries,
      (SELECT count(*) FROM orders)   AS n_functions,
      (SELECT count(*) FROM orders)
        - (SELECT count(DISTINCT o_custkey) FROM orders) AS n_calls
    """,
    tags=("ingest", "headline"),
)
def ingest_scaled_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-ETL cardinalities at scale: one binary per ORDERING customer
    (a customer with no orders produces no document — caught by running
    this at sf0.1 where exactly one such customer exists), one function
    per order, one call per consecutive order pair — every call resolves
    through the address map (zero skips)."""
    t = _tables(spark, sf_dir)
    row = (
        t["binaries"].count(),
        t["functions"].count(),
        t["calls"].count(),
    )
    return spark.createDataFrame(
        [row], "n_binaries long, n_functions long, n_calls long"
    )


@register(
    "ingest_scaled_function_sample",
    oracle="""
    SELECT sha256(c_name) || ':0x' || lower(to_hex(o_orderkey)) AS uid,
           'fn_' || CAST(o_orderkey AS VARCHAR) AS name,
           '0x' || lower(to_hex(o_orderkey)) AS address,
           CAST(round(o_totalprice * 100) AS BIGINT) AS size
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderkey % 97 = 13
    ORDER BY uid
    """,
    tags=("ingest",),
)
def ingest_scaled_function_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level ETL fidelity at scale: sampled function nodes must carry
    the exact uid/name/address/size derived independently by the oracle
    from the raw orders."""
    t = _tables(spark, sf_dir)
    fns = t["functions"]
    # sample on the numeric order key embedded in the name
    okey = F.regexp_replace("name", "^fn_", "").cast("long")
    return (
        fns.withColumn("_k", okey)
        .filter(F.col("_k") % 97 == 13)
        .select("uid", "name", "address", "size")
        .orderBy("uid")
    )
