"""Physical-layout queries: bucketed co-located joins.

Complements layout_zorder_stats (multi-dimensional clustering for scan
pruning) with the OTHER layout lever a 100 TB warehouse pulls: bucketed
tables for shuffle-free repeated joins.  The registered query proves the
property inside the gate — assert_colocated_join raises if the physical
plan contains any Exchange below the join, so a green CORRECTNESS row
certifies both the values and the plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.bucketing import colocated_priority_revenue
from ..registry import register


@register(
    "layout_bucketed_join",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                    * CAST(round((1-l_discount)*100) AS BIGINT)) AS BIGINT)
             / 10000.0 AS revenue
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("layout", "join", "scale"),
)
def layout_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact⋈fact join via the bucketed-table layout:
    orders and lineitem are materialized once with
    ``bucketBy(8, orderkey).sortBy(orderkey)``; the join then reads
    matching buckets 1:1 — SortMergeJoin with NO Exchange and NO Sort
    on either side (the operator raises if the plan shows one, so this
    gate row certifies the plan property, not just the values).  The
    oracle is the plain relational join — identical output, paying the
    shuffle the layout avoids."""
    return colocated_priority_revenue(spark, sf_dir)


@register(
    "layout_partition_pruning",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
    FROM events
    WHERE date_trunc('day', ts) = DATE '2024-01-15'
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("layout", "scale"),
)
def layout_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third layout lever (after z-order clustering and bucketed
    joins): HIVE-PARTITIONED writes + partition pruning on read — at
    100 TB, a date-partitioned event log turns a one-day query from a
    full scan into a one-directory read, before any row-group or
    predicate pushdown applies.  The query writes the events table
    partitioned by event_date, reads it back filtered to one day, and
    — the bucketed-join pattern — CERTIFIES THE PLAN INSIDE THE GATE:
    it raises unless the scan's ``PartitionFilters`` actually carries
    the date predicate (i.e. pruning reached the file index; an empty
    PartitionFilters would mean Spark scanned every partition and
    filtered rows after the fact).  A green CORRECTNESS row therefore
    pins both the values and the pruning."""
    from pyspark.sql import functions as F

    from ..model import load_table
    from ._harness import scratch_root

    ev = load_table(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    path = scratch_root(sf_dir, "bxg_part_scratch") + "/events_parted"
    ev.write.partitionBy("event_date").mode("overwrite").parquet(path)
    back = spark.read.parquet(path).filter(
        F.col("event_date") == F.to_date(F.lit("2024-01-15"))
    )
    out = (
        back.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .orderBy("event_type")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "PartitionFilters: []" in plan or "PartitionFilters" not in plan:
        raise AssertionError(
            "partition pruning did not reach the scan:\n" + plan[:2000]
        )
    return out
