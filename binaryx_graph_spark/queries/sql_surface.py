"""SQL-surface gate rows (r12 judge directive #2): `Engine.sql` over
warehouse-backed session views, SQL time travel, and the change feed
as a relation.  Unlike most certified gates these return the SQL
lane's OWN result frame (not literal phase rows), so the per-round
plan audit (PLANS.md) records the actual SQL plan — proving the SQL
lane inherits the DataFrame lane's manifest-resolved pruned scans
rather than getting a private second planner.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ._harness import function_rows, scratch_root


def _scratch_wh(spark, sf_dir, slug):
    from ..model import load_table
    from ..sources.warehouse import Warehouse

    df = function_rows(load_table(spark, sf_dir, "orders"))
    wh = Warehouse(spark, scratch_root(sf_dir, slug))
    wh.merge_batch_incremental({"functions": df}, n_buckets=16)
    return wh, df


def _assert_frames_equal(a: DataFrame, b: DataFrame, what: str) -> None:
    diff = a.exceptAll(b).unionAll(b.exceptAll(a)).count()
    if diff != 0:
        raise AssertionError(f"{what}: SQL and DataFrame lanes differ by {diff} rows")


@register(
    "sql_time_travel_certified",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, CAST(o_orderkey AS BIGINT) AS size FROM orders
    ),
    live AS (
      SELECT k, CASE WHEN k % 7 = 0 THEN size + 1000000 ELSE size END AS size
      FROM base WHERE k % 3 <> 0
    )
    SELECT * FROM (
      SELECT '1_live' AS phase, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(size) AS BIGINT) AS checksum
      FROM live
      UNION ALL
      SELECT '2_v1', CAST(count(*) AS BIGINT), CAST(sum(size) AS BIGINT)
      FROM base
      UNION ALL
      SELECT '3_deleted_keys', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT)
      FROM base WHERE k % 3 = 0
      UNION ALL
      SELECT '4_ts_equals_v1', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT)
      FROM base
    ) t ORDER BY phase
    """,
    tags=("warehouse", "sql", "scale"),
)
def sql_time_travel_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL TIME TRAVEL (`sqlapi.run_sql` / `Engine.sql`): warehouse
    tables as session views plus ``table@vN`` / ``table@tsT`` pins
    rewritten onto :meth:`Warehouse.read` — ``VERSION AS OF`` /
    ``TIMESTAMP AS OF`` with Delta's ``@`` spelling.  One statement can
    join ACROSS pins (the live head anti-joined to ``@v1`` below lists
    exactly the deleted keys).

    At data scale: seed from `orders` (v1), a MOR update (ids ≡0
    mod 7) and a MOR delete (ids ≡0 mod 3), then the gate RAISES
    unless every SQL phase is row-identical to its DataFrame-lane twin
    (`read(version=)` / `read(timestamp=)`), and returns the SQL
    lane's OWN union frame — the plan audit sees the real SQL plan,
    proving the views inherit the manifest-resolved pruned scan (no
    second planner).  Phases replay in DuckDB from `orders`."""
    from ..sqlapi import run_sql

    wh, df = _scratch_wh(spark, sf_dir, "bxg_sqltt_scratch")
    v1 = wh.versions("functions")[-1]
    ts1 = wh._manifest("functions", v1)["committed_at"]
    wh.merge_into(
        "functions",
        df.filter(F.col("size") % 7 == 0).select(
            "uid", (F.col("size") + 1_000_000).alias("new_size")
        ),
        when_matched_update={"size": F.col("s.new_size")},
        when_not_matched_insert=False,
    )
    wh.merge_into(
        "functions",
        df.filter(F.col("size") % 3 == 0).select("uid"),
        when_matched_delete=True,
        when_not_matched_insert=False,
    )

    # each phase's DataFrame-lane twin, asserted row-identical
    _assert_frames_equal(
        run_sql(spark, wh, "SELECT uid, size FROM functions"),
        wh.read("functions").select("uid", "size"),
        "live view",
    )
    _assert_frames_equal(
        run_sql(spark, wh, f"SELECT uid, size FROM functions@v{v1}"),
        wh.read("functions", version=v1).select("uid", "size"),
        "version pin",
    )
    _assert_frames_equal(
        run_sql(spark, wh, f"SELECT uid, size FROM functions@ts{ts1}"),
        wh.read("functions", timestamp=ts1).select("uid", "size"),
        "timestamp pin",
    )

    return run_sql(
        spark,
        wh,
        f"""
        SELECT * FROM (
          SELECT '1_live' AS phase, count(*) AS n,
                 sum(size) AS checksum
          FROM functions
          UNION ALL
          SELECT '2_v1', count(*), sum(size) FROM functions@v{v1}
          UNION ALL
          SELECT '3_deleted_keys', count(*), CAST(0 AS BIGINT)
          FROM functions@v{v1} a LEFT ANTI JOIN functions b ON a.uid = b.uid
          UNION ALL
          SELECT '4_ts_equals_v1', count(*), CAST(0 AS BIGINT)
          FROM functions@ts{ts1}
        ) t ORDER BY phase
        """,
    )


@register(
    "sql_changes_certified",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, CAST(o_orderkey AS BIGINT) AS size FROM orders
    )
    SELECT * FROM (
      SELECT 'delete' AS _change, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(size) AS BIGINT) AS checksum
      FROM base WHERE k % 5 = 1
      UNION ALL
      SELECT 'insert', CAST(count(*) AS BIGINT), CAST(0 AS BIGINT)
      FROM base WHERE k % 11 = 0
      UNION ALL
      SELECT 'update_preimage', CAST(count(*) AS BIGINT),
             CAST(sum(size) AS BIGINT)
      FROM base WHERE k % 5 = 0
      UNION ALL
      SELECT 'update_postimage', CAST(count(*) AS BIGINT),
             CAST(sum(size + 1000000) AS BIGINT)
      FROM base WHERE k % 5 = 0
    ) t ORDER BY _change
    """,
    tags=("warehouse", "sql", "streaming", "scale"),
)
def sql_changes_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CHANGE FEED AS A SQL RELATION (`sqlapi.run_sql`):
    ``bxg_changes(table, from[, to[, images]])`` — Delta's
    ``table_changes`` TVF shape — rewrites to a view over
    :meth:`Warehouse.read_changes`, the same O(changed buckets)
    manifest-diff plan the DataFrame lane gets (untouched buckets
    never open, image linking is one window over the CHANGE SET).

    At data scale: seed from `orders`, then one three-arm MOR MERGE
    (updates ≡0 mod 5, deletes ≡1 mod 5, x-prefixed inserts ≡0
    mod 11); the gate RAISES unless the SQL relation is row-identical
    to the DataFrame lane's `read_changes(update_images=True)`, and
    returns the SQL lane's own per-label aggregate frame (real plan in
    the audit).  All four label populations replay in DuckDB from
    `orders`."""
    from ..sqlapi import run_sql

    wh, df = _scratch_wh(spark, sf_dir, "bxg_sqlcdf_scratch")
    v1 = wh.versions("functions")[-1]
    # the union carries `size` so the INSERT arm writes a real value
    # (target columns the source lacks become NULL)
    upd = df.filter(F.col("size") % 5 == 0).select(
        "uid", (F.col("size") + 1_000_000).alias("new_size"),
        F.lit(None).cast("long").alias("size"),
    )
    dele = df.filter(F.col("size") % 5 == 1).select(
        "uid", F.lit(-1).cast("long").alias("new_size"),
        F.lit(None).cast("long").alias("size"),
    )
    ins = df.filter(F.col("size") % 11 == 0).select(
        F.concat(F.lit("x"), F.col("uid")).alias("uid"),
        F.lit(0).cast("long").alias("new_size"),
        F.lit(0).cast("long").alias("size"),
    )
    wh.merge_into(
        "functions",
        upd.unionByName(dele).unionByName(ins),
        when_matched_update={"size": F.col("s.new_size")},
        when_matched_condition=F.col("s.new_size") >= 0,
        when_matched_delete=F.col("s.new_size") < 0,
        when_not_matched_insert=True,
    )
    v2 = wh.versions("functions")[-1]

    sql_rel = run_sql(
        spark, wh,
        f"SELECT uid, size, _change FROM bxg_changes(functions, {v1}, {v2}, images)",
    )
    df_rel = wh.read_changes(
        "functions", v1, v2, update_images=True
    ).select("uid", "size", "_change")
    _assert_frames_equal(sql_rel, df_rel, "change relation")

    return run_sql(
        spark, wh,
        f"""
        SELECT _change, count(*) AS n, sum(size) AS checksum
        FROM bxg_changes(functions, {v1}, {v2}, images)
        GROUP BY _change ORDER BY _change
        """,
    )


@register(
    "sql_history_certified",
    oracle="""
    SELECT 'manifest' AS kind, CAST(3 AS BIGINT) AS n,
           CAST(3 AS BIGINT) AS checksum
    """,
    tags=("warehouse", "sql"),
)
def sql_history_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY as a SQL relation (`sqlapi.run_sql`):
    ``bxg_history(table)`` binds a view over :meth:`Warehouse.history`
    — one row per committed version, built from the manifest ledger
    (O(versions) driver-side, file sizes from the manifest's byte map,
    never a filesystem LIST storm).

    At data scale: seed from `orders` (v1), a MOR delete (v2), a MOR
    update (v3); the gate RAISES unless the SQL relation is
    row-identical to the `history()` lane (version/kind/n_files) and
    versions are contiguous (seed adopts as v0), then returns the
    per-kind rollup — 3 manifest versions, version-sum 0+1+2=3 —
    which replays in DuckDB as a constant (the CONTENT of history is deterministic; file BYTES are
    encoder-dependent, so the oracle pins structure, the in-gate raise
    pins lane equality)."""
    from ..sqlapi import run_sql

    wh, df = _scratch_wh(spark, sf_dir, "bxg_sqlhist_scratch")
    wh.merge_into(
        "functions",
        df.filter(F.col("size") % 3 == 0).select("uid"),
        when_matched_delete=True,
        when_not_matched_insert=False,
    )
    wh.merge_into(
        "functions",
        df.filter(F.col("size") % 7 == 0).select(
            "uid", (F.col("size") + 1_000_000).alias("new_size")
        ),
        when_matched_update={"size": F.col("s.new_size")},
        when_not_matched_insert=False,
    )

    got = sorted(
        (r["version"], r["kind"], r["n_files"])
        for r in run_sql(
            spark, wh,
            "SELECT version, kind, n_files FROM bxg_history(functions)",
        ).collect()
    )
    want = sorted(
        (int(h["version"]), h["kind"], int(h["n_files"]))
        for h in wh.history("functions")
    )
    if got != want:
        raise AssertionError(f"SQL history diverges: {got} vs {want}")
    first = got[0][0]
    if [v for v, _, _ in got] != list(range(first, first + len(got))):
        raise AssertionError(f"versions not contiguous: {got}")

    return run_sql(
        spark, wh,
        "SELECT kind, count(*) AS n, sum(version) AS checksum "
        "FROM bxg_history(functions) GROUP BY kind ORDER BY kind",
    )
