"""Shared scaffolding for the certified gate harnesses in this package:
one scratch directory per ``(slug, sf_dir)``, the ``orders → functions``
projection most warehouse harnesses commit, and the ``(phase, n,
checksum)`` certificate frame they return."""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def scratch_root(sf_dir: str, slug: str) -> str:
    """``<gettempdir()>/<slug>/<md5(abspath(sf_dir))[:8]>`` as an
    existing, empty directory: removed and recreated on entry.

    A fixed per-``(slug, sf_dir)`` path instead of a fresh ``mkdtemp``
    per invocation (ADVICE r6): a harness's result DataFrame may be
    lazy over its scratch dir, so the dir must outlive the call, and
    clearing it on the next entry bounds the disk footprint at one copy
    per ``(slug, sf_dir)`` however often the gate or bench reruns it.
    A harness that needs several dirs takes subdirectories of this
    one."""
    key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    root = os.path.join(tempfile.gettempdir(), slug, key)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    return root


def function_rows(orders: DataFrame, size: Column | None = None) -> DataFrame:
    """``orders`` as function rows ``(uid, name, address, size long,
    type='Internal')``: uid is the order key, name ``fn_<key>``, and
    ``size`` defaults to the order key itself."""
    key = F.col("o_orderkey").cast("string")
    return orders.select(
        key.alias("uid"),
        F.concat(F.lit("fn_"), key).alias("name"),
        F.lit("").alias("address"),
        (F.col("o_orderkey") if size is None else size).cast("long").alias("size"),
        F.lit("Internal").alias("type"),
    )


def snap(df: DataFrame, col: str = "size") -> tuple[int, int]:
    """``(row count, sum of col)`` in one job; an empty frame is
    ``(0, 0)``."""
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(col).alias("checksum")).collect()[0]
    return int(r["n"]), int(r["checksum"] or 0)


def phase_rows(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """The ``(phase, n, checksum)`` certificate frame, ordered by phase."""
    return spark.createDataFrame(rows, "phase string, n long, checksum long").orderBy(
        "phase"
    )
