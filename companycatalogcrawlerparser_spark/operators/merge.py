"""Upsert/MERGE operators (K1-K8 in SURVEY.md §2.1).

On Iceberg these are single ``MERGE INTO`` statements (documented per
function); on plain parquet snapshots we express the same semantics as
anti-join + union, committed atomically through the snapshot store. All
joins here are key-equi joins that Catalyst broadcasts when the new-rows
side is small (the usual case for per-batch merges).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import global_index, local_frame


def insert_if_absent(
    existing: DataFrame, new: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """K1/K2/K4 — ``MERGE INTO t USING s ON <keys> WHEN NOT MATCHED THEN
    INSERT`` (``DbAccess.fs:20-41,43-66,69-95``). The source is deduped on
    the key first (the reference's per-row contains-check implies it)."""
    w = Window.partitionBy(*keys).orderBy(*new.columns)
    deduped = (
        new.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    fresh = deduped.join(existing.select(*keys).distinct(), list(keys), "left_anti")
    return existing.unionByName(fresh, allowMissingColumns=True)


def assign_dense_ids(df: DataFrame, order_col: str, id_col: str) -> DataFrame:
    """Dense ids ``1..n`` ordered by ``order_col`` — the semantics of
    ``row_number() OVER (ORDER BY order_col)`` without the
    empty-partition window that funnels every row through one task
    (VERDICT/ADVICE r01: a scale-killer at the 10^10 design point).

    The ids are :func:`..session.global_index` + 1: one range shuffle
    and Spark's distributed sequence id, NULLs first. ``order_col``
    values must be unique (callers pass a distinct key column), which
    makes the ids identical under any partitioning and on
    recomputation."""
    return global_index(df, [order_col], id_col).withColumn(id_col, F.col(id_col) + 1)


def high_water_mark(state: DataFrame, name_col: str, name: str) -> int:
    """K7/S5 — mailer resume watermark read
    (``ConsoleAppMailer/DbAccess.fs:47-60``)."""
    row = state.filter(F.col(name_col) == name).select(F.max("last_id").alias("m")).first()
    return int(row["m"]) if row and row["m"] is not None else 0


def set_high_water_mark(
    state: DataFrame, spark, name_col: str, name: str, value: int
) -> DataFrame:
    """K7 — upsert the (file, last_id) row (``ConsoleAppMailer/DbAccess.fs:25-45``)."""
    new = local_frame(spark, [(name, value)], f"{name_col} string, last_id long")
    kept = state.filter(F.col(name_col) != name)
    return kept.unionByName(new)
