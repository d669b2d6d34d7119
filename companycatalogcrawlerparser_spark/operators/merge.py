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

from ..session import local_frame

# up to this many bytes of rows assign_dense_ids builds the id map
# driver-side (one collect + sort) instead of the range-partition +
# local-rank + offsets machinery — the size-gated discipline of
# sources/pages.py DRIVER_CLOSURE_MAX_BYTES. Gated on bytes, not rows: the
# collect holds whole rows, and a few wide ones cost as much driver memory
# as many narrow ones. The distributed path runs unchanged above the gate
# (the 10^10 design).
IDS_DRIVER_MAX_BYTES = 4 << 20


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
    """Dense ids ``1..n`` ordered by ``order_col`` — the
    semantics of ``row_number() OVER (ORDER BY order_col)`` WITHOUT the
    empty-partition window that funnels every row through one task
    (VERDICT/ADVICE r01: a scale-killer at the 10^10 design point).

    Three distributed steps: range-partition by the order column (each
    partition owns a contiguous key range), rank within each partition in
    parallel, then add per-partition offsets computed from the tiny
    (n_partitions-row) count vector collected to the driver — a control
    aggregate, not data. The ids are identical to the global window's for
    any partitioning, so determinism survives recomputation; the persist
    pins the sampled range boundaries between the count pass and the rank
    pass. ``order_col`` values must be unique (callers pass a distinct
    key column)."""
    from pyspark.sql.types import BinaryType, StringType
    from pyspark.storagelevel import StorageLevel

    spark = df.sparkSession
    d = df.persist(StorageLevel.MEMORY_AND_DISK)
    # bytes a collect would hold: string/binary values at their length,
    # 8 for any other value (the id included)
    row_bytes = F.lit(8)
    for f in df.schema:
        if isinstance(f.dataType, (StringType, BinaryType)):
            row_bytes += F.coalesce(F.octet_length(F.col(f"`{f.name}`")), F.lit(0))
        else:
            row_bytes += 8
    n_bytes = d.agg(F.sum(row_bytes)).first()[0] or 0
    if n_bytes <= IDS_DRIVER_MAX_BYTES:
        # size-gated driver path (r8 — the redirect-closure /
        # CC_DRIVER_MAX_EDGES discipline): below the gate the range
        # sampler + per-partition rank + offset machinery is three jobs
        # of stage overhead over a control-sized key set. Python's str
        # ordering equals Spark's UTF8 binary ordering (UTF-8 bytewise
        # comparison preserves code-point order), so the ids are
        # identical to the distributed path's; NULLS FIRST mirrors the
        # ascending window. The result is driver-literal data — stable
        # under recomputation with no checkpoint needed.
        rows = d.collect()
        d.unpersist()
        rows.sort(key=lambda r: (r[order_col] is not None, r[order_col]))
        from pyspark.sql.types import LongType, StructField, StructType

        schema = StructType(
            list(df.schema.fields) + [StructField(id_col, LongType())]
        )
        return local_frame(
            spark, [tuple(r) + (i + 1,) for i, r in enumerate(rows)], schema
        )
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ranged = (
        d.repartitionByRange(n_part, F.col(order_col))
        .withColumn("__pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = {
        int(r["__pid"]): r["n"]
        for r in ranged.groupBy("__pid").agg(F.count("*").alias("n")).collect()
    }
    acc = 0
    offsets = []
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    offsets_df = local_frame(spark, offsets, "__pid int, __off long")
    w = Window.partitionBy("__pid").orderBy(order_col)
    out = (
        ranged.join(F.broadcast(offsets_df), "__pid")
        .withColumn(id_col, (F.row_number().over(w) + F.col("__off")).cast("long"))
        .drop("__pid", "__off")
    )
    # materialize the ids NOW (eager checkpoint), then release the pinned
    # range partitioning. The checkpoint also makes the ids immune to
    # recomputation-with-different-boundaries.
    out = out.localCheckpoint(eager=True)
    ranged.unpersist()
    d.unpersist()
    return out


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
