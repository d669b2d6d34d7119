"""SparkSession factory tuned for the crawl engine.

Local-mode defaults match the sandbox (local[N], single JVM); the same
settings minus master/driver-memory are what we'd ship to a real cluster
via spark-submit. AQE stays on everywhere: it handles skew-join splitting
for the fetch join and post-shuffle coalescing for small rounds.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY``, else 3/8 of physical memory (``MemTotal``).

    In local mode the driver JVM holds every executor's heap, and the
    Python workers need the rest of RAM beside it: a 48g heap on a 15 GiB
    host grew the JVM past physical memory and the kernel killed it. 3/8
    gives ~5.75g there, and the 48g this engine was tuned with on a
    128 GiB host."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    with open("/proc/meminfo") as fh:
        total_kb = int(re.search(r"MemTotal:\s+(\d+)", fh.read()).group(1))
    return f"{max(1024, total_kb * 3 // 8 // 1024 // 256 * 256)}m"


def get_spark(
    app_name: str = "ccc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # local[N]: shuffle partitions sized to cores, not the 200 default —
    # at cluster scale this is set to ~2-3x total executor cores instead.
    if shuffle_partitions is None:
        n = master[master.index("[") + 1 : master.index("]")] if "[" in master else "32"
        shuffle_partitions = cpus if n == "*" else int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # post-shuffle coalescing at the default 64 MB advisory collapsed
        # regex-heavy window stages to half the cores; 16 MB keeps CPU-bound
        # stages wide while still batching tiny rounds
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        # NB input-split sizing for the heavy corpus scan is tuned at
        # runtime by plans.crawl (html compresses ~30:1, so the 128 MB
        # default can starve the scan+extract stage of tasks) — the
        # session keeps Spark's defaults so small auxiliary scans don't
        # fragment into per-file tasks
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # pages are heavy rows (10-100 KB html each): the default 10k-row
        # Arrow batch would put GBs in every Python worker — cap it so a
        # batch stays ~tens of MB
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.sql.session.timeZone", "UTC")
        # with this on, every Column and function call captures its Python
        # call site and sends it to the JVM (about six py4j round trips
        # each), which is most of the cost of building the crawl's plans;
        # errors lose only the Python line of their DataFrame context
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", _driver_memory())
        # regex extraction allocates transient String copies of each page;
        # ParallelGC handles that allocation profile at least as well as G1
        # in the local-mode shared heap (measured: within run noise either
        # way — the sandbox's sys/steal overhead dominates, see
        # BENCH/BASELINE.md controls)
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GC_OPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # degraded-host resilience: under heavy sys/steal contention the
        # default 10s executor heartbeat can miss the 120s network-timeout
        # window even in local mode, and the app kills itself mid-stage
        # (observed on the sandbox VM: ~40-min XL legs dying inside a
        # TableCacheQueryStage with the shutdown hook's blockmgr cleanup
        # racing still-running tasks — temp_shuffle ENOENT). There is no
        # real network in local mode, and on a cluster these are the same
        # values we'd run on preemptible fleets: nothing legitimate
        # expires in 600s that 120s would have caught.
        .config("spark.executor.heartbeatInterval", "60s")
        .config("spark.network.timeout", "600s")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def global_index(df: DataFrame, keys: list, col: str) -> DataFrame:
    """``df`` sorted by ``keys`` with ``col`` = the row's 0-based position
    in that order: ``row_number() OVER (ORDER BY keys) - 1`` without the
    window's single partition.

    The sort range-partitions the rows, and Spark's
    ``distributed_sequence_id`` (the ``AttachDistributedSequence`` node
    behind pandas-on-Spark's default index) numbers each partition from
    the sizes of the ones before it. On unique keys a row's position is
    the number of smaller keys, so it is the same under any partitioning
    and on every recomputation; within a tie the order is arbitrary.
    NULLs sort first, as in the ascending window."""
    from pyspark.sql.internal import InternalFunction

    return df.orderBy(*keys).withColumn(col, InternalFunction.distributed_sequence_id())


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A frame of driver-side rows (tuples, in ``schema`` column order).

    Built through a ``pyarrow.Table`` so the plan is a ``LocalTableScan``
    the JVM evaluates alone. ``createDataFrame(list)`` gives a
    ``Scan ExistingRDD`` over a pickled PythonRDD instead, and every
    evaluation of that frame runs a Python worker pass."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if not isinstance(schema, StructType):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
