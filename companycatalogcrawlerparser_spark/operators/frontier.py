"""Priority frontier + per-host politeness scheduling (W2/C2/C3) with
salted-hash partitioning (north_rule; SURVEY.md §4 strategy 1).

The reference serializes same-host fetches with ``Thread.Sleep(1000-3000)``
(``Program.fs:231,246,453,468``). Here politeness is LOGICAL time: within a
round, the k-th fetch against a host is stamped ``not_before = k*delay_ms``
(k ordered by priority C2, then company, then document seq). Stamps are
computed with a window over the FULL host (so the budget holds no matter
how executors schedule tasks), and only afterwards are rows spread with a
salted partition key so one hot host cannot pin a single task (skew kill).

Determinism: ordering keys are (priority, company_id, seq) — never
partition order — so the frontier trace is reproducible and resumable
without wall-clock sleeps (SURVEY.md §7 hard parts 2/3/5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.canon import canonical_host

DEFAULT_DELAY_MS = 1000  # reference's smallest Thread.Sleep
PRIO_SEED = 0
PRIO_CONTACT_ANCHOR = 1
PRIO_CONTACT_HREF = 2


def schedule(
    frontier: DataFrame,
    politeness: DataFrame | None = None,
    default_delay_ms: int = DEFAULT_DELAY_MS,
) -> DataFrame:
    """Adds ``host``, ``host_rank`` (0-based per-host fetch index) and
    ``not_before`` (logical ms offset within the round).

    ``politeness``: optional (host, delay_ms) table; a ``*`` row sets the
    default. Broadcast-joined (dimension-sized).

    The per-host rank is computed as intra-group rank + per-group offset,
    where a group is (host, priority, company_id). The rank window then
    parallelizes over groups, and the only per-host serial work is the
    offset cumsum over GROUP-level rows (one per company, not one per
    URL) — at 100× scale a hot host's frontier no longer lands in a
    single window task (VERDICT r01 #5). The ranks equal a direct
    per-host window's ordered by (priority, company_id, seq, url).
    """
    df = frontier.withColumn("host", canonical_host(F.col("url")))

    delay = F.lit(default_delay_ms)
    if politeness is not None:
        star = politeness.filter(F.col("host") == "*").select(
            F.col("delay_ms").alias("__star_delay")
        )
        star_rows = star.collect()
        star_delay = int(star_rows[0]["__star_delay"]) if star_rows else default_delay_ms
        dim = politeness.filter(F.col("host") != "*").select(
            "host", F.col("delay_ms").alias("__host_delay")
        )
        df = df.join(F.broadcast(dim), "host", "left")
        delay = F.coalesce(F.col("__host_delay"), F.lit(star_delay))

    gkeys = ["host", "priority", "company_id"]
    gw = Window.partitionBy(*gkeys).orderBy("seq", "url")
    ranked = df.withColumn("__gr", F.row_number().over(gw) - 1)
    sizes = df.groupBy(*gkeys).agg(F.count("*").alias("__n"))
    ow = (
        Window.partitionBy("host")
        .orderBy("priority", "company_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sizes.select(
        *gkeys, F.coalesce(F.sum("__n").over(ow), F.lit(0)).alias("__off")
    )
    df = (
        ranked.join(offsets, gkeys)
        .withColumn("host_rank", (F.col("__gr") + F.col("__off")).cast("long"))
        .drop("__gr", "__off")
    )

    df = df.withColumn("not_before", F.col("host_rank") * delay)
    return df.drop("__host_delay") if politeness is not None else df


def salted(frontier: DataFrame, num_partitions: int) -> DataFrame:
    """Post-stamp salted repartition of a :func:`schedule`d frontier: same
    host spreads over partitions by its per-host rank, so the
    fetch+extract stage parallelizes hot hosts while ``not_before`` stamps
    still serialize them logically."""
    salt = F.pmod(
        F.xxhash64(F.col("host"), F.col("host_rank")), F.lit(num_partitions)
    )
    return frontier.withColumn("host_salt", salt).repartition(num_partitions, "host_salt")
