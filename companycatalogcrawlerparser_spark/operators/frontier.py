"""Priority frontier + per-host politeness scheduling (W2/C2/C3).

The reference serializes same-host fetches with ``Thread.Sleep(1000-3000)``
(``Program.fs:231,246,453,468``). Here politeness is LOGICAL time: within a
round, the k-th fetch against a host is stamped ``not_before = k*delay_ms``
(k ordered by priority C2, then company, then document seq). Stamps are
computed with one window over the FULL host, so the budget holds no matter
how executors schedule tasks; the crawl fetches the stamped frontier as it
is (the fetch join broadcasts it and streams the corpus scan, whose file
splits set the fetch stage's tasks).

Determinism: ordering keys are (priority, company_id, seq, url) — never
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

    The rank is one ``row_number()`` per host ordered by (priority,
    company_id, seq, url), so a hot host's rows rank in one task. Ranking
    within (host, priority, company_id) groups first and offsetting by the
    group sizes would split that work by less than the extra shuffles
    cost: on the benchmark's crawl the hot host's 388 round-0 rows are 388
    groups (one row per company) and its 337 round-1 rows 227 groups.
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

    w = Window.partitionBy("host").orderBy("priority", "company_id", "seq", "url")
    df = df.withColumn("host_rank", (F.row_number().over(w) - 1).cast("long"))
    df = df.withColumn("not_before", F.col("host_rank") * delay)
    return df.drop("__host_delay") if politeness is not None else df


def salted(frontier: DataFrame, num_partitions: int) -> DataFrame:
    """Salted repartition of a :func:`schedule`d frontier by (host,
    host_rank). The crawl does not call it: its fetch join broadcasts the
    frontier, so the repartition spreads no fetch work. It stays only
    because the benchmark's frontier replay calls it."""
    salt = F.pmod(
        F.xxhash64(F.col("host"), F.col("host_rank")), F.lit(num_partitions)
    )
    return frontier.withColumn("host_salt", salt).repartition(num_partitions, "host_salt")
