"""Link-graph quality metrics for the crawl corpus.

The reference stops at per-page extraction (its DB has no link table —
``DbAccess.fs`` stores companies/emails only); a 100 TB training-data
pipeline additionally scores hosts/pages by link-graph centrality to
weight or filter the corpus (the classic crawl-quality signal). This
module provides PageRank as a pure DataFrame power iteration.

Scale notes (the reason this is NOT MLlib/GraphFrames):
- every iteration is exactly two shuffles — one join of ranks onto the
  edge list keyed by source, one ``groupBy(dst)`` of the contributions —
  so cost is O(iters * |E|) with no driver-side state and no cartesian;
- the edge list and out-degrees are bound ONCE (eager localCheckpoint)
  and reused every round, and each round's rank frame is checkpointed —
  iterative self-joins otherwise stack an exponentially deepening
  lineage (same discipline as :func:`dedup.connected_components` and the
  crawl's frontier loop);
- arithmetic is FIXED-POINT INTEGER (rank scaled by ``scale``, damping
  applied as ``(rank * d_num) div (d_den * outdeg)``): sums of longs are
  associative/commutative, so the result is bit-identical regardless of
  partitioning, core count, or aggregation order — float PageRank
  differs in the last ulp between any two plans, which would make
  cross-engine and cross-run hash verification impossible. The quantum
  (1/scale) bounds the error per edge per round; rank_q fits int64 up to
  in-neighbour mass ~9e12 * scale, far beyond any web graph's max
  in-degree share.

Semantics: the un-normalized "citation rank" recurrence
``r(v) = (1-d) + d * sum_{u->v} r(u)/outdeg(u)`` over DISTINCT edges,
self-loops included verbatim, dangling-node mass dropped (the standard
simple formulation; redistribution variants change only the constant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame

__all__ = ["pagerank"]

# below this DISTINCT edge count the power iteration runs driver-side on
# the collected (u, v, deg) rows — see the in-function note; above it the
# distributed two-shuffle-per-round iteration runs unchanged. 500k edge
# rows ≈ 12 MB collected — control-aggregate-sized.
PR_DRIVER_MAX_EDGES = 500_000


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping_num: int = 85,
    damping_den: int = 100,
    scale: int = 10**6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, rank_q) for every node appearing in ``edges``.

    ``rank_q`` is the fixed-point rank scaled by ``scale`` (divide by
    ``scale`` for the conventional value; iteration 0 starts every node
    at 1.0 = ``scale``). ``iters`` is intentionally explicit and small:
    crawl-quality weighting uses a handful of power rounds, and an
    unrolled-SQL oracle can mirror any fixed ``iters`` exactly.
    """
    if iters < 0:
        raise ValueError("iters must be >= 0")
    ed = edges.select(
        F.col(src).cast("long").alias("u"),
        F.col(dst).cast("long").alias("v"),
    ).distinct()
    # out-degree is attached to the edge rows ONCE (r8): the iteration
    # below then needs a single join per round instead of rank+outdeg —
    # and one eager checkpoint materializes distinct+degree together
    # (was: two separate checkpoint jobs for e and outdeg, plus an extra
    # join every round). groupBy+join, not a count window: a window
    # partitioned by u would buffer a hub node's whole out-edge list in
    # one task; the aggregate is map-side combinable and the join
    # AQE-skew-splittable.
    deg = ed.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    e = ed.join(deg, "u").localCheckpoint(eager=True)
    base = scale * (damping_den - damping_num) // damping_den
    n_edges = e.count()  # cheap: counts the checkpointed blocks
    if n_edges <= PR_DRIVER_MAX_EDGES:
        # size-gated driver path (the dedup.CC_DRIVER_MAX_EDGES /
        # redirect-closure discipline): the arithmetic is fixed-point
        # INTEGER, so the Python loop reproduces the distributed result
        # bit-for-bit (`div` on positive longs == `//`; long sums are
        # exact and order-free). Each distributed power round costs a
        # join + aggregate + checkpoint of pure stage overhead that a
        # thousand-node graph never earns back.
        rows = [(r["u"], r["v"], r["deg"]) for r in e.collect()]
        node_set = set()
        for u, v, _ in rows:
            node_set.add(u)
            node_set.add(v)
        ranks_d = {n: scale for n in node_set}
        for _ in range(iters):
            summed: dict = {}
            for u, v, d in rows:
                c = (ranks_d[u] * damping_num) // (damping_den * d)
                summed[v] = summed.get(v, 0) + c
            ranks_d = {n: base + summed.get(n, 0) for n in node_set}
        spark = edges.sparkSession
        return local_frame(spark, sorted(ranks_d.items()), "node long, rank_q long")
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    ranks = nodes.select("node", F.lit(scale).cast("long").alias("rank_q"))
    for _ in range(iters):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "u"), "u")
            .select(
                F.col("v").alias("node"),
                F.expr(
                    f"(rank_q * {damping_num}) div ({damping_den} * deg)"
                ).alias("c"),
            )
        )
        summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.join(summed, "node", "left")
            .select(
                "node",
                (F.lit(base) + F.coalesce(F.col("s"), F.lit(0)))
                .cast("long")
                .alias("rank_q"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks
