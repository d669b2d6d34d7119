"""Benchmark-contamination detection for training-data pipelines.

Standard LLM decontamination: a training document is "contaminated" when
a large fraction of its character k-shingles also occurs in an evaluation
benchmark corpus, and must be dropped (or flagged) before training.
Engine-new scope — the reference (a crawler/parser) has no training-data
surface at all; this composes with the dedup family in
``operators/dedup.py`` (same ``normalized``/``shingles`` canonical form,
so a doc's contamination shingles are bit-identical to its dedup
shingles and the DuckDB twin can reproduce both from one fragment).

Scale shape (the part that matters at 100 TB):

- The benchmark side is reduced to DISTINCT shingles once and BROADCAST:
  benchmark suites are MBs while the corpus is TBs, so the corpus never
  shuffles.
- The corpus side is ONE SCAN, ONE explode → (broadcast) LEFT join →
  groupBy(doc_id): ``n_shingles`` is carried through the explode as a
  ``size(shingles(text))`` column so the set size and the shared count
  come out of the same aggregate — the corpus is never read or shingled
  twice (r6 shipped two plan branches over the explode; at 100 TB that
  is two full corpus scans per decontamination pass). The groupBy key is
  the doc id, i.e. pre-aggregation is map-side partial (each partition
  holds each doc's shingles contiguously after the explode — no
  re-shuffle of raw shingle rows beyond the count's own exchange).
- No Python in the hot path: shingling is the interpreted-HOF-safe
  ``dedup.shingles`` (normalized text bound once per row), the join and
  counts are codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import shingles


def benchmark_shingles(benchmark: DataFrame, k: int = 8) -> DataFrame:
    """DISTINCT char k-shingles of the benchmark corpus (one ``shingle``
    column) — the tiny side of the contamination join. Deterministic
    (md5-free: raw substrings), so the DuckDB twin regenerates it
    exactly."""
    return (
        benchmark.select(
            F.explode(shingles(F.col("text"), k)).alias("shingle")
        )
        .distinct()
    )


def contamination_scores(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    k: int = 8,
) -> DataFrame:
    """Per-document benchmark-overlap ratio.

    Returns one row per input doc: ``(doc_id, n_shingles, n_shared,
    overlap, contaminated)`` where ``overlap = n_shared / n_shingles``
    over DISTINCT char k-shingles of the ``dedup.normalized`` text and
    ``contaminated = overlap >= 0.5``. Docs with zero benchmark
    overlap are kept (overlap 0.0) so the output is a total decoration of
    the corpus — a decontamination pass is then a single
    ``.filter(~contaminated)``. Totality includes NULL-text docs: the
    explode is ``explode_outer`` so they come out with
    ``n_shingles = 0, overlap = 0.0`` rather than silently vanishing.
    """
    # ONE corpus scan: bind the shingle set once, carry its size through
    # the explode as a per-row constant, then aggregate size and shared
    # count out of the same grouped frame. shingles() is array_distinct
    # per doc -> size() is the SET size, and the LEFT join against the
    # DISTINCT bench side matches each doc shingle at most once -> the
    # hit count is |doc ∩ bench|.
    doc_sh = docs.select(
        F.col("doc_id"),
        # shingles(NULL) is array(NULL) — a one-element set of nothing;
        # map NULL text to a NULL set so it decorates as n_shingles=0
        F.when(F.col("text").isNull(), F.lit(None))
        .otherwise(shingles(F.col("text"), k))
        .alias("_sh"),
    ).select(
        "doc_id",
        F.when(F.col("_sh").isNull(), F.lit(0))
        .otherwise(F.size("_sh"))
        .cast("long")
        .alias("n_shingles"),
        F.explode_outer("_sh").alias("shingle"),
    )
    bench_sh = F.broadcast(
        benchmark_shingles(benchmark, k).withColumn("_hit", F.lit(1))
    )
    return (
        doc_sh.join(bench_sh, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.max("n_shingles").alias("n_shingles"),
            F.count("_hit").cast("long").alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            F.when(
                F.col("n_shingles") > 0,
                F.round(
                    F.col("n_shared").cast("double") / F.col("n_shingles"), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("overlap"),
        )
        .withColumn("contaminated", F.col("overlap") >= F.lit(0.5))
    )
