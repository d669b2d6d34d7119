"""DSIR-style data selection via importance resampling (Xie et al.,
NeurIPS 2023, arXiv:2302.03169): pick raw-corpus documents whose hashed
n-gram feature distribution looks like a small TARGET corpus, by scoring
each doc with the log importance ratio of two bag-of-hashed-bigram
models. Selecting on the scores is the caller's step.

Spark-first shape, in scale order:

1. features — one row per word-bigram occurrence, hashed into
   ``num_buckets`` (reuses the dedup family's exploded codegen window
   hashing — O(total tokens) rows, no shuffle);
2. the two bucket distributions — ONE map-side-combinable groupBy each
   (``num_buckets`` output rows, thousands, regardless of corpus size);
3. per-bucket log ratios — a ``num_buckets``-row frame, explicitly
   ``broadcast()`` into the scoring join so the corpus never shuffles on
   the feature axis;
4. per-doc score — explode + broadcast-join + one groupBy(id) sum (the
   only corpus-sized shuffle, keyed by the id the caller already owns).

The raw distribution may be estimated from a sample of the corpus (pass
``raw``); DSIR's quality depends on the target/raw RATIO, not on raw
being exhaustive.

Reference analogue: none — engine-new training-data scope (the
reference, CrawlerParser/Program.fs, ends at extraction+storage).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _window_hashes

__all__ = [
    "dsir_features",
    "dsir_log_ratios",
    "dsir_scores",
]

# Laplace smoothing of the two bucket distributions
_ALPHA = 0.5


def dsir_features(df: DataFrame, num_buckets: int = 10_000) -> DataFrame:
    """(doc_id, bucket): one row per word-bigram OCCURRENCE of the
    normalized text (bag semantics — repeats count, as in the paper's
    bigram model). Bucket = 60-bit md5 window hash mod ``num_buckets`` —
    the md5 idiom keeps assignment engine-portable. Docs shorter than
    two tokens contribute no rows."""
    wh = _window_hashes(df, 2)
    return wh.select(
        "doc_id", F.pmod(F.col("__wh"), F.lit(num_buckets)).alias("bucket")
    )


def dsir_log_ratios(
    target: DataFrame,
    raw: DataFrame,
    num_buckets: int = 10_000,
    target_features: Optional[DataFrame] = None,
    raw_features: Optional[DataFrame] = None,
) -> DataFrame:
    """All ``num_buckets`` rows (bucket, log_ratio) of the Laplace-
    smoothed log importance ratio

        log((t_b + α) / (T + α·B)) − log((r_b + α) / (R + α·B))

    with α = 0.5, where t/r are per-bucket bigram counts of the target/raw corpora and
    T/R their totals. Buckets unseen in either corpus get the smoothed
    default (NOT zero — a doc full of never-target-seen features should
    score below one full of common ones). Output is ``num_buckets`` rows
    — broadcast it into the scoring join (dsir_scores does).

    ``target_features`` / ``raw_features`` (r8): precomputed
    :func:`dsir_features` frames to reuse one bigram explode across the
    ratio counts and a subsequent :func:`dsir_scores` pass — a caller
    whose target is a SLICE of raw can derive both from one persisted
    feature frame (the default recomputes: materializing O(total tokens)
    rows only pays when the caller persists the frame anyway)."""
    spark = target.sparkSession

    def counts(d, name, pre):
        feats = (
            pre
            if pre is not None
            else dsir_features(d, num_buckets)
        )
        return feats.groupBy("bucket").agg(F.count(F.lit(1)).alias(name))

    tc = counts(target, "t", target_features)
    rc = counts(raw, "r", raw_features)
    allb = spark.range(num_buckets).select(F.col("id").alias("bucket"))
    # persist the num_buckets-row count frame (r8): it is consumed
    # twice below (the totals aggregate and the final ratio projection),
    # and without it each consumer re-ran the full target+raw feature
    # explode+aggregate — one extra pass over BOTH corpora per ratio
    # derivation. persist, not localCheckpoint (lazy localCheckpoint
    # executes upstream stages at call time).
    joined = (
        allb.join(tc, "bucket", "left")
        .join(rc, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("t", F.lit(0)).alias("t"),
            F.coalesce("r", F.lit(0)).alias("r"),
        )
        .persist()
    )
    # totals joined back as a 1-row broadcast — the bucket frame is tiny
    # (num_buckets rows), never corpus-sized. Spark resolves column
    # names case-insensitively, so the totals get distinct names.
    tot = joined.agg(
        F.sum("t").cast("double").alias("__tt"),
        F.sum("r").cast("double").alias("__rt"),
    )
    b, alpha = float(num_buckets), _ALPHA
    return joined.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "t",
        "r",
        (
            F.log((F.col("t") + alpha) / (F.col("__tt") + alpha * b))
            - F.log((F.col("r") + alpha) / (F.col("__rt") + alpha * b))
        ).alias("log_ratio"),
    )


def dsir_scores(
    docs: DataFrame,
    ratios: DataFrame,
    num_buckets: int = 10_000,
    features: Optional[DataFrame] = None,
) -> DataFrame:
    """Every input doc decorated with its importance score: the sum of
    ``log_ratio`` over the doc's bigram occurrences (the log of the
    doc's importance weight under the two bag-of-n-grams models), plus
    ``n_features``. Total decoration: featureless docs (short/NULL
    text) keep a row with score 0.0 — a downstream selector sees them
    ranked neutrally rather than silently dropped.

    The ratio frame is broadcast (num_buckets rows); the corpus-sized
    feature stream never shuffles on the bucket axis — the only big
    shuffle is the final groupBy(id) sum. ``features``: a precomputed
    :func:`dsir_features` frame for ``docs`` (see dsir_log_ratios)."""
    feats = (
        features
        if features is not None
        else dsir_features(docs, num_buckets)
    )
    per_doc = (
        feats.join(
            F.broadcast(ratios.select("bucket", "log_ratio")), "bucket"
        )
        .groupBy("doc_id")
        .agg(
            F.sum("log_ratio").alias("__s"),
            F.count(F.lit(1)).alias("__nf"),
        )
    )
    return docs.join(per_doc, "doc_id", "left").select(
        *docs.columns,
        F.coalesce("__s", F.lit(0.0)).alias("dsir_score"),
        F.coalesce("__nf", F.lit(0)).alias("n_features"),
    )

