"""The composed training-data curation pipeline — the product surface.

Every stage exists as a standalone operator (textquality / dedup /
contamination / pii / dsir / curation); this module is the chain a
100 TB user actually runs, as ONE callable, in ONE configuration:
quality gate → near-dup survivors (minhash ∪ winnow candidates →
exact-Jaccard verify → connected-component clustering, one
representative kept) → benchmark decontamination (when a benchmark is
given) → PII redaction → deterministic stratified sampling → training
shuffle + global order index → token-budget shard packing. Writing the
returned frame out is the caller's step.

Reference analogue: none — the reference (CrawlerParser/Program.fs)
ends at extraction+storage; this is the engine-new training-data scope
from the brief, composed. ``BENCH/pipeline_xl_r7.json`` records this
chain at 1M docs on a 32-core host, measured by a runner that is no
longer in the tree (see ``BENCH/BASELINE.md``).

Scale properties are inherited, not re-argued: every stage is
bucketed/broadcast/prefix-summed (see each operator's docstring), the
only driver-side values are scalar counters, and every stage's output is
a deterministic pure function of the input rows — so the whole chain is
reproducible across clusters, partitionings, and core counts
(``tests/test_pipeline.py`` checks it across partitionings).

Determinism requires (same preconditions as the constituent operators):
``doc_id`` globally unique and non-null; the ``n_tok`` derived here is
always non-null (token_count of NULL text is 0).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import contamination as CT
from ..operators import curation as CUR
from ..operators import dedup as D
from ..operators import pii as PII
from ..operators import textquality as TQ

__all__ = ["CurationConfig", "curate_training_corpus", "pages_to_docs"]


def pages_to_docs(pages: DataFrame) -> DataFrame:
    """The bridge from the crawl half of this engine to the curation
    half: crawled (page_url, html) pages → the (doc_id, url, text) frame
    :func:`curate_training_corpus` consumes, via main-content
    extraction (operators.content). ``doc_id = xxhash64(url)`` — the
    repo's url-hash idiom; pages whose extraction comes back empty
    are dropped here (an empty text contributes nothing and would only
    ride the quality gate as noise).

    Id-uniqueness precondition (ADVICE r7): the curation chain keys on
    ``doc_id``, so the input must be one row per DISTINCT url (the
    crawl's url_seen discipline guarantees it; other feeds should
    ``dropDuplicates(["page_url"])`` first — duplicate urls yield duplicate
    doc_ids), and a 64-bit hash has expected birthday collisions once
    the corpus approaches ~4·10⁹ distinct urls — at that scale switch
    the id to the 128-bit ``md5(url)`` (every id-keyed operator here
    treats doc_id as opaque) or keep the url itself as the key."""
    from ..operators.content import main_content

    return main_content(pages).filter(F.col("main_text") != "").select(
        F.xxhash64(F.col("page_url")).alias("doc_id"),
        F.col("page_url").alias("url"),
        F.col("main_text").alias("text"),
    )


@dataclass
class CurationConfig:
    """Knobs for :func:`curate_training_corpus`; the defaults are the
    chain ``BENCH/pipeline_xl_r7.json`` measured."""

    # stage 1 — quality gate
    quality_min: float = 0.25
    # stage 2 — near-dup dedup
    jaccard_threshold: float = 0.5
    # stage 5 — deterministic stratified sampling (md5 gate, /10000)
    sample_rates: dict = field(default_factory=lambda: {"en": 8000})
    default_keep: int = 500
    # stage 7 — token-budget packing
    shard_budget_tokens: int = 100_000


def curate_training_corpus(
    docs: DataFrame,
    benchmark: Optional[DataFrame] = None,
    config: Optional[CurationConfig] = None,
) -> DataFrame:
    """Run the full curation chain over ``docs`` (``doc_id``, ``text``).
    Returns the packed training frame — one row per kept doc with
    ``lang``, ``n_tok``, the (redacted) ``text``, ``order_key``,
    ``train_pos`` (0-based global position in the deterministic training
    shuffle) and ``shard_id``.

    Laziness contract: the returned frame's lineage contains two EAGER
    materialization points the constituent operators require —
    ``jaccard_verify``'s localCheckpoint of the candidate pairs and
    ``pack_shards``'s partition-id freeze (×2: order index + packing).
    Everything else stays lazy until the caller acts. The pins are
    localCheckpoints: non-replicated, so on a preemptible fleet prefer a
    reliable checkpoint dir (the pack_shards caveat applies here too).
    """
    cfg = config or CurationConfig()

    # 1. quality gate: langid + token count + quality score, one scan
    gated = docs.select(
        F.col("doc_id"),
        F.col("text"),
        TQ.predict_lang(F.col("text")).alias("lang"),
        TQ.token_count(F.col("text")).alias("n_tok"),
        TQ.quality_score(F.col("text")).alias("q"),
    ).filter(F.col("q") >= cfg.quality_min)

    # 2. near-dup survivors: two candidate modalities (band-collision +
    # winnowing) → exact verify on candidates only → component clustering
    mh = D.minhash_lsh_pairs(gated)
    wn = D.winnow_pairs(gated).select("id_a", "id_b")
    cands = mh.unionByName(wn).distinct()
    verified = D.jaccard_verify(
        gated, cands, threshold=cfg.jaccard_threshold
    )
    clusters = D.dedup_clusters(gated, verified)
    survivors = gated.join(
        clusters.filter(F.col("is_rep")).select("doc_id"), "doc_id"
    )

    # 3. decontamination: total decoration → drop flagged docs
    if benchmark is not None:
        scores = CT.contamination_scores(survivors, benchmark)
        survivors = survivors.join(
            scores.filter(~F.col("contaminated")).select("doc_id"), "doc_id"
        )

    # 4. PII redaction (in place on the text column)
    survivors = survivors.withColumn("text", PII.redact_pii(F.col("text")))

    # 5. deterministic stratified sampling by language
    kept = CUR.stratified_sample(
        survivors.drop("q"),
        cfg.sample_rates,
        "lang",
        default_keep=cfg.default_keep,
    )

    # 6-7. training shuffle + global positions, then pack in that order
    ordered = CUR.global_order_index(kept)
    return CUR.pack_shards(
        ordered, "n_tok", cfg.shard_budget_tokens, order_col="train_pos"
    )
