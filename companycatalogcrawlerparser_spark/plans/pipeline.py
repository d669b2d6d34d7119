"""The composed training-data curation pipeline — the product surface.

Every stage exists as a standalone operator (textquality / dedup /
contamination / pii / curation / storage.snapshots); this module is the
chain a 100 TB user actually runs, as ONE callable: quality gate →
near-dup survivors (minhash ∪ winnow candidates → exact-Jaccard verify →
connected-component clustering, one representative kept) → optional
CCNet perplexity gate (Wenzek et al. 2020) → benchmark
decontamination → optional exact-substring span removal (Lee et al.
2021) → PII redaction → optional per-domain cap (Common-Crawl
style rebalancing) → optional DSIR importance resampling toward a
target corpus (Xie et al. 2023) → deterministic stratified sampling →
training shuffle + global order index → token-budget shard packing →
(optionally) the atomic per-shard trainer artifact via
``SnapshotStore.commit_shards``.

Reference analogue: none — the reference (CrawlerParser/Program.fs)
ends at extraction+storage; this is the engine-new training-data scope
from the brief, composed. The XL measurement of this exact chain at 1M
docs / two core counts is ``tools/bench_dedup_xl.py --tasks
pipeline_full`` → ``BENCH/pipeline_xl_r7.json``.

Scale properties are inherited, not re-argued: every stage is
bucketed/broadcast/prefix-summed (see each operator's docstring), the
only driver-side values are scalar counters, and every stage's output is
a deterministic pure function of the input rows — so the whole chain is
reproducible across clusters, partitionings, and core counts
(bit-stability is checked per stage in the XL bench).

Determinism requires (same preconditions as the constituent operators):
``id_col`` globally unique and non-null; ``token_col`` derived here is
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
from ..operators import dsir as DSIR
from ..operators import lm as LM
from ..operators import pii as PII
from ..operators import textquality as TQ
from ..session import local_frame

__all__ = ["CurationConfig", "curate_training_corpus", "pages_to_docs"]


def pages_to_docs(
    pages: DataFrame,
    url_col: str = "page_url",
    html_col: str = "html",
    min_chars: int = 25,
    max_link_pct: int = 35,
) -> DataFrame:
    """The bridge from the crawl half of this engine to the curation
    half: crawled html pages → the (doc_id, url, text) frame
    :func:`curate_training_corpus` consumes, via main-content
    extraction (operators.content). ``doc_id = xxhash64(url)`` — the
    repo's url-hash idiom; pages whose extraction comes back empty
    are dropped here (an empty text contributes nothing and would only
    ride the quality gate as noise).

    Id-uniqueness precondition (ADVICE r7): the curation chain keys on
    ``doc_id``, so the input must be one row per DISTINCT url (the
    crawl's url_seen discipline guarantees it; other feeds should
    ``dropDuplicates([url_col])`` first — duplicate urls yield duplicate
    doc_ids), and a 64-bit hash has expected birthday collisions once
    the corpus approaches ~4·10⁹ distinct urls — at that scale switch
    the id to the 128-bit ``md5(url)`` (every id-keyed operator here
    treats doc_id as opaque) or keep the url itself as the key."""
    from ..operators.content import main_content

    mc = main_content(
        pages, url_col=url_col, html_col=html_col,
        min_chars=min_chars, max_link_pct=max_link_pct,
    )
    return mc.filter(F.col("main_text") != "").select(
        F.xxhash64(F.col(url_col)).alias("doc_id"),
        F.col(url_col).alias("url"),
        F.col("main_text").alias("text"),
    )


@dataclass
class CurationConfig:
    """Knobs for :func:`curate_training_corpus` — defaults mirror the XL
    bench so the measured chain IS the default chain."""

    id_col: str = "doc_id"
    text_col: str = "text"
    # stage 1 — quality gate
    quality_min: float = 0.25
    # stage 1b — Gopher/MassiveText repetition + format rules (r7;
    # off by default so the measured XL chain stays the default chain)
    gopher: bool = False
    gopher_thresholds: Optional[dict] = None
    # stage 2 — near-dup dedup
    jaccard_threshold: float = 0.5
    max_bucket: Optional[int] = 256
    # stage 2b — CCNet perplexity gate (Wenzek et al. 2020; enabled by
    # passing lm_ref to curate_training_corpus). Cutoffs are per-token
    # negative log probs — CCNet freezes them per language from the
    # reference-corpus score distribution rather than re-deriving them
    # per batch, so they are explicit inputs here, not computed in-job.
    lm_head_max: Optional[float] = None
    lm_tail_min: Optional[float] = None
    lm_keep: tuple = ("head", "middle")
    # per-language cutoff map {lang: (head_max, tail_min)} — CCNet
    # freezes cutoffs per language; languages absent from the map fall
    # back to the scalar cutoffs (or 'middle' when those are unset)
    lm_cutoffs_by_lang: Optional[dict] = None
    # stage 3 — decontamination (skipped when benchmark is None)
    contam_k: int = 8
    contam_threshold: float = 0.5
    # stage 3b — exact-substring span removal (Lee et al. 2021;
    # off by default so the measured XL chain stays the default chain)
    exactsubstr: bool = False
    exactsubstr_window: int = 50
    exactsubstr_min_count: int = 2
    # stage 4 — PII redaction
    redact: bool = True
    # stage 4b — per-domain cap (Common-Crawl-style rebalancing); both
    # must be set to enable; domain_col must exist on the input docs
    domain_col: Optional[str] = None
    domain_cap: Optional[int] = None
    domain_salt: str = ""
    # stage 4c — DSIR importance resampling (enabled by passing
    # dsir_target to curate_training_corpus AND setting dsir_k)
    dsir_k: Optional[int] = None
    dsir_n: int = 2
    dsir_buckets: int = 10_000
    dsir_gumbel: bool = True
    dsir_salt: str = ""
    # stage 5 — deterministic stratified sampling (md5 gate, /10000)
    sample_rates: dict = field(default_factory=lambda: {"en": 8000})
    default_keep: int = 500
    sample_salt: str = ""
    # stage 5b — fractional source upsampling (None/1.0 = off); the
    # epoch copies get their own shuffle keys so they scatter
    upsample_factor: Optional[float] = None
    upsample_salt: str = ""
    # stages 6-7 — training shuffle + token-budget packing
    shuffle_salt: str = ""
    shard_budget_tokens: int = 100_000
    num_partitions: Optional[int] = None


def curate_training_corpus(
    docs: DataFrame,
    benchmark: Optional[DataFrame] = None,
    config: Optional[CurationConfig] = None,
    *,
    store=None,
    round_id: int = 1,
    observations: Optional[dict] = None,
    dsir_target: Optional[DataFrame] = None,
    lm_ref: Optional[DataFrame] = None,
) -> DataFrame:
    """Run the full curation chain over ``docs`` (``id_col``,
    ``text_col``). Returns the packed training frame — one row per kept
    doc with ``lang``, ``n_tok``, the (redacted) ``text``, ``order_key``,
    ``train_pos`` (0-based global position in the deterministic training
    shuffle) and ``shard_id`` — and, when ``store`` (a
    :class:`~..storage.snapshots.SnapshotStore`) is given, also commits
    the per-shard artifact atomically as round ``round_id``.

    Laziness contract: the returned frame's lineage contains two EAGER
    materialization points the constituent operators require —
    ``jaccard_verify``'s localCheckpoint of the candidate pairs and
    ``pack_shards``'s partition-id freeze (×2: order index + packing;
    +1 when the optional domain-cap stage is enabled, for its hot-domain
    rank). Each enabled multi-consumer optional stage (perplexity gate,
    ExactSubstr, DSIR) adds one more eager pin of the survivor frame —
    those stages read their input in 2-4 plan branches, and without the
    pin every branch re-derives the whole upstream dedup chain
    (measured on the 250k-doc pipeline_surface XL task — see
    BENCH/BASELINE.md). Everything else stays lazy until the caller
    acts. The pins are localCheckpoints: non-replicated, so on a
    preemptible fleet prefer a reliable checkpoint dir (the
    pack_shards caveat applies here too).

    Pass ``observations={"minhash": Observation(), "winnow":
    Observation()}`` to receive the dedup skip/cap metrics in the same
    jobs that compute the pairs (the operators' standard contract).
    """
    cfg = config or CurationConfig()
    obs = observations or {}
    idc, txc = cfg.id_col, cfg.text_col

    # 1. quality gate: langid + token count + quality score, one scan
    carry = [F.col(cfg.domain_col)] if cfg.domain_col else []
    gated = docs.select(
        F.col(idc),
        F.col(txc),
        *carry,
        TQ.predict_lang(F.col(txc)).alias("lang"),
        TQ.token_count(F.col(txc)).alias("n_tok"),
        TQ.quality_score(F.col(txc)).alias("q"),
    ).filter(F.col("q") >= cfg.quality_min)

    # 1b. optional Gopher repetition/format rules — still one scan: the
    # metric columns are shuffle-free array expressions, so the gate
    # composes into the same projection + filter as stage 1
    if cfg.gopher:
        gm = TQ.gopher_metrics(F.col(txc))
        gm["n_tokens"] = F.col("n_tok")
        gated = gated.filter(TQ.gopher_gate(gm, cfg.gopher_thresholds))

    # 2. near-dup survivors: two candidate modalities (band-collision +
    # winnowing) → exact verify on candidates only → component clustering
    mh = D.minhash_lsh_pairs(
        gated, id_col=idc, text_col=txc,
        max_bucket=cfg.max_bucket, observation=obs.get("minhash"),
    )
    wn = D.winnow_pairs(
        gated, id_col=idc, text_col=txc,
        max_bucket=cfg.max_bucket, observation=obs.get("winnow"),
    ).select("id_a", "id_b")
    cands = mh.unionByName(wn).distinct()
    verified = D.jaccard_verify(
        gated, cands, id_col=idc, text_col=txc,
        threshold=cfg.jaccard_threshold,
    )
    clusters = D.dedup_clusters(gated, verified, id_col=idc)
    survivors = gated.join(
        clusters.filter(F.col("is_rep")).select(idc), idc
    )

    # 2b. optional CCNet perplexity gate (operators.lm): bucket each
    # survivor by per-token −ln p under a bigram LM trained on
    # ``lm_ref`` and keep cfg.lm_keep buckets. Placed where CCNet runs
    # it — after dedup (scores computed on the deduplicated corpus) and
    # before decontamination/PII (the gate sees the original bytes).
    # The model is reference-sized and broadcast; scoring adds one
    # corpus explode + one groupBy(id), no new corpus-wide join keys.
    if lm_ref is not None:
        by_lang = cfg.lm_cutoffs_by_lang
        if by_lang is None and (
            cfg.lm_head_max is None or cfg.lm_tail_min is None
        ):
            raise ValueError(
                "lm_ref requires lm_head_max and lm_tail_min cutoffs "
                "(or lm_cutoffs_by_lang)"
            )
        # pin the survivor frame: lm_logprob consumes it in two plan
        # branches (bigram scoring + the decorating join) — without the
        # checkpoint each branch re-derives the whole dedup chain
        survivors = survivors.localCheckpoint(eager=True)
        model, mparts = LM.train_bigram_lm(
            lm_ref, id_col=idc, text_col=txc, with_parts=True
        )
        scored = LM.lm_logprob(
            survivors, model, id_col=idc, text_col=txc, parts=mparts
        )
        if by_lang is not None:
            # CCNet proper freezes cutoffs PER LANGUAGE (derive each
            # with curation.exact_quantiles over the per-token -logp of
            # that language's reference run);
            # the map rides as a broadcast (lang, head, tail) frame —
            # languages absent from the map fall back to the scalar
            # cutoffs, or are kept untouched when none are set
            cuts = local_frame(
                survivors.sparkSession,
                [(str(k), float(h), float(t))
                 for k, (h, t) in sorted(by_lang.items())],
                "lang string, __head double, __tail double",
            )
            scored = scored.join(F.broadcast(cuts), "lang", "left")
            head = F.coalesce(
                F.col("__head"),
                F.lit(cfg.lm_head_max).cast("double"),
            )
            tail = F.coalesce(
                F.col("__tail"),
                F.lit(cfg.lm_tail_min).cast("double"),
            )
            nl = -F.col("lm_logp") / F.col("n_lm_terms")
            bucket = (
                F.when(F.col("n_lm_terms") == 0, F.lit("tail"))
                .when(head.isNull() | tail.isNull(), F.lit("middle"))
                .when(nl <= head, F.lit("head"))
                .when(nl > tail, F.lit("tail"))
                .otherwise(F.lit("middle"))
            )
            scored = scored.withColumn("__pb", bucket).drop(
                "__head", "__tail"
            )
        else:
            scored = scored.withColumn(
                "__pb",
                LM.ppl_bucket(
                    "lm_logp", "n_lm_terms",
                    cfg.lm_head_max, cfg.lm_tail_min,
                ),
            )
        survivors = (
            scored.filter(F.col("__pb").isin(list(cfg.lm_keep)))
            .drop("lm_logp", "n_lm_terms", "ppl", "__pb")
        )

    # 3. decontamination: total decoration → drop flagged docs
    if benchmark is not None:
        scores = CT.contamination_scores(
            survivors, benchmark, k=cfg.contam_k,
            threshold=cfg.contam_threshold, id_col=idc, text_col=txc,
        )
        survivors = survivors.join(
            scores.filter(~F.col("contaminated")).select(idc), idc
        )

    # 3b. optional exact-substring span removal: cross-doc duplicated
    # RUNS that survive document-level near-dup dedup (boilerplate,
    # quoted passages, templates) are excised from every occurrence
    # (operators.dedup.remove_duplicate_spans). Placed after
    # decontamination so the benchmark-overlap decision sees the
    # ORIGINAL text (conservative — excision could otherwise remove the
    # very overlap being flagged), and before PII redaction so the
    # redactor sees the final text. Token counts are recomputed — pack
    # budgets must see post-removal lengths; the text column becomes the
    # operator's normalized token form.
    if cfg.exactsubstr:
        # pin before span removal: duplicate_spans + mark-back +
        # excision read the input in FOUR plan branches; at 250k docs
        # the unpinned lineage re-ran the quality gate + dedup joins
        # per branch (measured: the pipeline_surface XL task ran 7×
        # pipeline_full's per-doc cost before this checkpoint)
        survivors = survivors.localCheckpoint(eager=True)
        survivors = D.remove_duplicate_spans(
            survivors,
            n=cfg.exactsubstr_window,
            min_count=cfg.exactsubstr_min_count,
            id_col=idc,
            text_col=txc,
        ).drop("n_removed_tokens")
        # a doc whose text was ENTIRELY duplicated elsewhere excises to
        # empty (the operator keeps it — total decoration); the pipeline
        # drops it here, an empty context contributes nothing to training
        survivors = survivors.withColumn(
            "n_tok", TQ.token_count(F.col(txc))
        ).filter(F.col("n_tok") > 0)

    # 4. PII redaction (in place on the text column)
    if cfg.redact:
        survivors = survivors.withColumn(txc, PII.redact_pii(F.col(txc)))

    # 4b. optional per-domain cap (Common-Crawl-style rebalancing):
    # deterministic md5-permutation survivors per over-cap domain; the
    # under-cap bulk never shuffles (curation.cap_per_domain) — placed
    # after dedup/decontamination so the cap counts CLEAN pages, and
    # before sampling so rates apply to the rebalanced mix
    if cfg.domain_col is not None and cfg.domain_cap is not None:
        survivors = CUR.cap_per_domain(
            survivors,
            cfg.domain_col,
            cfg.domain_cap,
            key_col=idc,
            salt=cfg.domain_salt,
            num_partitions=cfg.num_partitions,
        ).drop("domain_rank")

    # 4c. optional DSIR importance resampling (Xie et al. 2023): keep
    # the dsir_k docs whose hashed-n-gram distribution is most like
    # ``dsir_target``, by deterministic Gumbel-top-k on the log
    # importance ratio. The raw model is the CURRENT survivor set (the
    # corpus actually being selected from); runs before stratified
    # sampling so language caps apply to the resampled mix. The kept
    # frame carries dsir_score through to the shards.
    if dsir_target is not None and cfg.dsir_k is not None:
        # pin before resampling: the survivor frame feeds the raw
        # model, the scoring pass AND the select — three consumers
        survivors = survivors.localCheckpoint(eager=True)
        ratios = DSIR.dsir_log_ratios(
            dsir_target, survivors, n=cfg.dsir_n,
            num_buckets=cfg.dsir_buckets, id_col=idc, text_col=txc,
        )
        scored = DSIR.dsir_scores(
            survivors, ratios, n=cfg.dsir_n,
            num_buckets=cfg.dsir_buckets, id_col=idc, text_col=txc,
        )
        survivors = DSIR.dsir_select(
            scored, cfg.dsir_k, id_col=idc, salt=cfg.dsir_salt,
            gumbel=cfg.dsir_gumbel,
        ).drop("select_key", "n_features")

    # 5. deterministic stratified sampling by language
    kept = CUR.stratified_sample(
        survivors.drop("q"),
        cfg.sample_rates,
        "lang",
        key_col=idc,
        salt=cfg.sample_salt,
        default_keep=cfg.default_keep,
    )

    # 5b. optional fractional source upsampling (mix recipes): copies
    # carry an epoch index, and the SHUFFLE KEY becomes (id, epoch) so
    # the copies scatter through the training stream instead of
    # packing adjacently
    order_key_col = idc
    if cfg.upsample_factor is not None and cfg.upsample_factor != 1.0:
        kept = CUR.upsample_epochs(
            kept, cfg.upsample_factor, key_col=idc,
            salt=cfg.upsample_salt,
        ).withColumn(
            "__mixkey",
            F.concat_ws("#", F.col(idc), F.col("epoch")),
        )
        order_key_col = "__mixkey"

    # 6-7. training shuffle + global positions, then pack in that order
    ordered = CUR.global_order_index(
        kept, key_col=order_key_col, salt=cfg.shuffle_salt,
        num_partitions=cfg.num_partitions,
    )
    if order_key_col != idc:
        ordered = ordered.drop("__mixkey")
    packed = CUR.pack_shards(
        ordered, "n_tok", cfg.shard_budget_tokens,
        order_col="train_pos", num_partitions=cfg.num_partitions,
    )

    # 8. optional trainer artifact: one dir per shard, atomic manifest
    if store is not None:
        store.commit_shards(round_id, packed, order_col="train_pos")
    return packed
