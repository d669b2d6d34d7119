"""Count-based language-model perplexity scoring (the CCNet quality
signal, Wenzek et al. 2020, arXiv:1911.00359).

CCNet filters/buckets web text by the perplexity of a language model
trained on a trusted reference corpus (theirs: KenLM 5-gram over
Wikipedia). Re-expressed Spark-first with a Laplace-smoothed BIGRAM
model — the right fidelity/portability point for a relational engine:
every quantity is a count, so training is two map-side-combinable
groupBys and the whole model stays a DataFrame the optimizer can see
(no opaque binary model, no per-row Python), and the identical
arithmetic is expressible in the DuckDB oracle so the score sits under
the driver's hash signal. The CCNet decision structure (score per doc,
bucket into head/middle/tail, gate on it) is order-preserved under any
monotone model swap.

Scale shape, in corpus order:

1. :func:`lm_bigrams` — one scan: posexplode token positions, previous
   token by 1-based ``element_at`` inside the same projection (plain
   codegen columns — no HOF lambda, the r7 interpreted-projection
   lesson), BOS ``<s>`` at position 0. No shuffle.
2. :func:`train_bigram_lm` — bigram + context counts: two
   map-side-combinable groupBys whose OUTPUT is reference-vocabulary-
   sized (MBs for any real reference corpus — CCNet's Wikipedia model
   covers ~10⁷ distinct n-grams) while the input never shuffles text,
   only (token-pair, partial count) rows. The vocab size rides as a
   1-row frame (the dsir totals idiom), never a collected constant, so
   the whole model is one lazy plan.
3. :func:`lm_logprob` — score: explode the corpus once, broadcast-join
   the model (reference-sized, not corpus-sized), one groupBy(id) sum —
   the only corpus-sized shuffle, keyed by the caller's own id. Docs
   with no tokens decorate with logp 0 / n 0 (total, the
   contamination_scores contract).
4. :func:`ppl_bucket` — CCNet's head/middle/tail label from fixed
   per-token log-prob thresholds (theirs come from the reference-corpus
   score distribution; pass them in — computing quantiles in-job would
   make the label depend on the batch, which CCNet explicitly avoids by
   freezing cutoffs per language).

Model semantics: p(w|v) = (c(v,w) + 1) / (c(v) + V + 1) where c(v,w)
counts bigram occurrences in the reference, c(v) = Σ_w c(v,w), and V =
|distinct next-words| in the reference (the +1 reserves mass for OOV).
Unseen contexts fall back to 1/(V+1). All logs are natural.

Reference analogue: none — engine-new training-data scope (the
reference, CrawlerParser/Program.fs, ends at extraction+storage).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "lm_bigrams",
    "train_bigram_lm",
    "lm_logprob",
    "ppl_bucket",
]

BOS = "<s>"


def _toks(text) -> Column:
    """Whitespace tokens of the trimmed text; NULL/blank → ['']
    (callers filter the '' token after exploding — a codegen predicate,
    not an array HOF)."""
    return F.split(F.trim(F.coalesce(text, F.lit(""))), r"\s+")


def lm_bigrams(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, v, w): one row per token occurrence, v = previous token
    (``<s>`` for the first). The token array rides through the
    Generate only within this projection (row size is O(doc tokens),
    the established _window_hashes trade — fine for web-page-sized
    docs; a book-length corpus would pre-chunk with
    curation.split_sequences)."""
    return (
        docs.select(F.col(id_col), _toks(F.col(text_col)).alias("__t"))
        .select(
            id_col, "__t", F.posexplode("__t").alias("__i", "w")
        )
        .filter(F.col("w") != "")
        .select(
            id_col,
            F.when(F.col("__i") == 0, F.lit(BOS))
            .otherwise(F.element_at("__t", F.col("__i")))
            .alias("v"),
            "w",
        )
    )


def train_bigram_lm(
    ref: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_parts: bool = False,
) -> DataFrame:
    """The model as ONE DataFrame: (v, w, c_vw, c_v, vocab) — bigram
    count, context total, and the reference's distinct-next-word count
    (constant across rows, carried as a column so the model stays a
    single lazy broadcastable frame). Row count = distinct reference
    bigrams.

    ``with_parts=True`` additionally returns the model's three
    components ``(cvw, cv, voc)`` for :func:`lm_logprob`'s ``parts``
    parameter: the scorer consumes the model from THREE broadcast
    subtrees (pair / context / vocab-constant), and each broadcast
    build otherwise re-executes the cvw⋈cv⋈voc join — handing it the
    parts makes every build a projection of the persisted count table
    (or the unigram-sized cv), removing two model-table passes per
    scoring call. Values are identical by construction: cv is keyed
    uniquely by v and covers every v in cvw, so the inner join never
    drops or duplicates a bigram row."""
    bg = lm_bigrams(ref, id_col, text_col)
    # ONE reference scan (r8; was three): c_v = Σ_w c_vw and vocab =
    # |distinct w of the bigram keys| are both derivable from the bigram
    # count table itself, so the context totals and the vocab constant
    # aggregate the model-sized cvw frame instead of re-exploding the
    # reference corpus. cvw is persisted because the model frame is
    # consumed from several broadcast subtrees (lm_logprob uses it three
    # ways) — without it each consumer re-ran the full explode+aggregate
    # (measured via plan audit: 3 bigram scans per model build × 3 model
    # uses per scoring call = 9 reference scans). persist, not
    # localCheckpoint: a localCheckpoint (even lazy) executes upstream
    # stages at call time, moving the work into plan-construction.
    cvw = (
        bg.groupBy("v", "w")
        .agg(F.count(F.lit(1)).alias("c_vw"))
        .persist()
    )
    cv = cvw.groupBy("v").agg(F.sum("c_vw").alias("c_v"))
    voc = cvw.agg(F.countDistinct("w").alias("vocab"))
    # the context table is unigram-vocabulary-sized — strictly smaller
    # than the bigram table it decorates — so broadcast it rather than
    # letting the planner sort-merge two model-sized frames
    model = (
        cvw.join(F.broadcast(cv), "v")
        .crossJoin(F.broadcast(voc))
        .select("v", "w", "c_vw", "c_v", "vocab")
    )
    if with_parts:
        return model, (cvw, cv, voc)
    return model


def _logp(c_vw, c_v, vocab) -> Column:
    return F.log(
        (c_vw + F.lit(1.0)) / (c_v + vocab.cast("double") + F.lit(1.0))
    )


def lm_logprob(
    docs: DataFrame,
    model: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    parts: tuple | None = None,
) -> DataFrame:
    """Every input doc decorated with ``lm_logp`` (Σ ln p(w|v) over its
    token stream, 6dp — the repo's established float idiom),
    ``n_lm_terms`` (integer-exact term count, pinning tokenization even
    where the float rounds) and ``ppl`` (exp(−logp/n), NULL for empty
    docs — a convenience column; hash-sensitive consumers use the sum).

    The model joins twice (full key (v,w), then context fallback for
    unseen-bigram terms) — both joins broadcast (reference-vocabulary-
    sized: CCNet models are MBs against TB corpora).

    ``parts`` (optional) is ``train_bigram_lm(..., with_parts=True)``'s
    ``(cvw, cv, voc)`` triple: the three model consumers below then
    project the persisted count table / the unigram-sized cv directly
    instead of each broadcast build re-executing the model join.
    Equivalence is exact, including the degenerate empty-reference
    case: pair ≡ model.select(v, w, c_vw) because cv joins 1:1 onto
    cvw's v keys; ctx ≡ the per-v (c_v, vocab) pairs because every
    model row of a given v carries the same c_v/vocab; the vocab
    constant aggregates cv⋈voc so an empty reference yields NULL
    exactly like ``model.agg(max(vocab))`` does."""
    bg = lm_bigrams(docs, id_col, text_col)
    if parts is not None:
        cvw, cv, voc = parts
        pair = F.broadcast(cvw.select("v", "w", "c_vw"))
        ctx = F.broadcast(cv.crossJoin(voc).select("v", "c_v", "vocab"))
        voc1 = F.broadcast(
            cv.crossJoin(voc).agg(F.max("vocab").alias("__voc"))
        )
    else:
        pair = F.broadcast(model.select("v", "w", "c_vw"))
        ctx = F.broadcast(
            model.select("v", "c_v", "vocab").groupBy("v").agg(
                F.first("c_v").alias("c_v"), F.first("vocab").alias("vocab")
            )
        )
        # vocab for rows whose CONTEXT is unseen (both joins miss): a
        # 1-row broadcast of the constant
        voc1 = F.broadcast(model.agg(F.max("vocab").alias("__voc")))
    scored = (
        bg.join(pair, ["v", "w"], "left")
        .join(ctx, "v", "left")
        .crossJoin(voc1)
        .select(
            id_col,
            _logp(
                F.coalesce(F.col("c_vw"), F.lit(0)).cast("double"),
                F.coalesce(F.col("c_v"), F.lit(0)).cast("double"),
                F.coalesce(F.col("vocab"), F.col("__voc")),
            ).alias("__lp"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.sum("__lp").alias("__s"), F.count(F.lit(1)).alias("__n")
    )
    return docs.join(per_doc, id_col, "left").select(
        *docs.columns,
        F.round(F.coalesce("__s", F.lit(0.0)), 6).alias("lm_logp"),
        F.coalesce("__n", F.lit(0)).alias("n_lm_terms"),
        F.when(
            F.col("__n").isNotNull(),
            F.exp(-F.col("__s") / F.col("__n")),
        ).alias("ppl"),
    )


def ppl_bucket(
    lm_logp, n_lm_terms, head_max: float, tail_min: float
) -> Column:
    """CCNet head/middle/tail label from FIXED perplexity cutoffs
    (per-token negative log prob −logp/n; lower = more reference-like):
    'head' when ≤ head_max, 'tail' when > tail_min, else 'middle';
    empty docs → 'tail' (CCNet discards them)."""
    nl = -F.col(lm_logp) / F.col(n_lm_terms)
    return (
        F.when(F.col(n_lm_terms) == 0, F.lit("tail"))
        .when(nl <= F.lit(float(head_max)), F.lit("head"))
        .when(nl > F.lit(float(tail_min)), F.lit("tail"))
        .otherwise(F.lit("middle"))
    )
