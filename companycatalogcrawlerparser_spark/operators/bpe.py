"""Byte-pair-encoding tokenizer training + corpus encoding.

Training-data pipeline surface (SURVEY §2 N25) — the reference has no
tokenizer (its text layer is regex extraction, e.g.
`CrawlerParser/Program.fs` email/href regexes); a 100 TB training
pipeline needs token-exact budget math, which the whitespace/`bpe_ish`
estimators in :mod:`textquality` only approximate.

Spark-first decomposition (Sennrich et al. 2016, arXiv:1508.07909):

1. :func:`word_counts` — the ONLY corpus-sized stage of training: one
   map-side-combinable groupBy over exploded whitespace words. At 100 TB
   this is a single shuffle of (word, partial_count) pairs — the same
   shape as exact dedup.
2. :func:`learn_bpe` — greedy merge learning over the frequency-
   truncated vocabulary. The vocab table (top ``MAX_VOCAB_ROWS`` words)
   is MBs where the corpus is TBs, so this is a deliberate size-gated
   driver loop (the repo's bloom-gate/redirect-closure idiom), with
   incremental pair-count maintenance so cost is (affected words per
   merge), not (vocab × merges). This matches production practice:
   SentencePiece/HF trainers run exactly this loop over a word-frequency
   table, never over the corpus.
3. :func:`encode_words` — tokenize each DISTINCT word once (Arrow-
   batched pandas UDF over the distinct-word frame, merge ranks in the
   closure); occurrences never re-tokenize.
4. :func:`encode_corpus` — posexplode words with position, join the
   per-word tokenization back (shuffle on word — uniform-ish keys; the
   encode table is derived data, rebuilt per tokenizer version), then
   per-doc order-exact reassembly via array_sort(struct(pos, …)).

Determinism: merge selection ties break to the lexicographically
smallest pair; greedy encoding applies the lowest-rank pair leftmost-
first across all its occurrences — both pinned by the pure-Python twin
(`harness._py_bpe`) under the driver hash signal (corpus_curation kinds
'bpe_merge' / 'bpe_word' / 'bpe_doc').

No end-of-word marker: merges never cross word boundaries and encoding
is per-word, so the marker would only matter for detokenization, which
this engine does not need; the twin shares the convention.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _split_ws(text) -> Column:
    """Whitespace split of the trimmed text (NULL → ['']). Blank words
    are filtered AFTER the explode — a plain codegen predicate — rather
    than with an array HOF, which runs interpreted per row (the
    r7 posexplode-vs-transform lesson in dedup._window_hashes)."""
    return F.split(F.trim(F.coalesce(text, F.lit(""))), r"\s+")


def word_counts(docs: DataFrame) -> DataFrame:
    """(word, freq) over the corpus — one explode + one
    map-side-combinable groupBy; the corpus shuffles (word, count)
    partials only, never text."""
    return (
        docs.select(F.explode(_split_ws(F.col("text"))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


# learn_bpe's vocabulary cap: the most frequent words that vote on merge
# choice; tests lower it to check the cap
MAX_VOCAB_ROWS = 1_000_000


def learn_bpe(
    wc: DataFrame,
    num_merges: int = 200,
    min_freq: int = 2,
) -> list:
    """Learn ``num_merges`` merges from a (word, freq) frame; returns
    [(left, right, pair_freq_at_merge_time), ...] in merge order.

    The vocab is truncated to the ``MAX_VOCAB_ROWS`` most frequent words
    (ties → lexicographically smaller word) via TakeOrdered — the
    size gate that makes the driver loop legitimate. Rare words beyond
    the cap still ENCODE fine (greedy merge application needs no
    training-time visibility); they just don't vote on merge choice,
    which is standard trainer practice.

    The loop maintains pair counts incrementally: an index from pair →
    words containing it means each merge touches only affected words.
    Stops early when the best pair's count drops below ``min_freq``.
    """
    from collections import Counter, defaultdict

    rows = (
        wc.orderBy(F.col("freq").desc(), F.col("word"))
        .limit(int(MAX_VOCAB_ROWS))
        .collect()
    )
    # word-id indirection: syms mutate per merge, freq is fixed
    syms = [tuple(r["word"]) for r in rows]
    freq = [int(r["freq"]) for r in rows]

    pair_counts: Counter = Counter()
    where: defaultdict = defaultdict(set)  # pair -> word ids containing it
    for wid, s in enumerate(syms):
        for p in zip(s, s[1:]):
            pair_counts[p] += freq[wid]
            where[p].add(wid)

    def apply_merge(s: tuple, pair: tuple) -> tuple:
        out = []
        i = 0
        while i < len(s):
            if i + 1 < len(s) and (s[i], s[i + 1]) == pair:
                out.append(s[i] + s[i + 1])
                i += 2
            else:
                out.append(s[i])
                i += 1
        return tuple(out)

    merges = []
    for _ in range(int(num_merges)):
        if not pair_counts:
            break
        best, best_n = min(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        if best_n < min_freq:
            break
        merges.append((best[0], best[1], best_n))
        for wid in list(where[best]):
            old = syms[wid]
            new = apply_merge(old, best)
            f = freq[wid]
            for p in zip(old, old[1:]):
                pair_counts[p] -= f
                if pair_counts[p] <= 0:
                    del pair_counts[p]
                where[p].discard(wid)
            for p in zip(new, new[1:]):
                pair_counts[p] += f
                where[p].add(wid)
            syms[wid] = new
    return merges


def encode_word_py(word: str, ranks: dict) -> list:
    """Greedy BPE application for one word: repeatedly merge ALL
    occurrences of the lowest-rank adjacent pair (left-to-right scan)
    until no learned pair remains. Reference semantics for the Arrow
    kernel in :func:`encode_words` (which inlines it with a rank→pair
    table); used directly by the fixture tests."""
    s = list(word)
    while len(s) > 1:
        best_rank = None
        pair = None
        for a, b in zip(s, s[1:]):
            rk = ranks.get((a, b))
            if rk is not None and (best_rank is None or rk < best_rank):
                best_rank = rk
                pair = (a, b)  # the winning pair, tracked inline —
                # rescanning ranks.items() per merge step was O(merges)
                # per iteration (ADVICE r7)
        if best_rank is None:
            break
        out = []
        i = 0
        while i < len(s):
            if i + 1 < len(s) and (s[i], s[i + 1]) == pair:
                out.append(s[i] + s[i + 1])
                i += 2
            else:
                out.append(s[i])
                i += 1
        s = out
    return s


def encode_words(words: DataFrame, merges: list) -> DataFrame:
    """Adds ``bpe_tokens`` (array<string>) and ``n_sub`` to a frame of
    DISTINCT words — the tokenize-once table :func:`encode_corpus` joins
    occurrences against. Merge ranks ride in the UDF closure (num_merges
    × two short strings — broadcast-trivial)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    globals().setdefault("pd", pd)
    ranks = {(l, r): i for i, (l, r, _f) in enumerate(merges)}
    # rank -> pair lookup once, not per word (encode_word_py scans the
    # ranks dict for the winning pair; give the kernel a direct table)
    by_rank = {i: p for p, i in ranks.items()}

    @pandas_udf("array<string>")
    def enc(col: pd.Series) -> pd.Series:
        def one(w):
            s = list(w)
            while len(s) > 1:
                best = None
                for a, b in zip(s, s[1:]):
                    rk = ranks.get((a, b))
                    if rk is not None and (best is None or rk < best):
                        best = rk
                if best is None:
                    break
                pair = by_rank[best]
                out = []
                i = 0
                while i < len(s):
                    if i + 1 < len(s) and (s[i], s[i + 1]) == pair:
                        out.append(s[i] + s[i + 1])
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                s = out
            return s

        return col.map(one)

    return words.withColumn("bpe_tokens", enc(F.col("word"))).withColumn(
        "n_sub", F.size("bpe_tokens")
    )


def encode_corpus(docs: DataFrame, merges: list) -> DataFrame:
    """One row per input doc: (doc_id, n_bpe_tokens, bpe_fp) where bpe_fp =
    md5 of the space-joined subword stream in document order. Blank/NULL
    docs decorate as n=0 / md5('') — total over the corpus (the
    contamination_scores contract), never silently dropped.

    Scale shape: the corpus explodes to (doc_id, pos, word) once; the
    tokenize-once table is distinct-word-sized and joins on uniform word
    keys; per-doc reassembly is a groupBy with a doc-length-bounded
    collect_list sorted by position (array_sort over struct(pos, …) —
    deterministic regardless of arrival order)."""
    occ = docs.select(
        F.col("doc_id"),
        F.posexplode(_split_ws(F.col("text"))).alias("pos", "word"),
    ).filter(F.col("word") != "")
    table = encode_words(occ.select("word").distinct(), merges).select(
        "word",
        F.array_join("bpe_tokens", " ").alias("__toks"),
        "n_sub",
    )
    per_doc = (
        occ.join(table, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_sub").cast("long").alias("n_bpe_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "__toks"))
                        ),
                        lambda x: x["__toks"],
                    ),
                    " ",
                )
            ).alias("bpe_fp"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bpe_tokens", F.lit(0)).alias("n_bpe_tokens"),
            F.coalesce("bpe_fp", F.md5(F.lit(""))).alias("bpe_fp"),
        )
    )
