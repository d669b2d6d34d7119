"""Training-corpus curation: deterministic sampling and token-budget
shard packing.

The reference's pipeline ends at extraction (CompanyCatalogCrawlerParser
stores companies/emails — Program.fs drives crawl→parse→insert); a 100 TB
training-data pipeline then CURATES: subsample the corpus to a token
budget (often per-language / per-quality-stratum) and pack the survivors
into fixed-size shards for the trainer. Both operations must be
deterministic — re-running the pipeline (or running it on two clusters)
must pick the same documents — which rules out ``df.sample``'s
partition-seeded RNG: its selection changes with partitioning. Selection
here is a pure function of the row key (md5-derived bucket), the same
idiom the minhash family uses (dedup.py), so it is reproducible,
cluster-safe, and expressible verbatim in the DuckDB oracle.

Scale notes:
- sampling is one codegen'd filter — no shuffle, full pushdown of any
  surrounding predicates; stratified rates apply via a broadcast join
  (strata counts are small: languages, quality buckets);
- a global position in key order (``global_order_index``'s
  ``train_pos``, ``exact_quantiles``' ranks, ``cap_per_domain``'s
  within-domain ranks) naively is a single-partition window (the
  classic WindowExec "no partition defined" scale-killer). Each comes
  from :func:`..session.global_index` instead: one range shuffle and
  Spark's distributed sequence id;
- ``pack_shards`` needs a GLOBAL running token total, a weighted sum a
  row index cannot give. It is a distributed prefix sum:
  range-repartition by the order key, per-partition cumulative sums
  (window PARTITIONED by partition id — parallel), then a tiny
  per-partition-totals frame (one row per partition) carries the
  running offsets through a broadcast join back. The only
  single-partition window runs over that totals frame — #partitions
  rows, bounded by cluster size, never by data size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import global_index, local_frame

__all__ = [
    "sample_bucket",
    "stratified_sample",
    "pack_shards",
    "shuffle_order_key",
    "global_order_index",
    "cap_per_domain",
    "split_sequences",
    "concat_packed_sequences",
    "exact_quantiles",
    "span_corruption",
    "upsample_epochs",
]


def sample_bucket(key: Column, salt: str = "") -> Column:
    """Deterministic bucket in [0, 10000) from md5 of the row key —
    DuckDB twin: ``CAST('0x' || substr(md5(CAST(k AS VARCHAR) || salt),
    1, 8) AS BIGINT) % 10000``. ``salt`` decorrelates independent
    sampling decisions over the same keys (e.g. eval holdout vs train
    subsample)."""
    h = F.conv(
        F.substring(F.md5(F.concat(key.cast("string"), F.lit(salt))), 1, 8),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(10000))


def stratified_sample(
    df: DataFrame,
    rates: dict[str, int],
    strata_col: str,
    default_keep: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff its
    :func:`sample_bucket` < the stratum's rate (``rates[stratum]/10000``);
    strata absent from ``rates`` fall back to ``default_keep``. The rate
    table rides a broadcast join (strata counts are language/quality-
    bucket sized), so the plan stays one scan + one codegen filter at any
    corpus size."""
    spark = df.sparkSession
    rdf = local_frame(spark, list(rates.items()), f"{strata_col} string, __keep int")
    return (
        df.join(F.broadcast(rdf), strata_col, "left")
        .filter(
            sample_bucket(F.col("doc_id"))
            < F.coalesce(F.col("__keep"), F.lit(default_keep))
        )
        .drop("__keep")
    )


def pack_shards(
    df: DataFrame,
    token_col: str,
    budget: int,
    order_col: str = "doc_id",
) -> DataFrame:
    """Assign each row a ``shard_id`` so that consecutive rows (in
    ``order_col`` order) fill ~``budget`` tokens per shard: shard_id =
    (running token total BEFORE the row) div budget — the SQL twin is
    ``sum(tok) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING TO 1 PRECEDING)
    // budget``. A document longer than ``budget`` still lands in exactly
    one shard (packing never splits rows).

    Distributed prefix sum (see module docstring) over
    ``spark.sql.shuffle.partitions`` range partitions: requires
    ``token_col`` >= 0 and non-null, ``order_col`` globally unique.

    Cluster-resilience caveat: the eager ``localCheckpoint`` below (which
    freezes partition ids as data — see the AQE note) materializes at
    DataFrame-construction time and its blocks live until the session (or
    an explicit ``unpersist``) releases them; localCheckpoint blocks are
    also non-replicated, so on a preemptible fleet an executor loss makes
    the frozen lineage unrecoverable — production clusters should swap in
    a reliable ``checkpoint`` dir (same plan, durable blocks). Callers
    that pack repeatedly in one session can reclaim storage via
    ``spark.catalog.clearCache()`` or by acting on the returned frame's
    lineage once consumed.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    # range partitioner assigns ascending key ranges to ascending
    # partition ids, so partition id IS the macro sort order
    d = df.repartitionByRange(F.col(order_col)).withColumn(
        "__pid", F.spark_partition_id()
    )
    # __pid is a READ-side value: under AQE every consumer stage of the
    # range shuffle makes its OWN partition-coalescing decision, so the
    # two branches below (per-partition cumsum and the totals frame) can
    # observe DIFFERENT __pid for the same row — the offsets then join
    # against the wrong partitions and shard boundaries shift (caught by
    # the XL bench's cross-core bit-stability check: n_shards 315 @8c vs
    # 321 @32c on identical kept_tokens). Freeze __pid as DATA with an
    # eager localCheckpoint before fanning out; coalesced range reads
    # stay contiguous-ascending, so the prefix-sum math is unchanged.
    d = d.localCheckpoint(eager=True)
    w_in = (
        Window.partitionBy("__pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = d.withColumn("__c", F.sum(token_col).over(w_in))
    # one row per partition; the single-partition window below is over
    # #partitions rows only — bounded by cluster size, not data size
    totals = cum.groupBy("__pid").agg(F.max("__c").alias("__t"))
    w_off = (
        Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = totals.select(
        "__pid",
        F.coalesce(F.sum("__t").over(w_off), F.lit(0)).alias("__off"),
    )
    return (
        cum.join(F.broadcast(offs), "__pid")
        .withColumn(
            "shard_id",
            F.expr(
                f"(__off + __c - {token_col}) div {int(budget)}"
            ),
        )
        .drop("__pid", "__c", "__off")
    )


def cap_per_domain(
    df: DataFrame,
    domain_col: str,
    cap: int,
    salt: str = "",
) -> DataFrame:
    """Domain rebalancing: keep at most ``cap`` rows per ``domain_col``
    group, selecting the survivors deterministically (smallest
    :func:`shuffle_order_key` — an md5 permutation, so the kept subset is
    a uniform-but-reproducible sample of each over-cap domain, not a
    doc_id-ordered prefix that would bias toward a domain's oldest
    pages). Web corpora need this because the domain distribution is
    power-law — without a cap a handful of mega-hosts dominate the
    training mix. Adds ``domain_rank`` (1-based rank within the domain in
    permutation order) for rows of OVER-cap domains; rows of domains
    at-or-under the cap pass through untouched with ``domain_rank`` NULL
    — the NULL/non-NULL split is itself a verifiable signal that the
    two-phase gate classified every domain correctly.

    Skew-aware two-phase plan (the naive
    ``row_number() OVER (PARTITION BY domain)`` puts an entire mega-host
    in ONE task — the exact skew the cap exists to fix):

    1. per-domain counts (map-side partial agg — only (domain, n) pairs
       shuffle) pick the over-cap domain set, which rides a BROADCAST
       semi/anti join: the under-cap bulk of the corpus is never
       shuffled at all;
    2. only over-cap rows are ranked: :func:`..session.global_index`
       over ``(domain, order_key)`` range-partitions them, so a hot
       domain spreads contiguously ACROSS partitions, and numbers them
       globally; ``domain_rank`` is a row's index minus its domain's
       first index, plus one. The first indexes (one row per over-cap
       domain) come from an aggregate and are broadcast back.

    Scan trade-off, stated honestly: the under/over split reads the
    input relation in two plan branches (plus the counts pass), so an
    uncached 100 TB input is scanned up to three times. That is the
    right trade when over-cap rows are a minority — two extra columnar
    scans cost less than range-shuffling the entire corpus, which is
    what the rank-everything single-branch alternative does. Callers
    holding the input in memory/disk cache pay nothing extra.

    Requires ``doc_id`` globally unique (md5 ties would make ranks
    arbitrary). NULL domains never match the broadcast join and so pass
    through uncapped — treat NULL as "no domain", pre-coalesce if NULL
    should be a real group.
    """
    if cap <= 0:
        raise ValueError("cap must be positive")
    over = (
        df.groupBy(domain_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > cap)
        .select(domain_col)
    )
    under = df.join(F.broadcast(over), domain_col, "left_anti").withColumn(
        "domain_rank", F.lit(None).cast("long")
    )
    hot = df.join(F.broadcast(over), domain_col, "left_semi").withColumn(
        "__ok", shuffle_order_key(F.col("doc_id"), salt)
    )
    ranked = global_index(hot, [domain_col, "__ok"], "__i")
    first = ranked.groupBy(domain_col).agg(F.min("__i").alias("__first"))
    kept = (
        ranked.join(F.broadcast(first), domain_col)
        .withColumn("domain_rank", F.col("__i") - F.col("__first") + 1)
        .filter(F.col("domain_rank") <= cap)
    )
    cols = df.columns + ["domain_rank"]
    return under.select(*cols).unionByName(kept.select(*cols))


def exact_quantiles(df: DataFrame, value_col: str, fracs: list) -> DataFrame:
    """EXACT distributed quantiles — (frac, k, value) where ``value``
    is the element at 1-based global ascending rank
    k = clamp(⌈frac·n⌉, 1, n). The curation use: deriving the frozen
    per-language CCNet perplexity cutoffs (over the per-token −logp of a
    :func:`..lm.lm_logprob` reference run) or token-length percentile gates from a reference corpus — jobs
    where ``approx_percentile`` won't do, because its Greenwald-Khanna
    merge is partition-order-sensitive and the whole point of a frozen
    cutoff is that every cluster derives the SAME number.

    Plan shape: :func:`..session.global_index` over the value (one range
    shuffle and Spark's distributed sequence id), then a broadcast probe
    of the len(fracs) target ranks, with n from a count aggregate. No
    single task sees more than its range partition. Ties are safe:
    equal values occupy a contiguous rank block, so the value at rank k
    is well-defined however the tie is ordered. Requires non-null
    ``value_col``; output is partition-count-invariant.
    """
    ranked = global_index(df.select(F.col(value_col).alias("__v")), ["__v"], "__i")
    n = F.col("__n")
    ks = (
        local_frame(df.sparkSession, [(float(f),) for f in fracs], "frac double")
        .crossJoin(F.broadcast(df.agg(F.count(F.lit(1)).alias("__n"))))
        .select(
            "frac",
            F.least(F.greatest(F.ceil(F.col("frac") * n), F.lit(1)), n)
            .cast("long")
            .alias("k"),
        )
    )
    return ranked.join(F.broadcast(ks), ranked["__i"] + 1 == ks["k"]).select(
        "frac", "k", F.col("__v").alias("value")
    )


def upsample_epochs(df: DataFrame, factor: float) -> DataFrame:
    """Fractional source upsampling for training-mix recipes (the
    LLaMA-style "this source for 2.3 epochs"): every row is replicated
    ``⌊factor⌋`` times, plus one more for the deterministic
    ``frac(factor)`` share chosen by the md5 gate on doc_id — so
    the EXPECTED corpus weight is exactly ``factor`` and the realized
    copy set is a pure function of doc_id: partition-invariant
    and identical on every cluster. Adds ``epoch`` (0-based copy
    index); compose the order key over (doc_id, epoch) — e.g.
    ``shuffle_order_key(F.concat_ws("|", doc_id, epoch))`` — so copies
    scatter through the training stream instead of clustering
    (:func:`global_order_index` keys on ``doc_id`` alone, so the copies
    would tie there).

    Plan shape: one gate expression + one explode of a
    ``sequence(0, copies-1)`` literal — no join, no shuffle; rows with
    zero copies (factor < 1 and gate misses) are filtered before the
    explode.

    Precision note (ADVICE r7): the fractional share is quantized to
    1/10000 (the ``sample_bucket`` denominator) — ``gate =
    round(frac·10000)`` — so the expected weight is exact only to 1e-4;
    factors with a finer fractional part silently round to the nearest
    quantum."""
    import math

    if factor < 0:
        raise ValueError("factor must be >= 0")
    whole = int(math.floor(factor))
    gate = int(round((float(factor) - whole) * 10_000))
    copies = F.lit(whole) + F.when(
        sample_bucket(F.col("doc_id")) < gate, F.lit(1)
    ).otherwise(F.lit(0))
    return (
        df.withColumn("__copies", copies)
        .filter(F.col("__copies") > 0)
        .select(
            *df.columns,
            F.explode(
                F.sequence(F.lit(0), F.col("__copies") - 1)
            ).alias("epoch"),
        )
    )


# T5's span-corruption shape: 3-token blocks, 15% of them masked
SPAN, DENSITY = 3, 0.15


def span_corruption(docs: DataFrame, salt: str = "") -> DataFrame:
    """T5-style span-corruption pairs (Raffel et al. 2020 §3.1.4,
    denoising objective), deterministic and relational: the token
    stream is tiled into ``SPAN``-length blocks, each block is chosen
    with probability ``DENSITY`` by the md5 gate on (doc_id, block, salt),
    and the k-th chosen block (document order) becomes sentinel
    ``<extra_id_k>`` — replaced by the sentinel in ``input_text``,
    emitted as ``sentinel + tokens`` in ``target_text``. Expected
    masked-token fraction = DENSITY, like the paper's; the pinned
    simplification vs T5 proper is stride-ALIGNED spans (blocks never
    overlap by construction, so no sequential greedy scan — the whole
    objective is one explode + one per-doc window + one ordered
    reassembly, the same plan family as encode_corpus). Docs with no
    chosen block pass through with target '' — total decoration.

    The corruption is a pure function of (doc_id, block, salt):
    partition-invariant, reproducible across clusters, re-rollable per
    epoch via ``salt``.
    """
    span = SPAN
    gate = int(round(DENSITY * 10_000))  # sample_bucket denom
    toks = F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+")
    occ = (
        docs.select(F.col("doc_id"), toks.alias("__t"))
        .select("doc_id", F.posexplode("__t").alias("__pos", "__tok"))
        .filter(F.col("__tok") != "")
        .withColumn("__blk", F.expr(f"__pos div {span}"))
        .withColumn(
            "__hit",
            sample_bucket(
                F.concat_ws("|", F.col("doc_id"), F.col("__blk")), salt
            )
            < gate,
        )
    )
    # k = rank of the chosen block within the doc (dense over blocks:
    # one row per block suffices — rank the block heads)
    heads = occ.filter(
        F.col("__hit") & (F.col("__pos") % span == 0)
    ).select(
        "doc_id", "__blk",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy("__blk"))
        .alias("__k"),
    )
    j = occ.join(heads, ["doc_id", "__blk"], "left")
    sentinel = F.concat(
        F.lit("<extra_id_"), (F.col("__k") - 1).cast("string"), F.lit(">")
    )
    in_piece = (
        F.when(F.col("__k").isNull(), F.col("__tok"))
        .when(F.col("__pos") % span == 0, sentinel)
        .otherwise(F.lit(None))
    )
    tgt_piece = F.when(
        F.col("__k").isNotNull(),
        F.when(
            F.col("__pos") % span == 0,
            F.concat(sentinel, F.lit(" "), F.col("__tok")),
        ).otherwise(F.col("__tok")),
    )
    per_doc = j.groupBy("doc_id").agg(
        *[
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                piece.isNotNull(),
                                F.struct(
                                    F.col("__pos").alias("p"),
                                    piece.alias("s"),
                                ),
                            )
                        )
                    ),
                    lambda x: x["s"],
                ),
            ).alias(name)
            for name, piece in (
                ("input_text", in_piece),
                ("target_text", tgt_piece),
            )
        ],
        F.sum(F.col("__hit").cast("long")).alias("n_masked_tokens"),
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("input_text", F.lit("")).alias("input_text"),
        F.coalesce("target_text", F.lit("")).alias("target_text"),
        F.coalesce("n_masked_tokens", F.lit(0)).alias("n_masked_tokens"),
    )


def shuffle_order_key(key: Column, salt: str = "") -> Column:
    """Deterministic training-shuffle sort key: the md5 hex of the row
    key (+ salt). Sorting by it is a uniform, reproducible permutation —
    the same corpus shuffles identically on any cluster, any partition
    count, any engine (DuckDB twin: ``md5(CAST(k AS VARCHAR) || salt)``).
    ``salt`` selects independent permutations (one per training epoch)."""
    return F.md5(F.concat(key.cast("string"), F.lit(salt)))


def global_order_index(df: DataFrame, salt: str = "") -> DataFrame:
    """Deterministic corpus shuffle for training order: adds
    ``order_key`` (the md5 permutation key) and ``train_pos`` — the row's
    0-based GLOBAL position in that shuffled order.

    A trainer needs positions, not just an ordering: positions let it
    seek ("resume from sample 41,000,000"), split ranges across data
    loaders, and interleave sources. The naive plan is
    ``row_number() OVER (ORDER BY order_key)`` — a single-partition
    window; ``train_pos`` is :func:`..session.global_index` over
    ``order_key`` instead. Requires ``doc_id`` values unique (md5 of a
    unique key is collision-free in practice; ties would make positions
    arbitrary within the tie)."""
    keyed = df.withColumn("order_key", shuffle_order_key(F.col("doc_id"), salt))
    return global_index(keyed, ["order_key"], "train_pos")


# split_sequences keeps a final partial chunk of at least this many
# tokens (1 = always; seq_len = full chunks only); tests raise it
SPLIT_KEEP_TAIL_MIN = 1


def split_sequences(df: DataFrame, seq_len: int) -> DataFrame:
    """One row per fixed-length TRAINING SEQUENCE: the doc's whitespace
    tokens (``textquality.token_count``'s definition — split of the
    trimmed text on runs of whitespace) cut into consecutive
    ``seq_len``-token chunks, the trainer's context-window shaping step
    between packing and consumption. The final partial chunk is kept
    when it has at least ``SPLIT_KEEP_TAIL_MIN`` tokens. Returns
    (``doc_id``, ``seq_idx``, ``seq_start``, ``n_seq_tokens``,
    ``seq_text``) with seq_start in token coordinates. NULL/blank docs yield no rows — a chunker's
    output IS the sequence stream; callers needing total decoration
    left-join back on doc_id.

    Scale shape: one scan, a posexplode of ceil(n/seq_len) start
    offsets per doc, slice+concat as plain codegen column expressions
    (the ``dedup._window_hashes`` lesson — never inside a ``transform``
    lambda); NO shuffle at all, chunking is embarrassingly parallel and
    composes with ``pack_shards`` run on the chunk rows.

    Reference analogue: none (engine-new training-data scope)."""
    if seq_len < 1:
        raise ValueError("seq_len must be at least 1")
    keep_tail_min = SPLIT_KEEP_TAIL_MIN
    if not 1 <= keep_tail_min <= seq_len:
        raise ValueError("SPLIT_KEEP_TAIL_MIN must be in [1, seq_len]")
    t = F.trim(F.col("text"))
    toks = df.select(
        F.col("doc_id"),
        F.when(
            t.isNull() | (t == ""),
            F.expr("array()").cast("array<string>"),
        )
        .otherwise(F.split(t, r"\s+"))
        .alias("__toks"),
    )
    n = F.size("__toks")
    full = F.floor(n / seq_len).cast("int")
    tail = n - full * seq_len
    n_out = full + F.when(tail >= keep_tail_min, F.lit(1)).otherwise(
        F.lit(0)
    )
    starts = F.when(
        n_out > 0, F.sequence(F.lit(0), n_out - 1)
    ).otherwise(F.expr("array()").cast("array<int>"))
    chunk = F.slice(
        F.col("__toks"), F.col("seq_idx") * seq_len + 1, seq_len
    )
    return (
        toks.select(
            F.col("doc_id"),
            "__toks",
            F.posexplode(starts).alias("__x", "seq_idx"),
        )
        .select(
            F.col("doc_id"),
            F.col("seq_idx").cast("long").alias("seq_idx"),
            (F.col("seq_idx").cast("long") * seq_len).alias("seq_start"),
            F.size(chunk).cast("long").alias("n_seq_tokens"),
            F.concat_ws(" ", chunk).alias("seq_text"),
        )
    )


def concat_packed_sequences(
    df: DataFrame, order_col: str = "train_pos"
) -> DataFrame:
    """Trainer-side SEQUENCE PACKING: one row per shard with the member
    texts concatenated in ``order_col`` order and the doc-boundary
    START OFFSETS in token coordinates — what an attention mask needs to
    stop cross-document attention inside a packed context window.
    Returns (``shard_id``, ``n_docs``, ``n_tokens``, ``boundaries``
    array<long>, ``text``). Run it on :func:`pack_shards` (or
    :func:`split_sequences` → pack_shards) output, where each shard's
    member set is budget-bounded.

    Scale shape: ONE groupBy(shard) with a sort_array'd collect_list —
    per-group volume is bounded by the pack budget (a context window),
    never by corpus size — then a single-pass ``aggregate`` fold
    computing offsets and the concat together. Requires ``n_tok`` to be
    the caller's token count for ``text`` (the quality gate provides
    it); boundaries are cumulative sums of those counts, so they are
    exact under any whitespace-token definition the caller used."""
    xs = F.sort_array(
        F.collect_list(
            F.struct(
                F.col(order_col).alias("k"),
                F.col("n_tok").cast("long").alias("n"),
                F.col("text").alias("t"),
            )
        )
    )
    fold = F.aggregate(
        F.col("__xs"),
        F.struct(
            F.expr("array()").cast("array<long>").alias("offs"),
            F.lit(0).cast("long").alias("tot"),
            F.lit("").alias("txt"),
        ),
        lambda acc, x: F.struct(
            F.concat(acc["offs"], F.array(acc["tot"])).alias("offs"),
            (acc["tot"] + x["n"]).alias("tot"),
            F.when(acc["txt"] == "", x["t"])
            .otherwise(F.concat_ws(" ", acc["txt"], x["t"]))
            .alias("txt"),
        ),
    )
    return (
        df.groupBy("shard_id")
        .agg(xs.alias("__xs"))
        .withColumn("__f", fold)
        .select(
            "shard_id",
            F.size("__xs").cast("long").alias("n_docs"),
            F.col("__f")["tot"].alias("n_tokens"),
            F.col("__f")["offs"].alias("boundaries"),
            F.col("__f")["txt"].alias("text"),
        )
    )
