"""Deduplication family for large-scale training-data pipelines.

All variants are pure native-column plans (no Python in the hot path) and
deterministic: hashes derive from md5 of the content (not Spark's
hash/xxhash64) so the DuckDB oracle can reproduce them bit-for-bit.

- exact:      content-hash groupBy (keep min id)
- minhash:    char-shingle → k min-hashes → banded LSH → candidate pairs
- simhash:    per-hex-digit majority over token hashes → 16-hex signature
- ngram jaccard: exact Jaccard over shingle sets for candidate verification
- embedding near-dup: see ``similarity.cosine_pairs``

Scale notes: minhash signatures are one groupBy over exploded shingles
(map-side partial min aggregation — the classic pattern); band join
shuffles only (band_key) buckets; exact-jaccard verification joins only
candidate pairs, never the full cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame


def normalized(text) -> "F.Column":
    """Lowercase, collapse whitespace — the dedup canonical form."""
    return F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")


def bind_once(expr, fn) -> "F.Column":
    """Evaluate ``expr`` once per ROW and pass the materialized value to
    ``fn``. Higher-order functions interpret their lambda bodies (no
    whole-stage codegen, no subexpression elimination), so an outer
    expression referenced inside a ``transform`` lambda re-evaluates PER
    ELEMENT — e.g. shingling recomputed the regex-normalized text for
    every one of ~300 positions, O(n²) per doc. Wrapping the expression
    in a one-element array and transforming over it binds it to a lambda
    variable, which IS materialized once (measured: the winnow+jaccard
    driver row dropped ~6×)."""
    return F.transform(F.array(expr), fn)[0]


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact near-identity dedup: md5 over normalized text, keep min id."""
    d = df.withColumn("content_hash", F.md5(normalized(F.col(text_col))))
    w = Window.partitionBy("content_hash").orderBy(id_col)
    return (
        d.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingles(text, k: int = 5) -> "F.Column":
    """Distinct char k-shingles of the normalized text (array<string>).
    Texts shorter than k yield a single shingle = the whole text.
    The normalized text is bound once per row (see :func:`bind_once`) —
    referencing it directly inside the transform lambda re-runs the
    normalization regex per position."""

    def per_t(t):
        n = F.length(t)
        idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
        return F.array_distinct(
            F.transform(idx, lambda i: F.substring(t, i, F.lit(k)))
        )

    return bind_once(normalized(text), per_t)


MINHASH_P = 2147483647  # 2^31 - 1 (prime): mod keeps products in int64


def minhash_a(i: int) -> int:
    """Per-seed multiplier for the universal-hash family — md5-derived so
    seeds share no linear relation. (A first cut used a_i = (i+1)·c:
    doubling mod P preserves order on half the range, so different seeds
    kept picking the SAME argmin shingle and band keys collapsed to
    single-hash collision probability — measured 20× spurious pairs.)"""
    import hashlib

    h = int(hashlib.md5(f"mh_a{i}".encode()).hexdigest()[:15], 16)
    return h % (MINHASH_P - 1) + 1


def minhash_b(i: int) -> int:
    """Per-seed offset for the universal-hash family (md5-derived)."""
    import hashlib

    return int(hashlib.md5(f"mh_b{i}".encode()).hexdigest()[:15], 16) % MINHASH_P


def minhash_signature(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 5, num_hashes: int = 12,
) -> DataFrame:
    """(id, mh_0..mh_{n-1}): per-seed min over a universal-hash family
    applied to ONE base hash per shingle.

    Hash scheme (r5 — was min(md5(shingle||'#i')) per seed, i.e. 12 md5
    evaluations per shingle, the dominant cost of the whole operator at
    1M docs: ~12 µs/doc of pure md5): ONE md5 per shingle, from which TWO
    independent 31-bit bases are parsed (hex chars 1-8 and 9-16), and
    seed i derives ``mh_i = (base·a_i + b_i) mod P`` — two int64 ops —
    alternating bases across seeds (even seeds use hA, odd hB). Why two
    bases (r6): a single base mod P=2^31-1 collides distinct shingles at
    birthday scale ~2^15.5 — ~10^7-10^8 distinct shingles at the XL bench
    give many collisions, and a base collision was shared by ALL seeds,
    correlating signature errors. Alternating decorrelates: every band
    (bands ≥ 2 rows) mixes both bases, so a band-key collapse now needs a
    simultaneous hA AND hB collision (~2^-62 per pair). Both halves stay
    engine-portable: DuckDB parses the same hex spans via
    ``CAST('0x'||substr(md5(s),1,8) AS BIGINT)`` and P = 2^31-1 keeps
    ``base·a_i`` inside int64 for Spark's ANSI mode and DuckDB alike.
    ``min`` is duplicate-insensitive, so the oracle needs no DISTINCT on
    shingles even though :func:`shingles` dedups.

    Formulation note (measured at sf0.1): explode→hash-aggregate stays in
    whole-stage codegen with map-side partial min and beats the
    "shuffle-free" ``array_min(transform(…))`` per-row variant by ~10× —
    nested higher-order functions are CodegenFallback (interpreted, boxed),
    so the classic explode pattern wins despite the shuffle."""
    def base(md5_col, start):
        return F.pmod(
            F.conv(F.substring(md5_col, start, 8), 16, 10).cast("long"),
            F.lit(MINHASH_P),
        )

    ex = df.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), k)).alias("shingle")
    ).select(
        F.col(id_col),
        F.md5(F.col("shingle")).alias("__m"),
    ).select(
        F.col(id_col),
        base(F.col("__m"), 1).alias("ha"),
        base(F.col("__m"), 9).alias("hb"),
    )
    aggs = [
        F.min(
            F.pmod(
                F.col("ha" if i % 2 == 0 else "hb") * F.lit(minhash_a(i))
                + F.lit(minhash_b(i)),
                F.lit(MINHASH_P),
            )
        ).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return ex.groupBy(id_col).agg(*aggs)


def _lsh_banded(
    df: DataFrame, id_col: str, text_col: str, k: int, num_hashes: int, bands: int,
    sig: DataFrame | None = None,
) -> DataFrame:
    """(id, band, key) rows — one per (doc, band). Pass a precomputed
    ``sig`` (a :func:`minhash_signature` frame with ≥ ``num_hashes``
    columns) to reuse one shingle explode across consumers — per-seed
    hashes are independent of ``num_hashes``, so the first n columns of
    a wider signature ARE the n-hash signature."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    if sig is None:
        sig = minhash_signature(df, id_col, text_col, k, num_hashes)

    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.concat_ws("|", *parts).alias("key"))
        )
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def minhash_lsh_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 5, num_hashes: int = 12, bands: int = 4,
    max_bucket: int | None = 256,
    observation=None,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) that collide in ≥1 LSH band.

    Skew guard: a band bucket shared by D docs emits D·(D-1)/2 pairs inside
    ONE join task, so a single hot bucket of near-identical docs goes
    quadratic (the round-1 bench's dominant cost). Buckets larger than
    ``max_bucket`` are excluded from pair generation — they are de-facto
    exact-dup clusters that :func:`exact_dedup` should collapse first. The
    cap is part of the operator contract (the DuckDB oracle twin applies
    the same predicate) and the skipped volume stays observable via
    :func:`lsh_oversized_buckets` — nothing is silently dropped.

    Callers that need the exhaustive (round-1) behavior pass
    ``max_bucket=None`` — the cap is opt-out, not hidden: pair recall in
    hot buckets is traded for bounded task size, and any consumer of the
    capped default should surface :func:`lsh_oversized_buckets` next to
    its results (ADVICE r02 — truncation must be visible at call sites).

    Pass a ``pyspark.sql.Observation`` as ``observation`` to get the
    skipped volume IN the same job that computes the pairs (no second
    scan): after any action on the result, ``observation.get`` carries
    ``skipped_rows`` (doc-band memberships excluded by the cap) and
    ``max_bucket_seen`` — so the 256-default can never silently cost
    recall at a call site that wires the metric.
    """
    # checkpoint the banded signatures: three consumers below (window count
    # + both sides of the self-join) would otherwise recompute the shingle
    # explode+aggregate; the checkpointed rows are tiny (id, band, key).
    # NB under AQE a lazy localCheckpoint materializes upstream stages when
    # the first action touches it — fine here, the result is always used.
    banded = _lsh_banded(
        df, id_col, text_col, k, num_hashes, bands, sig=sig
    ).localCheckpoint(eager=False)
    # bucket-size gate as a WINDOW count: one shuffle on (band,key) over
    # the checkpointed rows, no extra join
    if max_bucket is None:
        capped = banded
    else:
        bw = Window.partitionBy("band", "key")
        marked = banded.withColumn("__n", F.count("*").over(bw))
        if observation is not None:
            marked = marked.observe(
                observation,
                F.sum(
                    F.when(F.col("__n") > max_bucket, 1).otherwise(0)
                ).alias("skipped_rows"),
                F.max("__n").alias("max_bucket_seen"),
            )
        capped = marked.filter(F.col("__n") <= max_bucket).drop("__n")

    a = capped.alias("a")
    b = capped.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )
    return pairs


def lsh_oversized_buckets(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 5, num_hashes: int = 12, bands: int = 4, max_bucket: int = 256,
) -> DataFrame:
    """(band, key, n_docs) of buckets :func:`minhash_lsh_pairs` skipped —
    the audit surface for the skew cap (no silent truncation)."""
    banded = _lsh_banded(df, id_col, text_col, k, num_hashes, bands)
    return (
        banded.groupBy("band", "key")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > max_bucket)
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 5, threshold: float = 0.8,
) -> DataFrame:
    """Exact shingle-Jaccard ≥ threshold pairs via shingle equi-join
    (id_a < id_b, sizes via per-doc distinct counts). Intended for
    verification of LSH candidates or modest corpora; at 10^10 docs run it
    AFTER :func:`minhash_lsh_pairs` pruning (join on the candidate set)."""
    ex = df.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), k)).alias("shingle")
    )
    sizes = ex.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = ex.alias("a")
    b = ex.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    out = (
        shared.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def jaccard_verify(
    df: DataFrame, pairs: DataFrame,
    id_col: str = "doc_id", text_col: str = "text", k: int = 5,
    threshold: float = 0.0,
) -> DataFrame:
    """Exact shingle-Jaccard for a CANDIDATE pair set — the verification
    stage the LSH/winnow/simhash generators feed at 10^10-doc scale,
    where :func:`ngram_jaccard_pairs`' all-shared-shingle join is
    unaffordable. ``pairs`` is (id_a, id_b); only docs appearing in some
    pair are shingled (semi-join prune), intersections are counted
    per-shingle but immediately restricted to the candidate set (inner
    join on (id_a, id_b) BEFORE the count aggregation), so work is
    O(candidate docs' shingles), never corpus-quadratic. Returns
    (id_a, id_b, jaccard) for candidates meeting ``threshold`` —
    verified identical to :func:`ngram_jaccard_pairs` on the same ids.

    ``pairs`` is consumed THREE times (both cand_ids legs + the
    restriction join), so it is localCheckpoint'd here — without that, a
    lazily-planned candidate generator (winnow_pairs / minhash_lsh_pairs)
    re-runs its full explode+join once per consumer: measured 46.7 s →
    ~12 s on the winnow→verify pipeline at 20k docs (r5 XL bench)."""
    pairs = pairs.select("id_a", "id_b").localCheckpoint(eager=False)
    cand_ids = (
        pairs.select(F.col("id_a").alias("__id"))
        .unionByName(pairs.select(F.col("id_b").alias("__id")))
        .distinct()
    )
    docs = df.join(
        cand_ids, F.col(id_col) == F.col("__id"), "left_semi"
    )
    ex = docs.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), k)).alias("shingle")
    )
    sizes = ex.groupBy(id_col).agg(F.count("*").alias("sz"))
    a, b = ex.alias("a"), ex.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .join(pairs.select("id_a", "id_b").distinct(), ["id_a", "id_b"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        shared.join(
            sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("sz", "sz_a"),
            "id_a",
        )
        .join(
            sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("sz", "sz_b"),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def winnow_prints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 8, window: int = 4,
) -> DataFrame:
    """(id, fp) rows — the EXPLODED winnowing fingerprint set, value-equal
    to ``explode(textquality.winnow_fingerprints(...))`` (property-tested)
    but built for scale: the per-row array formulation evaluates its md5
    per k-gram inside an interpreted HOF lambda (~1300 core-seconds for
    200k docs, the dominant winnow_pairs cost), while this shape explodes
    gram positions and computes each md5 in WHOLE-STAGE CODEGEN, then
    takes the rolling window minimum with a frame window function (one
    sort-shuffle on (doc, position)) — measured ~5× on the r5 XL bench.
    ``textquality.winnow_fingerprints`` stays as the per-row array API
    (metrics rows want a column, not an exploded table)."""
    t = F.col("__t")
    # n_grams is a pure function of the text length (the idx sequence
    # size), so the last-window-start bound rides the explode as a
    # precomputed column — no count() window pass over the gram rows
    base = df.select(
        F.col(id_col),
        normalized(F.col(text_col)).alias("__t"),
    ).select(
        F.col(id_col),
        t,
        F.greatest(
            F.greatest(F.length(t) - F.lit(k - 1), F.lit(1))
            - F.lit(window - 1),
            F.lit(1),
        ).alias("__last_start"),
    )
    ex = base.select(
        F.col(id_col),
        F.col("__last_start"),
        F.explode(
            F.sequence(
                F.lit(1), F.greatest(F.length(t) - F.lit(k - 1), F.lit(1))
            )
        ).alias("i"),
        t,
    ).select(
        F.col(id_col),
        F.col("__last_start"),
        F.col("i"),
        F.substring(F.md5(t.substr(F.col("i"), F.lit(k))), 1, 8).alias("g"),
    )
    frame = Window.partitionBy(id_col).orderBy("i").rowsBetween(0, window - 1)
    return (
        ex.withColumn("__min", F.min("g").over(frame))
        # only window START positions exist in the array formulation:
        # nwin = max(n_grams - window + 1, 1); the frame min at clamped
        # tail positions equals the array slice-clamp min, so the filter
        # alone reproduces the spec exactly
        .filter(F.col("i") <= F.col("__last_start"))
        .select(F.col(id_col), F.col("__min").alias("fp"))
        .distinct()
    )


def winnow_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 8, window: int = 4, min_shared: int = 3,
    max_bucket: int | None = 256,
    observation=None,
) -> DataFrame:
    """Winnowing-based near-dup candidates: docs sharing ≥ ``min_shared``
    winnow fingerprints (``textquality.winnow_fingerprints`` — each
    window's minimum k-gram hash, the plagiarism-detection sketch).
    Positional local-min sampling makes this modality robust to
    INSERTIONS/deletions in a way fixed-band minhash is not: an edit
    perturbs only the windows it touches, the other selected prints
    survive verbatim, so ``n_shared`` degrades linearly instead of
    zeroing a whole band.

    Scale shape mirrors :func:`minhash_lsh_pairs`: explode prints →
    bucket by print (skew cap ``max_bucket`` — a print shared by D docs
    is a de-facto exact-dup cluster) → pair counts via groupBy. Returns
    (id_a, id_b, n_shared), id_a < id_b, candidates only — verify with
    :func:`ngram_jaccard_pairs` on the candidate set.

    Pass a ``pyspark.sql.Observation`` as ``observation`` to get the
    capped volume IN the same job (``skipped_rows`` print-rows excluded,
    ``max_bucket_seen``) — same contract as
    :func:`minhash_lsh_pairs`; the separate
    :func:`winnow_oversized_prints` audit stays for callers without the
    metric wired (r5 verdict: at 1M docs the cap dropped 51,607
    print-rows and that number should ride the producing job, not a
    second scan)."""
    ex = winnow_prints(df, id_col, text_col, k, window)
    if max_bucket is not None:
        bw = Window.partitionBy("fp")
        ex = ex.withColumn("__n", F.count("*").over(bw))
        if observation is not None:
            ex = ex.observe(
                observation,
                F.sum(
                    F.when(F.col("__n") > max_bucket, 1).otherwise(0)
                ).alias("skipped_rows"),
                F.max("__n").alias("max_bucket_seen"),
            )
        ex = ex.filter(F.col("__n") <= max_bucket).drop("__n")
    a, b = ex.alias("a"), ex.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnow_oversized_prints(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 8, window: int = 4, max_bucket: int = 256,
) -> DataFrame:
    """(fp, n_docs) of fingerprint buckets :func:`winnow_pairs` skips
    under ``max_bucket`` — the standalone audit surface (a second scan;
    prefer wiring an ``Observation`` into :func:`winnow_pairs` so the
    metric rides the producing job)."""
    ex = winnow_prints(df, id_col, text_col, k, window)
    return (
        ex.groupBy("fp")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > max_bucket)
    )


def simhash16(text) -> "F.Column":
    """16-char {0,1} signature: bit j = majority over tokens of the top bit
    of hex digit j of md5(token). Portable to ANSI SQL (see oracle twin).

    md5 is computed ONCE per token (hoisted into a transform) and all 16
    digit-sums accumulate in a single array pass with a struct accumulator
    — the original per-bit formulation hashed every token 16×."""
    tokens = F.array_distinct(F.split(normalized(text), " "))
    hashes = F.transform(tokens, lambda t: F.md5(t))
    hexhi = list("89abcdef")

    def step(acc, h):
        return F.struct(
            *[
                (
                    acc[f"s{j}"]
                    + F.when(
                        F.substring(h, j + 1, 1).isin(*hexhi), F.lit(1)
                    ).otherwise(F.lit(-1))
                ).alias(f"s{j}")
                for j in range(16)
            ]
        )

    def finish(acc):
        # inside the aggregate's finish lambda so the whole signature is ONE
        # expression — extracting fields outside would re-embed (and
        # re-evaluate) the aggregate 16×
        return F.concat(
            *[
                F.when(acc[f"s{j}"] > 0, F.lit("1")).otherwise(F.lit("0"))
                for j in range(16)
            ]
        )

    zero = F.struct(*[F.lit(0).alias(f"s{j}") for j in range(16)])
    return F.aggregate(hashes, zero, step, finish)


def simhash_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Docs sharing an identical 16-bit simhash (near-dup buckets).

    Returns ``(simhash, n_docs, min_id)`` — a BOUNDED row per bucket. The
    previous ``collect_list(ids)`` form put an entire bucket's membership
    into one aggregation buffer, which is unbounded for a mega-cluster of
    identical docs; consumers that need the membership join the per-doc
    ``(doc_id, simhash16(text))`` table against these group rows instead."""
    d = df.select(F.col(id_col), simhash16(F.col(text_col)).alias("simhash"))
    return (
        d.groupBy("simhash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("min_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# dup clustering — connected components over the near-dup pair graph
#
# Pairs are not a dedup decision: near-dup edges are transitive in
# practice (a~b, b~c chains), so the 100 TB pipeline keeps ONE
# representative per connected COMPONENT of the pair graph, not "drop the
# larger id of every pair" (which over-drops chains: a-b, b-c drops both
# b and c even though c was never compared to a). Connected components at
# this scale is the alternating large-star / small-star algorithm
# (Kiveris et al., "Connected Components in MapReduce and Beyond",
# ACM SoCC 2014): O(log^2 n) rounds of two groupBy+join passes, every
# message addressed to the current minimum of a neighborhood — no
# label-propagation hub flooding, no driver-side union-find. Components
# of near-dup graphs are shallow (dense clusters, diameter ~2-3), so the
# loop typically converges in 2-3 rounds.


def _sym_uv(e: DataFrame) -> DataFrame:
    """Both directions of a (u, v) edge list, self-loops dropped.
    Large-star needs the FULL neighborhood of every node, so the graph is
    re-symmetrized each round — the round outputs are directed stars
    (member → min), on which large-star alone would see empty
    upward neighborhoods and emit nothing."""
    return (
        e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """(v, m(u)) for every v in N(u) with v > u, m(u) = min(N(u) ∪ {u})."""
    sym = _sym_uv(edges)
    m = sym.groupBy("u").agg(
        F.least(F.first("u"), F.min("v")).alias("m")
    )
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Canonicalize every edge to (hi, lo); per hi with lows L,
    m = min(L), emit (x, m) for x in (L ∪ {hi}) \\ {m}."""
    canon = edges.select(
        F.greatest("u", "v").alias("hi"), F.least("u", "v").alias("lo")
    ).distinct()
    m = canon.groupBy("hi").agg(F.min("lo").alias("m"))
    non_min = (
        canon.join(m, "hi")
        .filter(F.col("lo") != F.col("m"))
        .select(F.col("lo").alias("u"), F.col("m").alias("v"))
    )
    self_edge = m.select(F.col("hi").alias("u"), F.col("m").alias("v"))
    return non_min.unionByName(self_edge).distinct()


# below this edge count the component labels are computed driver-side
# (one collect of the DISTINCT edge set + a union-find sweep) instead of
# the iterative star-contraction — the same size-gated discipline as the
# redirect closure (sources/pages.py DRIVER_CLOSURE_MAX_BYTES): a near-dup
# pair graph is orders smaller than its corpus, each distributed star
# round costs ~6 shuffle stages, and chain-shaped graphs need O(log² n)
# rounds of pure stage overhead at this size. 200k edges ≈ 3 MB of long
# pairs — control-aggregate-sized for any driver. Above the gate, the
# provably-convergent distributed fixpoint runs unchanged (the 10^10
# design). Both paths produce identical (node, min-reachable-id) labels.
CC_DRIVER_MAX_EDGES = 200_000


def _cc_driver(rows) -> dict:
    """Union-find (path halving + union by min label) over collected
    (u, v) edges → {node: component} with component = min reachable id.
    Pure function of the edge SET — iteration order cannot change the
    result because the final label is the componentwise minimum."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            parent[r] = parent[parent[r]]
            r = parent[r]
        return r

    for u, v in rows:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            # union by min: the smaller label becomes the root, so roots
            # are always the component minimum
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return {n: find(n) for n in parent}


def connected_components(
    pairs: DataFrame, max_iters: int = 20
) -> DataFrame:
    """(node, component) for every node in ``pairs`` (id_a/id_b columns);
    component = the minimum node id reachable through the pair graph.

    Alternating large-star/small-star with a localCheckpoint per round
    (iterative self-joins otherwise stack an exponentially deepening
    lineage — the same discipline as the crawl's frontier loop) and a
    deterministic fixed-point test. ``max_iters`` is a safety rail only:
    the algorithm provably converges in O(log^2 n) rounds and near-dup
    graphs converge in 2-3.

    Fixed-point test (r8): both round outputs are DISTINCT edge sets, so
    set equality is ``|nxt| == |edges| AND nxt \\ edges == ∅`` — one
    cheap aggregate job on the checkpointed rows (count + u/v sums as a
    pre-filter) per round, plus ONE one-sided ``exceptAll`` only on
    rounds whose aggregates already match (i.e. normally just the final
    round). The previous both-ways ``exceptAll`` paid two full
    shuffle-heavy jobs every round (measured: the dominant cost of the
    fixpoint on small graphs; at scale each exceptAll shuffles the whole
    edge set twice)."""
    edges = (
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = edges.count()  # cheap: counts the checkpointed blocks
    if n_edges <= CC_DRIVER_MAX_EDGES:
        spark = pairs.sparkSession
        labels = _cc_driver(
            [(r["u"], r["v"]) for r in edges.collect()]
        )
        ntype = edges.schema["u"].dataType
        from pyspark.sql.types import StructField, StructType

        schema = StructType(
            [StructField("node", ntype), StructField("component", ntype)]
        )
        return local_frame(spark, sorted(labels.items()), schema)

    def _sig(e: DataFrame) -> tuple:
        r = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("u").alias("su"),
            F.sum("v").alias("sv"),
        ).first()
        return (r["n"], r["su"], r["sv"])

    sig = _sig(edges)
    for _ in range(max_iters):
        nxt = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        nsig = _sig(nxt)
        # equal counts + one-sided emptiness ⇒ set equality (both sides
        # are distinct); the sum pre-filter skips the exceptAll on
        # not-yet-converged rounds
        same = nsig == sig and nxt.exceptAll(edges).isEmpty()
        edges, sig = nxt, nsig
        if same:
            break
    else:
        raise RuntimeError(f"connected_components: no fixed point in {max_iters} iters")
    # fixed point is a star forest: every edge is (member, root); roots
    # label themselves
    members = edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = edges.select(F.col("v").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return members.unionByName(roots).distinct()


def dedup_clusters(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(id, cluster_id, is_rep) over ALL docs: docs in the pair graph get
    their component's min id, untouched docs are their own singleton
    cluster; ``is_rep`` marks the one kept representative per cluster.
    Survivor selection for the composed pipeline is then
    ``filter(is_rep)`` — cluster-correct where the per-pair anti-join
    over-drops chains (see module note above)."""
    cc = connected_components(pairs).withColumnRenamed("node", id_col)
    return (
        df.select(id_col)
        .join(cc, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
        .withColumn("is_rep", F.col(id_col) == F.col("cluster_id"))
    )


def _window_hashes(df: DataFrame, n: int, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, __wh): a 60-bit md5-derived hash of every ``n``-token
    window of the normalized text, ``pos`` the 0-based token index of the
    window start. Docs shorter than ``n`` tokens yield no rows. One scan,
    no shuffle; row volume is O(total tokens) — the same scale shape as
    the winnow gram explode.

    Shape note: the window START indices are exploded first and the
    slice+md5 is a plain column expression over the exploded rows —
    computing the hash inside a ``transform`` lambda instead drops the
    whole projection to interpreted evaluation (measured 19.4 s vs
    3.0 s for 26M windows at local[32]; bit-identical output)."""
    toks = df.select(
        F.col(id_col),
        F.split(normalized(F.col(text_col)), " ").alias("__toks"),
    )
    starts = F.when(
        F.size("__toks") >= n,
        F.sequence(F.lit(0), F.size("__toks") - n),
    ).otherwise(F.expr("array()").cast("array<int>"))
    return (
        toks.select(
            F.col(id_col),
            "__toks",
            F.posexplode(starts).alias("__i", "pos"),
        )
        .select(
            F.col(id_col),
            "pos",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            " ", F.slice(F.col("__toks"), F.col("pos") + 1, n)
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("__wh"),
        )
    )


def duplicate_spans(
    df: DataFrame,
    n: int = 50,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring duplicate spans (the remove-from-middle dedup of
    Lee et al. 2021, arXiv:2107.06499, re-expressed relationally): find
    every maximal token span whose ``n``-token windows ALL occur at least
    ``min_count`` times in the corpus (within-doc repeats count, as in
    the paper). Returns (id, span_start, span_end) in 0-based
    NORMALIZED-token coordinates, end exclusive.

    The paper builds a corpus-wide suffix array — inherently sequential
    and memory-resident. The relational equivalent at 100 TB: hash every
    n-token window (rows = O(total tokens); the only shuffle is
    window-hash → count, map-side-combinable), keep hashes with
    count ≥ min_count, join back (semi join on the hash), and merge
    overlapping marked windows per doc with a gaps-and-islands window —
    partitioned BY DOC, so parallelism is per-document and no global
    order is ever materialized.

    Plan shape, deliberately: the window-hash projection feeds TWO plan
    branches (the count aggregate and the mark-back probe), so the
    codegen hash scan evaluates twice. The single-evaluation alternative
    — marking via ``count(*) OVER (PARTITION BY hash)`` — trades that
    for WindowExec buffering every occurrence of a hash in one group,
    which inverts under exactly the skew this operator exists for (a
    boilerplate window occurring in millions of docs); the duplicated
    scan is embarrassingly parallel, the buffered group is not.
    Measured at 1M docs the two-branch plan scales at 0.795 of linear
    vs the host's 0.462 engine-free ceiling
    (BENCH/exactsubstr_xl_r7.json). A 60-bit hash stands in for the exact
    substring: collisions (~N²/2⁶¹) would mark a non-duplicate span —
    negligible below ~10¹² windows and always removal-safe in the
    training-data setting (a false positive loses one span of text, it
    never keeps a duplicate). Reference analogue: none (engine-new
    training-data scope)."""
    if n < 2:
        raise ValueError("window must be at least 2 tokens")
    pos = _window_hashes(df, n, id_col, text_col)
    dup = (
        pos.groupBy("__wh")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("__wh")
    )
    marked = pos.join(dup, "__wh").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    isl = marked.withColumn(
        "__new",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") - F.lag("pos").over(w) > n),
            1,
        ).otherwise(0),
    ).withColumn(
        "__g",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return isl.groupBy(id_col, "__g").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(n)).cast("long").alias("span_end"),
    ).select(id_col, F.col("span_start").cast("long"), "span_end")


def remove_duplicate_spans(
    df: DataFrame,
    n: int = 50,
    min_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    spans: DataFrame | None = None,
) -> DataFrame:
    """Rewrite ``text_col`` with every :func:`duplicate_spans` span cut
    out (tokens outside spans re-joined with single spaces), plus
    ``n_removed_tokens``. The output text is the NORMALIZED form even
    for untouched docs — removal is defined in normalized-token space,
    exactly like the paper operates on tokenized text; NULL text stays
    NULL (n_removed_tokens 0). Pass a precomputed ``spans`` frame to
    reuse one span computation across consumers.

    Spans aggregate per doc (collect_list of a per-doc-bounded span set)
    and join back on the id — the corpus itself never shuffles on
    anything but that id join; the per-token span test is a nested
    higher-order lambda (interpreted, but O(tokens × spans_per_doc)
    JVM-side with no extra explode).

    Consumer note: aggregate DERIVED columns, not the text expression —
    an Aggregate directly over e.g. ``xxhash64(text)`` lets
    CollapseProject inline this operator's HOF-bearing text expression
    into the agg, which abandons codegen for a fully-interpreted per-row
    walk (measured 17× slower at 20k docs). Project the per-row value
    first (``.select(F.xxhash64("text").alias("h")).agg(F.sum("h"))``),
    which keeps the HOF in a Project and the agg over a column ref."""
    if spans is None:
        spans = duplicate_spans(df, n, min_count, id_col, text_col)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    toks = df.withColumn(
        "__toks", F.split(normalized(F.col(text_col)), " ")
    ).join(per_doc, id_col, "left")
    kept = F.when(F.col("__spans").isNull(), F.col("__toks")).otherwise(
        F.filter(
            "__toks",
            lambda t, i: ~F.exists(
                "__spans",
                lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
            ),
        )
    )
    out_cols = [c for c in df.columns if c != text_col]
    return (
        toks.withColumn("__kept", kept)
        .select(
            *out_cols,
            F.when(
                F.col(text_col).isNull(), F.lit(None).cast("string")
            ).otherwise(F.concat_ws(" ", "__kept")).alias(text_col),
            F.when(F.col(text_col).isNull(), F.lit(0).cast("long"))
            .otherwise(
                (F.size("__toks") - F.size("__kept")).cast("long")
            )
            .alias("n_removed_tokens"),
        )
    )


def dedup_against(
    df: DataFrame,
    seen: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seen_hash_col: str = "content_hash",
) -> DataFrame:
    """Incremental (cross-snapshot) exact dedup: keep only docs whose
    normalized-content md5 is NOT in ``seen`` — the each-new-crawl-
    against-all-prior-crawls discipline. Within the new batch itself,
    :func:`exact_dedup` semantics apply (min id per new hash), so the
    output is both internally and historically unique. Returns the
    surviving docs with their ``content_hash`` column attached — union
    it onto ``seen`` (e.g. through the SnapshotStore) to roll the seen
    set forward for the next increment.

    Scale shape: one anti-join on a 128-bit content hash. The seen side
    at 100 TB is every prior crawl — far too big to broadcast or bloom
    at the driver — and a shuffled sort-merge anti-join on md5 is the
    plan you WANT: uniformly distributed keys by construction, so no
    salting, no skew handling, and both sides prune to a single hash
    column at the scan. Same family as the crawl's J2 URL-seen
    anti-join (operators/urlseen.py), which adds the bloom fast path
    for the small-seen regime; content dedup rolls TBs of hashes, so
    the join is the honest default here."""
    fresh = exact_dedup(df, id_col=id_col, text_col=text_col)
    prior = seen.select(F.col(seen_hash_col).alias("content_hash")).distinct()
    return fresh.join(prior, "content_hash", "left_anti")


def _line_rows(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, __lh, __blank): one row per newline-delimited line of
    ``text_col``, ``pos`` the 0-based line index, ``__lh`` a 60-bit
    md5-derived hash of the TRIMMED line, ``__blank`` true for lines
    that are empty after trimming. NULL text yields no rows. One scan,
    no shuffle; row volume is O(total lines) — far below the token
    explodes of :func:`_window_hashes` / winnowing."""
    return df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "__line"),
    ).select(
        id_col,
        "pos",
        F.conv(F.substring(F.md5(F.trim("__line")), 1, 15), 16, 10)
        .cast("long")
        .alias("__lh"),
        (F.trim("__line") == "").alias("__blank"),
    )


def duplicate_lines(
    df: DataFrame,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide duplicated lines — the boilerplate detector of the
    CCNet (Wenzek et al. 2020, arXiv:1911.00359) / RefinedWeb (Penedo
    et al. 2023) line-dedup stage: lines whose trimmed content occurs
    in at least ``min_docs`` DISTINCT documents ("subscribe to our
    newsletter", cookie banners, nav menus). Returns one row per
    duplicated line hash: (line_hash, n_docs, n_occ, first_doc,
    first_pos), where (first_doc, first_pos) is the globally first
    occurrence (min (id, pos)) — the one :func:`remove_duplicate_lines`
    keeps. Blank lines (empty after trim) never count: every document
    has them and they carry no content.

    Scale shape: two map-side-combinable aggregations — (line_hash, id)
    first (collapsing within-doc repeats so n_docs is a distinct-doc
    count without ``countDistinct``'s expand), then line_hash. No
    windows, no joins; a boilerplate line present in millions of docs
    is ONE group whose partial aggregates combine map-side, so skew
    costs nothing. Within-doc repetition is deliberately not a trigger
    (that is gopher_metrics' dup_line_frac); min_docs counts documents.
    Reference analogue: none (engine-new training-data scope, same
    family as duplicate_spans)."""
    per_doc = (
        _line_rows(df, id_col, text_col)
        .filter(~F.col("__blank"))
        .groupBy("__lh", id_col)
        .agg(F.count(F.lit(1)).alias("__c"), F.min("pos").alias("__minpos"))
    )
    return (
        per_doc.groupBy("__lh")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__c").alias("n_occ"),
            F.min(F.struct(F.col(id_col), F.col("__minpos"))).alias("__f"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select(
            F.col("__lh").alias("line_hash"),
            "n_docs",
            "n_occ",
            F.col("__f")[id_col].alias("first_doc"),
            F.col("__f")["__minpos"].alias("first_pos"),
        )
    )


def remove_duplicate_lines(
    df: DataFrame,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rewrite ``text_col`` with corpus-duplicated lines removed, plus
    ``n_removed_lines``. The globally first occurrence (min (id, pos))
    is kept and the rest removed — CCNet's keep-one-copy discipline.
    Blank lines are always kept (structure, not content); NULL text
    stays NULL (n_removed_lines 0). Unlike the span path, untouched docs
    keep their text BYTE-IDENTICAL — lines are removed whole, never
    re-normalized.

    Scale shape: the removed-position probe joins line rows to the dup
    frame on line_hash (the only shuffle of line rows; a
    million-document boilerplate line is a skewed probe key against ONE
    build row — shuffle-hash territory, AQE skew-split safe, never a
    buffering window), then aggregates removed positions per doc. The
    corpus text itself shuffles only on the id join against that
    removed frame — which is as small as the boilerplate it found, not
    O(corpus). The line-rows projection feeds two plan branches (count
    and probe), the same deliberate trade as duplicate_spans: a
    re-evaluated codegen scan is embarrassingly parallel, a
    count-over-hash-partition window is not."""
    dup = duplicate_lines(df, min_docs, id_col, text_col)
    rows = _line_rows(df, id_col, text_col).filter(~F.col("__blank"))
    removed = rows.join(dup, rows["__lh"] == dup["line_hash"]).filter(
        ~(
            (F.col(id_col) == F.col("first_doc"))
            & (F.col("pos") == F.col("first_pos"))
        )
    )
    per_doc = removed.groupBy(id_col).agg(
        F.collect_set("pos").alias("__rm")
    )
    out_cols = [c for c in df.columns if c != text_col]
    joined = df.join(per_doc, id_col, "left")
    kept = F.filter(
        F.split(F.col(text_col), "\n"),
        lambda line, i: F.col("__rm").isNull()
        | ~F.exists("__rm", lambda p: p == i),
    )
    return joined.select(
        *out_cols,
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
        .otherwise(F.concat_ws("\n", kept))
        .alias(text_col),
        F.coalesce(F.size("__rm"), F.lit(0)).cast("long")
        .alias("n_removed_lines"),
    )
