"""Streaming near-duplicate detection — dedup-on-ingest for a live crawl.

The batch family (``operators/dedup.py``) answers "which documents in
this corpus are near-dups"; a 100 TB ingest pipeline also needs the
ONLINE question: "is the page I just fetched a near-dup of anything I
have already admitted?" — answered incrementally, without re-scanning
the corpus per batch. This module is that operator, built from two
streaming-safe pieces:

1. :func:`banded_keys_rowwise` — the minhash-LSH band keys as a pure
   per-row PROJECTION (no aggregation), so it runs on an unbounded
   streaming DataFrame. Bit-identical to the batch
   ``dedup._lsh_banded`` (same md5 → dual 31-bit bases → universal-hash
   family → per-seed min → banded concat), proven by
   ``tests/test_stream_dedup.py`` and the driver hash row.
2. :func:`streaming_lsh_pairs` — ``applyInPandasWithState`` keyed by
   (band, key): state per LSH bucket is the list of ADMITTED doc ids;
   each arriving doc emits one candidate pair per admitted earlier doc
   in its bucket, then joins the state. State persists across
   micro-batches and checkpoint restarts, so a duplicate arriving three
   batches after its original still pairs — the cross-batch-state
   contract the driver row verifies against a one-shot SQL twin.

Reference analogue: the reference engine has no streaming surface at
all (its crawl loop is batch rounds over MS SQL,
``/root/reference/CrawlerParser/Program.fs``); this is engine-new scope
from the brief's training-data-pipeline list, the streaming twin of
``operators/dedup.minhash_lsh_pairs``.

Scale notes: state is sharded by (band, key) — the same key space the
batch band join shuffles on — so hot buckets land on single state
partitions but never cross-talk; the ``max_bucket`` cap bounds BOTH the
per-bucket state size and the quadratic pair fan-out. Cap semantics are
necessarily ONLINE (first ``max_bucket`` arrivals are admitted, later
arrivals are counted as skipped) — an unbounded stream cannot know a
bucket's final size, so the batch operator's "exclude buckets whose
FINAL size exceeds the cap" contract is unimplementable without
retractions. The equivalent one-shot SQL is a rank predicate
(``b.rk <= cap`` over ``row_number() PARTITION BY band, key ORDER BY
arrival``), which is exactly the driver row's oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import (
    MINHASH_P,
    bind_once,
    minhash_a,
    minhash_b,
    shingles,
)


def _base(md5_col, start: int):
    """31-bit base parsed from an md5 hex span (twin of
    ``dedup.minhash_signature``'s ``base``)."""
    return F.pmod(
        F.conv(F.substring(md5_col, start, 8), 16, 10).cast("long"),
        F.lit(MINHASH_P),
    )


def banded_keys_rowwise(
    df: DataFrame, num_hashes: int = 8, bands: int = 4,
) -> DataFrame:
    """(doc_id, band, key) LSH band rows as a streaming-safe per-row plan.

    Same values as batch ``dedup._lsh_banded`` but WITHOUT the
    explode→groupBy aggregation (streaming append mode forbids it):
    the per-seed min runs as ``array_min`` over the row's own shingle
    array. The (ha, hb) base pair is computed ONCE per shingle (one
    md5, bound via a struct inside the transform) and the whole base
    array ONCE per row (see ``dedup.bind_once`` — HOF lambda bodies are
    interpreted with no subexpression elimination, so unbound outer
    expressions re-evaluate per element).

    Batch-side this formulation is the ~10× LOSER vs explode+codegen
    (measured, see ``dedup.minhash_signature``); streaming-side it is
    the only shape that keeps the plan a stateless projection — the
    trade is per-row latency for incremental legality. num_hashes=8 /
    bands=4 mirrors the driver row's batch configuration.
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands

    hs = F.transform(
        shingles(F.col("text")),
        lambda s: bind_once(
            F.md5(s),
            lambda m: F.struct(
                _base(m, 1).alias("ha"), _base(m, 9).alias("hb")
            ),
        ),
    )

    def sig(H):
        mhs = [
            F.array_min(
                F.transform(
                    H,
                    lambda h: F.pmod(
                        h["ha" if i % 2 == 0 else "hb"] * F.lit(minhash_a(i))
                        + F.lit(minhash_b(i)),
                        F.lit(MINHASH_P),
                    ),
                )
            ).alias(f"mh_{i}")
            for i in range(num_hashes)
        ]
        return F.struct(*mhs)

    # batch parity incl. NULL text: shingles(NULL) is [NULL] (sequence
    # bottoms out at one position), so the batch explode path KEEPS a
    # null-text doc with an all-null signature and concat_ws collapses
    # its band keys to '' — the row-wise array_min path lands on the
    # identical '' keys with no special-casing (pytest-pinned). Every
    # null-text doc therefore herds into the per-band '' bucket, exactly
    # like batch; callers who don't want that filter upstream.
    banded = df.withColumn("__sig", bind_once(hs, sig)).select(
        F.col("doc_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "|",
                            *[
                                F.col("__sig")[f"mh_{b * rows_per_band + r}"]
                                for r in range(rows_per_band)
                            ],
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    )
    return banded.select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def streaming_lsh_pairs(banded: DataFrame, max_bucket: int = 256) -> DataFrame:
    """Online candidate pairs from a stream of (doc_id, band, key) rows.

    Custom STATEFUL operator (``applyInPandasWithState``): per (band,
    key) bucket the state is (admitted ids, skipped count). Each
    arriving id — processed in ascending id order within a batch, which
    with id-ordered source batches makes arrival order == id order —
    emits (old, new) for every admitted old, then is admitted itself
    while the bucket holds fewer than ``max_bucket`` ids; past the cap
    it is counted in ``skipped`` and emits nothing (see module
    docstring for why the cap is arrival-ranked, not final-size).

    Emitted pairs satisfy id_a < id_b by construction; the same pair
    can arrive from several bands (exactly like the batch operator
    pre-``distinct``), so consumers fold with DISTINCT — the driver
    row's memory-sink fold does.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def dedupe(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        if state.exists:
            ids, skipped = list(state.get[0]), state.get[1]
        else:
            ids, skipped = [], 0
        out_a: list[int] = []
        out_b: list[int] = []
        # pdf_iter may chunk one group's batch rows — gather ALL before
        # sorting, or "ascending within batch" would only hold per chunk
        incoming: list[int] = []
        for pdf in pdf_iter:
            incoming.extend(int(v) for v in pdf["doc_id"])
        for nid in sorted(incoming):
            if len(ids) < max_bucket:
                out_a.extend(ids)
                out_b.extend([nid] * len(ids))
                ids.append(nid)
            else:
                skipped += 1
        state.update((ids, skipped))
        yield pd.DataFrame({"id_a": out_a, "id_b": out_b})

    return banded.groupBy("band", "key").applyInPandasWithState(
        dedupe,
        outputStructType="id_a long, id_b long",
        stateStructType="ids array<long>, skipped long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
