"""Distributed URL-seen set (J2): per-bucket bloom filters over
canonicalized+hashed URLs + an exact anti-join (north_rule).

Replaces the reference's ``ConcurrentHashSet`` visited sets
(``Crawler.fs:190,290-291,314,320``). Three scopes exist (quirk Q11):
global seed scope and per-company extractor scope — the bloom layer keys on
one 64-bit ``seen_key = xxhash64(scope, canonical_url)``; the EXACT
verification joins on the real ``(scope, canonical_url)`` columns, never the
hash alone — at 10^10 URLs 64-bit birthday collisions are expected, and a
hash-only anti-join would silently drop never-visited URLs.

Architecture (SURVEY.md §4 strategy 2): the exact anti-join against the
persisted ``url_seen`` table is the correctness anchor; the bloom only
prunes work. It is register-blocked (Putze, Sanders and Singler, "Cache-,
Hash- and Space-Efficient Bloom Filters", 2007): a key lives in bucket
``pmod(seen_key, n_buckets)`` and all ``BLOOM_K`` of its bits fall in one
64-bit word of that bucket's filter, picked by one hash of the key, the
bits by 6-bit slices of a second. Build and probe are JVM Column
expressions (no Python worker, no key on the driver): the build is one
``bit_or`` aggregate grouped by ``(bucket, word)``, persisted beside the
snapshot; the probe is an equi-join to those rows and ``bits & mask =
mask``, broadcast or shuffled as Spark's threshold decides. Bloom-negatives
are *definitely new* and skip the exact probe.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

BLOOM_K = 7
BLOOM_BITS_PER_KEY = 12  # ~1% false positives at k=7 in 64-bit blocks
BLOOM_MIN_WORDS = 256    # a bucket's filter has at least 16,384 bits

# the bloom table: one row per non-empty filter word; a bucket's row at
# SIZE_WORD holds its word count, which the probe needs to pick a word
BLOOM_COLUMNS = [("bucket", "long"), ("word", "long"), ("bits", "long")]
SIZE_WORD = -1

EXACT_KEYS = ["scope", "canonical_url"]


def seen_key(scope_col, canonical_url_col):
    """64-bit scoped membership key — bloom/bucket layer ONLY."""
    return F.xxhash64(scope_col, canonical_url_col)


def is_bloom_table(schema_json: Optional[dict]) -> bool:
    """Whether a recorded table schema (``StructType.jsonValue()``) is the
    current bloom layout; older layouts are rebuilt, not read."""
    fields = (schema_json or {}).get("fields", [])
    return [(f["name"], f["type"]) for f in fields] == BLOOM_COLUMNS


def _mask(key: Column) -> Column:
    """The key's ``BLOOM_K`` bits in its word: bit indices are 6-bit
    slices of a second hash (shifts and masks stay exact under ANSI)."""
    h = F.xxhash64(key, F.lit(BLOOM_K))
    mask = F.lit(0).cast("long")
    for i in range(BLOOM_K):
        bit = F.shiftrightunsigned(h, 6 * i).bitwiseAND(63).cast("int")
        mask = mask.bitwiseOR(F.call_function("shiftleft", F.lit(1).cast("long"), bit))
    return mask


class UrlSeen:
    """Handle over the url_seen table + its per-bucket bloom filters.

    The tables live in the snapshot store (parquet); this class only
    defines the plan fragments, which take their session from their input
    frames (``spark`` is not used).
    """

    def __init__(self, spark, n_buckets: int = 64, filter_kind: str = "bloom"):
        if filter_kind != "bloom":
            raise ValueError("filter_kind must be 'bloom'")
        self.n_buckets = n_buckets
        self._blooms: Optional[DataFrame] = None

    def _bucket(self, key: Column) -> Column:
        return F.pmod(key, F.lit(self.n_buckets)).cast("long")

    # -- bloom lifecycle ---------------------------------------------------

    def bloom_table(self, seen: DataFrame) -> DataFrame:
        """``seen(seen_key)`` → the bloom rows (``BLOOM_COLUMNS``).
        A bucket of ``n`` keys gets ``max(BLOOM_MIN_WORDS, ceil(12n/64))``
        words; the count window and the ``(bucket, word)`` aggregate share
        one shuffle on ``bucket``."""
        key = F.col("seen_key")
        n = F.count(F.lit(1)).over(Window.partitionBy("bucket"))
        words = F.greatest(
            F.lit(BLOOM_MIN_WORDS).cast("long"), F.ceil(n * BLOOM_BITS_PER_KEY / 64)
        )
        keyed = seen.select(
            self._bucket(key).alias("bucket"),
            F.xxhash64(key).alias("h"),
            _mask(key).alias("mask"),
        ).withColumn("m", words)
        entries = F.array(
            F.struct(F.pmod("h", "m").alias("word"), F.col("mask").alias("bits")),
            F.struct(F.lit(SIZE_WORD).cast("long").alias("word"), F.col("m").alias("bits")),
        )
        return (
            keyed.select("bucket", F.inline(entries))
            .groupBy("bucket", "word")
            .agg(F.bit_or("bits").alias("bits"))
        )

    def set_blooms(self, blooms: DataFrame) -> None:
        """Install a bloom table (fresh from :meth:`bloom_table` or re-read
        from a snapshot). Lazy: the probe joins to it, so this runs no job."""
        self._blooms = blooms

    def build_blooms(self, seen: DataFrame) -> None:
        """Build + install blooms for ``seen``."""
        self.set_blooms(self.bloom_table(seen))

    # -- probing -----------------------------------------------------------

    def _probe(self, candidates: DataFrame) -> DataFrame:
        """candidates(…, seen_key) → same rows + boolean ``maybe_seen``.
        One join finds the bucket's word count, one the key's word; a key
        in an empty bucket or an empty word is definitely new."""
        key = F.col("seen_key")
        rows = self._blooms.toDF("__bucket", "__word", "__bits")
        sizes = rows.filter(F.col("__word") == SIZE_WORD).select(
            "__bucket", F.col("__bits").alias("__m")
        )
        words = rows.filter(F.col("__word") != SIZE_WORD)
        mask = _mask(key)
        probed = (
            candidates.withColumn("__bucket", self._bucket(key))
            .join(sizes, "__bucket", "left")
            .withColumn("__word", F.pmod(F.xxhash64(key), F.col("__m")))
            .join(words, ["__bucket", "__word"], "left")
        )
        maybe = F.coalesce(F.col("__bits").bitwiseAND(mask) == mask, F.lit(False))
        return probed.select(*candidates.columns, maybe.alias("maybe_seen"))

    # -- the anti-join -----------------------------------------------------

    def filter_unseen(self, candidates: DataFrame, seen: DataFrame) -> DataFrame:
        """candidates(…, seen_key, scope, canonical_url) → rows NOT in ``seen``.

        The bloom (when installed) splits candidates into definite-new and
        maybe-seen; only the latter meet the exact left_anti join, which
        keys on the REAL columns ``(scope, canonical_url)``: a 64-bit
        ``seen_key`` collision costs one wasted exact probe, never a URL."""
        missing = [c for c in EXACT_KEYS if c not in candidates.columns]
        if missing:
            raise ValueError(
                f"candidates must carry {EXACT_KEYS} for the exact anti-join; "
                f"missing {missing} (seen_key alone is collision-unsafe)"
            )
        seen_sel = seen.select(*EXACT_KEYS)
        if self._blooms is None:
            return candidates.join(seen_sel, EXACT_KEYS, "left_anti")

        probed = self._probe(candidates)
        definite_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
        needs_check = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
        verified_new = needs_check.join(seen_sel, EXACT_KEYS, "left_anti")
        return definite_new.unionByName(verified_new)
