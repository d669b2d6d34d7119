"""XL-scale bench for the dedup/similarity family (r4 verdict #1).

Every 100 TB claim for minhash-LSH / winnow→jaccard / simhash /
cosine_pairs / IVF ANN was plan-structure-verified but measured only on
500-doc fixtures; r4's own ``bind_once`` fix (44 s → 13 s on one row)
proved this code class hides constants fixtures never show. This runner
measures the family at ≥1M docs / ≥120k vectors, at two parallelism
levels, with the crawl XL bench's discipline:

- deterministic Spark-native corpus generation (no driver loops, no
  external data): ~5% adjacent near-dup docs (one token mutated), one
  500-strong identical-doc hot cluster (forces the LSH/winnow skew caps
  to fire so the skip metrics are exercised, not just plumbed), and the
  embedding analogue (~5% nudged near-dup vectors);
- each (task, cores) pair runs in its OWN subprocess JVM, input persisted
  + counted before timing, best-of-N timed runs recorded with all
  samples;
- the engine-free ceiling control (``control_tokenhash``: split+xxhash64
  every token of the resident corpus, one scalar agg — the family's
  dominant work class with zero engine code) runs at both core counts in
  the same session, so the 8→32 efficiency of the engine is read AGAINST
  the sandbox's own ceiling, as BENCH/BASELINE.md does for the crawl;
- skip metrics ride the SAME job via ``Observation`` where the operator
  supports it (minhash), and the oversized-bucket audit queries run
  (untimed) for the rest — no silent truncation in the report.

Usage:
  python tools/bench_dedup_xl.py [--docs 1000000] [--vecs 120000]
      [--cores 8,32] [--best-of 2] [--data-dir DIR]
      [--tasks minhash,...] [--out BENCH/dedup_xl_r5.json]
  python tools/bench_dedup_xl.py --run-one TASK --cores-one N ...  # internal
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_TOK = 40
DIM = 32
IVF_QUERIES = 1024


# ---------------------------------------------------------------------------
# corpus generation — all native column expressions, fully deterministic

def _word(base, j):
    """Deterministic ~5-char base-36 token for (doc, position)."""
    from pyspark.sql import functions as F

    return F.conv(
        F.pmod(
            F.xxhash64(base.cast("string"), j.cast("string")),
            F.lit(99999999),
        ).cast("string"),
        10, 36,
    )


def gen_corpus(data_dir: str, n_docs: int, n_vecs: int) -> float:
    from companycatalogcrawlerparser_spark.session import get_spark
    from pyspark.sql import functions as F

    t0 = time.monotonic()
    spark = get_spark("gen_dedup_xl", master="local[32]",
                      shuffle_partitions=32)
    i = F.col("id")
    is_hot = (i % 2000) == 1998          # 500 identical docs per 1M
    is_dup = ((i % 20) == 19) & ~is_hot  # ~5% near-dups of id-1
    base = (
        F.when(is_hot, F.lit(1998))
        .when(is_dup, i - 1)
        .otherwise(i)
    )
    mut_pos = F.pmod(i, F.lit(N_TOK))
    tokens = F.transform(
        F.sequence(F.lit(0), F.lit(N_TOK - 1)),
        lambda j: F.when(
            is_dup & (j == mut_pos),
            F.concat(F.lit("zz"), _word(i, j)),
        ).otherwise(_word(base, j)),
    )
    docs = spark.range(n_docs, numPartitions=64).select(
        i.alias("doc_id"),
        F.concat_ws(" ", tokens).alias("text"),
    )
    docs.write.mode("overwrite").parquet(f"{data_dir}/documents")

    vbase = F.when((i % 20) == 19, i - 1).otherwise(i)
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda j: (
            F.pmod(F.xxhash64(vbase.cast("string"), j.cast("string")),
                   F.lit(2001)) / 1000.0 - 1.0
            # near-dup vectors get one coordinate nudged so pairs score
            # high-but-not-1.0 cosine
            + F.when(((i % 20) == 19) & (j == 0), F.lit(0.05)).otherwise(F.lit(0.0))
        ).cast("float"),
    )
    vecs = spark.range(n_vecs, numPartitions=16).select(
        i.alias("vec_id"), vec.alias("embedding")
    )
    vecs.write.mode("overwrite").parquet(f"{data_dir}/embeddings")
    spark.stop()
    return round(time.monotonic() - t0, 1)


# ---------------------------------------------------------------------------
# tasks — each returns (build_df_fn, metrics_fn|None)

def _task_action(spark, task: str, data_dir: str):
    """Returns (run() -> dict) executing one timed pass of the task.

    The input parquet is persisted + counted BEFORE timing (the bench
    measures operator compute/shuffle, not page-cache I/O)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from companycatalogcrawlerparser_spark.operators import dedup as D
    from companycatalogcrawlerparser_spark.operators import similarity as SIM

    docs = vecs = edges_xl = None
    if task in ("cc_xl", "pagerank_xl"):
        # data-dominated graph (r6 verdict #2): at 1M edges the fixpoint
        # rounds are latency-bound; here per-round shuffle carries real
        # data — a deterministic 50M-edge graph over ~4.2M nodes.
        n_edges = int(os.environ.get("GRAPH_XL_EDGES", "50000000"))
        n_isl = int(os.environ.get("GRAPH_XL_ISLANDS", "512"))
        n_nodes = max(1, n_edges // 12)
        sz = max(2, n_nodes // n_isl)
        path = f"{data_dir}/edges_xl_{n_edges}_{n_isl}"
        if not os.path.exists(path):
            from pyspark.sql import functions as FG

            # ISLAND structure so CC has a non-trivial answer (a single
            # all-random graph collapses to one giant component): every
            # edge stays inside its island, so n_components == the
            # number of touched islands — cross-core bit-stability has
            # real structure to disagree on. Within an island: 90%
            # pseudo-random edges with QUADRATICALLY skewed in-degree
            # (dst = floor(v^2 * size) — a power-law-ish hub tail that
            # stresses the per-round groupBy) + 10% consecutive-node
            # chain edges (the high-diameter adversarial shape for star
            # contraction).
            i = FG.col("id")
            isl = FG.pmod(FG.xxhash64(i.cast("string"), FG.lit("i")),
                          FG.lit(n_isl))
            base = isl * sz
            is_chain = FG.pmod(i, FG.lit(10)) == 9
            chain_node = base + FG.pmod(
                FG.xxhash64(i.cast("string"), FG.lit("c")), FG.lit(sz - 1)
            )
            v = (
                FG.pmod(FG.xxhash64(i.cast("string"), FG.lit("d")),
                        FG.lit(1_000_000))
                / 1_000_000.0
            )
            a = FG.when(is_chain, chain_node).otherwise(
                base + FG.pmod(FG.xxhash64(i.cast("string"), FG.lit("s")),
                               FG.lit(sz))
            )
            b = FG.when(is_chain, chain_node + 1).otherwise(
                base + FG.floor(v * v * sz).cast("long")
            )
            (
                spark.range(n_edges, numPartitions=128)
                .select(a.alias("a"), b.alias("b"))
                .write.mode("overwrite").parquet(path)
            )
        edges_xl = spark.read.parquet(path).persist()
        n_in = edges_xl.count()
    elif task in ("minhash_lsh_pairs", "winnow_jaccard", "simhash_groups",
                  "exact_dedup", "exactsubstr", "linededup", "dsir",
                  "text_metrics", "lm_ppl", "bpe_encode",
                  "bpe_encode_only", "quantiles", "content_extract",
                  "span_mask",
                  "control_tokenhash", "pipeline_surface", "seqpack",
                  "dedup_pipeline", "pipeline_full", "stream_dedup",
                  "connected_components", "pagerank", "curation",
                  "contamination"):
        docs = spark.read.parquet(f"{data_dir}/documents").persist()
        n_in = docs.count()
    else:
        vecs = spark.read.parquet(f"{data_dir}/embeddings").persist()
        n_in = vecs.count()

    if task == "minhash_lsh_pairs":
        def run():
            obs = Observation()
            pairs = D.minhash_lsh_pairs(docs, observation=obs)
            n = pairs.count()
            m = obs.get
            return {"rows_out": n, "skipped_rows": int(m["skipped_rows"] or 0),
                    "max_bucket_seen": int(m["max_bucket_seen"])}
    elif task == "winnow_jaccard":
        def run():
            obs = Observation()
            cands = D.winnow_pairs(docs, observation=obs)
            verified = D.jaccard_verify(docs, cands, threshold=0.5)
            n = verified.count()
            m = obs.get
            return {"rows_out": n, "skipped_rows": int(m["skipped_rows"] or 0),
                    "max_bucket_seen": int(m["max_bucket_seen"])}
    elif task == "dedup_pipeline":
        # the COMPOSED 100 TB dedup chain (r5 verdict #4): minhash-LSH ∪
        # winnow candidates → exact-Jaccard verify → survivor anti-join.
        # Every stage is the same operator the per-task rows bench; the
        # composition check is that candidate plans are consumed once
        # (jaccard_verify localCheckpoints the pair frame) and the skip
        # metrics ride the producing jobs.
        def run():
            obs_mh, obs_wn = Observation(), Observation()
            mh = D.minhash_lsh_pairs(docs, observation=obs_mh)
            wn = D.winnow_pairs(docs, observation=obs_wn).select(
                "id_a", "id_b"
            )
            cands = mh.unionByName(wn).distinct()
            # verified feeds two consumers (pair count + the dup-id leg)
            # — persist so the verify join runs once (same discipline as
            # jaccard_verify's own localCheckpoint of the candidates)
            verified = D.jaccard_verify(docs, cands, threshold=0.5).persist()
            n_pairs = verified.count()
            # survivors, cluster-correct (r6): connected components over
            # the verified pair graph, one representative per component —
            # per-pair "drop id_b" over-drops transitive chains, so both
            # counts are reported and the delta IS the measured over-drop
            clusters = D.dedup_clusters(docs, verified)
            n_surv = int(
                clusters.agg(
                    F.sum(F.col("is_rep").cast("long"))
                ).first()[0]
            )
            dups = verified.select(F.col("id_b").alias("doc_id")).distinct()
            n_surv_pairs = docs.join(dups, "doc_id", "left_anti").count()
            verified.unpersist()
            m1, m2 = obs_mh.get, obs_wn.get
            return {
                "rows_out": n_surv, "rows_out_pairwise": n_surv_pairs,
                "verified_pairs": n_pairs,
                "mh_skipped_rows": int(m1["skipped_rows"] or 0),
                "winnow_skipped_rows": int(m2["skipped_rows"] or 0),
            }
    elif task == "pipeline_full":
        # r6 verdict #1 — the FLAGSHIP: the chain a 100 TB training-data
        # user actually runs, end to end at 1M docs: quality gate →
        # dedup survivors (minhash ∪ winnow → jaccard verify → connected
        # components, one representative per cluster) → benchmark
        # decontamination → PII redaction → stratified sample → training
        # shuffle + global order index → token-budget shard packing →
        # atomic shard write through the snapshot store. Each stage is
        # materialized (persist+count barrier) so per-stage wall time is
        # honestly attributed, and every stage boundary emits a
        # cross-core bit-stability checksum — the 8c and 32c legs must
        # agree on ALL of them. Cap/skip audits ride the producing jobs
        # via Observation.
        import shutil as _sh

        from companycatalogcrawlerparser_spark.operators import (
            contamination as CT,
        )
        from companycatalogcrawlerparser_spark.operators import (
            curation as CUR,
        )
        from companycatalogcrawlerparser_spark.operators import pii as PIIO
        from companycatalogcrawlerparser_spark.operators import (
            textquality as TQR,
        )
        from companycatalogcrawlerparser_spark.storage.snapshots import (
            SnapshotStore,
        )

        def run():
            stages: dict = {}
            checks: dict = {}

            def tick():
                return time.monotonic()

            # 1. quality gate: langid + token count + quality score, one
            # scan; q >= 0.25 drops the corpus's bottom ~decile
            t0 = tick()
            gated = docs.select(
                "doc_id", "text",
                TQR.predict_lang(F.col("text")).alias("lang"),
                TQR.token_count(F.col("text")).alias("n_tok"),
                TQR.quality_score(F.col("text")).alias("q"),
            ).filter(F.col("q") >= 0.25).persist()
            checks["gate_rows"] = gated.count()
            stages["quality_gate"] = round(tick() - t0, 2)

            # 2. dedup survivors: the r6 composed chain, cluster-correct
            t0 = tick()
            obs_mh, obs_wn = Observation(), Observation()
            mh = D.minhash_lsh_pairs(gated, observation=obs_mh)
            wn = D.winnow_pairs(gated, observation=obs_wn).select(
                "id_a", "id_b"
            )
            cands = mh.unionByName(wn).distinct()
            verified = D.jaccard_verify(
                gated, cands, threshold=0.5
            ).persist()
            checks["verified_pairs"] = verified.count()
            clusters = D.dedup_clusters(gated, verified)
            survivors = gated.join(
                clusters.filter(F.col("is_rep")).select("doc_id"), "doc_id"
            ).persist()
            checks["dedup_survivors"] = survivors.count()
            m1, m2 = obs_mh.get, obs_wn.get
            checks["mh_skipped_rows"] = int(m1["skipped_rows"] or 0)
            checks["winnow_skipped_rows"] = int(m2["skipped_rows"] or 0)
            verified.unpersist()
            stages["dedup"] = round(tick() - t0, 2)

            # 3. decontamination: 0.1% corpus slice as the "benchmark"
            # (realistic MBs-vs-TBs ratio; bench ⊂ corpus guarantees a
            # non-trivial flagged set), broadcast, corpus never shuffles
            t0 = tick()
            bench = docs.filter(F.col("doc_id") % 1000 == 0)
            scores = CT.contamination_scores(
                survivors, bench, k=8, threshold=0.5
            )
            clean = survivors.join(
                scores.filter(~F.col("contaminated")).select("doc_id"),
                "doc_id",
            ).persist()
            checks["clean_rows"] = clean.count()
            checks["contaminated_dropped"] = (
                checks["dedup_survivors"] - checks["clean_rows"]
            )
            survivors.unpersist()
            stages["decontaminate"] = round(tick() - t0, 2)

            # 4. PII redaction: the corpus is PII-free, so every third
            # doc is decorated with a deterministic email+phones+IPv4
            # tail (same idiom as the driver row) — counts and the
            # redacted-text hash are then non-vacuous stability signals
            t0 = tick()
            pii_text = F.concat(
                F.col("text"),
                F.when(
                    F.col("doc_id") % 3 == 0,
                    F.concat(
                        F.lit(" contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit(
                            "@example.com or 495-123-45-67 or"
                            " +7 495-123-45-67, (812) 555-01-02 at 10.0.0."
                        ),
                        (F.col("doc_id") % 256).cast("string"),
                    ),
                ).otherwise(F.lit("")),
            )
            redacted = clean.select(
                "doc_id", "lang", "n_tok",
                PIIO.redact_pii(pii_text).alias("text"),
                (
                    PIIO.pii_count(pii_text, "email")
                    + PIIO.pii_count(pii_text, "phone")
                    + PIIO.pii_count(pii_text, "ipv4")
                ).alias("n_pii"),
            ).persist()
            got = redacted.agg(
                F.count("*"), F.sum("n_pii"),
                # pmod keeps the 1M-term sum far inside int64 (ANSI mode)
                F.sum(F.pmod(F.xxhash64("text"), F.lit(10**9))),
            ).first()
            checks["pii_spans"] = int(got[1])
            checks["redacted_text_hash"] = int(got[2])
            clean.unpersist()
            stages["pii_redact"] = round(tick() - t0, 2)

            # 5. stratified sample: md5-gate, partition-invariant
            t0 = tick()
            kept = CUR.stratified_sample(
                redacted, {"en": 8000, "ru": 2500}, "lang",
                default_keep=500,
            ).persist()
            checks["sampled_rows"] = kept.count()
            redacted.unpersist()
            stages["sample"] = round(tick() - t0, 2)

            # 6. training shuffle + global order index (distributed
            # prefix sum — never a single-partition window over data)
            t0 = tick()
            ordered = CUR.global_order_index(kept)
            # 7. token-budget packing in training order
            packed = CUR.pack_shards(
                ordered, "n_tok", 100_000, order_col="train_pos"
            ).persist()
            got = packed.agg(
                F.count("*"), F.sum("n_tok"), F.max("shard_id"),
                F.sum(F.pmod(F.xxhash64(
                    F.col("doc_id").cast("string"),
                    F.col("train_pos").cast("string"),
                    F.col("shard_id").cast("string"),
                ), F.lit(10**9))),
            ).first()
            checks["final_rows"] = int(got[0])
            checks["final_tokens"] = int(got[1])
            checks["n_shards"] = int(got[2]) + 1
            checks["order_checksum"] = int(got[3])
            kept.unpersist()
            stages["shuffle_pack"] = round(tick() - t0, 2)

            # 8. trainer handoff: one dir per shard, atomic manifest
            t0 = tick()
            store_root = tempfile.mkdtemp(prefix="pipeline_shards_")
            store = SnapshotStore(spark, store_root)
            # shards carry the full redacted text — the real artifact
            man = store.commit_shards(1, packed)
            checks["written_shards"] = man["tables"]["shards"]["n_shards"]
            packed.unpersist()
            _sh.rmtree(store_root, ignore_errors=True)
            stages["write_shards"] = round(tick() - t0, 2)

            return {
                "rows_out": checks["final_rows"],
                "stages": stages, **checks,
            }
    elif task == "connected_components":
        # scale proof for the cluster stage ALONE, on a graph ~20x denser
        # than any real near-dup pair set at this corpus size: native
        # deterministic edges over the 1M doc ids — chain runs of ~101
        # consecutive nodes per 128-id block (the adversarial
        # high-diameter shape for star contraction) cross-linked by
        # ~250k xxhash64 pseudo-random edges (merges chains into giant
        # components). Components must be bit-identical across core
        # counts (recorded as n_components).
        i = F.col("doc_id")
        chain = docs.filter(F.pmod(i, F.lit(128)) < 100).select(
            i.alias("id_a"), (i + 1).alias("id_b")
        )
        rnd = docs.filter(i % 4 == 0).select(
            i.alias("id_a"),
            F.pmod(F.xxhash64(i), F.lit(n_in)).alias("id_b"),
        )
        edges = chain.unionByName(rnd).persist()
        n_edges = edges.count()

        def run():
            cc = D.connected_components(edges)
            got = cc.agg(
                F.count("*"), F.countDistinct("component")
            ).first()
            return {"rows_out": int(got[0]), "n_components": int(got[1]),
                    "n_edges": n_edges}
    elif task == "cc_xl":
        def run():
            cc = D.connected_components(
                edges_xl.select(
                    F.col("a").alias("id_a"), F.col("b").alias("id_b")
                )
            )
            got = cc.agg(
                F.count("*"), F.countDistinct("component"),
                F.sum(F.pmod(F.xxhash64(
                    F.col("node").cast("string"),
                    F.col("component").cast("string"),
                ), F.lit(10**9))),
            ).first()
            return {"rows_out": int(got[0]), "n_components": int(got[1]),
                    "assign_checksum": int(got[2]), "n_edges": n_in}
    elif task == "pagerank_xl":
        from companycatalogcrawlerparser_spark.operators import (
            linkgraph as LGX,
        )

        def run():
            pr = LGX.pagerank(
                edges_xl.select(
                    F.col("a").alias("src"), F.col("b").alias("dst")
                ),
                iters=3,
            )
            got = pr.agg(F.count("*"), F.sum("rank_q")).first()
            return {"rows_out": int(got[0]), "rank_sum": int(got[1]),
                    "n_edges": n_in}
    elif task == "pagerank":
        # same 1M-node chain+random graph as the connected_components
        # task; 3 fixed-point power rounds. rank_sum is the cross-core
        # bit-stability check (integer arithmetic: must match exactly).
        from companycatalogcrawlerparser_spark.operators import (
            linkgraph as LGR,
        )

        i = F.col("doc_id")
        chain = docs.filter(F.pmod(i, F.lit(128)) < 100).select(
            i.alias("src"), (i + 1).alias("dst")
        )
        rnd = docs.filter(i % 4 == 0).select(
            i.alias("src"),
            F.pmod(F.xxhash64(i), F.lit(n_in)).alias("dst"),
        )
        edges = chain.unionByName(rnd).persist()
        n_edges = edges.count()

        def run():
            pr = LGR.pagerank(edges, iters=3)
            got = pr.agg(F.count("*"), F.sum("rank_q")).first()
            return {"rows_out": int(got[0]), "rank_sum": int(got[1]),
                    "n_edges": n_edges}
    elif task == "curation":
        # stratified sample (predict_lang strata over the full corpus —
        # regex scan + md5 gate, shuffle-free) THEN token-budget packing
        # of the survivors (distributed prefix sum); kept_tokens is the
        # cross-core bit-stability check.
        from companycatalogcrawlerparser_spark.operators import (
            curation as CUR,
        )
        from companycatalogcrawlerparser_spark.operators import (
            textquality as TQR,
        )

        def run():
            langd = docs.select(
                "doc_id",
                TQR.predict_lang(F.col("text")).alias("lang"),
                TQR.token_count(F.col("text")).alias("n_tok"),
            )
            kept = CUR.stratified_sample(
                langd, {"en": 8000, "ru": 2500}, "lang", default_keep=500
            )
            packed = CUR.pack_shards(kept, "n_tok", 100_000)
            got = packed.agg(
                F.count("*"), F.sum("n_tok"), F.max("shard_id")
            ).first()
            return {"rows_out": int(got[0]), "kept_tokens": int(got[1]),
                    "n_shards": int(got[2]) + 1}
    elif task == "simhash_groups":
        def run():
            return {"rows_out": D.simhash_groups(docs).count()}
    elif task == "contamination":
        # benchmark = a 1/1000 slice of the same corpus (~0.1%): the
        # realistic size ratio (benchmarks are MBs, corpora TBs), and
        # template-mates of the slice guarantee a non-trivial flagged set
        def run():
            from companycatalogcrawlerparser_spark.operators import (
                contamination as CT,
            )

            bench = docs.filter(F.col("doc_id") % 1000 == 0)
            scores = CT.contamination_scores(
                docs, bench, k=8, threshold=0.5
            )
            got = scores.agg(
                F.count("*"),
                F.sum(F.col("contaminated").cast("long")),
                F.sum("n_shared"),
            ).first()
            return {"rows_out": int(got[0]), "flagged": int(got[1]),
                    "shared_shingles": int(got[2])}
    elif task == "exact_dedup":
        def run():
            return {"rows_out": D.exact_dedup(docs).count()}
    elif task == "seqpack":
        # trainer sequence shaping end-to-end at 1M docs: context-window
        # splitting (32-token windows over 40-token docs → 2M chunks) →
        # token-budget packing (4096/context) → per-shard concat with
        # attention boundaries. text_checksum (md5-int of each packed
        # context, integer sum) + boundary_checksum pin the full shaping
        # bit-exactly across core counts.
        from companycatalogcrawlerparser_spark.operators import (
            curation as CUQ,
        )

        def run():
            seqs = CUQ.split_sequences(docs, 32).withColumn(
                "seq_key", F.col("doc_id") * 8 + F.col("seq_idx")
            )
            packed = CUQ.pack_shards(
                seqs, "n_seq_tokens", 4096, order_col="seq_key"
            )
            ctx = CUQ.concat_packed_sequences(
                packed, order_col="seq_key", token_col="n_seq_tokens",
                text_col="seq_text",
            )
            m = ctx.select(
                "n_docs", "n_tokens",
                F.conv(F.substring(F.md5("text"), 1, 15), 16, 10)
                .cast("long").alias("th"),
                F.aggregate(
                    "boundaries", F.lit(0).cast("long"),
                    lambda a, b: a + b
                ).alias("bs"),
            )
            got = m.agg(
                F.count("*"), F.sum("n_docs"), F.sum("n_tokens"),
                F.sum(F.pmod(F.col("th"), F.lit(10**9))),
                F.sum("bs"),
            ).first()
            return {"rows_out": int(got[0]), "packed_members": int(got[1]),
                    "packed_tokens": int(got[2]),
                    "text_checksum": int(got[3]),
                    "boundary_checksum": int(got[4])}
    elif task == "pipeline_surface":
        # the PACKAGED product surface (plans.pipeline.curate_training_
        # corpus) driven directly at scale with the r7 OPTIONAL stages ON
        # (ExactSubstr span removal + DSIR resampling). pipeline_full
        # measures the same default chain recomposed stage-by-stage for
        # per-stage walls; this task proves the one-callable surface —
        # and the stages only it enables — composes at XL size. Corpus
        # bounded (default 250k docs; the constituent operators all
        # carry their own 1M-doc numbers).
        from companycatalogcrawlerparser_spark.plans.pipeline import (
            CurationConfig, curate_training_corpus,
        )

        n_sub = int(os.environ.get("PIPE_SURF_DOCS", "250000"))
        sub = docs.filter(F.col("doc_id") < n_sub).persist()
        n_in = sub.count()

        def run():
            cfg = CurationConfig(
                exactsubstr=True, exactsubstr_window=15,
                dsir_k=50_000,
                sample_rates={"en": 9000, "ru": 9000}, default_keep=9000,
            )
            bench_df = sub.filter(F.col("doc_id") % 1000 == 0)
            target = sub.filter(F.col("doc_id") % 997 == 0)
            packed = curate_training_corpus(
                sub, bench_df, cfg, dsir_target=target
            )
            got = packed.agg(
                F.count("*"), F.sum("n_tok"), F.max("shard_id"),
                F.sum(F.pmod(F.xxhash64(
                    F.col("doc_id").cast("string"),
                    F.col("train_pos").cast("string"),
                    F.col("shard_id").cast("string"),
                ), F.lit(10**9))),
                F.sum((F.round("dsir_score", 6) * 1_000_000).cast("long")),
            ).first()
            return {"rows_out": int(got[0]), "tokens": int(got[1]),
                    "n_shards": int(got[2]) + 1,
                    "order_checksum": int(got[3]),
                    "dsir_score_checksum": int(got[4])}
    elif task == "dsir":
        # DSIR importance resampling at corpus scale: target = the
        # 1/1000 doc slice (the realistic MBs-target-vs-TBs-corpus
        # ratio, same idiom as the contamination task), raw = the full
        # corpus; score all 1M docs against the broadcast 10k-bucket
        # log-ratio frame and take the deterministic Gumbel-top-100k.
        # score_checksum (sum of 6dp-rounded scores scaled to integers)
        # and the selected-id checksum are the cross-core bit-stability
        # checks.
        from companycatalogcrawlerparser_spark.operators import dsir as DSR

        def run():
            target = docs.filter(F.col("doc_id") % 1000 == 0)
            ratios = DSR.dsir_log_ratios(target, docs)
            scored = DSR.dsir_scores(docs, ratios)
            kept = DSR.dsir_select(scored, 100_000)
            got = kept.agg(
                F.count("*"),
                # per-term integer cast BEFORE the sum: the integer sum
                # is order-invariant, a double sum cast at the end is not
                F.sum((F.round("dsir_score", 6) * 1_000_000).cast("long")),
                F.sum(F.pmod(F.xxhash64(F.col("doc_id").cast("string")),
                             F.lit(10**9))),
            ).first()
            return {"rows_out": int(got[0]),
                    "score_checksum": int(got[1]),
                    "selected_id_checksum": int(got[2])}
    elif task == "content_extract":
        # main-content + markdown extraction at page scale: a webgen
        # html corpus (~3 KiB/page with filler + noise links) generated
        # once under data_dir, then both extractors timed over every
        # page. Embarrassingly parallel regex chains — the shape that
        # should scale like the per-row-scan families. Checksums over
        # exact output bytes + kept/block counts.
        from companycatalogcrawlerparser_spark.operators import (
            content as CNT,
        )
        from companycatalogcrawlerparser_spark.sources import webgen

        n_co = int(os.environ.get("CONTENT_COMPANIES", "40000"))
        path = f"{data_dir}/pages_html_{n_co}"
        if not os.path.exists(path):
            pages_df, _ = webgen.build_corpus_spark(
                spark, n_co, num_partitions=64, filler_kb=2
            )
            (
                pages_df.filter(F.col("html").isNotNull())
                .select(
                    F.col("url").alias("page_url"),
                    F.col("html").cast("string").alias("html"),
                )
                .write.mode("overwrite").parquet(path)
            )
        hp = spark.read.parquet(path).persist()
        n_in = hp.count()

        def run():
            mc = CNT.main_content(hp)
            got = mc.agg(
                F.count("*"), F.sum("n_blocks"), F.sum("n_kept"),
                F.sum(F.pmod(F.xxhash64("main_text"), F.lit(10**9))),
            ).first()
            md = hp.select(
                F.pmod(
                    F.xxhash64(CNT.to_markdown(F.col("html"))),
                    F.lit(10**9),
                ).alias("mh")
            )
            got2 = md.agg(F.sum("mh")).first()
            return {"rows_out": int(got[0]), "blocks": int(got[1]),
                    "kept": int(got[2]), "text_checksum": int(got[3]),
                    "md_checksum": int(got2[0])}
    elif task == "span_mask":
        # T5 span corruption at corpus scale: exact-bytes checksums
        # over input/target plus the integer masked-token total.
        from companycatalogcrawlerparser_spark.operators import (
            curation as CUR,
        )

        def run():
            out = CUR.span_corruption(docs)
            m = out.select(
                "n_masked_tokens",
                F.pmod(F.xxhash64("input_text"), F.lit(10**9)).alias("ih"),
                F.pmod(F.xxhash64("target_text"), F.lit(10**9)).alias("th"),
            )
            got = m.agg(
                F.count("*"), F.sum("n_masked_tokens"),
                F.sum("ih"), F.sum("th"),
            ).first()
            return {"rows_out": int(got[0]), "masked_tokens": int(got[1]),
                    "input_checksum": int(got[2]),
                    "target_checksum": int(got[3])}
    elif task == "quantiles":
        # exact distributed quantiles at corpus scale: value = a
        # synthetic long-tailed per-doc metric (xxhash64-derived, so
        # ranks are non-trivial), five fracs incl. the 0.99 tail.
        # Integer-exact checksum over (rank, value) pairs.
        from companycatalogcrawlerparser_spark.operators import (
            curation as CUR,
        )

        qdocs = docs.select(
            (F.pmod(F.xxhash64("text"), F.lit(100000)) ** 2 / F.lit(1000))
            .cast("long").alias("v")
        ).persist()
        n_in = qdocs.count()

        def run():
            out = CUR.exact_quantiles(
                qdocs, "v", [0.25, 0.5, 0.75, 0.9, 0.99]
            )
            got = out.agg(
                F.count("*"),
                F.sum(
                    F.pmod(
                        F.col("k") * F.lit(31) + F.col("value"),
                        F.lit(1_000_000_007),
                    )
                ),
            ).first()
            return {"rows_out": int(got[0]), "rank_value_checksum": int(got[1])}
    elif task == "lm_ppl":
        # CCNet perplexity at corpus scale (operators.lm): reference =
        # the 1/1000 doc slice (the MBs-model-vs-TBs-corpus ratio the
        # operator is built for), model trained AND all 1M docs scored
        # inside the timed run — training is two vocabulary-sized
        # groupBys riding the same action. Checksums: per-term integer
        # cast before the sum (order-invariant), n_lm_terms pins the
        # tokenization exactly, bucket counts exercise ppl_bucket with
        # fixed CCNet-style cutoffs.
        from companycatalogcrawlerparser_spark.operators import lm as LMOP

        def run():
            ref = docs.filter(F.col("doc_id") % 1000 == 0)
            model = LMOP.train_bigram_lm(ref)
            scored = LMOP.lm_logprob(docs, model)
            m = scored.select(
                (F.round("lm_logp", 6) * 1_000_000)
                .cast("long").alias("lp_i"),
                "n_lm_terms",
                LMOP.ppl_bucket(
                    "lm_logp", "n_lm_terms", 10.0, 10.5
                ).alias("b"),
            )
            got = m.agg(
                F.count("*"),
                F.sum("lp_i"),
                F.sum("n_lm_terms"),
                F.sum(F.when(F.col("b") == "head", 1).otherwise(0)),
                F.sum(F.when(F.col("b") == "tail", 1).otherwise(0)),
            ).first()
            return {"rows_out": int(got[0]), "logp_checksum": int(got[1]),
                    "n_terms": int(got[2]), "n_head": int(got[3]),
                    "n_tail": int(got[4])}
    elif task == "bpe_encode_only":
        # the CORPUS-SCALED half alone: merges learned once in setup
        # (untimed — training is size-gated driver work whose cost is
        # fixed per tokenizer version, amortized over any corpus size);
        # the timed run is encode_corpus end-to-end. Same zipf remap
        # and checksums as bpe_encode.
        from companycatalogcrawlerparser_spark.operators import bpe as B

        nm = int(os.environ.get("BPE_MERGES", "200"))
        toksb = F.split("text", " ")
        widx = F.transform(
            toksb,
            lambda t: F.floor(
                F.pow(
                    F.pmod(F.xxhash64(t), F.lit(10000)) / 10000.0, 3.0
                ) * 50000
            ).cast("long"),
        )
        btext = F.concat_ws(
            " ",
            F.transform(
                widx,
                lambda ix: F.concat(
                    F.lit("w"), F.conv(ix.cast("string"), 10, 36)
                ),
            ),
        )
        bdocs = docs.select("doc_id", btext.alias("text")).persist()
        n_in = bdocs.count()
        merges_pre = B.learn_bpe(
            B.word_counts(bdocs), num_merges=nm, max_vocab_rows=500_000
        )

        def run():
            enc = B.encode_corpus(bdocs, merges_pre)
            m = enc.select(
                "n_bpe_tokens",
                F.pmod(
                    F.conv(F.substring("bpe_fp", 1, 15), 16, 10)
                    .cast("long"),
                    F.lit(1_000_000_007),
                ).alias("fp_i"),
            )
            got = m.agg(
                F.count("*"), F.sum("n_bpe_tokens"), F.sum("fp_i")
            ).first()
            return {"rows_out": int(got[0]), "n_subwords": int(got[1]),
                    "fp_checksum": int(got[2]), "n_merges": nm}
    elif task == "bpe_encode":
        # BPE train + encode at corpus scale (operators.bpe). The stock
        # XL corpus has a near-uniform random vocabulary (~33M distinct
        # words at 1M docs — no merge is ever frequent), so the text is
        # remapped to a 50k-word zipf-ish vocabulary first (cubed-
        # uniform index skew — high-frequency words dominate merge
        # votes, like real text). The remap is pre-materialized; the
        # timed run is train (word_counts shuffle + the size-gated
        # driver merge loop) + encode_corpus (tokenize-once distinct
        # join + positional reassembly) end-to-end.
        from companycatalogcrawlerparser_spark.operators import bpe as B

        nm = int(os.environ.get("BPE_MERGES", "200"))
        toksb = F.split("text", " ")
        widx = F.transform(
            toksb,
            lambda t: F.floor(
                F.pow(
                    F.pmod(F.xxhash64(t), F.lit(10000)) / 10000.0, 3.0
                ) * 50000
            ).cast("long"),
        )
        btext = F.concat_ws(
            " ",
            F.transform(
                widx,
                lambda ix: F.concat(
                    F.lit("w"), F.conv(ix.cast("string"), 10, 36)
                ),
            ),
        )
        bdocs = docs.select("doc_id", btext.alias("text")).persist()
        n_in = bdocs.count()

        def run():
            wc = B.word_counts(bdocs)
            merges = B.learn_bpe(
                wc, num_merges=nm, max_vocab_rows=500_000
            )
            enc = B.encode_corpus(bdocs, merges)
            m = enc.select(
                "n_bpe_tokens",
                F.pmod(
                    F.conv(F.substring("bpe_fp", 1, 15), 16, 10)
                    .cast("long"),
                    F.lit(1_000_000_007),
                ).alias("fp_i"),
            )
            got = m.agg(
                F.count("*"), F.sum("n_bpe_tokens"), F.sum("fp_i")
            ).first()
            return {"rows_out": int(got[0]), "n_subwords": int(got[1]),
                    "fp_checksum": int(got[2]), "n_merges": nm}
    elif task == "exactsubstr":
        # ExactSubstr span removal (Lee et al. 2021, dedup.duplicate_
        # spans → remove_duplicate_spans) at corpus scale: n=15 over
        # 40-token docs → 26 window hashes/doc, ~26M rows through ONE
        # map-side-combinable count shuffle, semi-join mark-back, per-doc
        # island merge, HOF token excision. The hot cluster (500
        # identical docs) must excise to empty; near-dup pairs lose their
        # shared runs on BOTH sides (all-occurrence removal, matching the
        # released suffix-array tool). text_checksum is the cross-core
        # bit-stability check over every rewritten text.
        def run():
            spans = D.duplicate_spans(docs, n=15, min_count=2)
            out = D.remove_duplicate_spans(
                docs, n=15, min_count=2, spans=spans
            )
            # per-row metrics in a PROJECT, aggregate only column refs:
            # letting CollapseProject inline the HOF-bearing text
            # expression into the Aggregate forces fully-interpreted
            # per-row evaluation (measured 98 s vs 5.6 s at 20k docs —
            # same values either way)
            m = out.select(
                "n_removed_tokens",
                F.pmod(F.xxhash64("text"), F.lit(10**9)).alias("th"),
                (F.length("text") == 0).cast("long").alias("emptied"),
            )
            got = m.agg(
                F.count("*"), F.sum("n_removed_tokens"),
                F.sum("th"), F.sum("emptied"),
            ).first()
            return {"rows_out": int(got[0]), "removed_tokens": int(got[1]),
                    "text_checksum": int(got[2]),
                    "emptied_docs": int(got[3])}
    elif task == "linededup":
        # CCNet/RefinedWeb line dedup (dedup.remove_duplicate_lines,
        # keep-first) at corpus scale: reshape the 40-token single-line
        # docs into 5 lines of 8 tokens (native slice+concat,
        # pre-materialized — the operator is what's measured), with a
        # hot boilerplate line appended to every 10th doc and a second
        # to every 25th. Dup-line volume comes from three real shapes:
        # the 500-doc identical hot cluster (all 5 body lines dedup,
        # keep-first), ~5% near-dup docs (the lines away from the
        # mutated token are shared with their base), and the appended
        # boilerplate — a ~100k-occurrence line, the skew case the
        # no-window combining-aggregation plan exists for. text_checksum
        # over every rewritten doc is the cross-core bit-stability
        # check.
        toksl = F.split("text", " ")
        lines5 = F.concat_ws(
            "\n",
            F.array(*[
                F.concat_ws(" ", F.slice(toksl, j * 8 + 1, 8))
                for j in range(5)
            ]),
        )
        ltext = F.concat(
            lines5,
            F.when(
                F.col("doc_id") % 10 == 0,
                F.lit("\nsubscribe to the hot boiler line"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 25 == 0,
                F.lit("\nsecond boiler line beta"),
            ).otherwise(F.lit("")),
        )
        ldocs = docs.select("doc_id", ltext.alias("text")).persist()
        n_in = ldocs.count()

        def run():
            out = D.remove_duplicate_lines(ldocs)
            # per-row metrics in a PROJECT, aggregate only column refs
            # (the exactsubstr HOF-in-Aggregate lesson applies: the
            # rewritten text is a filter()+concat_ws expression)
            m = out.select(
                "n_removed_lines",
                F.pmod(F.xxhash64("text"), F.lit(10**9)).alias("th"),
                (F.length("text") == 0).cast("long").alias("emptied"),
            )
            got = m.agg(
                F.count("*"), F.sum("n_removed_lines"),
                F.sum("th"), F.sum("emptied"),
            ).first()
            return {"rows_out": int(got[0]), "removed_lines": int(got[1]),
                    "text_checksum": int(got[2]),
                    "emptied_docs": int(got[3])}
    elif task == "text_metrics":
        def run():
            from companycatalogcrawlerparser_spark.operators import (
                textquality as TQ,
            )

            m = docs.select(
                "doc_id",
                TQ.predict_lang(F.col("text")).alias("lang"),
                TQ.token_count(F.col("text")).alias("n_tok"),
                TQ.quality_score(F.col("text")).alias("q"),
                TQ.fingerprint(F.col("text")).alias("fp"),
            )
            got = m.agg(
                F.count("*"), F.countDistinct("fp"), F.sum("n_tok")
            ).first()
            return {"rows_out": int(got[0]),
                    "distinct_fp": int(got[1]), "sum_tokens": int(got[2])}
    elif task == "cosine_pairs":
        def run():
            obs = Observation()
            pairs = SIM.cosine_pairs(
                vecs, threshold=0.95, num_planes=None, observation=obs
            )
            n = pairs.count()
            m = obs.get
            return {"rows_out": n, "skipped_rows": int(m["skipped_rows"] or 0),
                    "max_bucket_seen": int(m["max_bucket_seen"])}
    elif task == "semdedup":
        # SemDeDup at scale (r7, arrow kernel): quantizer cells sized so
        # avg cell population stays bounded (the paper's own device) —
        # pair work is N·avg_cell/2 gram entries, never all-pairs.
        n_cells = int(os.environ.get("SEMDUP_CELLS", "4096"))

        def run():
            obs = Observation()
            out = SIM.semantic_dedup(
                vecs, n_cells=n_cells, threshold=0.95,
                observation=obs, kernel="arrow",
            )
            # integer checksum over the FULL output tuple (per-row
            # xxhash64 cast to long before the sum — order-invariant),
            # so cross-core bit-identity covers cells, cent_cos,
            # components AND keep flags
            got = out.agg(
                F.count("*").alias("n"),
                F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("k"),
                F.countDistinct("component").alias("c"),
                # pmod keeps the 500k-term sum far inside int64 (ANSI)
                F.sum(F.pmod(F.xxhash64(
                    F.col("vec_id").cast("string"),
                    F.col("cell").cast("string"),
                    F.round(F.col("cent_cos") * 1e6)
                    .cast("long").cast("string"),
                    F.col("component").cast("string"),
                    F.col("keep").cast("string"),
                ), F.lit(1_000_000_007))).alias("chk"),
            ).first()
            m = obs.get
            return {
                "rows_out": int(got["n"]), "survivors": int(got["k"]),
                "components": int(got["c"]), "checksum": int(got["chk"]),
                "n_cells": n_cells,
                "skipped_rows": int(m["skipped_rows"] or 0),
                "max_cell_seen": int(m["max_cell_seen"]),
            }
    elif task in ("cosine_topk_ivf", "cosine_topk_ivf_expr"):
        kern = "arrow" if task == "cosine_topk_ivf" else "expr"
        n_cells = int(os.environ.get("IVF_CELLS", "64"))
        nprobe = int(os.environ.get("IVF_NPROBE", "8"))

        def run():
            q = vecs.filter(F.col("vec_id") < IVF_QUERIES)
            top = SIM.cosine_topk_ivf(
                q, vecs, k=10, n_cells=n_cells, nprobe=nprobe, kernel=kern
            )
            return {"rows_out": top.count(), "n_cells": n_cells,
                    "nprobe": nprobe}
    elif task == "stream_dedup":
        # streaming dedup-on-ingest (r6, streaming/dedup.py): the XL
        # answer to "what does the ONLINE family member cost". The
        # id-ordered slice files are prepared untimed (input prep, like
        # the persist+count above); each timed sample pays the full
        # stream lifecycle — startup, per-batch per-row band projection
        # (interpreted HOF: the price of a stateless streaming plan, see
        # banded_keys_rowwise), stateful bucket join, parquet sink.
        import shutil as _sh

        from companycatalogcrawlerparser_spark.streaming.dedup import (
            banded_keys_rowwise, streaming_lsh_pairs,
        )

        n_stream = int(os.environ.get("STREAM_DEDUP_DOCS", "250000"))
        n_batches = int(os.environ.get("STREAM_DEDUP_BATCHES", "4"))
        src = f"{data_dir}/stream_src_{n_stream}_{n_batches}"
        if not os.path.exists(src):
            sub = docs.filter(F.col("doc_id") < n_stream).select(
                "doc_id", "text",
                (F.floor(F.col("doc_id") * n_batches / n_stream) + 1)
                .cast("int").alias("bucket"),
            )
            tmp = f"{src}.parts"
            sub.repartition("bucket").write.mode("overwrite").partitionBy(
                "bucket"
            ).parquet(tmp)
            os.makedirs(src)
            now = None
            for b in range(1, n_batches + 1):
                bdir = f"{tmp}/bucket={b}"
                part = next(fn for fn in sorted(os.listdir(bdir))
                            if fn.endswith(".parquet"))
                dst = f"{src}/{b:03d}.parquet"
                os.rename(f"{bdir}/{part}", dst)
                if now is None:
                    now = os.path.getmtime(dst)
                os.utime(dst, (now + b, now + b))
            _sh.rmtree(tmp)

        def run():
            work = tempfile.mkdtemp(prefix="stream_dedup_")
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            pairs = streaming_lsh_pairs(
                banded_keys_rowwise(stream, num_hashes=12, bands=4),
                max_bucket=256,
            )
            q = (
                pairs.writeStream.format("parquet")
                .option("path", f"{work}/out")
                .option("checkpointLocation", f"{work}/chk")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            n = (
                spark.read.parquet(f"{work}/out")
                .select("id_a", "id_b").distinct().count()
            )
            _sh.rmtree(work, ignore_errors=True)
            return {"rows_out": n, "n_stream_docs": n_stream,
                    "n_batches": n_batches}
    elif task == "control_tokenhash":
        def run():
            n = (
                docs.select(
                    F.pmod(
                        F.aggregate(
                            F.transform(
                                F.split("text", " "), lambda t: F.xxhash64(t)
                            ),
                            F.lit(0).cast("long"),
                            lambda acc, x: acc.bitwiseXOR(x),
                        ),
                        F.lit(10**9),
                    ).alias("h")
                )
                .agg(F.sum("h"))
                .first()[0]
            )
            return {"rows_out": int(n) % 10**9}
    else:
        raise SystemExit(f"unknown task {task}")

    return run, n_in


def _untimed_audit(spark, task: str, data_dir: str) -> dict:
    """Oversized-bucket audit for operators without an in-job Observation
    — reported once, outside the timed loop."""
    from pyspark.sql import functions as F

    from companycatalogcrawlerparser_spark.operators import dedup as D
    from companycatalogcrawlerparser_spark.operators import similarity as SIM

    if task == "winnow_jaccard":
        docs = spark.read.parquet(f"{data_dir}/documents")
        from companycatalogcrawlerparser_spark.operators.textquality import (
            winnow_fingerprints,
        )
        ex = docs.select(
            F.explode(winnow_fingerprints(F.col("text"), 8, 4)).alias("fp")
        )
        over = (
            ex.groupBy("fp").agg(F.count("*").alias("n"))
            .filter(F.col("n") > 256)
            .agg(F.count("*"), F.sum("n")).first()
        )
        return {"oversized_prints": int(over[0] or 0),
                "skipped_rows": int(over[1] or 0)}
    if task == "cosine_pairs":
        vecs = spark.read.parquet(f"{data_dir}/embeddings")
        over = (
            SIM.cosine_oversized_buckets(vecs, num_planes=None)
            .agg(F.count("*"), F.sum("n_rows")).first()
        )
        return {"oversized_buckets": int(over[0] or 0),
                "skipped_rows": int(over[1] or 0)}
    return {}


def run_one(task: str, cores: int, data_dir: str, best_of: int,
            audit: bool) -> None:
    from companycatalogcrawlerparser_spark.session import get_spark

    spark = get_spark(f"dedupxl_{task}_{cores}", master=f"local[{cores}]",
                      shuffle_partitions=cores)
    run, n_in = _task_action(spark, task, data_dir)
    samples = []
    out_info: dict = {}
    for _ in range(best_of):
        t0 = time.monotonic()
        out_info = run()
        samples.append(round(time.monotonic() - t0, 2))
    res = {
        "task": task, "cores": cores, "n_in": n_in,
        "best_sec": min(samples), "samples": samples, **out_info,
    }
    if audit:
        res["audit"] = _untimed_audit(spark, task, data_dir)
    print("RESULT " + json.dumps(res), flush=True)
    spark.stop()


# ---------------------------------------------------------------------------

DEFAULT_TASKS = (
    "minhash_lsh_pairs", "winnow_jaccard", "dedup_pipeline",
    "connected_components", "pagerank", "curation", "contamination",
    "simhash_groups",
    "cosine_pairs", "cosine_topk_ivf", "cosine_topk_ivf_expr",
    "control_tokenhash",
)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=1_000_000)
    ap.add_argument("--vecs", type=int, default=120_000)
    ap.add_argument("--cores", default="8,32")
    ap.add_argument("--best-of", type=int, default=2)
    ap.add_argument("--data-dir", default=None)
    ap.add_argument("--tasks", default=",".join(DEFAULT_TASKS))
    ap.add_argument("--out",
                    default=os.path.join(REPO, "BENCH", "dedup_xl_r5.json"))
    ap.add_argument("--run-one", default=None)
    ap.add_argument("--cores-one", type=int, default=None)
    ap.add_argument("--audit", action="store_true")
    args = ap.parse_args()

    if args.run_one:
        run_one(args.run_one, args.cores_one, args.data_dir, args.best_of,
                args.audit)
        return

    data_dir = args.data_dir or tempfile.mkdtemp(prefix="dedup_xl_")
    results: dict = {
        "workload": {
            "n_docs": args.docs, "n_vecs": args.vecs, "n_tok": N_TOK,
            "dim": DIM, "ivf_queries": IVF_QUERIES, "data_dir": data_dir,
        },
        "runs": [],
    }
    if not os.path.exists(f"{data_dir}/documents"):
        results["gen_sec"] = gen_corpus(data_dir, args.docs, args.vecs)
        print(f"corpus generated in {results['gen_sec']}s -> {data_dir}")

    cores_list = [int(c) for c in args.cores.split(",")]
    tasks = args.tasks.split(",")
    for task in tasks:
        for cores in cores_list:
            cmd = [
                sys.executable, os.path.abspath(__file__),
                "--run-one", task, "--cores-one", str(cores),
                "--data-dir", data_dir, "--best-of", str(args.best_of),
            ]
            # audit once per task (first core count): untimed, same result
            if cores == cores_list[0]:
                cmd.append("--audit")
            print(f"== {task} @ local[{cores}] ==", flush=True)
            # one retry: the degraded sandbox VM intermittently kills
            # long local-mode apps via executor-heartbeat expiry (r6:
            # both dedup_pipeline legs died in-runner, then both passed
            # when rerun standalone). A retried run is recorded as such.
            retried = False
            for attempt in (1, 2):
                p = subprocess.run(cmd, cwd=REPO, capture_output=True,
                                   text=True)
                if p.returncode == 0:
                    break
                print(p.stdout[-3000:])
                print(p.stderr[-3000:])
                retried = True
            if p.returncode != 0:
                results["runs"].append(
                    {"task": task, "cores": cores, "error": "subprocess failed"}
                )
                continue
            line = [l for l in p.stdout.splitlines()
                    if l.startswith("RESULT ")][-1]
            res = json.loads(line[len("RESULT "):])
            if retried:
                res["retried_after_transient_failure"] = True
            print("   " + json.dumps(res), flush=True)
            results["runs"].append(res)

    # scaling efficiency per task across the first→last core counts
    if len(cores_list) >= 2:
        lo, hi = cores_list[0], cores_list[-1]
        eff = {}
        for task in tasks:
            tl = next((r for r in results["runs"]
                       if r["task"] == task and r["cores"] == lo
                       and "best_sec" in r), None)
            th = next((r for r in results["runs"]
                       if r["task"] == task and r["cores"] == hi
                       and "best_sec" in r), None)
            if tl and th:
                eff[task] = round(
                    tl["best_sec"] / (th["best_sec"] * (hi / lo)), 3
                )
        results["scaling_efficiency"] = {
            "cores": [lo, hi], "per_task": eff,
        }
    with open(args.out, "w") as f:
        json.dump(results, f, indent=1)
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
