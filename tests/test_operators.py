"""Unit tests: url-seen bloom exactness, dedup family, similarity,
text quality, streaming ingestion, graph and curation operators."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from companycatalogcrawlerparser_spark.operators import dedup as D
from companycatalogcrawlerparser_spark.operators import linkgraph as LG
from companycatalogcrawlerparser_spark.operators import similarity as SIM
from companycatalogcrawlerparser_spark.operators import textquality as TQ
from companycatalogcrawlerparser_spark.operators.urlseen import (
    UrlSeen,
    _bloom_build,
    _bloom_probe,
    seen_key,
)


class TestBloom:
    def test_no_false_negatives(self):
        rng = np.random.default_rng(42)
        keys = rng.integers(-(2**62), 2**62, 5000, dtype=np.int64)
        m_bits = len(keys) * 12
        bloom = _bloom_build(keys, m_bits)
        hits = _bloom_probe(keys.astype(np.uint64), bloom, m_bits)
        assert hits.all(), "bloom must never miss an inserted key"

    def test_low_false_positive_rate(self):
        rng = np.random.default_rng(7)
        keys = rng.integers(-(2**62), 2**62, 5000, dtype=np.int64)
        other = rng.integers(-(2**62), 2**62, 5000, dtype=np.int64)
        other = np.setdiff1d(other, keys)
        m_bits = len(keys) * 12
        bloom = _bloom_build(keys, m_bits)
        fp = _bloom_probe(other.astype(np.uint64), bloom, m_bits).mean()
        assert fp < 0.02, f"false-positive rate too high: {fp}"

    @staticmethod
    def _seen_cand(spark):
        seen_urls = [f"http://h{i % 7}.ru/p{i}" for i in range(300)]
        cand_urls = [f"http://h{i % 7}.ru/p{i}" for i in range(150, 450)]
        seen = spark.createDataFrame(
            [(u,) for u in seen_urls], ["canonical_url"]
        ).select(
            seen_key(F.lit("G"), F.col("canonical_url")).alias("seen_key"),
            F.lit("G").alias("scope"),
            "canonical_url",
            F.lit(0).alias("round"),
        )
        cand = spark.createDataFrame([(u,) for u in cand_urls], ["url"]).select(
            "url",
            F.col("url").alias("canonical_url"),
            F.lit("G").alias("scope"),
            seen_key(F.lit("G"), F.col("url")).alias("seen_key"),
        )
        expected = set(cand_urls) - set(seen_urls)
        return seen, cand, expected

    def test_filter_unseen_exactness(self, spark):
        seen, cand, expected = self._seen_cand(spark)
        us = UrlSeen(spark, n_buckets=16)
        plain = {r["url"] for r in us.filter_unseen(cand, seen).collect()}
        us.build_blooms(seen)
        bloomed = {r["url"] for r in us.filter_unseen(cand, seen).collect()}
        assert plain == expected
        assert bloomed == expected, "bloom path must equal exact anti-join"

    def test_filter_unseen_distributed_probe(self, spark):
        """driver_gate_bytes=0 forces the cogroup (cluster-scale) probe path;
        result must equal the exact anti-join."""
        seen, cand, expected = self._seen_cand(spark)
        us = UrlSeen(spark, n_buckets=16, driver_gate_bytes=0)
        us.build_blooms(seen)
        assert us._blooms is None and us._blooms_df is not None
        got = {r["url"] for r in us.filter_unseen(cand, seen).collect()}
        assert got == expected

    def test_filter_unseen_requires_exact_columns(self, spark):
        """seen_key alone is collision-unsafe — the API must refuse it."""
        seen, cand, _ = self._seen_cand(spark)
        us = UrlSeen(spark, n_buckets=16)
        with pytest.raises(ValueError, match="collision"):
            us.filter_unseen(cand.drop("scope", "canonical_url"), seen)

    def test_bloom_build_plan_has_no_driver_collect(self, spark):
        """The build must never funnel seen keys through the driver: no
        collect_list aggregation anywhere in the bloom-table plan
        (VERDICT r01 'What's wrong #1')."""
        seen, _, _ = self._seen_cand(spark)
        us = UrlSeen(spark, n_buckets=16)
        plan = us.bloom_table(seen)._jdf.queryExecution().executedPlan().toString()
        assert "collect_list" not in plan
        assert "FlatMapGroupsInPandas" in plan or "ArrowEvalPython" in plan

    def test_exact_join_survives_seen_key_collision(self, spark):
        """Two distinct (scope, canonical_url) pairs forced onto the SAME
        seen_key: the candidate must still come through (ADVICE r01 medium)."""
        seen = spark.createDataFrame(
            [(12345, "G", "http://a.ru/x", 0)],
            "seen_key long, scope string, canonical_url string, round int",
        )
        # candidate with a COLLIDING key but a different url — never seen
        cand = spark.createDataFrame(
            [("http://b.ru/y", "http://b.ru/y", "G", 12345)],
            "url string, canonical_url string, scope string, seen_key long",
        )
        us = UrlSeen(spark, n_buckets=16)
        assert us.filter_unseen(cand, seen).count() == 1
        us.build_blooms(seen)
        assert us.filter_unseen(cand, seen).count() == 1


class TestTwoLevelPoliteness:
    """schedule's two-level rank (intra-group rank + per-group offset)
    must rank identically to the direct per-host window while keeping the
    per-host serial work at GROUP granularity (VERDICT r01 #5)."""

    def test_ranks_match_single_window(self, spark):
        from pyspark.sql import Window

        from companycatalogcrawlerparser_spark.functions.canon import canonical_host
        from companycatalogcrawlerparser_spark.operators import frontier as FR

        rows = []
        # skewed: one hot host with many companies, several small hosts
        for cid in range(40):
            host = "hot.ru" if cid % 2 == 0 else f"h{cid}.ru"
            for seq in range(5):
                prio = (cid + seq) % 3
                rows.append((cid, f"http://{host}/p{cid}-{seq}", prio, seq, f"http://{host}"))
        df = spark.createDataFrame(
            rows, "company_id long, url string, priority int, seq int, base_url string"
        )
        a = {
            (r["url"]): (r["host"], r["host_rank"], r["not_before"])
            for r in FR.schedule(df).collect()
        }
        # the reference: one direct window per host
        w = Window.partitionBy("host").orderBy("priority", "company_id", "seq", "url")
        rank = F.row_number().over(w) - 1
        direct = df.withColumn("host", canonical_host(F.col("url"))).select(
            "url", "host", rank.alias("host_rank"),
            (rank * FR.DEFAULT_DELAY_MS).alias("not_before"),
        )
        b = {
            (r["url"]): (r["host"], r["host_rank"], r["not_before"])
            for r in direct.collect()
        }
        assert a == b
        # budget property: per-host gaps of delay_ms
        by_host = {}
        for host, rank, nb in a.values():
            by_host.setdefault(host, []).append((rank, nb))
        for host, v in by_host.items():
            v.sort()
            assert [r for r, _ in v] == list(range(len(v)))
            assert all(nb == r * FR.DEFAULT_DELAY_MS for r, nb in v)


class TestAssignDenseIds:
    """Distributed replacement for row_number() OVER (ORDER BY …) — the
    global-window email-id bottleneck (VERDICT r01 #4 / ADVICE r01)."""

    def test_ids_match_global_window(self, spark):
        from pyspark.sql import Window

        from companycatalogcrawlerparser_spark.operators.merge import (
            assign_dense_ids,
        )

        vals = [f"user{i:04d}@host{i % 13}.ru" for i in range(997)]
        df = spark.createDataFrame([(v,) for v in vals], ["email"])
        got = {
            r["email"]: r["email_id"]
            for r in assign_dense_ids(df, "email", "email_id").collect()
        }
        expected = {
            r["email"]: r["rn"]
            for r in df.withColumn(
                "rn", F.row_number().over(Window.orderBy("email"))
            ).collect()
        }
        assert got == expected
        # stability: recompute → identical ids
        got2 = {
            r["email"]: r["email_id"]
            for r in assign_dense_ids(df, "email", "email_id").collect()
        }
        assert got2 == got

    def test_no_single_partition_exchange(self, spark):
        from companycatalogcrawlerparser_spark.operators.merge import (
            assign_dense_ids,
        )

        df = spark.range(0, 5000).select(
            F.concat(F.lit("e"), F.col("id")).alias("email")
        )
        out = assign_dense_ids(df, "email", "email_id")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan, plan


class TestDedup:
    DOCS = [
        (1, "Foo bar baz qux quux corge grault."),
        (2, "foo   bar BAZ qux quux corge grault."),   # near-exact of 1
        (3, "Totally different content about spark engines."),
        (4, "Totally different content about spark engines!"),  # near of 3
        (5, "Short."),
    ]

    def _df(self, spark):
        return spark.createDataFrame(self.DOCS, ["doc_id", "text"])

    def test_exact_dedup(self, spark):
        out = D.exact_dedup(self._df(spark))
        # 1 and 2 normalize identically (case+whitespace) → keep doc 1
        ids = {r["doc_id"] for r in out.collect()}
        assert ids == {1, 3, 4, 5}

    def test_minhash_lsh_finds_near_pairs(self, spark):
        pairs = {
            (r["id_a"], r["id_b"])
            for r in D.minhash_lsh_pairs(self._df(spark), num_hashes=8, bands=4).collect()
        }
        assert (1, 2) in pairs
        assert (3, 4) in pairs
        assert (1, 5) not in pairs

    def test_lsh_skew_guard_caps_hot_bucket(self, spark):
        """1,000 near-identical docs share every band bucket — without the
        cap that's ~500k pairs in one task (quadratic). With max_bucket the
        hot bucket is skipped, normal near-dup pairs survive, and the
        skipped volume is visible via lsh_oversized_buckets."""
        clones = [(i, "identical clone text for the hot bucket") for i in range(1000)]
        normals = self.DOCS[:4]  # ids 1..4 overlap clones' ids — shift them
        normals = [(10_000 + i, t) for i, t in normals]
        df = spark.createDataFrame(clones + normals, ["doc_id", "text"])
        pairs = D.minhash_lsh_pairs(df, num_hashes=8, bands=4)
        got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        # no pair of two clones (hot bucket excluded)
        assert not any(a < 1000 and b < 1000 for a, b in got)
        # near-dup pairs among normal docs still found
        assert (10_001, 10_002) in got
        over = D.lsh_oversized_buckets(df, num_hashes=8, bands=4)
        rows = over.collect()
        assert rows and all(r["n_docs"] == 1000 for r in rows)

    def test_lsh_skew_cap_observed_in_same_job(self, spark, monkeypatch):
        """The skipped volume is observable AT the call site, in the same
        job as the pairs (Observation metric) — the 256-default can't
        silently cost recall; no second scan needed."""
        from pyspark.sql import Observation

        clones = [(i, "identical clone text for the hot bucket") for i in range(300)]
        normals = [(10_000 + i, t) for i, t in self.DOCS[:4]]
        df = spark.createDataFrame(clones + normals, ["doc_id", "text"])
        obs = Observation("lsh_skew")
        monkeypatch.setattr(D, "MAX_BUCKET", 64)
        pairs = D.minhash_lsh_pairs(
            df, num_hashes=8, bands=4, observation=obs
        )
        pairs.count()  # any action completes the metric
        got = obs.get
        # 300 clones × 4 bands = 1200 doc-band memberships skipped
        assert got["skipped_rows"] == 1200
        assert got["max_bucket_seen"] == 300

    def test_winnow_skew_cap_observed_matches_audit(self, spark, monkeypatch):
        """r5 verdict #2: winnow_pairs carries the same in-job
        Observation contract as minhash, and the observed skip volume
        equals what the standalone winnow_oversized_prints audit
        reports."""
        from pyspark.sql import Observation

        clones = [(i, "identical clone text for the hot bucket") for i in range(80)]
        normals = [(10_000 + i, t) for i, t in self.DOCS[:4]]
        df = spark.createDataFrame(clones + normals, ["doc_id", "text"])
        obs = Observation("winnow_skew")
        monkeypatch.setattr(D, "MAX_BUCKET", 16)
        pairs = D.winnow_pairs(df, observation=obs)
        pairs.count()
        got = obs.get
        audit = (
            D.winnow_oversized_prints(df)
            .agg(F.coalesce(F.sum("n_docs"), F.lit(0)).alias("s"),
                 F.coalesce(F.max("n_docs"), F.lit(0)).alias("m"))
            .first()
        )
        assert got["skipped_rows"] == audit["s"] > 0
        assert got["max_bucket_seen"] == audit["m"]

    def test_winnow_prints_exploded_equals_array_form(self, spark):
        """The scale-shape print generator (explode → codegen md5 →
        frame-window rolling min, r5) is value-equal to the per-row array
        formulation across edge cases: empty text, text shorter than k,
        fewer grams than the window, case/whitespace normalization."""
        from companycatalogcrawlerparser_spark.operators.dedup import (
            winnow_prints,
        )
        from companycatalogcrawlerparser_spark.operators.textquality import (
            winnow_fingerprints,
        )

        rows = [
            (0, "a"), (1, ""), (2, "abcdefgh"), (3, "abcdefghij klm  nOp"),
            (4, "x" * 7), (5, "the quick brown fox jumps over a dog " * 5),
            (6, "ABC  def\tGHI\njkl mno pqr stu vwx yz 0123456789 " * 3),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        old = {
            (r["doc_id"], r["fp"])
            for r in df.select(
                "doc_id",
                F.explode(
                    winnow_fingerprints(F.col("text"), 8, 4)
                ).alias("fp"),
            ).collect()
        }
        new = {
            (r["doc_id"], r["fp"])
            for r in winnow_prints(df).collect()
        }
        assert old == new and len(old) > 10

    def test_winnow_pairs_survive_mid_document_insertion(self, spark):
        """Winnowing's selling point vs fixed-band minhash: an INSERTION
        in the middle of a doc perturbs only the windows it touches, so
        the edited doc still shares most prints with the original."""
        base = (
            "the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep dark forest to find some food for winter"
        )
        edited = base.replace("dog and then", "dog INSERTED WORDS and then")
        other = "completely unrelated content about database query planning"
        df = spark.createDataFrame(
            [(1, base), (2, edited), (3, other)], ["doc_id", "text"]
        )
        got = {
            (r["id_a"], r["id_b"]): r["n_shared"]
            for r in D.winnow_pairs(df, min_shared=3).collect()
        }
        assert (1, 2) in got and got[(1, 2)] >= 5
        assert (1, 3) not in got and (2, 3) not in got

    def test_jaccard_verify_matches_full_on_candidates(self, spark):
        """The candidate-restricted verifier must equal the full
        all-pairs jaccard on the candidate ids — and emit NOTHING for
        pairs outside the candidate set (the scale contract: work is
        bounded by the candidates, not the corpus)."""
        docs = self.DOCS + [(6, "the quick brown fox jumps far away")]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        cand = spark.createDataFrame([(1, 2), (3, 4)], ["id_a", "id_b"])
        got = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
            for r in D.jaccard_verify(df, cand).collect()
        }
        assert set(got) == {(1, 2), (3, 4)}  # nothing outside candidates
        full = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
            for r in D.ngram_jaccard_pairs(df, threshold=0.0).collect()
        }
        for p in got:
            assert got[p] == full[p], p

    def test_winnow_to_jaccard_pipeline(self, spark):
        """The composed scale path: winnow candidates → jaccard verify
        keeps the true near-dup and drops the unrelated doc."""
        base = (
            "the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep dark forest to find some food for winter"
        )
        df = spark.createDataFrame(
            [(1, base), (2, base.replace("lazy", "sleepy")),
             (3, "unrelated text about query optimizers and join orders")],
            ["doc_id", "text"],
        )
        cand = D.winnow_pairs(df, min_shared=2).select("id_a", "id_b")
        verified = D.jaccard_verify(df, cand, threshold=0.5).collect()
        assert {(r["id_a"], r["id_b"]) for r in verified} == {(1, 2)}

    def test_winnow_pairs_hot_print_capped(self, spark, monkeypatch):
        """A print shared by 500 docs is a de-facto exact-dup cluster:
        the cap must keep it out of pair generation."""
        clones = [(i, "identical clone text for winnowing") for i in range(500)]
        df = spark.createDataFrame(clones, ["doc_id", "text"])
        monkeypatch.setattr(D, "MAX_BUCKET", 64)
        assert D.winnow_pairs(df, min_shared=1).count() == 0

    def test_simhash_plan_hashes_each_token_once(self, spark):
        """The md5 hoist (VERDICT r01 #9): exactly one md5 call in the
        simhash expression tree, not one per hex digit."""
        df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
        plan = df.select(D.simhash16(F.col("text")).alias("sh"))._jdf.queryExecution().analyzed().toString()
        assert plan.count("md5") == 1, plan

    def test_ngram_jaccard_scores(self, spark):
        out = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in D.ngram_jaccard_pairs(self._df(spark), threshold=0.5).collect()
        }
        assert out[(1, 2)] > 0.9
        assert out[(3, 4)] > 0.8
        assert (1, 3) not in out

    def test_simhash_identical_for_same_tokens(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "gamma  beta ALPHA"), (3, "delta epsilon zeta")],
            ["doc_id", "text"],
        )
        rows = {r["doc_id"]: r["sh"] for r in df.select("doc_id", D.simhash16(F.col("text")).alias("sh")).collect()}
        assert rows[1] == rows[2]
        assert rows[1] != rows[3]
        assert set(rows[1]) <= {"0", "1"} and len(rows[1]) == 16


class TestSimilarity:
    def _emb(self, spark, n=50, dim=8):
        rng = np.random.default_rng(1)
        rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_bruteforce_topk_self_excluded(self, spark):
        emb = self._emb(spark)
        q = emb.filter(F.col("vec_id") < 3)
        out = SIM.cosine_topk_bruteforce(q, emb, k=4)
        rows = out.collect()
        assert len(rows) == 12
        for r in rows:
            assert r["query_id"] != r["neighbor_id"]
            assert 1 <= r["rank"] <= 4

    def test_lsh_recall_reasonable(self, spark):
        emb = self._emb(spark, n=80)
        q = emb.filter(F.col("vec_id") < 5)
        bf = {
            (r["query_id"], r["neighbor_id"])
            for r in SIM.cosine_topk_bruteforce(q, emb, k=3).collect()
        }
        # near-duplicate vectors land in the same bucket with high prob:
        # verify the plumbing + that exact copies are always found
        emb_dup = emb.union(
            spark.createDataFrame(
                [(1000, emb.filter(F.col("vec_id") == 0).first()["embedding"])],
                "vec_id long, embedding array<float>",
            )
        )
        q0 = emb_dup.filter(F.col("vec_id") == 0)
        lsh = SIM.cosine_topk_lsh(q0, emb_dup, k=3)
        top = sorted(lsh.collect(), key=lambda r: r["rank"])
        assert top and top[0]["neighbor_id"] == 1000  # identical vector found
        assert bf  # sanity

    def test_ivf_finds_identical_vector_and_stays_equi_join(self, spark):
        """IVF ANN: an exact duplicate always shares its query's best
        cell, so it must surface at rank 1; and the candidate join is an
        equi-join on cell — no cartesian anywhere in the plan."""
        emb = self._emb(spark, n=80)
        dup = emb.union(
            spark.createDataFrame(
                [(1000, emb.filter(F.col("vec_id") == 0).first()["embedding"])],
                "vec_id long, embedding array<float>",
            )
        )
        q0 = dup.filter(F.col("vec_id") == 0)
        out = SIM.cosine_topk_ivf(q0, dup, k=3, n_cells=8, nprobe=2)
        top = sorted(out.collect(), key=lambda r: r["rank"])
        assert top and top[0]["neighbor_id"] == 1000
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_ivf_nprobe_all_cells_equals_bruteforce(self, spark):
        """Probing every cell degenerates IVF to exact search: top-k must
        equal brute force (same scoring, same tie-breaks)."""
        emb = self._emb(spark, n=40)
        q = emb.filter(F.col("vec_id") < 3)
        bf = sorted(
            (r["query_id"], r["rank"], r["neighbor_id"])
            for r in SIM.cosine_topk_bruteforce(q, emb, k=4).collect()
        )
        ivf = sorted(
            (r["query_id"], r["rank"], r["neighbor_id"])
            for r in SIM.cosine_topk_ivf(
                q, emb, k=4, n_cells=6, nprobe=6
            ).collect()
        )
        assert ivf == bf

    def test_assign_cells_arrow_kernel_matches_expr(self, spark):
        """The numpy-matmul assignment kernel (the scale path) agrees
        with the expression kernel cell-for-cell on the fixture, and the
        full IVF top-k is identical under either kernel."""
        from companycatalogcrawlerparser_spark.operators.similarity import (
            assign_cells, ivf_pivots,
        )

        emb = self._emb(spark, n=120)
        cents = ivf_pivots(emb, 16)
        expr = {
            r["vec_id"]: r["cell"]
            for r in assign_cells(emb, cents).collect()
        }
        arrow = {
            r["vec_id"]: r["cell"]
            for r in assign_cells(emb, cents, kernel="arrow").collect()
        }
        assert expr == arrow
        q = emb.filter(F.col("vec_id") < 4)
        a = sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], r["score"])
            for r in SIM.cosine_topk_ivf(
                q, emb, k=4, n_cells=16, nprobe=4
            ).collect()
        )
        b = sorted(
            (r["query_id"], r["rank"], r["neighbor_id"], r["score"])
            for r in SIM.cosine_topk_ivf(
                q, emb, k=4, n_cells=16, nprobe=4, kernel="arrow"
            ).collect()
        )
        assert a == b

    def test_cosine_pairs_threshold(self, spark):
        rows = [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0, 0.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        pairs = {(r["id_a"], r["id_b"]) for r in SIM.cosine_pairs(df, 0.99).collect()}
        assert (1, 2) in pairs and (1, 3) not in pairs

    def test_cosine_pairs_skew_cap(self, spark):
        """Adversarial hot bucket: 10k IDENTICAL embeddings all hash to one
        signature — uncapped that is ~50M pairs in ONE join task. The
        max_bucket cap must keep the run fast and emit zero pairs from the
        hot bucket, with the skipped bucket visible on the audit surface."""
        import time as _time

        n = 10_000
        df = spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.array(F.lit(1.0), F.lit(0.5), F.lit(0.25), F.lit(0.125)).alias("embedding"),
        )
        t0 = _time.monotonic()
        pairs = SIM.cosine_pairs(df, 0.5, dim=4, max_bucket=256).count()
        elapsed = _time.monotonic() - t0
        assert pairs == 0
        assert elapsed < 60  # uncapped this would be ~50M-pair quadratic
        audit = SIM.cosine_oversized_buckets(df, dim=4, max_bucket=256).collect()
        assert len(audit) == 1 and audit[0]["n_rows"] == n

    def test_cosine_pairs_planes_scale_with_corpus(self):
        assert SIM.planes_for_corpus(100) == 6
        assert SIM.planes_for_corpus(128 * 64) == 6
        assert SIM.planes_for_corpus(10**6) == 13
        assert SIM.planes_for_corpus(10**10) > 20

    def test_cosine_skew_cap_observed_matches_audit(self, spark):
        """r5 verdict #2: cosine_pairs carries the same in-job
        Observation contract as minhash/winnow — observed skip volume
        equals the standalone cosine_oversized_buckets audit."""
        from pyspark.sql import Observation

        rng = np.random.default_rng(3)
        hot = [(i, [1.0] * 8) for i in range(40)]
        normals = [
            (1000 + i, [float(x) for x in rng.normal(size=8)])
            for i in range(10)
        ]
        df = spark.createDataFrame(
            hot + normals, "vec_id long, embedding array<float>"
        )
        obs = Observation("cos_skew")
        pairs = SIM.cosine_pairs(
            df, threshold=0.9, num_planes=6, max_bucket=16, observation=obs
        )
        pairs.count()
        got = obs.get
        audit = (
            SIM.cosine_oversized_buckets(df, num_planes=6, max_bucket=16)
            .agg(F.coalesce(F.sum("n_rows"), F.lit(0)).alias("s"),
                 F.coalesce(F.max("n_rows"), F.lit(0)).alias("m"))
            .first()
        )
        assert got["skipped_rows"] == audit["s"] > 0
        assert got["max_bucket_seen"] == audit["m"]

    def test_ivf_arrow_string_ids(self, spark):
        """r5 advice: the arrow output schema was hardcoded to long ids.
        Both arrow variants must now handle string vec_ids exactly like
        the expr kernel (schema derived from the inputs)."""
        rng = np.random.default_rng(5)
        rows = [
            (f"doc-{i:03d}", [float(x) for x in rng.normal(size=8)])
            for i in range(60)
        ]
        emb = spark.createDataFrame(
            rows, "vec_id string, embedding array<float>"
        )
        q = emb.filter(F.col("vec_id") < "doc-004")

        def norm(df):
            return sorted(
                (r["query_id"], r["rank"], r["neighbor_id"], r["score"])
                for r in df.collect()
            )

        expr = norm(SIM.cosine_topk_ivf(q, emb, k=3, n_cells=8, nprobe=3))
        arrow = norm(
            SIM.cosine_topk_ivf(
                q, emb, k=3, n_cells=8, nprobe=3, kernel="arrow"
            )
        )
        assert expr == arrow and len(expr) == 4 * 3

    def test_ivf_arrow_cogroup_fallback_matches_fused(self, spark, monkeypatch):
        """Query sets past the broadcast gate fall back to the r5
        cell-cogroup variant; both arrow paths and the expr kernel agree
        row-for-row."""
        emb = self._emb(spark, n=100)
        q = emb.filter(F.col("vec_id") < 5)

        def norm(df):
            return sorted(
                (r["query_id"], r["rank"], r["neighbor_id"], r["score"])
                for r in df.collect()
            )

        expr = norm(SIM.cosine_topk_ivf(q, emb, k=4, n_cells=12, nprobe=4))
        fused = norm(
            SIM.cosine_topk_ivf(
                q, emb, k=4, n_cells=12, nprobe=4, kernel="arrow"
            )
        )
        monkeypatch.setattr(SIM, "_ARROW_IVF_MAX_QUERIES", 2)
        cogrp = norm(
            SIM.cosine_topk_ivf(
                q, emb, k=4, n_cells=12, nprobe=4, kernel="arrow"
            )
        )
        assert expr == fused == cogrp

    def test_ivf_arrow_empty_query_set(self, spark):
        emb = self._emb(spark, n=30)
        out = SIM.cosine_topk_ivf(
            emb.filter(F.col("vec_id") < 0), emb, k=3, n_cells=4,
            nprobe=2, kernel="arrow",
        )
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == [
            "query_id", "neighbor_id", "score", "rank",
        ]

    def _semdup_corpus(self, spark):
        # two tight duplicate groups + one singleton: within-group
        # cosine ~0.9999, across-group ~0
        rows = [
            (0, [10.0, 0.0, 0.0, 0.0]),
            (1, [10.0, 0.1, 0.0, 0.0]),
            (2, [10.0, 0.0, 0.1, 0.0]),
            (3, [0.0, 10.0, 0.0, 0.0]),
            (4, [0.0, 10.0, 0.1, 0.0]),
            (5, [0.0, 0.0, 10.0, 0.0]),
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    def test_semantic_dedup_groups_and_keep_rule(self, spark):
        # n_cells=1 pins the quantizer to one cell, isolating the
        # grouping + survivor semantics (the md5-pivot cell assignment
        # itself is hash-verified by the ann_lsh driver row)
        out = SIM.semantic_dedup(
            self._semdup_corpus(spark), n_cells=1, threshold=0.98
        ).collect()
        comp = {r["vec_id"]: r["component"] for r in out}
        assert comp == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5}
        keepers = {r["vec_id"] for r in out if r["keep"]}
        assert len(keepers) == 3 and 5 in keepers
        # keep-the-outlier: within each multi group the survivor has
        # the LOWEST centroid cosine (ties -> lower id)
        by_comp = {}
        for r in out:
            by_comp.setdefault(r["component"], []).append(r)
        for members in by_comp.values():
            want = min(members, key=lambda r: (r["cent_cos"], r["vec_id"]))
            assert {r["vec_id"] for r in members if r["keep"]} == {
                want["vec_id"]
            }

    def test_semantic_dedup_max_cell_cap_observable(self, spark, monkeypatch):
        from pyspark.sql import Observation

        monkeypatch.setattr(SIM, "SEMDUP_MAX_CELL", 3)
        obs = Observation("semdup_cap")
        out = SIM.semantic_dedup(
            self._semdup_corpus(spark), n_cells=1, threshold=0.98,
            observation=obs,
        ).collect()
        # the single 6-row cell is over-cap: no pairs generated, every
        # vector its own singleton survivor — and the skipped volume is
        # reported by the producing job, not silently dropped
        assert all(r["keep"] and r["component"] == r["vec_id"] for r in out)
        assert obs.get["skipped_rows"] == 6
        assert obs.get["max_cell_seen"] == 6


class TestTextQuality:
    def test_langid(self, spark):
        df = spark.createDataFrame(
            [(1, "the quick brown fox and the dog"), (2, "привет как дела что нового"),
             (3, "12345 67890")],
            ["doc_id", "text"],
        )
        out = {r["doc_id"]: r["lang"] for r in df.select("doc_id", TQ.predict_lang(F.col("text")).alias("lang")).collect()}
        assert out == {1: "en", 2: "ru", 3: "unknown"}

    def test_token_counts(self, spark):
        df = spark.createDataFrame([(1, "  a b   c  "), (2, ""), (3, "x1y,z")], ["doc_id", "text"])
        out = {
            r["doc_id"]: (r["n"], r["s"])
            for r in df.select(
                "doc_id",
                TQ.token_count(F.col("text")).alias("n"),
                TQ.bpe_ish_token_count(F.col("text")).alias("s"),
            ).collect()
        }
        assert out[1] == (3, 3)
        assert out[2][0] == 0
        assert out[3] == (1, 5)  # x,1,y,",",z runs

    def test_quality_score_ordering(self, spark):
        df = spark.createDataFrame(
            [(1, "The report describes the methodology and the results in detail."),
             (2, "!!! 111 222 $$$ ???")],
            ["doc_id", "text"],
        )
        out = {r["doc_id"]: r["q"] for r in df.select("doc_id", TQ.quality_score(F.col("text")).alias("q")).collect()}
        assert out[1] > out[2]

    def test_winnowing(self, spark):
        df = spark.createDataFrame(
            [(1, "abcdefghijklmnop"), (2, "abcdefghijklmnop"), (3, "zzzzyyyyxxxxwwww")],
            ["doc_id", "text"],
        )
        out = {r["doc_id"]: r["fps"] for r in df.select("doc_id", TQ.winnow_fingerprints(F.col("text")).alias("fps")).collect()}
        assert out[1] == out[2] and out[1] != out[3]


class TestStreaming:
    # the per-fetch event log a production crawl emits
    FETCH_EVENT_SCHEMA = (
        "ts timestamp, url string, host string, company_id long, ok boolean, "
        "bytes long, emails_found int"
    )

    def test_host_budget_state_counts_violations_across_batches(
        self, spark, tmp_path
    ):
        """applyInPandasWithState politeness auditor: per-host state
        (events, violations, last stamp) must carry ACROSS micro-batches —
        a gap that spans the batch boundary still counts."""
        from companycatalogcrawlerparser_spark.streaming import events as SE
        import datetime as dt

        base = dt.datetime(2026, 1, 1, 10, 0, 0)
        src = str(tmp_path / "state_in")

        def ev(host, off_ms):
            return (
                base + dt.timedelta(milliseconds=off_ms),
                f"http://{host}/p{off_ms}", host, 1, True, 10, 0,
            )

        # batch 1: a.ru at 0 and 400ms (1 violation), b.ru at 0
        spark.createDataFrame(
            [ev("a.ru", 0), ev("a.ru", 400), ev("b.ru", 0)],
            self.FETCH_EVENT_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(src)
        # batch 2: a.ru at 900ms — 500ms after its batch-1 tail: violation
        # only if state crossed the boundary; b.ru at 5000ms (clean)
        spark.createDataFrame(
            [ev("a.ru", 900), ev("b.ru", 5000)], self.FETCH_EVENT_SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)

        stream = (
            spark.readStream.schema(self.FETCH_EVENT_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        audited = SE.host_budget_state(stream, delay_ms=1000)
        out_dir = str(tmp_path / "state_out")
        q = (
            audited.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "state_ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.read.parquet(out_dir).collect()
        # take each host's LAST emitted state (max events)
        final = {}
        for r in rows:
            cur = final.get(r["host"])
            if cur is None or r["events"] > cur["events"]:
                final[r["host"]] = r
        assert final["a.ru"]["events"] == 3
        assert final["a.ru"]["violations"] == 2  # 400ms gap + cross-batch 500ms
        assert final["b.ru"]["events"] == 2
        assert final["b.ru"]["violations"] == 0

    def test_host_budget_state_survives_checkpoint_restart(
        self, spark, tmp_path
    ):
        """The auditor's per-host state must restore from the CHECKPOINT
        across separate query runs (not just across batches within one
        run): a sub-delay gap spanning a stream restart still counts."""
        from companycatalogcrawlerparser_spark.streaming import events as SE
        import datetime as dt

        base = dt.datetime(2026, 1, 1, 10, 0, 0)
        src = str(tmp_path / "restart_in")
        out_dir = str(tmp_path / "restart_out")
        ckpt = str(tmp_path / "restart_ckpt")

        def ev(off_ms):
            return (
                base + dt.timedelta(milliseconds=off_ms),
                f"http://a.ru/p{off_ms}", "a.ru", 1, True, 10, 0,
            )

        def drain():
            stream = spark.readStream.schema(self.FETCH_EVENT_SCHEMA).parquet(src)
            q = (
                SE.host_budget_state(stream, delay_ms=1000)
                .writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        spark.createDataFrame(
            [ev(0)], self.FETCH_EVENT_SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)
        drain()  # run 1 ends; state (last_ts=0ms) lives in the checkpoint

        spark.createDataFrame(
            [ev(600)], self.FETCH_EVENT_SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)
        drain()  # fresh query, same checkpoint

        rows = spark.read.parquet(out_dir).collect()
        last = max(rows, key=lambda r: r["events"])
        assert last["events"] == 2
        assert last["violations"] == 1  # 600ms gap across the RESTART

    def test_events_audit_leaves_caller_conf_untouched(
        self, spark, tmp_path, monkeypatch
    ):
        """The events_windows audit kind runs its stream in a child
        session: no ``RuntimeConfig.set``/``unset`` reaches the caller's
        session while it runs (other rows build frames from thread pools
        on that session), and its per-host totals still equal the oracle's
        one-shot lag-gap scan."""
        import datetime as dt
        import random

        from pyspark.sql.conf import RuntimeConfig

        from companycatalogcrawlerparser_spark import harness as H

        rng = random.Random(0)
        base = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
        rows = [
            (i, rng.randrange(40), base + dt.timedelta(seconds=rng.randrange(3600)))
            for i in range(800)
        ]
        spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp"
        ).write.parquet(str(tmp_path / "events.parquet"))

        caller = spark._jsparkSession.conf()
        calls = []
        for name in ("set", "unset"):
            def record(self, *args, _orig=getattr(RuntimeConfig, name), _name=name):
                if self._jconf.equals(caller):
                    calls.append((_name, *args))
                return _orig(self, *args)

            monkeypatch.setattr(RuntimeConfig, name, record)
        got = {
            r["host"]: (r["events"], r["violations"], r["last_ts_ms"])
            for r in H.q_events_audit(spark, str(tmp_path)).collect()
        }
        monkeypatch.undo()
        assert calls == []

        by_host: dict = {}
        for event_id, user_id, ts in rows:
            if event_id % 4 == 0:
                by_host.setdefault(f"h{user_id % H.AUDIT_HOSTS_MOD}", []).append(
                    int(ts.timestamp() * 1000)
                )
        want = {}
        for host, stamps in by_host.items():
            stamps.sort()
            gaps = [b - a for a, b in zip(stamps, stamps[1:])]
            want[host] = (
                len(stamps),
                sum(g < H.AUDIT_DELAY_MS for g in gaps),
                stamps[-1],
            )
        assert sum(v[1] for v in want.values()) > 0  # the gate is exercised
        assert got == want


class TestCuckooFilter:
    """url_seen's cuckoo variant (north_star: 'bloom/cuckoo filters')."""

    def test_no_false_negatives_and_low_fp(self):
        from companycatalogcrawlerparser_spark.operators.urlseen import (
            _cuckoo_build, _cuckoo_probe, _cuckoo_size_for,
        )

        rng = np.random.default_rng(3)
        keys = np.unique(rng.integers(-(2**62), 2**62, 5000, dtype=np.int64))
        nb = _cuckoo_size_for(len(keys))
        table = _cuckoo_build(keys, nb)
        assert _cuckoo_probe(keys.astype(np.uint64), table, nb).all()
        other = np.setdiff1d(
            rng.integers(-(2**62), 2**62, 5000, dtype=np.int64), keys
        )
        fp = _cuckoo_probe(other.astype(np.uint64), table, nb).mean()
        assert fp < 0.05, f"cuckoo fp too high: {fp}"

    def test_filter_unseen_cuckoo_paths_exact(self, spark):
        seen, cand, expected = TestBloom._seen_cand(spark)
        us = UrlSeen(spark, n_buckets=16, filter_kind="cuckoo")
        us.build_blooms(seen)
        assert {r["url"] for r in us.filter_unseen(cand, seen).collect()} == expected
        # distributed (cogroup) probe path
        us2 = UrlSeen(spark, n_buckets=16, filter_kind="cuckoo", driver_gate_bytes=0)
        us2.build_blooms(seen)
        assert {r["url"] for r in us2.filter_unseen(cand, seen).collect()} == expected

    def test_legacy_bloom_table_without_kind_column(self, spark):
        """Snapshots committed before the kind column existed must load."""
        seen, cand, expected = TestBloom._seen_cand(spark)
        us = UrlSeen(spark, n_buckets=16)
        legacy = us.bloom_table(seen).drop("kind")
        us.set_blooms(legacy)
        assert {r["url"] for r in us.filter_unseen(cand, seen).collect()} == expected


class TestConnectedComponents:
    """dedup_clusters / connected_components: alternating large-star /
    small-star over the near-dup pair graph (Kiveris et al., SoCC 2014).
    The reference dedups per-pair (DbAccess.fs insertCompanyEmails'
    distinct/anti-join shape); clustering is the engine's 100 TB-scale
    generalization — survivors are per-COMPONENT, not per-pair."""

    @staticmethod
    def _pairs(spark, edges):
        return spark.createDataFrame(
            [(int(a), int(b)) for a, b in edges], "id_a long, id_b long"
        )

    @staticmethod
    def _uf_expected(edges, nodes):
        """Plain-Python union-find ground truth: node -> min id of comp."""
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp = {}
        for n in nodes:
            root = find(n)
            comp.setdefault(root, []).append(n)
        return {n: min(members) for members in comp.values() for n in members}

    def test_chain_is_one_component(self, spark):
        """a-b, b-c: per-pair anti-join drops b AND c; clustering keeps
        exactly one survivor (the min) for the whole chain."""
        cc = D.connected_components(self._pairs(spark, [(1, 2), (2, 3)]))
        got = {r["node"]: r["component"] for r in cc.collect()}
        assert got == {1: 1, 2: 1, 3: 1}

    def test_two_components_and_singletons(self, spark):
        docs = spark.createDataFrame(
            [(i,) for i in range(1, 9)], "doc_id long"
        )
        pairs = self._pairs(spark, [(1, 2), (2, 3), (5, 6)])
        out = {
            r["doc_id"]: (r["cluster_id"], r["is_rep"])
            for r in D.dedup_clusters(docs, pairs).collect()
        }
        assert out == {
            1: (1, True), 2: (1, False), 3: (1, False),
            4: (4, True), 5: (5, True), 6: (5, False),
            7: (7, True), 8: (8, True),
        }

    def test_empty_pairs_all_singletons(self, spark):
        docs = spark.createDataFrame([(7,), (9,)], "doc_id long")
        pairs = spark.createDataFrame([], "id_a long, id_b long")
        out = {
            r["doc_id"]: (r["cluster_id"], r["is_rep"])
            for r in D.dedup_clusters(docs, pairs).collect()
        }
        assert out == {7: (7, True), 9: (9, True)}

    def test_random_graph_matches_union_find(self, spark):
        """Deterministic pseudo-random graph (LCG, no RNG import) with a
        long path to force >1 star round, vs pure-Python union-find."""
        nodes = list(range(60))
        x, edges = 12345, []
        for _ in range(45):
            x = (x * 1103515245 + 12345) % (1 << 31)
            a = x % 60
            x = (x * 1103515245 + 12345) % (1 << 31)
            b = x % 60
            if a != b:
                edges.append((a, b))
        # adversarial high-diameter path, descending so min is at the end
        edges += [(i + 1, i) for i in range(40, 52)]
        expected = self._uf_expected(edges, nodes)
        # connected_components only sees nodes present in pairs
        expected = {
            n: c for n, c in expected.items()
            if any(n in e for e in edges)
        }
        cc = D.connected_components(self._pairs(spark, edges))
        got = {r["node"]: r["component"] for r in cc.collect()}
        assert got == expected


class TestPageRank:
    """linkgraph.pagerank: fixed-point integer power iteration vs a
    pure-Python reference of the same recurrence. Integer arithmetic is
    the point — sums of longs are order-independent, so the result is
    bit-identical across partitionings (and to the unrolled-SQL driver
    oracle), where float PageRank drifts in the last ulp per plan."""

    @staticmethod
    def _ref(edges, iters, scale=10**6, dn=85, dd=100):
        e = sorted(set(edges))
        nodes = sorted({u for u, _ in e} | {v for _, v in e})
        deg = {}
        for u, _ in e:
            deg[u] = deg.get(u, 0) + 1
        base = scale * (dd - dn) // dd
        r = {n: scale for n in nodes}
        for _ in range(iters):
            s = {n: 0 for n in nodes}
            for u, v in e:
                s[v] += (r[u] * dn) // (dd * deg[u])
            r = {n: base + s[n] for n in nodes}
        return r

    def _run(self, spark, edges, iters):
        df = spark.createDataFrame(
            [(int(a), int(b)) for a, b in edges], "src long, dst long"
        )
        got = {
            r["node"]: r["rank_q"]
            for r in LG.pagerank(df, iters=iters).collect()
        }
        assert got == self._ref(edges, iters)
        return got

    def test_star_and_dangling(self, spark):
        # hub 0 feeding 1..3 (dangling sinks), plus a self-loop on 4
        got = self._run(spark, [(0, 1), (0, 2), (0, 3), (4, 4)], 3)
        # sinks share the hub's mass equally; the self-loop keeps its own
        assert got[1] == got[2] == got[3]
        assert got[4] > got[1] > got[0]

    def test_duplicate_edges_collapse(self, spark):
        a = self._run(spark, [(1, 2), (1, 2), (2, 3)], 2)
        b = self._run(spark, [(1, 2), (2, 3)], 2)
        assert a == b

    def test_zero_iters_is_uniform(self, spark):
        got = self._run(spark, [(5, 6), (6, 7)], 0)
        assert set(got.values()) == {10**6}

    def test_cycle_converges_to_symmetry(self, spark):
        got = self._run(spark, [(1, 2), (2, 3), (3, 1)], 4)
        assert len(set(got.values())) == 1

    def test_lcg_graph_matches_reference(self, spark):
        x, edges = 777, []
        for _ in range(120):
            x = (x * 1103515245 + 12345) % (1 << 31)
            a = x % 40
            x = (x * 1103515245 + 12345) % (1 << 31)
            b = x % 40
            edges.append((a, b))
        self._run(spark, edges, 3)


class TestCuration:
    """curation: deterministic sampling (md5-bucket, partition-invariant)
    and token-budget shard packing (distributed prefix sum) vs
    pure-Python references."""

    @staticmethod
    def _bucket(key, salt="", denom=10000):
        import hashlib

        return int(
            hashlib.md5(f"{key}{salt}".encode()).hexdigest()[:8], 16
        ) % denom

    def test_stratified_sample(self, spark):
        from companycatalogcrawlerparser_spark.operators import curation as CU

        rows = [(i, "en" if i % 3 == 0 else ("ru" if i % 3 == 1 else "de"))
                for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id long, lang string")
        rates = {"en": 10000, "ru": 2500}
        got = {
            r["doc_id"]
            for r in CU.stratified_sample(df, rates, "lang").collect()
        }
        want = {
            i for i, lang in rows
            if self._bucket(i) < rates.get(lang, 0)
        }
        assert got == want
        assert all(i % 3 == 0 for i in got if self._bucket(i) >= 2500)

    def test_pack_shards_matches_running_sum(self, spark):
        from companycatalogcrawlerparser_spark.operators import curation as CU

        # deterministic ragged token counts incl. one over-budget doc
        rows = [(i, (i * 37) % 90 + 1) for i in range(400)]
        rows[123] = (123, 1000)  # longer than the budget: one shard, unsplit
        df = spark.createDataFrame(rows, "doc_id long, n_tok long")
        got = {
            r["doc_id"]: r["shard_id"]
            for r in CU.pack_shards(df, "n_tok", 500, num_partitions=7).collect()
        }
        run, want = 0, {}
        for i, t in sorted(rows):
            want[i] = run // 500
            run += t
        assert got == want
        # shard ids start at 0 and are non-decreasing in pack order
        # (gaps are legal: an over-budget doc skips whole budget windows)
        ordered = [got[i] for i in sorted(got)]
        assert ordered[0] == 0
        assert all(a <= b for a, b in zip(ordered, ordered[1:]))
        # partition-count invariance
        got2 = {
            r["doc_id"]: r["shard_id"]
            for r in CU.pack_shards(df, "n_tok", 500, num_partitions=2).collect()
        }
        assert got2 == want

    def test_global_order_index_matches_python(self, spark):
        """Deterministic training shuffle: train_pos must equal the rank
        of md5(key) in pure Python, at two partition counts."""
        import hashlib

        from companycatalogcrawlerparser_spark.operators import curation as CU

        df = spark.range(500).select(F.col("id").alias("doc_id"))
        want = {
            i: p
            for p, i in enumerate(
                sorted(
                    range(500),
                    key=lambda i: hashlib.md5(str(i).encode()).hexdigest(),
                )
            )
        }
        for n_parts in (3, 16):
            got = {
                r["doc_id"]: r["train_pos"]
                for r in CU.global_order_index(
                    df, num_partitions=n_parts
                ).collect()
            }
            assert got == want, n_parts
        # a different salt is a different permutation
        other = {
            r["doc_id"]: r["train_pos"]
            for r in CU.global_order_index(df, salt="epoch1").collect()
        }
        assert other != want
        assert sorted(other.values()) == list(range(500))

    def test_cap_per_domain_matches_python(self, spark):
        """Domain rebalancing: over-cap domains keep exactly the cap-many
        smallest md5-permutation keys (rank exported), under-cap domains
        pass through rank-NULL — vs pure Python, at two partition
        counts."""
        import hashlib
        from collections import defaultdict

        from companycatalogcrawlerparser_spark.operators import curation as CU

        rows = []
        for i in range(600):
            if i % 2 == 0:
                dom = "mega"  # 300 rows — the skew the cap exists for
            elif i % 4 == 1:
                dom = f"mid{i % 3}"  # 3 domains × ~50 rows, over cap
            else:
                dom = f"tail{i % 40}"  # 10 domains × ~15 rows, under cap
            rows.append((i, dom))
        df = spark.createDataFrame(rows, "doc_id long, domain string")
        groups = defaultdict(list)
        for i, d in rows:
            groups[d].append(i)
        cap = 25
        want = {}
        for d, ids in groups.items():
            if len(ids) <= cap:
                want.update({i: None for i in ids})
            else:
                ranked = sorted(
                    ids,
                    key=lambda i: hashlib.md5(str(i).encode()).hexdigest(),
                )
                want.update({i: r for r, i in enumerate(ranked[:cap], 1)})
        for n_parts in (3, 16):
            got = {
                r["doc_id"]: r["domain_rank"]
                for r in CU.cap_per_domain(
                    df, "domain", cap, num_partitions=n_parts
                ).collect()
            }
            assert got == want, n_parts
        # survivor counts: min(cap, domain size) per domain
        sizes = defaultdict(int)
        for i in got:
            sizes[dict(rows)[i]] += 1
        assert sizes["mega"] == cap
        assert all(sizes[f"mid{k}"] == cap for k in range(3))
        assert all(v <= cap for v in sizes.values())
        # NULL domains are "no domain": never capped, rank stays NULL
        nulls = spark.createDataFrame(
            [(i, None) for i in range(40)], "doc_id long, domain string"
        )
        out = CU.cap_per_domain(nulls, "domain", 5).collect()
        assert len(out) == 40
        assert all(r["domain_rank"] is None for r in out)
        # salt selects an independent survivor set for the hot domain
        alt = {
            r["doc_id"]: r["domain_rank"]
            for r in CU.cap_per_domain(df, "domain", cap, salt="s1").collect()
        }
        assert set(alt) != set(got)
        assert sorted(v for v in alt.values() if v is not None) == sorted(
            v for v in got.values() if v is not None
        )

    def test_pack_shards_branch_consistent_at_volume(self, spark):
        """Regression (r6 XL): __pid from spark_partition_id is a
        READ-side value — without the in-operator localCheckpoint, AQE
        let the cumsum branch and the totals branch coalesce the range
        shuffle differently, shifting shard boundaries (n_shards 315 @8c
        vs 321 @32c on identical kept_tokens at 1M docs). 50k rows is
        enough for AQE to make real coalescing choices; the exact
        expected shard count pins the global prefix-sum semantics."""
        from companycatalogcrawlerparser_spark.operators import curation as CU
        from pyspark.sql import functions as F

        toks = [(i * 37) % 90 + 1 for i in range(50_000)]
        df = spark.range(50_000).select(
            F.col("id").alias("doc_id"),
            ((F.col("id") * 37) % 90 + 1).alias("n_tok"),
        )
        budget = 1000
        expected_last_shard = (sum(toks) - toks[-1]) // budget
        for n_parts in (32, 3):
            packed = CU.pack_shards(
                df, "n_tok", budget, num_partitions=n_parts
            )
            got = packed.agg(
                F.max("shard_id"), F.sum("n_tok"), F.count("*")
            ).first()
            assert got[0] == expected_last_shard, (n_parts, got)
            assert (got[1], got[2]) == (sum(toks), 50_000)


class TestExactQuantiles:
    """curation.exact_quantiles: distributed rank-k selection vs sorted
    Python, partition-count-invariant, ties/clamp behaviour."""

    def test_matches_sorted_python_and_partitionings(self, spark):
        import hashlib

        from companycatalogcrawlerparser_spark.operators import (
            curation as CU,
        )

        vals = [
            int(hashlib.md5(f"q{i}".encode()).hexdigest()[:4], 16) % 500
            for i in range(997)
        ]
        fracs = [0.1, 0.25, 0.5, 0.9, 1.0]
        s = sorted(vals)
        import math

        want = {
            f: s[min(max(math.ceil(f * len(s)), 1), len(s)) - 1]
            for f in fracs
        }
        for nparts in (3, 8):
            df = spark.createDataFrame(
                [(v,) for v in vals], "v long"
            ).repartition(nparts)
            got = {
                r["frac"]: r["value"]
                for r in CU.exact_quantiles(
                    df, "v", fracs, num_partitions=nparts
                ).collect()
            }
            assert got == want, nparts

    def test_tiny_and_all_ties(self, spark):
        from companycatalogcrawlerparser_spark.operators import (
            curation as CU,
        )

        # n=1: every frac clamps to rank 1
        one = spark.createDataFrame([(42,)], "v long")
        got = CU.exact_quantiles(one, "v", [0.0, 0.5, 1.0]).collect()
        assert [(r["k"], r["value"]) for r in got] == [(1, 42)] * 3
        # all-equal values: any rank returns the value
        same = spark.createDataFrame([(7,)] * 100, "v long")
        got2 = CU.exact_quantiles(same, "v", [0.33, 0.77]).collect()
        assert all(r["value"] == 7 for r in got2)


class TestSpanCorruption:
    """curation.span_corruption: T5 denoising pairs vs pure Python."""

    @staticmethod
    def _py(doc_id, text, span=3, density=0.15, salt=""):
        import hashlib
        import math

        toks = [t for t in (text or "").strip().split() if t]
        gate = int(round(density * 10000))

        def hit(blk):
            h = int(
                hashlib.md5(f"{doc_id}|{blk}{salt}".encode()).hexdigest()[:8],
                16,
            )
            return h % 10000 < gate

        blocks = sorted(
            {p // span for p in range(len(toks))if hit(p // span)}
        )
        ks = {b: i for i, b in enumerate(blocks)}
        inp, tgt, n = [], [], 0
        for p, t in enumerate(toks):
            b = p // span
            if b in ks:
                n += 1
                if p % span == 0:
                    inp.append(f"<extra_id_{ks[b]}>")
                    tgt.append(f"<extra_id_{ks[b]}> {t}")
                else:
                    tgt.append(t)
            else:
                inp.append(t)
        return " ".join(inp), " ".join(tgt), n

    def test_matches_python_and_partitionings(self, spark):
        from companycatalogcrawlerparser_spark.operators import (
            curation as CU,
        )

        rows = [
            (i, " ".join(f"w{i}t{j}" for j in range(5 + i % 17)))
            for i in range(60)
        ] + [(100, ""), (101, None), (102, "solo")]
        want = {i: self._py(i, t) for i, t in rows}
        for nparts in (2, 8):
            df = spark.createDataFrame(
                rows, "doc_id long, text string"
            ).repartition(nparts)
            got = {
                r["doc_id"]: (
                    r["input_text"], r["target_text"],
                    r["n_masked_tokens"],
                )
                for r in CU.span_corruption(df).collect()
            }
            assert got == want, nparts
        # the fixture actually masks something, and density lands in a
        # plausible band around 0.15
        tot = sum(len((t or "").split()) for _, t in rows)
        masked = sum(n for _, _, n in want.values())
        assert 0.05 < masked / tot < 0.3

    def test_salt_rerolls_epoch(self, spark):
        from companycatalogcrawlerparser_spark.operators import (
            curation as CU,
        )

        df = spark.createDataFrame(
            [(i, " ".join(f"x{i}y{j}" for j in range(30)))
             for i in range(40)],
            "doc_id long, text string",
        )
        a = {r["doc_id"]: r["input_text"]
             for r in CU.span_corruption(df).collect()}
        b = {r["doc_id"]: r["input_text"]
             for r in CU.span_corruption(df, salt="e2").collect()}
        assert a != b  # different epoch → different mask pattern


class TestUpsampleEpochs:
    """curation.upsample_epochs: deterministic fractional replication."""

    def test_multiplicity_and_partition_invariance(self, spark):
        import hashlib

        from companycatalogcrawlerparser_spark.operators import (
            curation as CU,
        )

        rows = [(i,) for i in range(400)]

        def gate(i):
            return (
                int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
                % 10000
            )

        want = {}
        for (i,) in rows:
            c = 2 + (1 if gate(i) < 3000 else 0)
            want[i] = list(range(c))
        for nparts in (2, 8):
            df = spark.createDataFrame(rows, "doc_id long").repartition(
                nparts
            )
            got: dict = {}
            for r in CU.upsample_epochs(df, 2.3).collect():
                got.setdefault(r["doc_id"], []).append(r["epoch"])
            assert {k: sorted(v) for k, v in got.items()} == want, nparts
        total = sum(len(v) for v in want.values())
        assert abs(total / 400 - 2.3) < 0.1  # realized weight ≈ factor

    def test_edge_factors(self, spark):
        from companycatalogcrawlerparser_spark.operators import (
            curation as CU,
        )

        df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
        # integer factor: exact replication, no gate
        assert CU.upsample_epochs(df, 2.0).count() == 400
        # factor < 1: a deterministic subsample (some rows drop)
        n = CU.upsample_epochs(df, 0.4).count()
        assert 0 < n < 200
        # factor 0: empty
        assert CU.upsample_epochs(df, 0.0).count() == 0


class TestSplitSequences:
    """curation.split_sequences: trainer context-window chunking vs a
    pure-Python reference."""

    @staticmethod
    def _py(rows, seq_len, keep_tail_min=1):
        import re

        out = []
        for i, t in rows:
            if t is None or t.strip() == "":
                continue
            toks = re.split(r"\s+", t.strip())
            full, tail = divmod(len(toks), seq_len)
            n_out = full + (1 if tail >= keep_tail_min else 0)
            for j in range(n_out):
                chunk = toks[j * seq_len : (j + 1) * seq_len]
                out.append((i, j, j * seq_len, len(chunk), " ".join(chunk)))
        return sorted(out)

    def _check(self, spark, rows, seq_len, keep_tail_min=1):
        from companycatalogcrawlerparser_spark.operators import curation as CU

        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(
            (r["doc_id"], r["seq_idx"], r["seq_start"],
             r["n_seq_tokens"], r["seq_text"])
            for r in CU.split_sequences(df, seq_len).collect()
        )
        assert got == self._py(rows, seq_len, keep_tail_min)
        return got

    def test_chunks_match_python(self, spark):
        rows = [
            (1, "a b c d e f g"),          # 7 tokens: 2 full + tail 1
            (2, "a b c"),                  # exactly one chunk
            (3, "  x   y\tz  w "),         # messy whitespace, 4 toks
            (4, None),
            (5, ""),
            (6, "solo"),
        ]
        got = self._check(spark, rows, seq_len=3)
        assert (1, 2, 6, 1, "g") in got      # tail kept by default
        assert not any(r[0] in (4, 5) for r in got)

    def test_tail_dropped_below_min(self, spark, monkeypatch):
        from companycatalogcrawlerparser_spark.operators import curation as CU

        monkeypatch.setattr(CU, "SPLIT_KEEP_TAIL_MIN", 3)
        rows = [(1, "a b c d e f g"), (2, "a b")]
        got = self._check(spark, rows, seq_len=3, keep_tail_min=3)
        # only full chunks survive; doc 2 (2 tokens < 3) vanishes
        assert {(r[0], r[1]) for r in got} == {(1, 0), (1, 1)}

    def test_validation(self, spark, monkeypatch):
        from companycatalogcrawlerparser_spark.operators import curation as CU

        import pytest as _pt

        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        with _pt.raises(ValueError):
            CU.split_sequences(df, 0)
        monkeypatch.setattr(CU, "SPLIT_KEEP_TAIL_MIN", 4)
        with _pt.raises(ValueError):
            CU.split_sequences(df, 3)

    def test_composes_with_pack_shards(self, spark):
        from companycatalogcrawlerparser_spark.operators import curation as CU

        rows = [(i, " ".join(f"t{i}w{j}" for j in range(10)))
                for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        seqs = CU.split_sequences(df, 4).withColumn(
            "seq_key",
            (F.col("doc_id") * 100 + F.col("seq_idx")),
        )
        packed = CU.pack_shards(seqs, "n_seq_tokens", 16,
                                order_col="seq_key")
        got = packed.groupBy("shard_id").agg(
            F.sum("n_seq_tokens").alias("tok")
        ).collect()
        # 20 docs x 10 tokens = 200 tokens, budget 16 per shard; packing
        # never splits rows, so a shard may overshoot by < one row (4)
        assert sum(r["tok"] for r in got) == 200
        assert all(r["tok"] < 16 + 4 for r in got)
        sids = {r["shard_id"] for r in got}
        assert sids == set(range(max(sids) + 1))


class TestConcatPackedSequences:
    """curation.concat_packed_sequences: trainer sequence packing with
    doc-boundary offsets vs a pure-Python reference."""

    @staticmethod
    def _py(rows):
        out = {}
        for sid in {r[0] for r in rows}:
            mem = sorted(r for r in rows if r[0] == sid)
            offs, tot, txts = [], 0, []
            for _, k, n, t in mem:
                offs.append(tot)
                tot += n
                txts.append(t)
            out[sid] = (len(mem), tot, offs, " ".join(txts))
        return out

    def test_matches_python(self, spark):
        from companycatalogcrawlerparser_spark.operators import curation as CU

        rows = [
            (0, 1, 3, "a b c"),
            (0, 0, 2, "x y"),       # earlier train_pos → comes first
            (1, 5, 1, "solo"),
            (2, 7, 4, "p q r s"),
            (2, 9, 2, "t u"),
            (2, 8, 1, "m"),
        ]
        df = spark.createDataFrame(
            rows, "shard_id long, train_pos long, n_tok long, text string"
        )
        got = {
            r["shard_id"]: (r["n_docs"], r["n_tokens"],
                            list(r["boundaries"]), r["text"])
            for r in CU.concat_packed_sequences(df).collect()
        }
        assert got == self._py(rows)
        # order check explicitly: shard 2 packs 7,8,9 in train order
        assert got[2][3] == "p q r s m t u"
        assert got[2][2] == [0, 4, 5]

    def test_end_to_end_with_split_and_pack(self, spark):
        from companycatalogcrawlerparser_spark.operators import curation as CU

        docs = spark.createDataFrame(
            [(i, " ".join(f"d{i}w{j}" for j in range(10)))
             for i in range(12)],
            "doc_id long, text string",
        )
        seqs = CU.split_sequences(docs, 4).withColumn(
            "seq_key", F.col("doc_id") * 100 + F.col("seq_idx")
        )
        packed = CU.pack_shards(seqs, "n_seq_tokens", 8, order_col="seq_key")
        ctx = CU.concat_packed_sequences(
            packed.withColumnRenamed("n_seq_tokens", "n_tok")
            .withColumnRenamed("seq_text", "text"),
            order_col="seq_key",
        )
        rows = ctx.collect()
        # total token conservation and boundary consistency per shard
        assert sum(r["n_tokens"] for r in rows) == 120
        for r in rows:
            assert list(r["boundaries"])[0] == 0
            assert len(r["boundaries"]) == r["n_docs"]
            assert len(r["text"].split(" ")) == r["n_tokens"]

    def test_partition_invariance(self, spark):
        from companycatalogcrawlerparser_spark.operators import curation as CU

        rows = [(i % 3, i, 2, f"w{i} v{i}") for i in range(30)]
        df = spark.createDataFrame(
            rows, "shard_id long, train_pos long, n_tok long, text string"
        )
        a = {tuple(r) for r in CU.concat_packed_sequences(df)
             .select("shard_id", "text").collect()}
        b = {tuple(r) for r in CU.concat_packed_sequences(df.repartition(7))
             .select("shard_id", "text").collect()}
        assert a == b
