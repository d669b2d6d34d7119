"""Contamination detection: Spark operator vs a pure-Python shingle-set
reference, plus plan shape (benchmark side broadcast, no cartesian)."""

import re

from pyspark.sql import functions as F

from companycatalogcrawlerparser_spark.operators import contamination as CT


def _py_shingles(text: str, k: int = 8) -> set:
    norm = re.sub(r"\s+", " ", text.strip().lower())
    if len(norm) <= k:
        return {norm}
    return {norm[i : i + k] for i in range(len(norm) - k + 1)}


DOCS = [
    # exact copy of a benchmark item -> overlap 1.0
    (0, "The quick brown fox jumps over the lazy dog near the river"),
    # half benchmark text, half novel -> partial overlap
    (1, "The quick brown fox jumps over zzz qqq xxx www yyy unrelated"),
    # fully novel -> overlap 0.0
    (2, "completely different content with no shared substrings at all"),
    # shorter than k -> single whole-text shingle
    (3, "tiny"),
]

BENCH = [
    (100, "The quick brown fox jumps over the lazy dog near the river"),
    (101, "Some other evaluation prompt that shares nothing with doc two"),
]


class TestContamination:
    def _frames(self, spark):
        docs = spark.createDataFrame(DOCS, "doc_id long, text string")
        bench = spark.createDataFrame(BENCH, "doc_id long, text string")
        return docs, bench

    def test_matches_python_reference(self, spark):
        docs, bench = self._frames(spark)
        got = {
            r["doc_id"]: r
            for r in CT.contamination_scores(docs, bench, k=8).collect()
        }
        bench_sh = set().union(*(_py_shingles(t) for _, t in BENCH))
        for doc_id, text in DOCS:
            sh = _py_shingles(text)
            exp_ratio = round(len(sh & bench_sh) / len(sh), 6)
            r = got[doc_id]
            assert r["n_shingles"] == len(sh), (doc_id, r)
            assert r["n_shared"] == len(sh & bench_sh), (doc_id, r)
            assert abs(r["overlap"] - exp_ratio) < 1e-9, (doc_id, r)
            assert r["contaminated"] == (exp_ratio >= 0.5), (doc_id, r)

    def test_extremes(self, spark):
        docs, bench = self._frames(spark)
        got = {
            r["doc_id"]: r
            for r in CT.contamination_scores(docs, bench).collect()
        }
        assert got[0]["overlap"] == 1.0 and got[0]["contaminated"]
        assert got[2]["overlap"] == 0.0 and not got[2]["contaminated"]
        # every input doc decorated, including zero-overlap ones
        assert set(got) == {d for d, _ in DOCS}

    def test_plan_broadcasts_benchmark(self, spark):
        docs, bench = self._frames(spark)
        plan = (
            CT.contamination_scores(docs, bench)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "BroadcastNestedLoop" not in plan
        assert "CartesianProduct" not in plan

    def test_plan_scans_corpus_once(self, spark, tmp_path):
        """r7 single-scan contract: the corpus relation appears exactly
        once in the executed plan (r6 had two branches over the explode —
        two full corpus scans per decontamination pass at 100 TB)."""
        docs, bench = self._frames(spark)
        docs_path = str(tmp_path / "contam_docs.parquet")
        docs.write.mode("overwrite").parquet(docs_path)
        plan = (
            CT.contamination_scores(spark.read.parquet(docs_path), bench)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the tmp path can exceed spark.sql.maxMetadataStringLength and
        # get elided from the Location string — count scan NODES instead
        assert plan.count("FileScan parquet") == 1, plan

    def test_null_text_total_decoration(self, spark):
        """ADVICE r6: NULL-text docs must not vanish — they decorate as
        n_shingles=0, overlap=0.0, contaminated=False."""
        docs = spark.createDataFrame(
            [(0, "The quick brown fox jumps over the lazy dog"), (1, None)],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(BENCH, "doc_id long, text string")
        got = {
            r["doc_id"]: r
            for r in CT.contamination_scores(docs, bench).collect()
        }
        assert set(got) == {0, 1}
        r = got[1]
        assert r["n_shingles"] == 0 and r["n_shared"] == 0
        assert r["overlap"] == 0.0 and not r["contaminated"]
