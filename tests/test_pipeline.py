"""curate_training_corpus: the composed curation chain as a product
surface — stage semantics, end-to-end determinism across partitionings,
and the configuration its non-test caller runs."""

import hashlib
import math
import re
from collections import Counter

from companycatalogcrawlerparser_spark.plans.pipeline import (
    CurationConfig,
    curate_training_corpus,
    pages_to_docs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the crawler "
    "parses catalog pages and extracts company contact emails daily"
)


def _words(seed: str, n: int = 20) -> str:
    """n deterministic hex words — distinct char-5-shingle content per
    seed, so 'unique' docs are genuinely far apart in Jaccard space
    (a shared English preamble would near-dup-cluster them all)."""
    return " ".join(
        hashlib.md5(f"{seed}-{k}".encode()).hexdigest()[:8] for k in range(n)
    )


def _py_dsir_scores(raw, target, num_buckets=10_000, alpha=0.5):
    """doc_id → DSIR score of each ``raw`` (doc_id, text) row toward
    ``target``: hashed word bigrams (md5 of the normalized bigram, first
    15 hex digits, mod ``num_buckets``), Laplace-smoothed log ratio of
    the target and raw bucket distributions, summed per doc."""

    def feats(text):
        toks = re.sub(r"\s+", " ", text.strip().lower()).split(" ")
        return [
            int(hashlib.md5(" ".join(toks[i:i + 2]).encode())
                .hexdigest()[:15], 16) % num_buckets
            for i in range(len(toks) - 1)
        ]

    tc = Counter(b for _, t in target for b in feats(t))
    rc = Counter(b for _, t in raw for b in feats(t))
    tt, rt = sum(tc.values()), sum(rc.values())

    def log_ratio(b):
        return (math.log((tc[b] + alpha) / (tt + alpha * num_buckets))
                - math.log((rc[b] + alpha) / (rt + alpha * num_buckets)))

    return {i: sum(log_ratio(b) for b in feats(t)) for i, t in raw}


def _py_gumbel(doc_id):
    """The Gumbel noise dsir_select adds: −log(−log(u)), u the doc's md5
    gate bucket (first 8 hex digits mod 10,000) mapped into (0, 1)."""
    g = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 10000
    return -math.log(-math.log((g + 0.5) / 10000.0))


def _corpus(spark):
    rows = []
    for i in range(40):
        rows.append((i, f"document {i} {_words(str(i))}"))
    # an exact-dup chain: 100 == 101 == 102 (transitive cluster)
    rows += [(100, BASE), (101, BASE), (102, BASE)]
    # a doc carrying PII, textually unrelated to the dup cluster
    rows.append(
        (200, f"invoice notice {_words('pii')} reach admin@example.com "
              "or 495-123-45-67")
    )
    # a doc that IS a benchmark item (contaminated)
    rows.append((300, "benchmark evaluation prompt shared verbatim token"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _bench(spark):
    return spark.createDataFrame(
        [(0, "benchmark evaluation prompt shared verbatim token")],
        "doc_id long, text string",
    )


CFG = CurationConfig(
    quality_min=0.0,          # tiny fixture: no quality drop
    sample_rates={"en": 10000},
    default_keep=10000,       # keep everything that survives
    shard_budget_tokens=100,
)


class TestCuratePipeline:
    def test_stage_semantics(self, spark, tmp_path):
        packed = curate_training_corpus(
            _corpus(spark), _bench(spark), CFG
        )
        rows = {r["doc_id"]: r for r in packed.collect()}
        # dedup: exactly one of the 100/101/102 cluster survives, and it
        # is the min-id representative
        assert 100 in rows and 101 not in rows and 102 not in rows
        # decontamination: the benchmark-identical doc is dropped
        assert 300 not in rows
        # PII: redacted in the output text
        assert "<EMAIL>" in rows[200]["text"]
        assert "<PHONE>" in rows[200]["text"]
        assert "admin@example.com" not in rows[200]["text"]
        # the 40 unique docs all survive
        assert all(i in rows for i in range(40))
        # train_pos is a 0..n-1 permutation; shard ids contiguous from 0
        pos = sorted(r["train_pos"] for r in rows.values())
        assert pos == list(range(len(rows)))
        sids = {r["shard_id"] for r in rows.values()}
        assert sids == set(range(max(sids) + 1))

    def test_deterministic_across_partitionings(self, spark):
        docs = _corpus(spark)
        a = curate_training_corpus(docs, _bench(spark), CFG)
        b = curate_training_corpus(
            docs.repartition(13, "doc_id"), _bench(spark), CFG
        )
        cols = ["doc_id", "lang", "n_tok", "train_pos", "shard_id"]
        assert sorted(map(tuple, a.select(cols).collect())) == sorted(
            map(tuple, b.select(cols).collect())
        )

    def test_exactsubstr_stage(self, spark):
        import dataclasses

        # two docs sharing a 6-token boilerplate run but otherwise far
        # apart in Jaccard space: both SURVIVE document-level dedup, and
        # the exactsubstr stage excises the shared run from BOTH
        boiler = "standard footer legal notice applies here"
        docs = _corpus(spark).unionByName(
            spark.createDataFrame(
                [
                    (500, f"{boiler} {_words('a')}"),
                    (501, f"{boiler} {_words('b')}"),
                    # boiler-only doc: far from 500/501 in Jaccard space
                    # (survives doc-level dedup) but excises to EMPTY —
                    # the pipeline must drop it
                    (502, boiler),
                ],
                "doc_id long, text string",
            )
        )
        cfg = dataclasses.replace(
            CFG, exactsubstr=True, exactsubstr_window=4
        )
        rows = {r["doc_id"]: r for r in
                curate_training_corpus(docs, _bench(spark), cfg).collect()}
        assert 500 in rows and 501 in rows
        assert 502 not in rows  # fully-excised doc dropped, not shipped empty
        for i in (500, 501):
            assert "footer" not in rows[i]["text"]
            assert rows[i]["text"].count(" ") == 19  # 20 hex words kept
            # pack budgets must see POST-removal token counts
            assert rows[i]["n_tok"] == 20
        # untouched docs keep their text (normalized form) and counts
        assert rows[0]["n_tok"] == 22
        # stage off → boilerplate retained
        rows_off = {r["doc_id"]: r for r in
                    curate_training_corpus(docs, _bench(spark), CFG)
                    .collect()}
        assert "footer" in rows_off[500]["text"]

    def test_dsir_stage(self, spark):
        import dataclasses

        import pytest

        docs = _corpus(spark)
        # target = the texts of docs 3 and 7 — those two docs (their
        # bigram distributions) must dominate the importance ranking
        target_rows = [(0, f"document 3 {_words('3')}"),
                       (1, f"document 7 {_words('7')}")]
        target = spark.createDataFrame(
            target_rows, "doc_id long, text string"
        )
        cfg = dataclasses.replace(CFG, dsir_k=5)
        out = curate_training_corpus(
            docs, None, cfg, dsir_target=target
        )
        got = {r["doc_id"]: r for r in out.collect()}
        assert "dsir_score" in out.columns
        # stage off → no dsir column, nothing dropped by it; its rows
        # are the (redacted) survivor set the stage scores and selects
        off = curate_training_corpus(docs, None, CFG)
        assert "dsir_score" not in off.columns
        raw = [(r["doc_id"], r["text"]) for r in off.collect()]
        exp = _py_dsir_scores(raw, target_rows)
        # Gumbel-top-k: the 5 largest score + Gumbel(doc_id), ties to
        # the lower id
        want = {i for _, i in sorted(
            ((exp[i] + _py_gumbel(i), -i), i) for i, _ in raw
        )[-5:]}
        assert set(got) == want
        assert 3 in got and 7 in got
        for i, r in got.items():
            assert r["dsir_score"] == pytest.approx(exp[i], abs=1e-9), i

    def test_surface_configuration(self, spark):
        """The one configuration a non-test caller runs: exact-substring
        span removal plus DSIR resampling toward a target, under a
        two-language sampling table."""
        import dataclasses

        boiler = "standard footer legal notice applies here"
        cyr = str.maketrans("0123456789abcdef", "абвгдежзиклмнопр")
        ru = {600 + k: _words(f"ru{k}").translate(cyr) for k in range(3)}
        docs = _corpus(spark).unionByName(
            spark.createDataFrame(
                [(500, f"{boiler} {_words('a')}"),
                 (501, f"{boiler} {_words('b')}"),
                 *ru.items()],
                "doc_id long, text string",
            )
        )
        # target: doc 3, doc 500's non-boilerplate words and Russian
        # doc 600 — the three rank first
        target = spark.createDataFrame(
            [(0, f"document 3 {_words('3')}"), (1, _words("a")),
             (2, ru[600])],
            "doc_id long, text string",
        )
        cfg = dataclasses.replace(
            CFG, exactsubstr=True, exactsubstr_window=4, dsir_k=6,
            sample_rates={"en": 10000, "ru": 10000},
        )
        out = curate_training_corpus(
            docs, _bench(spark), cfg, dsir_target=target
        )
        rows = {r["doc_id"]: r for r in out.collect()}
        # every one of the dsir_k resampled docs survives sampling
        assert len(rows) == 6
        assert {3, 500, 600} <= set(rows)
        assert rows[600]["lang"] == "ru" and rows[3]["lang"] == "en"
        assert "dsir_score" in out.columns
        # the shared boilerplate run is excised, and n_tok counts what
        # is left
        assert "footer" not in rows[500]["text"]
        assert rows[500]["n_tok"] == 20
        # train_pos is a 0..n-1 permutation; shard ids contiguous from 0
        assert sorted(r["train_pos"] for r in rows.values()) == list(
            range(6)
        )
        sids = {r["shard_id"] for r in rows.values()}
        assert sids == set(range(max(sids) + 1))

    def test_html_to_shards_end_to_end(self, spark):
        """The full product story in one chain: crawled html pages →
        main-content extraction → the curation pipeline → packed
        training frame."""
        import dataclasses

        from companycatalogcrawlerparser_spark.sources import webgen

        rows = []
        for i in range(12):
            for p in webgen.generate_company_pages(i, filler_kb=1)[0]:
                if p["html"]:
                    rows.append((p["url"], p["html"]))
        pages = spark.createDataFrame(
            dict(rows).items(), "page_url string, html string"
        )
        docs = pages_to_docs(pages)
        # ids unique, text non-empty, boilerplate nav dropped
        n = docs.count()
        assert n > 0
        assert docs.select("doc_id").distinct().count() == n
        assert docs.filter("text = ''").count() == 0
        cfg = dataclasses.replace(CFG, jaccard_threshold=0.9)
        packed = curate_training_corpus(docs, None, cfg)
        out = packed.collect()
        assert len(out) > 0
        # the packed frame carries the trainer contract end-to-end
        assert sorted(r["train_pos"] for r in out) == list(
            range(len(out))
        )
        assert all(r["n_tok"] > 0 and r["shard_id"] >= 0 for r in out)
