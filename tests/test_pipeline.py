"""curate_training_corpus: the composed curation chain as a product
surface — stage semantics, end-to-end determinism across partitionings,
and the html-to-shards chain."""

import hashlib

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
