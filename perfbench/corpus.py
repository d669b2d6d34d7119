"""Input generation for the benchmark, without Spark.

The crawl corpus comes from the program's own generator
(``sources.webgen.generate_company_pages`` / ``page_row``), fed a
company-index range that the seed offsets; the curation tables are
synthetic ``documents`` / ``events`` / ``embeddings`` tables with the
columns of the repository's test tables, built here with NumPy. Both are written as parquet, which is all the
program sees.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PAGES_ARROW = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
    ("status", pa.int32()),
    ("redirect_to", pa.string()),
])
SEEDS_ARROW = pa.schema([
    ("company_id", pa.int64()),
    ("site_url", pa.string()),
    ("bad_url", pa.bool_()),
    ("email_processed", pa.bool_()),
    ("email_finded", pa.bool_()),
])

# the crawl corpus is split into this many files, as a distributed writer
# would leave it, so the scan has more than one split to schedule
PAGE_FILES = 8


def write_crawl_corpus(out_dir: str, first: int, n: int, heavy_pct: int,
                       filler_kb: int) -> dict:
    """Companies ``first .. first+n-1``; ``heavy_pct`` % of them carry
    ``filler_kb`` KiB of filler on every page. Returns input sizes."""
    from companycatalogcrawlerparser_spark.sources import webgen

    pages, seeds = [], []
    for i in range(first, first + n):
        kb = filler_kb if webgen.det(i, "heavy") % 100 < heavy_pct else 0
        ps, seed = webgen.generate_company_pages(i, kb)
        # the crawl reads html, never text, so the DOM parse is skipped
        pages.extend(webgen.page_row(p, with_text=False) for p in ps)
        seeds.append(seed)
    for sub in ("pages", "seeds"):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
    step = -(-len(pages) // PAGE_FILES)
    for k in range(PAGE_FILES):
        chunk = pages[k * step:(k + 1) * step]
        pq.write_table(pa.Table.from_pylist(chunk, schema=PAGES_ARROW),
                       os.path.join(out_dir, "pages", f"part-{k:03d}.parquet"))
    pq.write_table(pa.Table.from_pylist(seeds, schema=SEEDS_ARROW),
                   os.path.join(out_dir, "seeds", "part-000.parquet"))
    return {
        "companies": n,
        "pages": len(pages),
        "html_mb": sum(len(p["html"]) for p in pages) / 1e6,
    }


_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def write_curation_tables(out_dir: str, seed: int) -> dict:
    """``documents`` (every ~20th a near duplicate: an earlier text plus
    " dup"), ``events`` over one month and ``embeddings`` (unit vectors
    around ten centres), each as ``<name>.parquet``, at the row counts of
    the sf0.01 test tables."""
    n_docs, n_events, n_vecs, dim = 500, 10_000, 500, 64
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(_VOCAB, size=k)))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [_LANGS[int(x)] for x in rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))

    start = datetime(2024, 1, 1)
    offs = np.sort(rng.integers(0, 30 * 24 * 3600 * 10**6, n_events))
    events = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array([start + timedelta(microseconds=int(o)) for o in offs],
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
        "event_type": [_EVENT_TYPES[int(x)] for x in rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {int(x)}}}' for x in rng.integers(0, 100, n_events)],
    })
    pq.write_table(events, os.path.join(out_dir, "events.parquet"))

    labels = rng.integers(0, 10, n_vecs)
    centres = rng.normal(size=(10, dim))
    vecs = centres[labels] + rng.normal(scale=0.8, size=(n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    pq.write_table(emb, os.path.join(out_dir, "embeddings.parquet"))
    return {"documents": n_docs, "events": n_events, "embeddings": n_vecs}
