"""PySpark-native web-crawl frontier + fetch scheduler.

A from-scratch Spark engine with the query/data-processing semantics of the
F# reference crawler ``jupiterfirepower/CompanyCatalogCrawlerParser``:
catalog scraping, contact-page-prioritized email harvesting, global URL and
email dedup, and checkpointed resume — re-expressed as DataFrame plans over
Parquet/Iceberg-style tables of Common-Crawl-shaped pages
``(url, warc_ts, html binary, text, lang)``.

Layers
------
- ``refsem``     pure-Python, quirk-exact transcription of the reference's
                 string/predicate/extraction semantics. No Spark imports.
                 This is the correctness oracle AND the single source of
                 truth used inside vectorized pandas UDFs where byte-exact
                 parity is required (HTML extraction).
- ``functions``  Spark Column expressions for everything SQL-expressible
                 (URL canonicalization, frontier admission predicates,
                 email post-filters). JVM-side, codegen-friendly.
- ``sources``    the synthetic deterministic web generator and the pages-
                 table fetch join ("the corpus is the web").
- ``operators``  url-seen anti-join w/ per-bucket bloom, priority
                 frontier + politeness scheduling, dedup family (exact,
                 minhash-LSH, simhash, n-gram jaccard, embedding cosine),
                 similarity search, text quality, training-corpus
                 curation.
- ``plans``      end-to-end crawl loop (round-based BFS with snapshot
                 checkpointing + resume), catalog scrape, mailer read.
- ``storage``    atomic parquet snapshot commit/restore (Iceberg-style
                 snapshot semantics without the Iceberg runtime).
- ``streaming``  Structured Streaming over page-fetch event logs (per-host
                 politeness audit) and streaming near-dup pairs.
"""

__version__ = "0.1.0"
