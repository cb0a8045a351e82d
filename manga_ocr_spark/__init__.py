"""manga_ocr_spark — a PySpark-native main-content extraction engine.

A from-scratch reinterpretation of the reference's
recognize-text-from-noisy-visual-layout task (manga-ocr,
/root/reference/manga_ocr/ocr.py:81-156) as main-content extraction over
Common-Crawl-style web-page tables:

    pages(url, warc_ts, html:binary, text, lang)
      -> extracted(url, warc_ts, extracted_text, n_blocks_kept,
                   n_blocks_dropped, lang)

Layers
------
- ``extraction/`` — pure-Python, Spark-free core (decode -> DOM blocks ->
  score -> beam span-merge -> byte-stable normalize). This is where
  byte-identity vs golden files lives, mirroring how the reference keeps
  ``post_process`` a free-standing testable function.
- ``fixtures/``  — deterministic synthetic pages + golden generation
  (analogue of tests/generate_expected_results.py in the reference).
- ``jobs/``      — the Spark job: Arrow-batched ``mapInArrow`` extraction,
  salted repartition, per-bucket lineage commit + resume, metrics,
  spark-submit entrypoint (``run_extract.py``).
- ``operators/`` — large-scale training-data-pipeline operators: dedup
  (exact / guarded MinHash-LSH and SimHash near-dup tiers / n-gram
  Jaccard / embedding-cosine / connected-components clustering),
  similarity search (cosine top-k, hyperplane-LSH ANN), text analysis
  (the one-pass ``quality_panel`` and the layered ``lang_id_frame``, token
  counts, fingerprints, rolling hash), eval metrics (exact-match, CER),
  as-of join, skew-safe aggregation, multimodal binary-payload plumbing,
  and ``memo``, the driver-side construction cache the wide builders
  share.
- ``sources/``   — XML annotation exploder and other format adapters.
- ``streaming/`` — Structured Streaming ingestion (availableNow catch-up
  and daemon mode) + stateful per-host counters
  (``applyInPandasWithState``).

Everything is built on public PySpark APIs only.
"""

__version__ = "0.1.0"
