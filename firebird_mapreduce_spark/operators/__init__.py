"""Operator library.

- ``relational``  — scan/filter/project, aggregation, joins, window,
  sort/top-k, set ops, time bucketing (SURVEY §2.C/§2.D core).
- ``graph``       — iterative SSSP fixpoint (reference sample app B3/B4).
- ``dedup``       — exact + fuzzy deduplication (MinHash-LSH, SimHash,
  n-gram Jaccard, embedding-cosine).
- ``similarity``  — embedding similarity search (brute-force + LSH/IVF).
- ``text``        — language-ID, quality scoring, token counting,
  fingerprinting over document tables.
- ``multimodal``  — opaque-binary column plumbing with stubbed decoders.
- ``pipeline``    — training-data curation: PII redaction, contamination
  checks, inverted index, TF-IDF, stratified sampling, quality top-k,
  sequence packing.
- ``skew``        — salted two-stage aggregation for hot keys.
- ``fold``        — the crawl fold: the nine-tier spec, the one bucketed
  append and the settle step every incremental crawl folds through.
"""
