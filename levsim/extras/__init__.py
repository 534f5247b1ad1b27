"""Training-data pipeline operators beyond the reference surface:
deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard), approximate
similarity search over embeddings, text quality analysis, web-page
curation and WARC ingestion, sampling and sketches, BM25 retrieval and
fuzzy dictionary matching.
"""
