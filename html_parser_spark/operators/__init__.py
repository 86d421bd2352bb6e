"""Spark-side operators.

- pipeline   — the flagship transcripts→extracted pipeline (pandas UDF)
- resume     — committed-keys anti-join resume + lineage + metrics
- dedup      — exact / MinHash-LSH / SimHash / n-gram-Jaccard dedup, and
               the corpus-text primitives textstats and chunking share
- similarity — cosine top-k + random-hyperplane LSH over embeddings
- textstats  — quality scoring, language-ID, token stats, n-gram top-k,
               repetition filters, exact + sketch profiling
- chunking   — passage chunking and sequence packing
- temporal   — as-of join and range join (scalable decompositions)
- multimodal — binary-payload columns + mapInPandas metadata plumbing
- relational — join/agg/window/setop coverage queries (SURVEY.md §2.6)
"""
