"""Training-data / analytics operator library (SURVEY.md §2 + pipeline ops).

Modules:
- hashing: engine-portable 60-bit hash (identical values in Spark and the
  DuckDB oracle) used by every sketch operator.
- text: tokenization, cleaning, quality scoring, language ID, fingerprints.
- dedup: exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding near-dup.
- similarity: brute-force cosine top-k + LSH-bucketed ANN.
- analytics: SURVEY §2 relational operators mapped onto the testdata tables.
- topics: CountVectorizer + LDA (Spark ML) — the reference's topic stage.
- multimodal: binary media column, native size/hash stats and features.
"""
