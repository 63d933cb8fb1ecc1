"""neural_search_spark — a PySpark-native full-text (inverted-index + BM25)
engine with the query semantics of the OpenSearch neural-search plugin
(reference: /root/reference, mangalakulal105/neural-search).

Two layers (see SURVEY.md):

1. Lucene-equivalent layer (the reference *depends on* it): tokenization,
   posting lists (delta+varint doc-range blocks), BM25 (k1=1.2,
   b=0.75, Lucene SmallFloat length norm), one bulk-decode top-k
   kernel — built as DataFrame pipelines + vectorized Arrow UDFs.
2. Plugin-semantics layer (the reference *implements* it): hybrid
   per-sub-query score matrices, min_max/l2 normalization, weighted
   arithmetic/harmonic/geometric combination, two-phase sparse retrieval,
   rerankers, pagination.
"""

__version__ = "0.1.0"
