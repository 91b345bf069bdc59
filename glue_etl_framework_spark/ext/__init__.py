"""EXT operators (north star BASELINE.json:6): the LLM-training-data
pipeline surface — dedup, similarity search, text analysis, multimodal
columns — designed for 100 TB.

This package is the one home of each algorithm's Spark implementation:
ext.dedup (shingling, MinHash and SimHash banding, connected components),
ext.similarity (quantized cosine, brute-force top-k, IVF, banded
hyperplane LSH), ext.text (stopword lexicons and hit counts, the language
argmax, the Gopher and PII gates, the normalized-content hash) and
ext.multimodal (pandas-UDF decoders). The registry entries in
glue_etl_framework_spark.queries and the streaming gates call these
builders with fixed parameters; the registry pairs each entry with DuckDB
oracle SQL, and parameterized uses are verified by pytest metamorphic and
recall tests.
"""
