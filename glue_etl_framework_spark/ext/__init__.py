"""EXT operators (north star BASELINE.json:6): the LLM-training-data
pipeline surface — dedup, similarity search, text analysis, multimodal
columns — designed for 100 TB.

This package is the one home of each algorithm's Spark implementation:
ext.dedup (shingling, MinHash and SimHash banding, connected components),
ext.similarity (quantized cosine, brute-force top-k, IVF, banded
hyperplane LSH), ext.text and ext.multimodal (pandas-UDF decoders). The
registry entries in glue_etl_framework_spark.queries call these builders
with fixed parameters and pair each with DuckDB oracle SQL; parameterized
uses are verified by pytest metamorphic and recall tests.
"""
