"""Named, oracle-checked query builders — the engine's operator inventory.

Each entry pairs a PySpark DataFrame builder ``(spark, sf_dir) -> DataFrame``
with the equivalent ANSI SQL that DuckDB runs on the same parquet files
(driver contract, /root/repo/__spark_entry__.py). One entry per operator of
SURVEY.md §2. Column names are aligned on both sides (the driver's compare
sorts columns by name before hashing).

Determinism discipline (so value hashes match across engines):
- Sums over doubles are order-dependent in the last ULPs, so money-style
  aggregates round to integer cents per row and sum as BIGINT (exact in any
  order), then divide once. ``F.money`` / SQL ``ROUND(x*100)::BIGINT``.
- DuckDB ``SUM(BIGINT)`` returns INT128 — every integer sum is cast back to
  BIGINT in the oracle to match Spark's LongType.
- Quantities are integer-valued doubles; their sums are exact as-is.
- Hash-derived values use md5/sha2 (bit-identical across engines), never
  engine-native ``hash``/``xxhash64`` (different seeds/algorithms).
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => non-SQL-expressible; driver does rows-only
    category: str


REGISTRY: dict[str, QuerySpec] = {}

# Queries whose plans aggregate over an exploded (doc_a, doc_b)
# candidate-pair stream — the class whose partial-aggregation buffers
# violated the per-task memory floor in the r9 100x probe
# (session.PAIR_EMITTER_FLOOR_GIB_PER_CORE; SCALING.md sixth probe).
# tools_scale_probe.py warns before running one of these on a below-floor
# local JVM. Extend when adding a new pair emitter.
PAIR_EMITTING_QUERIES = frozenset({
    "dedup_ngram_jaccard",
    "dedup_containment_pairs",
    "dedup_prefix_filter_jaccard",
    "dedup_sorted_neighborhood",
    "dedup_minhash_lsh",
    "dedup_minhash_verified",
    "dedup_minhash_against_corpus",
    "dedup_simhash_pairs",
    "dedup_ngram_contamination",
    "similarity_tfidf_shingle_cosine",
    "similarity_neardup_pairs",
    "similarity_lsh_hyperplane_pairs",
    "graph_link_prediction_jaccard",
})


def register(name: str, oracle: str | None, category: str):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = QuerySpec(name, fn, oracle, category)
        return fn
    return deco


# Schema cache for t(): (sf_dir, table) -> StructType. Plain METADATA, the
# role a catalog/metastore plays in production (guide §6: manifest-bearing
# table formats exist largely to avoid per-query listing/inference) — never
# rows, never results; every query still scans the parquet files at
# execution. Motivation (r15 optimization): schema inference costs ~73 ms
# per spark.read.parquet call (footer fetch through py4j), and the bench
# re-invokes each builder per timed run, so multi-table queries paid
# 0.2-0.5 s of pure inference per run. Keyed on the path so distinct SFs /
# temp fixtures never collide; per-process, so every bench/driver
# invocation still derives it from the parquet footers once.
#
# Invalidation contract (ADVICE r15): there is none, by design — fixtures
# are immutable per process (TESTDATA.md: the driver's testdata is
# read-only; tests that synthesize tables write to fresh tmp paths). A tool
# that REWRITES a parquet file at a path it already read through t() must
# call clear_schema_cache() first, or a stale schema would be force-applied
# to the new footers (nulls or execution errors instead of re-inference).
_SCHEMA_CACHE: dict[tuple[str, str], object] = {}


def clear_schema_cache() -> None:
    """Drop every cached StructType — for tools that rewrite a fixture
    in-place within one process (see _SCHEMA_CACHE's contract above)."""
    _SCHEMA_CACHE.clear()


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    key = (sf_dir, name)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table (TESTDATA.md: one parquet file per table).

    events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized reader
    rejects (PARQUET_TYPE_ILLEGAL); read it as long ns and truncate to µs —
    the same truncation DuckDB applies, so both engines see identical values.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_table(spark, sf_dir, name)
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # Round-tripped fixtures (tests write Spark-produced parquet back
            # out) come back as TIMESTAMP_NTZ; session TZ is pinned to UTC so
            # this cast is value-identity, and strict consumers (unix_micros)
            # need plain TIMESTAMP.
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_table(spark, sf_dir, name)


# Module order of the registry (load_registry). The driver's correctness
# window is ordered from it in __spark_entry__.py.
_MODULES = [
    "tpch",
    "io_ops",
    "events",
    "aggregates",
    "functions",
    "llmops",
    "dedup",
    "similarity",
    "text",
    "curation",
    "multimodal",
    "setops",
    "windows",
    "relational",
    "streaming_live",  # the only no-oracle entries (rows-only driver check)
]


def load_registry() -> dict[str, QuerySpec]:
    """Import all query modules (idempotent) and return the registry in
    module order (``_MODULES``), insertion order within a module."""
    for mod in _MODULES:
        importlib.import_module(f"glue_etl_framework_spark.queries.{mod}")
    mod_rank = {m: i for i, m in enumerate(_MODULES)}
    return dict(
        sorted(
            REGISTRY.items(),
            key=lambda kv: mod_rank.get(kv[1].fn.__module__.rsplit(".", 1)[-1], 99),
        )
    )
