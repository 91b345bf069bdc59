"""The three benchmark workloads, each driven through the engine's public
entry points.

A workload object is built once per run (outside any timer) and then
offers ``reset`` (restore or delete outputs before a pass), ``run`` (one
timed pass: input files to committed output) and ``check`` (verify the
committed output, outside the timer).
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

import gen
import oracle

JOB_YAML = """\
job:
  type: spark-sql
variables:
  bench:
    data: {data}
    out: {out}
input_tables:
  - name: fact
    source: file
    format: parquet
    location: "{{data}}/fact"
  - name: orders
    source: file
    format: parquet
    location: "{{data}}/orders"
  - name: customer
    source: file
    format: parquet
    location: "{{data}}/customer"
sql_file: {sql_file}
output_table:
  target: file
  format: parquet
  location: "{{out}}"
  refresh: {refresh}
{extra}"""


def _rm(path: str) -> None:
    if os.path.exists(path):
        shutil.rmtree(path)


def _link_tree(src: str, dst: str) -> None:
    """Restore ``dst`` as a hard-linked copy of ``src``. The engine only
    ever unlinks or renames committed files, so the pristine copy stays
    intact."""
    _rm(dst)
    shutil.copytree(src, dst, copy_function=os.link)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files
                     if not f.startswith((".", "_")))
    return total


class _Pipeline:
    """An ETL job run through ``pipeline.run_pipeline`` from a YAML config
    written into the run's work directory."""

    family = "etl"

    def _write_config(self, work: str, name: str, sql: str, out: str,
                      refresh: str, extra: str = "") -> str:
        conf_dir = os.path.join(work, "conf")
        os.makedirs(conf_dir, exist_ok=True)
        with open(os.path.join(conf_dir, f"{name}.sql"), "w") as f:
            f.write(sql)
        path = os.path.join(conf_dir, f"{name}.yaml")
        with open(path, "w") as f:
            f.write(JOB_YAML.format(data=self.inputs, out=out, sql_file=f"{name}.sql",
                                         refresh=refresh, extra=extra))
        return path


class StarAgg(_Pipeline):
    """3-way star join plus group-by to a small table, ``refresh: full``."""

    name = "etl_star_agg"

    def __init__(self, inputs: str, manifest: dict, work: str):
        self.inputs = inputs
        self.expected = oracle.prepare_etl(inputs, manifest)
        self.out = os.path.join(work, "out", "star_agg")
        self.config = self._write_config(work, "star_agg", oracle.STAR_AGG_SQL, self.out, "full")

    def reset(self) -> None:
        _rm(self.out)

    def run(self, spark) -> dict:
        from glue_etl_framework_spark import pipeline

        pipeline.run_pipeline(spark, self.config, "bench")
        return {}

    def check(self, info: dict) -> dict:
        return oracle.check_star_agg(self.out, self.expected)

    def outputs(self) -> list[str]:
        return [self.out]


class Upsert(_Pipeline):
    """Row-preserving enrichment written partitioned by day with
    ``refresh: incremental`` (dynamic overwrite of the recent days), then a
    key-level ``upsert_by_key`` of a changed-key batch into the orders
    table."""

    name = "etl_upsert"

    def __init__(self, inputs: str, manifest: dict, work: str):
        self.inputs = inputs
        self.expected = oracle.prepare_etl(inputs, manifest)
        self.enriched = os.path.join(work, "out", "enriched")
        self.orders = os.path.join(work, "out", "orders_current")
        sql = oracle.ENRICH_SQL.format(first_day=manifest["first_refresh_day"])
        self.first_day = manifest["first_refresh_day"]
        self.pristine = os.path.join(inputs, "pristine_enriched")
        self.config = self._write_config(work, "enrich", sql, self.enriched, "incremental",
                                         "  partition_keys: ship_day\n")

    def reset(self) -> None:
        _link_tree(self.pristine, self.enriched)
        _link_tree(os.path.join(self.inputs, "orders"), self.orders)

    def run(self, spark) -> dict:
        from glue_etl_framework_spark import pipeline
        from glue_etl_framework_spark.io import writers

        pipeline.run_pipeline(spark, self.config, "bench")
        batch = spark.read.parquet(os.path.join(self.inputs, "orders_batch"))
        writers.upsert_by_key(spark, batch, self.orders, ["order_id"])
        return {}

    def check(self, info: dict) -> dict:
        return oracle.check_upsert(self.enriched, self.orders, self.pristine, self.first_day,
                                   self.expected)

    def outputs(self) -> list[str]:
        return [self.enriched, self.orders]


class Curation:
    """Quality filter, MinHash candidates, connected-components dedup,
    embedding LSH pairs and image decode, written through ``write_table``."""

    name = "llm_curation"
    family = "llm"
    THRESHOLD = 0.9

    def __init__(self, inputs: str, manifest: dict, work: str):
        self.inputs = inputs
        self.manifest = manifest
        self.out = os.path.join(work, "out", "curation")
        self.doc_ids = pq.read_table(os.path.join(inputs, "docs"),
                                     columns=["doc_id"]).column("doc_id").to_numpy()

    def reset(self) -> None:
        _rm(self.out)

    def _good_docs(self, spark):
        from pyspark.sql import functions as F

        from glue_etl_framework_spark.ext import text

        docs = spark.read.parquet(os.path.join(self.inputs, "docs"))
        return (
            text.quality_features(docs)
            .filter((F.col("n_words_q") >= gen.MIN_WORDS)
                    & (F.col("lexical_diversity") >= gen.MIN_DIVERSITY)
                    & (F.col("punct_ratio") <= gen.MAX_PUNCT))
            .select("doc_id", "text")
        )

    def run(self, spark) -> dict:
        from glue_etl_framework_spark.ext import dedup, multimodal, similarity
        from glue_etl_framework_spark.io import writers

        good = self._good_docs(spark)
        pairs = dedup.minhash_banded_candidate_pairs(good)
        cc: dict = {}
        kept = dedup.dedup_keep_representative(good, pairs, metrics=cc,
                                               a_col="doc_a", b_col="doc_b")
        emb = spark.read.parquet(os.path.join(self.inputs, "embeddings"))
        vec_pairs = similarity.lsh_neardup_pairs(
            emb, threshold=self.THRESHOLD, n_rows=self.manifest["rows"]["embeddings"])
        images = spark.read.parquet(os.path.join(self.inputs, "images"))
        feats = multimodal.extract_image_features(images)
        writers.write_table(kept.select("doc_id"), {"location": os.path.join(self.out, "kept")})
        writers.write_table(vec_pairs, {"location": os.path.join(self.out, "vec_pairs")})
        writers.write_table(feats, {"location": os.path.join(self.out, "image_features")})
        return {"cc_rounds": cc["cc_rounds"]}

    def check(self, info: dict) -> dict:
        return oracle.check_curation(self.out, self.manifest, self.doc_ids)

    def outputs(self) -> list[str]:
        return [self.out]

    def candidate_counts(self, spark) -> dict:
        """Candidate volumes of the two LSH stages, counted once after the
        traced passes with the same public builders (trace runs only)."""
        from pyspark.sql import functions as F

        from glue_etl_framework_spark.ext import dedup, similarity

        n = self.manifest["rows"]["embeddings"]
        emb = spark.read.parquet(os.path.join(self.inputs, "embeddings"))
        sig = similarity.banded_signatures(
            similarity.quantize_embeddings(emb), band_bits=similarity.scaled_band_bits(n))
        cand = (
            sig.select(F.col("vec_id").alias("vec_a"), "bidx", "bv")
            .join(sig.select(F.col("vec_id").alias("vec_b"), "bidx", "bv"), ["bidx", "bv"])
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b").distinct().count()
        )
        return {"candidate_pairs":
                dedup.minhash_banded_candidate_pairs(self._good_docs(spark)).count(),
                "lsh_candidates": cand}


WORKLOADS = {w.name: w for w in (StarAgg, Upsert, Curation)}
