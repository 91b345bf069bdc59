"""Stream-native corpus quality gating: the Gopher gate battery applied at
ingest time, so documents failing quality never reach storage.

The gates are the SAME Column expressions as the batch registry entries
(quality_gopher_filters, text_pii_scrub): ext.text.gopher_audit_cols and
ext.text.pii_audit_cols, pure per-row array and regex expressions
with no aggregation or state, so they run identically on a streaming
DataFrame: no watermark needed, no shuffle, scan/ingest throughput at any
rate. This is the production shape for 100 TB pipelines: filtering at
ingest is strictly cheaper than land-then-filter (failed docs never cost
storage or downstream passes); the audited variant keeps the metric
columns so rejected volume is observable per micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from glue_etl_framework_spark.ext.text import gopher_audit_cols, pii_audit_cols


def quality_gate_stream(docs: DataFrame, keep_audit: bool = False) -> DataFrame:
    """Gate a (possibly streaming) documents frame on the Gopher battery.

    Returns only passing rows. With ``keep_audit=True`` the gate-metric
    columns (n_tokens, mean_token_len, stopword_hits, short_token_ratio)
    stay attached for per-batch observability; otherwise the original
    schema is preserved."""
    audited = docs.select("*", *gopher_audit_cols("text"))
    passed = audited.filter(F.col("passes_gopher") == 1).drop("passes_gopher")
    if keep_audit:
        return passed
    return passed.drop(
        "n_tokens", "mean_token_len", "stopword_hits", "short_token_ratio"
    )


def pii_scrub_stream(docs: DataFrame, keep_counts: bool = False) -> DataFrame:
    """Scrub PII from a (possibly streaming) documents frame at ingest:
    ``text`` is replaced by its redacted form (emails/IPv4s/phones ->
    typed placeholders), so raw PII never reaches storage — the
    production posture for pretraining corpora (redaction downstream of
    landing still leaves PII in the landed files).

    Same Column expressions as the batch audit entry text_pii_scrub
    (ext.text.pii_audit_cols): stateless per-row regexes, no watermark, no shuffle — runs at
    scan/ingest throughput on batch or streaming frames alike. With
    ``keep_counts=True`` the per-class match counts stay attached for
    per-micro-batch observability."""
    cols = [c for c in docs.columns if c != "text"]
    audited = docs.select(*cols, *pii_audit_cols("text"))
    scrubbed = audited.withColumnRenamed("redacted", "text")
    if keep_counts:
        return scrubbed
    return scrubbed.drop("n_emails", "n_ips", "n_phones")
