"""End-to-end training-data curation pipeline as ONE operator (EXT — the
north-star composite, BASELINE.json:6): quality filter -> exact dedup ->
MinHash near-dup removal -> token accounting, over the documents table.

This is the shape a 100 TB pretraining-data job actually runs, expressed as
a single declarative plan so Catalyst fuses the filter stages into the scan
and the three dedup shuffles are the only exchanges. Every stage reuses the
individually-oracle-checked primitives (text_quality_score, dedup_exact_*,
dedup_minhash_lsh), and the composite itself is oracle-checked end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from glue_etl_framework_spark.ext.dedup import (
    BAND_SIZE,
    N_MINHASH,
    band_join,
    minhash_bands,
    minhash_signatures,
    shingle_rows,
)
from glue_etl_framework_spark.ext.text import normalized_text_hash
from glue_etl_framework_spark.queries import register, t
from glue_etl_framework_spark.queries.dedup import SHINGLE

MIN_TOKENS, MAX_TOKENS = 20, 1000
MIN_DIVERSITY = 0.3


def _neardup_losers(bands: DataFrame) -> DataFrame:
    """(doc_id) of every doc sharing a band bucket with a lower id — the
    larger id of each MinHash candidate pair. Joined as (larger, smaller)
    so the loser comes from the join's streamed side, whose doc_id
    partitioning the distinct reuses; projecting the build side's id
    instead costs one more exchange."""
    return (
        band_join(bands, bands)
        .filter(F.col("doc_b") < F.col("doc_a"))
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
    )


def _curation_sql() -> str:
    from glue_etl_framework_spark.queries.dedup import _minhash_sig_sql

    sigs = ",\n             ".join(_minhash_sig_sql())
    bands = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(s{2*b} || s{2*b+1}) AS bh FROM sig"
        for b in range(N_MINHASH // BAND_SIZE)
    )
    return f"""
    WITH quality AS (
      SELECT doc_id, lang, text,
             length(string_split(text, ' ')) AS n_tokens
      FROM documents
      WHERE length(string_split(text, ' ')) BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
        AND CAST(length(list_distinct(string_split(text, ' '))) AS DOUBLE)
              / length(string_split(text, ' ')) > {MIN_DIVERSITY}
    ),
    exact AS (
      SELECT * FROM (
        SELECT q.*,
               ROW_NUMBER() OVER (
                 PARTITION BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                 ORDER BY doc_id) AS rn
        FROM quality q
      ) WHERE rn = 1
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, length(w) - 1),
                                   i -> array_to_string(w[i:i+2], ' '))) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM exact)
      WHERE length(w) >= {SHINGLE}
    ),
    sig AS (
      SELECT doc_id,
             {sigs}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {bands}
    ),
    neardup_losers AS (
      SELECT DISTINCT a.doc_id AS drop_id
      FROM bands b
      JOIN bands a ON a.band = b.band AND a.bh = b.bh AND b.doc_id < a.doc_id
    )
    SELECT e.doc_id, e.lang, CAST(e.n_tokens AS BIGINT) AS n_tokens,
           md5(e.text) AS content_hash
    FROM exact e
    LEFT JOIN neardup_losers d ON e.doc_id = d.drop_id
    WHERE d.drop_id IS NULL
    """


@register("pipeline_training_data_curation", oracle=_curation_sql(), category="curation")
def pipeline_training_data_curation(
    spark: SparkSession,
    sf_dir: str,
    max_bucket_size: int | None = None,
    metrics: dict | None = None,
) -> DataFrame:
    """The composite curation pass over documents:

    1. quality gate — token-count bounds + lexical diversity (pure scan-side
       predicates, fused into the parquet read);
    2. exact dedup — keep the lowest doc_id per normalized content hash (one
       shuffle on a 32-byte key);
    3. near-dup removal — MinHash/LSH candidate pairs among survivors
       (ext.dedup.band_join), drop the larger id of every pair
       (banded self-join, shuffle keyed on (band, hash) — never all-pairs);
    4. emit the curated corpus with token counts and a content hash.

    Deterministic end to end (md5 hashing, integer counts, lowest-id keep
    rules), so the whole pipeline hash-matches the DuckDB oracle.

    max_bucket_size: optional bounded-output lever for stage 3 — drop
    over-occupied (band, bh) buckets before the candidate self-join
    (ext.dedup.minhash_bands; EXPLICIT int only, like
    minhash_banded_candidate_pairs: hash-space banding has no occupancy
    target for an 'auto' cap). Docs whose every collision is inside hot
    buckets then survive — the recall trade the cap always makes,
    audited via ``metrics``. The cap checkpoints the bands first (one
    eager job), as every MinHash cap does.

    metrics: optional per-stage funnel audit (VERDICT r13 item 3) — ONE
    place to read the whole run's removal and recall exposure:
    ``input_docs`` / ``quality_removed`` / ``exact_removed`` /
    ``neardup_removed`` / ``output_docs``, plus ``hot_buckets`` and
    ``dropped_band_rows`` when the cap engaged (written by
    drop_hot_buckets into the SAME dict) — at the cost of three eager
    jobs (one conditional-sum scan for stages 0-1, one count each at the
    exact and loser stages; output_docs is derived, not a fourth job).
    The default None keeps the fully lazy, byte-identical registry plan
    (pinned by the PLANS.md regen)."""
    d = t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_tokens = F.size(words)
    diversity = F.size(F.array_distinct(words)).cast("double") / n_tokens
    # Contract check FIRST (r14 review): the metrics path runs eager jobs
    # over the whole corpus before stage 3 — an input error must not cost
    # minutes of scan on a production corpus before being rejected.
    if max_bucket_size is not None and (
        isinstance(max_bucket_size, bool) or not isinstance(max_bucket_size, int)
    ):
        raise ValueError(
            "max_bucket_size must be an explicit int here — hash-space "
            "minhash banding has no occupancy target for 'auto', see "
            "ext.dedup.minhash_banded_candidate_pairs"
        )
    quality_pred = n_tokens.between(MIN_TOKENS, MAX_TOKENS) & (diversity > MIN_DIVERSITY)
    quality = d.filter(quality_pred).select(
        "doc_id", "lang", "text", n_tokens.alias("n_tokens")
    )
    if metrics is not None:
        # One conditional-sum scan covers the first two funnel numbers.
        row = d.agg(
            F.count("*").alias("n"),
            F.sum(F.when(quality_pred, 1).otherwise(0)).alias("q"),
        ).first()
        metrics["input_docs"] = row["n"]
        metrics["quality_removed"] = row["n"] - row["q"]

    # min_by(struct, doc_id) keeps the lowest-id row per normalized hash with a
    # partial+final hash aggregate — one shuffle, no per-partition sort (the
    # row_number window formulation sorts every hash partition). doc_id is
    # unique, so the winner is deterministic.
    exact = (
        quality.withColumn("nh", normalized_text_hash("text"))
        .groupBy("nh")
        .agg(F.min_by(F.struct("doc_id", "lang", "text", "n_tokens"), "doc_id").alias("r"))
        .select("r.doc_id", "r.lang", "r.text", "r.n_tokens")
    )
    # `exact` feeds BOTH the shingle/minhash branch and the final anti-join
    # (a diamond whose two consumers prune DIFFERENT columns, so their
    # exchanges never match for AQE reuse and the scan+quality+min_by agg
    # ran twice). Eagerly checkpointed since r15 (interleaved A/B: 2.96s
    # -> 2.04s min-of-medians at sf0.1, probes/abx_r15opt_ckpt2.txt).
    # DATA_SIZED (r16): survivor text rows are corpus-proportional — level
    # parameterized, evictable default (ckpt policy).
    from glue_etl_framework_spark.ckpt import DATA_SIZED, checkpoint_shared

    exact = checkpoint_shared(exact, size_class=DATA_SIZED)
    if metrics is not None:
        # `exact` is already checkpointed above; the count reads blocks.
        n_exact = exact.count()
        metrics["exact_removed"] = (
            metrics["input_docs"] - metrics["quality_removed"] - n_exact
        )

    losers = _neardup_losers(
        minhash_bands(
            minhash_signatures(shingle_rows(exact, "doc_id")),
            max_bucket_size=max_bucket_size,
            cap_metrics=metrics,
        )
    )
    if metrics is not None:
        losers = losers.localCheckpoint(eager=False)
        n_losers = losers.count()
        metrics["neardup_removed"] = n_losers
        # losers is a subset of exact's doc_ids, so the anti-join output
        # size is exact arithmetic — no fourth job.
        metrics["output_docs"] = (
            metrics["input_docs"]
            - metrics["quality_removed"]
            - metrics["exact_removed"]
            - n_losers
        )
    return (
        exact.join(losers, "doc_id", "left_anti")
        .select(
            "doc_id",
            "lang",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.md5("text").alias("content_hash"),
        )
    )


# Per-language keep fractions for deterministic stratified sampling: the
# md5(doc_id) hex prefix is a uniform 24-bit integer; keep iff it falls
# under fraction * 2^24. Portable to any engine with md5.
SAMPLE_FRACTIONS = {"en": 0.5, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 0.25}
_HASH_SPACE = 1 << 24


def _stratified_sql() -> str:
    cases = " ".join(
        f"WHEN lang = '{lang}' THEN {int(frac * _HASH_SPACE)}"
        for lang, frac in sorted(SAMPLE_FRACTIONS.items())
    )
    return f"""
    SELECT doc_id, lang,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT AS bucket
    FROM documents
    WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT
          < (CASE {cases} ELSE 0 END)
    """


@register("sample_stratified_language", oracle=_stratified_sql(), category="curation")
def sample_stratified_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-language keep fractions
    applied via a hash threshold on md5(doc_id) — the language-rebalancing
    step of corpus curation (downsample dominant languages, keep the rest).
    Unlike rand()-based sampleBy this is REPRODUCIBLE across runs, engines,
    and partitionings (no seed plumbing), idempotent under re-runs, and a
    pure narrow scan-side filter — zero shuffles at any scale."""
    d = t(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10).cast("long")
    threshold = None
    for lang, frac in sorted(SAMPLE_FRACTIONS.items()):
        clause = (F.col("lang") == lang, F.lit(int(frac * _HASH_SPACE)))
        threshold = F.when(*clause) if threshold is None else threshold.when(*clause)
    threshold = threshold.otherwise(F.lit(0))
    return (
        d.withColumn("bucket", bucket)
        .filter(F.col("bucket") < threshold)
        .select("doc_id", "lang", "bucket")
    )


PACK_BUDGET = 512   # tokens per packed sequence (context-window bin)
PACK_SHARDS = 64    # independent packing shards (parallelism unit)


@register(
    "text_pack_sequences",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id,
             CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT % {PACK_SHARDS} AS shard
      FROM documents
      WHERE length(string_split(text, ' ')) <= {PACK_BUDGET}
    ),
    packed AS (
      SELECT doc_id, n_tokens, shard,
             CAST(floor((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                             ROWS UNBOUNDED PRECEDING) - 1)
                        / {PACK_BUDGET}) AS BIGINT) AS bin_in_shard
      FROM sized
    )
    SELECT doc_id, n_tokens, CAST(shard AS BIGINT) AS shard,
           CAST(shard * 1000000 + bin_in_shard AS BIGINT) AS bin_id
    FROM packed
    """,
    category="curation",
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: assign each document to a
    context-window bin of ~PACK_BUDGET tokens. Documents are hash-sharded
    (md5 — deterministic, uniform), then packed within each shard by a
    running token sum; bin = floor((cumsum-1)/budget). Bins can overflow
    the budget by at most one document (first-fit-streaming semantics) —
    the standard approximation that makes packing EMBARRASSINGLY PARALLEL:
    exact global first-fit-decreasing is inherently sequential, while this
    is one window over shard partitions (single shuffle on shard id, each
    shard an independent sort — scales by adding shards)."""
    d = t(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("long")
    shard = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast("long") % PACK_SHARDS
    sized = (
        d.select("doc_id", n_tokens.alias("n_tokens"), shard.alias("shard"))
        .filter(F.col("n_tokens") <= PACK_BUDGET)
    )
    w = W.partitionBy("shard").orderBy("doc_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    bin_in_shard = F.floor((F.sum("n_tokens").over(w) - 1) / PACK_BUDGET)
    return sized.select(
        "doc_id",
        "n_tokens",
        F.col("shard").cast("long").alias("shard"),
        (F.col("shard") * 1000000 + bin_in_shard).cast("long").alias("bin_id"),
    )


PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def _profile_sql() -> str:
    parts = [
        f"""
    SELECT '{c}' AS column_name,
           CAST(COUNT(*) FILTER (WHERE {c} IS NULL) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_value,
           CAST(MAX({c}) AS VARCHAR) AS max_value
    FROM documents"""
        for c in PROFILE_COLS
    ]
    return " UNION ALL ".join(parts)


@register("quality_profile_columns", oracle=_profile_sql(), category="quality")
def quality_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling report (the Glue Data Quality shape): per column,
    null count, distinct count, min and max — the standard pre-ingest audit
    before a table enters a training pipeline. One aggregation pass PER
    COLUMN unioned long-format; each is a partial+final aggregate, and
    Catalyst collapses the shared scan. The count(distinct) per column is
    the expensive part at scale — swap to approx_count_distinct when an
    estimate suffices (agg_approx_count_distinct shows the parity caveat).
    Min/max stringified so heterogeneous column types share one schema."""
    d = t(spark, sf_dir, "documents")
    parts = [
        d.agg(
            F.lit(c).alias("column_name"),
            F.count(F.when(F.col(c).isNull(), 1)).alias("n_nulls"),
            F.countDistinct(c).alias("n_distinct"),
            F.min(c).cast("string").alias("min_value"),
            F.max(c).cast("string").alias("max_value"),
        )
        for c in PROFILE_COLS
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


CONTAM_TAU_FP = 500_000  # drop when >= 50% of shingles exist in the reference


def _incremental_ingest_sql() -> str:
    from glue_etl_framework_spark.queries.dedup import bloom_ctes_sql

    return f"""
    WITH incoming_docs AS (
      SELECT doc_id, text,
             CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
      WHERE source <> 'src0'
        AND length(string_split(text, ' ')) BETWEEN {MIN_TOKENS} AND {MAX_TOKENS}
        AND CAST(length(list_distinct(string_split(text, ' '))) AS DOUBLE)
              / length(string_split(text, ' ')) > {MIN_DIVERSITY}
    ),
    {bloom_ctes_sql("incoming_docs")},
    doc_bloom AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
             CAST(SUM(bloom_hit) AS BIGINT) AS nb
      FROM per_shingle GROUP BY doc_id
    ),
    doc_truth AS (
      SELECT t.doc_id, CAST(SUM(t.true_hit) AS BIGINT) AS nt
      FROM truth t JOIN doc_bloom b ON t.doc_id = b.doc_id AND b.nb > 0
      GROUP BY t.doc_id
    )
    SELECT i.doc_id, i.n_tokens,
           CASE WHEN COALESCE(b.nb, 0) > 0 THEN 1 ELSE 0 END AS bloom_flagged,
           CAST(COALESCE(round(CAST(dt.nt AS DOUBLE) * 1000000 / b.n_shingles), 0)
                AS BIGINT) AS overlap_fp,
           CASE WHEN COALESCE(round(CAST(dt.nt AS DOUBLE) * 1000000 / b.n_shingles), 0)
                     < {CONTAM_TAU_FP}
                THEN 1 ELSE 0 END AS admitted
    FROM incoming_docs i
    LEFT JOIN doc_bloom b ON i.doc_id = b.doc_id
    LEFT JOIN doc_truth dt ON i.doc_id = dt.doc_id
    """


@register(
    "pipeline_incremental_ingest",
    oracle=_incremental_ingest_sql(),
    category="curation",
)
def pipeline_incremental_ingest(
    spark: SparkSession, sf_dir: str, metrics: dict | None = None
) -> DataFrame:
    """Incremental-ingest curation composite — the production shape for
    admitting NEW data against an already-curated 100 TB reference corpus,
    wired so the expensive stage only runs where the cheap stage says it
    must:

    1. quality gate — token bounds + lexical diversity, fused into the
       scan (only passing docs ever materialize);
    2. bloom prefilter — every surviving doc probes the reference-shingle
       bloom (a BOUNDED {"{:,}".format(8192)}-bit broadcast, zero
       reference-side work at query time);
    3. exact contamination check — ONLY bloom-flagged docs pay the
       shingle join against the reference (the no-false-negative
       guarantee makes this gating sound: an unflagged doc provably has
       zero reference overlap, so its overlap is 0 without joining);
    4. verdict — docs with >= 50% reference-shingle overlap are rejected;
       everything else is admitted with its audit trail (flag + overlap).

    Economics at scale: stage 3's join volume is proportional to the
    bloom hit rate (~ true contamination + FP rate), not to ingest
    volume — the whole point of the prefilter. Every stage is the
    individually-oracle-checked primitive (quality gates, bloom frames,
    exact shingle truth), and the composite hash-matches DuckDB
    end-to-end.

    metrics: optional funnel audit (VERDICT r13 item 3) — records
    ``incoming_docs`` (post-quality), ``bloom_flagged``, ``admitted``,
    and ``rejected`` in ONE eager aggregate over the lazily-checkpointed
    result (the audit columns are already in the output schema, so the
    whole funnel costs a single job and the returned frame reads the
    checkpoint instead of recomputing the bloom join). The default None
    keeps the fully lazy, byte-identical registry plan."""
    from glue_etl_framework_spark.queries.dedup import bloom_shingle_frames

    d = t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_tokens = F.size(words)
    diversity = F.size(F.array_distinct(words)).cast("double") / n_tokens
    # Two consumers (the shingle/bloom branch and the final verdict join)
    # prune different columns (text vs n_tokens), so their scans never
    # share and the quality predicates (split + array_distinct per row)
    # evaluated twice. Eager checkpoint = one quality pass (r15,
    # probes/abx_r15opt_ckpt3.txt). DATA_SIZED (r16): quality-gated text
    # rows are batch-proportional — level parameterized, evictable default (ckpt policy).
    from glue_etl_framework_spark.ckpt import DATA_SIZED, checkpoint_shared

    incoming = checkpoint_shared(
        d.filter(F.col("source") != "src0")
        .filter(n_tokens.between(MIN_TOKENS, MAX_TOKENS) & (diversity > MIN_DIVERSITY))
        .select("doc_id", "text", n_tokens.cast("long").alias("n_tokens")),
        size_class=DATA_SIZED,
    )
    per_shingle, truth = bloom_shingle_frames(
        incoming.select("doc_id", "text"),
        d.filter(F.col("source") == "src0").select("text"),
    )
    doc_bloom = per_shingle.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"), F.sum("bloom_hit").alias("nb")
    )
    flagged = doc_bloom.filter(F.col("nb") > 0).select("doc_id", "n_shingles")
    doc_truth = (
        truth.join(flagged.select("doc_id"), "doc_id")
        .groupBy("doc_id")
        .agg(F.sum("true_hit").alias("nt"))
    )
    overlap = F.coalesce(
        F.round(F.col("nt").cast("double") * 1_000_000 / F.col("n_shingles")),
        F.lit(0.0),
    ).cast("long")
    out = (
        incoming.join(doc_bloom, "doc_id", "left")
        .join(doc_truth, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.when(F.coalesce(F.col("nb"), F.lit(0)) > 0, 1).otherwise(0).alias(
                "bloom_flagged"
            ),
            overlap.alias("overlap_fp"),
            F.when(overlap < CONTAM_TAU_FP, 1).otherwise(0).alias("admitted"),
        )
    )
    if metrics is not None:
        out = out.localCheckpoint(eager=False)
        row = out.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("bloom_flagged"), F.lit(0)).alias("f"),
            F.coalesce(F.sum("admitted"), F.lit(0)).alias("a"),
        ).first()
        metrics["incoming_docs"] = row["n"]
        metrics["bloom_flagged"] = row["f"]
        metrics["admitted"] = row["a"]
        metrics["rejected"] = row["n"] - row["a"]
    return out


def _dedup_impact_sql() -> str:
    from glue_etl_framework_spark.queries.dedup import _minhash_sig_sql

    sigs = ",\n             ".join(_minhash_sig_sql())
    bands = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(s{2*b} || s{2*b+1}) AS bh FROM sig"
        for b in range(N_MINHASH // BAND_SIZE)
    )
    return f"""
    WITH docs AS (
      SELECT doc_id, source,
             CAST(length(string_split(text, ' ')) AS BIGINT) AS n_toks,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS nh,
             text
      FROM documents
    ),
    exact_keep AS (
      SELECT doc_id FROM (
        SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY nh ORDER BY doc_id) AS rn
        FROM docs
      ) WHERE rn = 1
    ),
    sh AS (
      SELECT DISTINCT d.doc_id,
             unnest(list_transform(range(1, length(w) - 1),
                                   i -> array_to_string(w[i:i+2], ' '))) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM docs
            WHERE doc_id IN (SELECT doc_id FROM exact_keep)) d
      WHERE length(w) >= 3
    ),
    sig AS (SELECT doc_id, {sigs} FROM sh GROUP BY doc_id),
    bands AS ({bands}),
    losers AS (
      SELECT DISTINCT a.doc_id AS drop_id
      FROM bands b JOIN bands a ON a.band = b.band AND a.bh = b.bh
                               AND b.doc_id < a.doc_id
    ),
    status AS (
      SELECT d.source, d.n_toks,
             CASE WHEN e.doc_id IS NULL THEN 0 ELSE 1 END AS exact_kept,
             CASE WHEN e.doc_id IS NOT NULL AND l.drop_id IS NULL
                  THEN 1 ELSE 0 END AS final_kept
      FROM docs d
      LEFT JOIN exact_keep e ON d.doc_id = e.doc_id
      LEFT JOIN losers l ON d.doc_id = l.drop_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS tokens_raw,
           CAST(SUM(exact_kept * n_toks) AS BIGINT) AS tokens_after_exact,
           CAST(SUM(final_kept * n_toks) AS BIGINT) AS tokens_after_neardup,
           CAST(round((1 - CAST(SUM(final_kept * n_toks) AS DOUBLE) / SUM(n_toks))
                      * 1000000) AS BIGINT) AS savings_fp
    FROM status GROUP BY source
    """


@register(
    "curation_dedup_impact_report",
    oracle=_dedup_impact_sql(),
    category="curation",
)
def curation_dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup impact accounting — the observability artifact a
    curation run ships next to the corpus: raw tokens, tokens surviving
    exact (normalized-hash) dedup, tokens surviving MinHash near-dedup,
    and the fractional savings, per source. Attribution is global (a doc
    duplicated ACROSS sources counts against the source of the dropped
    copy — the survivor keeps its own source's tokens), which is what a
    mixture rebalance needs to see. Reuses the exact primitives of the
    curation composite: one normalized-hash aggregate, the banded MinHash
    self-join among exact survivors, two anti-join flags folded into one
    per-source aggregate. All counts are exact integers; output is
    bounded by |sources|."""
    d = t(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_toks"),
        normalized_text_hash("text").alias("nh"),
        "text",
    )
    exact_keep = docs.groupBy("nh").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    sh = shingle_rows(docs.join(exact_keep, "doc_id"), "doc_id")
    losers = _neardup_losers(minhash_bands(minhash_signatures(sh)))
    status = (
        docs.join(exact_keep.withColumn("ek", F.lit(1)), "doc_id", "left")
        .join(losers.withColumn("lz", F.lit(1)), "doc_id", "left")
        .select(
            "source",
            "n_toks",
            F.coalesce(F.col("ek"), F.lit(0)).alias("exact_kept"),
            F.when(F.col("ek").isNotNull() & F.col("lz").isNull(), 1)
            .otherwise(0)
            .alias("final_kept"),
        )
    )
    return status.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("tokens_raw"),
        F.sum(F.col("exact_kept") * F.col("n_toks")).alias("tokens_after_exact"),
        F.sum(F.col("final_kept") * F.col("n_toks")).alias("tokens_after_neardup"),
        F.round(
            (
                1
                - F.sum(F.col("final_kept") * F.col("n_toks")).cast("double")
                / F.sum("n_toks")
            )
            * 1_000_000
        )
        .cast("long")
        .alias("savings_fp"),
    )
