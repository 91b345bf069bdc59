"""LLM-corpus curation operators, round 2 additions (EXT — north star
BASELINE.json:6): repetition filtering, benchmark decontamination, length
outlier trimming, bigram language-model scoring.

These extend queries.text / queries.curation with the remaining standard
steps of a large-scale pretraining-data pipeline. All JVM-side column
expressions + keyed shuffles (no Python UDFs, no driver collection);
determinism discipline follows queries/__init__.py (fixed-point integer
log-prob sums, integer-ratio doubles, round(x, 6) display columns).
The text verbs (lexicon hits, the language argmax, the Gopher gate, the
PII audit) are ext.text calls with fixed parameters; this module keeps
their DuckDB oracle SQL. The order in which the driver checks entries is
set by __spark_entry__.driver_order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from glue_etl_framework_spark.ext.dedup import (
    BAND_SIZE,
    N_MINHASH,
    band_join,
    jaccard_verify,
    minhash_bands,
    minhash_signature_aggs,
    shingle_array,
    shingle_rows,
)
from glue_etl_framework_spark.ext.text import (
    GOPHER_MAX_SHORT_RATIO,
    GOPHER_MEAN_LEN_MAX,
    GOPHER_MEAN_LEN_MIN,
    GOPHER_MIN_STOPWORDS,
    GOPHER_STOPWORDS,
    GOPHER_TOKENS_MAX,
    GOPHER_TOKENS_MIN,
    PII_EMAIL,
    PII_IP,
    PII_PHONE,
    gopher_audit_cols,
    lexicon_hits,
    pii_audit_cols,
    predict_language,
)
from glue_etl_framework_spark.queries import register, t
from glue_etl_framework_spark.queries.text import LEXICONS, lexicon_hits_sql

_BIGRAM_SQL = """
      SELECT doc_id, unnest(list_transform(range(1, length(w)),
                                           i -> w[i] || ' ' || w[i+1])) AS bigram
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      WHERE length(w) >= 2
"""

REPETITION_FLAG = 0.2  # Gopher-style: most-common bigram > 20% of bigrams


@register(
    "text_repetition_ratio",
    oracle=f"""
    WITH bg AS ({_BIGRAM_SQL}),
    cnt AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           CAST(MAX(c) AS BIGINT) AS top_bigram_count,
           round(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS repetition_ratio,
           CASE WHEN CAST(MAX(c) AS DOUBLE) / SUM(c) >= {REPETITION_FLAG}
                THEN 1 ELSE 0 END AS flagged
    FROM cnt GROUP BY doc_id
    """,
    category="text",
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filter (the Gopher/MassiveText duplicate-line family):
    share of a document's bigrams taken by its single most frequent bigram;
    boilerplate and template spam score high. Two keyed shuffles —
    (doc_id, bigram) count with map-side combine, then a per-doc max/sum —
    both partial+final hash aggregates, linear at any corpus size. Docs
    with < 2 tokens have no bigrams and are (consistently) absent."""
    d = t(spark, sf_dir, "documents")
    bg = d.select("doc_id", F.explode(shingle_array(n=2)).alias("bigram"))
    cnt = bg.groupBy("doc_id", "bigram").agg(F.count("*").alias("c"))
    ratio = F.max("c").cast("double") / F.sum("c")
    return cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.max("c").alias("top_bigram_count"),
        F.round(ratio, 6).alias("repetition_ratio"),
        F.when(ratio >= REPETITION_FLAG, 1).otherwise(0).alias("flagged"),
    )


BENCH_SOURCE = "src0"  # the held-out "benchmark" subcorpus for decontamination


@register(
    "curation_decontaminate",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, source,
             unnest(list_transform(range(1, length(w) - 1),
                                   i -> array_to_string(w[i:i+2], ' '))) AS shingle
      FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents)
      WHERE length(w) >= 3
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE source = '{BENCH_SOURCE}'),
    hits AS (
      SELECT c.doc_id, COUNT(*) AS n_shared
      FROM (SELECT doc_id, shingle FROM sh WHERE source <> '{BENCH_SOURCE}') c
      JOIN bench b ON c.shingle = b.shingle
      GROUP BY c.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(h.n_shared, 0) AS BIGINT) AS n_shared_shingles,
           CASE WHEN h.doc_id IS NULL THEN 0 ELSE 1 END AS contaminated
    FROM (SELECT doc_id FROM documents WHERE source <> '{BENCH_SOURCE}') d
    LEFT JOIN hits h ON d.doc_id = h.doc_id
    """,
    category="curation",
)
def curation_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag every training candidate that shares
    ANY word-3-gram with the held-out benchmark subcorpus (the standard
    n-gram-overlap decontamination step before pretraining; production uses
    13-grams — the plan shape is identical). The candidate->benchmark match
    is a shingle equi-join (shuffle keyed on the shingle, never all-pairs),
    then a per-doc count and a left join so clean docs report 0 — the same
    banded-join scale shape as dedup_against_corpus, but at n-gram rather
    than whole-document granularity."""
    d = t(spark, sf_dir, "documents")
    sh = shingle_rows(d, "doc_id", "source")
    bench = sh.filter(F.col("source") == BENCH_SOURCE).select("shingle").distinct()
    cand = sh.filter(F.col("source") != BENCH_SOURCE).select("doc_id", "shingle")
    hits = cand.join(bench, "shingle").groupBy("doc_id").agg(F.count("*").alias("n_shared"))
    base = d.filter(F.col("source") != BENCH_SOURCE).select("doc_id")
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared_shingles"),
        F.when(F.col("n_shared").isNull(), 0).otherwise(1).alias("contaminated"),
    )


TRIM_LO = 0.05
TRIM_HI = 0.95


@register(
    "text_length_outlier_trim",
    oracle=f"""
    WITH stats AS (
      SELECT source,
             quantile_cont(n_chars, {TRIM_LO}) AS lo,
             quantile_cont(n_chars, {TRIM_HI}) AS hi
      FROM documents GROUP BY source
    )
    SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars,
           round(s.lo, 6) AS lo_bound, round(s.hi, 6) AS hi_bound
    FROM documents d JOIN stats s ON d.source = s.source
    WHERE d.n_chars < s.lo OR d.n_chars > s.hi
    """,
    category="curation",
)
def text_length_outlier_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-outlier trimming: report the documents outside their source's
    [p5, p95] length band (truncation artifacts below, concatenation junk
    above — trimmed before training). Exact interpolated percentiles
    (Spark `percentile` == DuckDB `quantile_cont`, both linear on sorted
    values) per source — one grouped aggregate over a FEW HUNDRED sources,
    then a broadcast join back and a scan-side filter: the expensive input
    is never shuffled."""
    d = t(spark, sf_dir, "documents")
    stats = d.groupBy("source").agg(
        F.percentile("n_chars", TRIM_LO).alias("lo"),
        F.percentile("n_chars", TRIM_HI).alias("hi"),
    )
    return (
        d.join(F.broadcast(stats), "source")
        .filter((F.col("n_chars") < F.col("lo")) | (F.col("n_chars") > F.col("hi")))
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.round("lo", 6).alias("lo_bound"),
            F.round("hi", 6).alias("hi_bound"),
        )
    )


LM_SCALE = 1_000_000  # fixed-point: round(ln(p) * 1e6) summed as BIGINT


@register(
    "text_bigram_logprob",
    oracle=f"""
    WITH bg AS ({_BIGRAM_SQL}),
    split AS (SELECT doc_id, bigram, split_part(bigram, ' ', 1) AS w1 FROM bg),
    bfreq AS (SELECT bigram, COUNT(*) AS cb FROM split GROUP BY bigram),
    ufreq AS (SELECT w1, COUNT(*) AS cu FROM split GROUP BY w1),
    scored AS (
      SELECT s.doc_id,
             CAST(round(ln(CAST(b.cb AS DOUBLE) / u.cu) * {LM_SCALE}) AS BIGINT) AS lp
      FROM split s
      JOIN bfreq b ON s.bigram = b.bigram
      JOIN ufreq u ON s.w1 = u.w1
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(lp) AS BIGINT) AS logprob_fp,
           CAST(SUM(lp) // COUNT(*) AS BIGINT) AS per_bigram_fp
    FROM scored GROUP BY doc_id
    """,
    category="text",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model quality score: per-document sum of conditional
    log-probs ln(count(w1 w2) / count(w1 ·)) under the corpus's own bigram
    statistics — scrambled or unnatural word order scores low even when
    text_unigram_logprob (bag-of-words) looks fine. The bigram vocabulary
    grows with the corpus, so unlike the unigram op the frequency joins are
    keyed shuffles, not broadcasts — still linear, with map-side combine on
    both count aggregates. Fixed-point integer log-probs (round(ln*1e6))
    make every sum order-independent and oracle-hashable."""
    d = t(spark, sf_dir, "documents")
    bg = d.select("doc_id", F.explode(shingle_array(n=2)).alias("bigram"))
    # Three consumers (both frequency aggregates + the scoring join), a
    # shared subtree with no exchange — the regex explode ran three
    # times. Eager checkpoint = one extraction pass (r15,
    # probes/abx_r15opt_ckpt3.txt). DATA_SIZED (r16): the exploded bigram
    # stream is input-proportional — level parameterized, evictable default (ckpt policy).
    from glue_etl_framework_spark.ckpt import DATA_SIZED, checkpoint_shared

    split = checkpoint_shared(
        bg.select(
            "doc_id", "bigram", F.substring_index("bigram", " ", 1).alias("w1")
        ),
        size_class=DATA_SIZED,
    )
    bfreq = split.groupBy("bigram").agg(F.count("*").alias("cb"))
    ufreq = split.groupBy("w1").agg(F.count("*").alias("cu"))
    lp = F.round(F.log(F.col("cb").cast("double") / F.col("cu")) * LM_SCALE).cast("long")
    scored = split.join(bfreq, "bigram").join(ufreq, "w1").select("doc_id", lp.alias("lp"))
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.sum("lp").alias("logprob_fp"),
        (F.sum("lp") / F.count("*")).cast("long").alias("per_bigram_fp"),
    )


def _predict_case_sql() -> str:
    # the oracle of ext.text.predict_language over LEXICONS: an explicit CASE
    # chain in alphabetical order; >= keeps score ties on the earlier
    # language, and zero total hits short-circuits to 'unknown'
    langs = list(LEXICONS)
    hits = {lg: lexicon_hits_sql(LEXICONS[lg]) for lg in langs}
    any_hit = " + ".join(hits.values())
    parts = []
    for lg in langs:
        conds = [f"{hits[lg]} >= {hits[o]}" for o in langs if o != lg]
        parts.append(f"WHEN {' AND '.join(conds)} THEN '{lg}'")
    return f"CASE WHEN ({any_hit}) = 0 THEN 'unknown' {' '.join(parts)} ELSE 'unknown' END"


@register(
    "quality_langid_confusion",
    oracle=f"""
    WITH pred AS (
      SELECT doc_id, lang AS lang_recorded, {_predict_case_sql()} AS lang_predicted
      FROM documents
    ),
    cm AS (
      SELECT lang_recorded, lang_predicted, COUNT(*) AS n_docs
      FROM pred GROUP BY lang_recorded, lang_predicted
    ),
    tot AS (SELECT lang_recorded, SUM(n_docs) AS n FROM cm GROUP BY lang_recorded)
    SELECT c.lang_recorded, c.lang_predicted,
           CAST(c.n_docs AS BIGINT) AS n_docs,
           round(CAST(c.n_docs AS DOUBLE) / t.n, 6) AS share_of_recorded
    FROM cm c JOIN tot t ON c.lang_recorded = t.lang_recorded
    """,
    category="quality",
)
def quality_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-metadata audit: confusion matrix of the recorded ``lang``
    column against the stopword-argmax language prediction (alphabetical
    tie-break, 'unknown' when no lexicon hits) — the standard check before
    trusting upstream language labels for stratified sampling. Scoring is
    a pure scan-side expression; the matrix is a tiny two-level aggregate
    (languages x languages rows), so the only shuffled data is the
    per-(recorded, predicted) partial counts."""
    d = t(spark, sf_dir, "documents")
    pred = predict_language(F.split(F.col("text"), " "), LEXICONS)
    cm = (
        d.select(F.col("lang").alias("lang_recorded"), pred.alias("lang_predicted"))
        .groupBy("lang_recorded", "lang_predicted")
        .agg(F.count("*").alias("n_docs"))
    )
    tot = cm.groupBy("lang_recorded").agg(F.sum("n_docs").alias("n"))
    return cm.join(tot, "lang_recorded").select(
        "lang_recorded",
        "lang_predicted",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round(F.col("n_docs").cast("double") / F.col("n"), 6).alias("share_of_recorded"),
    )


# ---------------------------------------------------------------------------
# Round-2 second batch: quality gates, corpus-internal n-gram contamination,
# blocklist filtering, domain-mixture sampling, int8 embedding quantization.
# ---------------------------------------------------------------------------

_GOPHER_HITS_SQL = lexicon_hits_sql(GOPHER_STOPWORDS, "w")


def _gopher_pass_sql() -> str:
    """The oracle of ext.text.gopher_audit_cols' passes_gopher over a
    DuckDB token-list column ``w``, shared by every entry that gates on it."""
    return f"""(length(w) BETWEEN {GOPHER_TOKENS_MIN} AND {GOPHER_TOKENS_MAX}
         AND CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
             / length(w) BETWEEN {GOPHER_MEAN_LEN_MIN} AND {GOPHER_MEAN_LEN_MAX}
         AND {_GOPHER_HITS_SQL} >= {GOPHER_MIN_STOPWORDS}
         AND CAST(length(list_filter(w, x -> length(x) <= 2)) AS DOUBLE)
             / length(w) <= {GOPHER_MAX_SHORT_RATIO})"""


@register(
    "quality_gopher_filters",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    SELECT doc_id,
           CAST(length(w) AS BIGINT) AS n_tokens,
           round(CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE)
                 / length(w), 6) AS mean_token_len,
           CAST({_GOPHER_HITS_SQL} AS BIGINT) AS stopword_hits,
           round(CAST(length(list_filter(w, x -> length(x) <= 2)) AS DOUBLE)
                 / length(w), 6) AS short_token_ratio,
           CASE WHEN {_gopher_pass_sql()} THEN 1 ELSE 0 END AS passes_gopher
    FROM w
    """,
    category="quality",
)
def quality_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style (MassiveText, arXiv 2112.11446 §A1) per-document quality
    gates: token-count bounds, mean token length, minimum stopword evidence,
    and short-token share. Every gate is a pure scan-side array expression —
    no shuffle at all, so the operator is embarrassingly parallel and
    scale-free; at 100 TB it runs at scan throughput with the filter fused
    into the parquet read. The gate is ext.text.gopher_audit_cols, which
    also gates streaming ingest in streaming/quality.py."""
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", *gopher_audit_cols("text"))


_TRIGRAM_SQL = """
      SELECT doc_id, unnest(list_transform(range(1, length(w) - 1),
                                           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      WHERE length(w) >= 3
"""


@register(
    "dedup_ngram_contamination",
    oracle=f"""
    WITH grams AS ({_TRIGRAM_SQL}),
    pairs AS (SELECT DISTINCT doc_id, gram FROM grams),
    df AS (SELECT gram, COUNT(*) AS n_docs FROM pairs GROUP BY gram)
    SELECT p.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_grams,
           round(CAST(SUM(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS contamination_ratio
    FROM pairs p JOIN df ON p.gram = df.gram
    GROUP BY p.doc_id
    """,
    category="dedup",
)
def dedup_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-internal duplicate-n-gram fraction (the Gopher dup_ngram_frac
    family): for each document, the share of its distinct sliding trigrams
    that also appear in at least one OTHER document. Three keyed shuffles —
    distinct (doc, gram) pairs, gram document-frequency (partial+final hash
    agg), and the per-doc rollup after an equi-join of pairs to gram DF.
    All linear in total gram count; the join key is the gram itself, so at
    100 TB the gram DF side can be md5-compacted to a 16-byte key without
    changing semantics. Docs with < 3 tokens have no trigrams and are
    (consistently) absent from the output."""
    d = t(spark, sf_dir, "documents")
    grams = d.select("doc_id", F.explode(shingle_array()).alias("gram"))
    pairs = grams.distinct()
    df_counts = pairs.groupBy("gram").agg(F.count("*").alias("n_docs"))
    shared = F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
    return (
        pairs.join(df_counts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            shared.alias("n_shared_grams"),
            F.round(shared.cast("double") / F.count("*"), 6).alias("contamination_ratio"),
        )
    )


BADWORDS = ["slow", "merge", "batch"]  # configured blocklist (C4-style)
BADWORD_FLAG_RATIO = 0.05
_BAD_HITS_SQL = lexicon_hits_sql(BADWORDS, "w")


@register(
    "quality_badwords_filter",
    oracle=f"""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    SELECT doc_id,
           CAST(length(w) AS BIGINT) AS n_tokens,
           CAST({_BAD_HITS_SQL} AS BIGINT) AS n_badwords,
           round(CAST({_BAD_HITS_SQL} AS DOUBLE) / length(w), 6) AS badword_ratio,
           CASE WHEN CAST({_BAD_HITS_SQL} AS DOUBLE) / length(w) > {BADWORD_FLAG_RATIO}
                THEN 1 ELSE 0 END AS flagged,
           md5(array_to_string(list_transform(w,
                x -> CASE WHEN list_contains([{", ".join(repr(b) for b in BADWORDS)}], x)
                     THEN '*' ELSE x END), ' ')) AS redacted_fingerprint
    FROM w
    """,
    category="quality",
)
def quality_badwords_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist (C4-style badwords) filter: per-doc blocklist hit count and
    ratio, a drop flag at the configured threshold, and an md5 fingerprint
    of the redacted text (blocklisted tokens masked) for downstream exact
    dedup of the scrubbed corpus. Pure scan-side array expressions — zero
    shuffles; the blocklist is a literal array (at production size it would
    be a broadcast), so this runs at scan throughput at any corpus size."""
    d = t(spark, sf_dir, "documents")
    w = F.split("text", " ")
    bad = F.array(*[F.lit(b) for b in BADWORDS])
    n = F.size(w).cast("long")
    n_bad = lexicon_hits(w, BADWORDS).cast("long")
    ratio = n_bad.cast("double") / n
    redacted = F.array_join(
        F.transform(w, lambda x: F.when(F.array_contains(bad, x), F.lit("*")).otherwise(x)),
        " ",
    )
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        n_bad.alias("n_badwords"),
        F.round(ratio, 6).alias("badword_ratio"),
        F.when(ratio > BADWORD_FLAG_RATIO, 1).otherwise(0).alias("flagged"),
        F.md5(redacted).alias("redacted_fingerprint"),
    )


# Target corpus shares for the domain-mixture sampler (fractions of the TOTAL
# corpus). Sources not listed keep all their rows. src0's target exceeds its
# natural share, exercising the keep-everything branch; src1/src2 downsample.
MIXTURE_TARGETS = {"src0": 0.08, "src1": 0.04, "src2": 0.02}


def _mixture_share_case() -> str:
    arms = " ".join(
        f"WHEN '{s}' THEN CAST({w} AS DOUBLE)" for s, w in MIXTURE_TARGETS.items()
    )
    return f"CASE source {arms} ELSE NULL END"


@register(
    "sample_domain_mixture",
    oracle=f"""
    WITH counts AS (SELECT source, COUNT(*) AS n_src FROM documents GROUP BY source),
    rates AS (
      SELECT source, n_src,
             {_mixture_share_case()} AS share,
             CAST(SUM(n_src) OVER () AS DOUBLE) AS total
      FROM counts
    ),
    r2 AS (
      SELECT source,
             CASE WHEN share IS NULL THEN CAST(1.0 AS DOUBLE)
                  ELSE least(CAST(1.0 AS DOUBLE), share * total / n_src) END AS rate
      FROM rates
    )
    SELECT d.doc_id, d.source, round(r.rate, 6) AS keep_rate
    FROM documents d JOIN r2 r ON d.source = r.source
    WHERE CAST(floor(r.rate * 65536) AS BIGINT) >= 65536
       OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
          < lpad(lower(to_hex(CAST(floor(r.rate * 65536) AS BIGINT))), 4, '0')
    """,
    category="curation",
)
def sample_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing (DoReMi/Pile-style source weighting):
    compute each source's keep-rate from a target share of the total corpus
    (capped at 1 — this sampler never upsamples), then keep rows by a
    deterministic md5-bucket draw so the sample is reproducible across
    engines and runs. The rate table is one tiny aggregate (|sources| rows;
    the window total shuffles only that aggregate, documented single
    partition) broadcast back onto the fact scan — one shuffle of counts,
    zero shuffles of data rows, so at 100 TB this is scan throughput plus
    a 20-row broadcast. Rate comparison stays in the lowercase-hex string
    domain (md5 prefix vs lpad'ed to_hex threshold) — the same portable
    discipline as queries.dedup's string-min minhash."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n_src"))
    share = F.lit(None).cast("double")
    for s, wgt in reversed(MIXTURE_TARGETS.items()):
        share = F.when(F.col("source") == s, F.lit(float(wgt))).otherwise(share)
    total = F.sum("n_src").over(W.partitionBy()).cast("double")
    rate = F.when(
        share.isNull(), F.lit(1.0)
    ).otherwise(F.least(F.lit(1.0), share * total / F.col("n_src")))
    rates = counts.select("source", rate.alias("rate"))
    thr = F.floor(F.col("rate") * 65536).cast("long")
    keep = (thr >= 65536) | (
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
        < F.lpad(F.lower(F.hex(thr)), 4, "0")
    )
    return (
        d.join(F.broadcast(rates), "source")
        .where(keep)
        .select("doc_id", "source", F.round("rate", 6).alias("keep_rate"))
    )


Q_SCALE = 1 << 20  # float -> fixed-point scale, same as queries.similarity


@register(
    "embedding_quantize_int8",
    oracle=f"""
    WITH quant AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(round(CAST(x AS DOUBLE) * {Q_SCALE}) AS BIGINT)) AS q
      FROM embeddings
    ),
    m AS (
      SELECT vec_id, q,
             greatest(CAST(1 AS BIGINT),
                      list_max(list_transform(q, x -> abs(x)))) AS maxabs_q
      FROM quant
    ),
    err AS (
      SELECT vec_id, maxabs_q,
             CAST(length(q) AS BIGINT) AS n_dims,
             CAST(length(list_filter(q,
                  x -> abs(round(x * 127.0 / maxabs_q)) >= 127.0)) AS BIGINT) AS n_saturated,
             CAST(list_sum(list_transform(q,
                  x -> (x - CAST(round(round(x * 127.0 / maxabs_q) * maxabs_q / 127.0) AS BIGINT))
                     * (x - CAST(round(round(x * 127.0 / maxabs_q) * maxabs_q / 127.0) AS BIGINT))))
                  AS BIGINT) AS sse_q
      FROM m
    )
    SELECT vec_id, maxabs_q, n_dims, n_saturated, sse_q,
           round(sqrt(CAST(sse_q AS DOUBLE) / n_dims) / {Q_SCALE}, 6) AS rmse
    FROM err
    """,
    category="similarity",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization audit — the standard
    compression step before shipping embeddings to an ANN index: scale each
    vector by 127/max|x|, round to int8, and report saturation count and
    exact reconstruction error. All arithmetic happens in the fixed-point
    integer domain of queries.similarity (floats scaled by 2^20 and rounded
    to BIGINT) so the SSE is an exact integer sum — order-independent,
    bit-identical across engines. Pure per-row array expressions: zero
    shuffles, scan throughput at any corpus size, and the int8 codes (not
    materialized here) shrink ANN index shuffle volume 4x vs float32."""
    e = t(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * Q_SCALE).cast("long")
    )
    m_df = e.select(
        "vec_id",
        q.alias("q"),
    ).select(
        "vec_id",
        "q",
        F.greatest(
            F.lit(1).cast("long"),
            F.array_max(F.transform(F.col("q"), lambda x: F.abs(x))),
        ).alias("maxabs_q"),
    )
    m = F.col("maxabs_q")

    def dequant_err(x):
        code = F.round(x * 127.0 / m)
        return x - F.round(code * m / 127.0).cast("long")

    sse = F.aggregate(
        F.transform(F.col("q"), lambda x: dequant_err(x) * dequant_err(x)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_sat = F.size(
        F.filter(F.col("q"), lambda x: F.abs(F.round(x * 127.0 / m)) >= 127.0)
    ).cast("long")
    n_dims = F.size(F.col("q")).cast("long")
    return m_df.select(
        "vec_id",
        "maxabs_q",
        n_dims.alias("n_dims"),
        n_sat.alias("n_saturated"),
        sse.alias("sse_q"),
        F.round(F.sqrt(sse.cast("double") / n_dims) / Q_SCALE, 6).alias("rmse"),
    )



PQ_M = 4        # subspaces (64-dim embeddings -> 4 x 16 dims)
PQ_SUBDIM = 16
PQ_K = 16       # codewords per subspace (fixed K: never grows with n)
PQ_TOP_K = 5
PQ_N_QUERIES = 10  # vec_id < 10 are the query vectors, as in queries.similarity

# Shared PQ CTEs: quantize -> fixed-K codebook with DENSE 0..K-1 codeword
# index (cidx; the raw centroid vec_id must never enter the packed argmin —
# it would bleed into the distance bits) -> per-subspace sub-vectors ->
# integer-packed nearest-codeword assignment.
_PQ_ASSIGN_SQL = f"""
    quant AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(round(CAST(x AS DOUBLE) * {Q_SCALE}) AS BIGINT)) AS q
      FROM embeddings
    ),
    cent AS (
      SELECT cid, cq, row_number() OVER (ORDER BY mk, cid) - 1 AS cidx
      FROM (SELECT vec_id AS cid, q AS cq, md5(CAST(vec_id AS VARCHAR)) AS mk
            FROM quant ORDER BY mk, cid LIMIT {PQ_K})
    ),
    ms AS (SELECT unnest(range({PQ_M})) AS m),
    sub AS (
      SELECT vec_id, m, q[m*{PQ_SUBDIM}+1 : m*{PQ_SUBDIM}+{PQ_SUBDIM}] AS sq
      FROM quant CROSS JOIN ms
    ),
    csub AS (
      SELECT cidx, m, cq[m*{PQ_SUBDIM}+1 : m*{PQ_SUBDIM}+{PQ_SUBDIM}] AS cs
      FROM cent CROSS JOIN ms
    ),
    scored AS (
      SELECT vec_id, s.m,
             CAST(list_sum(list_transform(range(1, {PQ_SUBDIM}+1),
                  i -> (sq[i]-cs[i]) * (sq[i]-cs[i]))) AS BIGINT) * {PQ_K} + cidx AS packed
      FROM sub s JOIN csub c ON s.m = c.m
    ),
    assign AS (SELECT vec_id, m, MIN(packed) AS win FROM scored GROUP BY vec_id, m)
"""


def _pq_frames(spark: SparkSession, sf_dir: str):
    """Spark twin of _PQ_ASSIGN_SQL: (sub, csub, assign) frames.

    assign carries (vec_id, m, cidx, sdist): nearest dense codeword index
    and its exact integer sub-distance, from the packed single-BIGINT
    argmin (dist*K + cidx, MIN-aggregated — one row per group reaches the
    shuffle; ties break to the lowest codeword identically in DuckDB)."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * Q_SCALE).cast("long")
    )
    quant = e.select("vec_id", q.alias("q"))
    cent = (
        quant.select(
            F.col("vec_id").alias("cid"),
            F.col("q").alias("cq"),
            F.md5(F.col("vec_id").cast("string")).alias("mk"),
        )
        .orderBy("mk", "cid")
        .limit(PQ_K)
        .withColumn("cidx", F.row_number().over(W.partitionBy().orderBy("mk", "cid")) - 1)
    )
    ms = F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m")
    sub = quant.select("vec_id", "q", ms).select(
        "vec_id", "m", F.expr(f"slice(q, m*{PQ_SUBDIM}+1, {PQ_SUBDIM})").alias("sq")
    )
    csub = cent.select("cidx", "cq", ms).select(
        "cidx", "m", F.expr(f"slice(cq, m*{PQ_SUBDIM}+1, {PQ_SUBDIM})").alias("cs")
    )
    # the codebook derivation is a full-corpus sort-limit; without pinning,
    # each broadcast consumer (assign's scored join AND the ADC LUT) re-runs
    # that subtree — r5 plan audit measured 2x TakeOrderedAndProject and 4
    # corpus scans. localCheckpoint makes the M x K-row codebook provably
    # one job (the bloom/link-prediction discipline).
    csub = csub.localCheckpoint(eager=True)
    dist = F.aggregate(
        F.zip_with(F.col("sq"), F.col("cs"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = sub.join(F.broadcast(csub), "m").select(
        "vec_id", "m", (dist * PQ_K + F.col("cidx")).alias("packed")
    )
    assign = scored.groupBy("vec_id", "m").agg(F.min("packed").alias("win")).select(
        "vec_id",
        "m",
        (F.col("win") % PQ_K).alias("cidx"),
        F.expr(f"win div {PQ_K}").alias("sdist"),
    )
    return sub, csub, assign


@register(
    "similarity_pq_encode",
    oracle=f"""
    WITH {_PQ_ASSIGN_SQL},
    code AS (
      SELECT vec_id,
             CAST(SUM((win % {PQ_K}) * (1 << (4*m))) AS BIGINT) AS pq_code,
             CAST(SUM(win // {PQ_K}) AS BIGINT) AS sse_q
      FROM assign GROUP BY vec_id
    )
    SELECT vec_id, pq_code, sse_q,
           round(sqrt(CAST(sse_q AS DOUBLE) / {PQ_M * PQ_SUBDIM}) / {Q_SCALE}, 6) AS rmse
    FROM code
    """,
    category="similarity",
)
def similarity_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoder (Jegou et al., TPAMI 2011) — the
    standard 100 TB ANN compression: split each vector into {PQ_M} subspaces
    and snap each sub-vector to the nearest of {PQ_K} codewords, emitting a
    16-bit code + exact reconstruction SSE. Codebook selection reuses the
    fixed-K discipline of similarity_ann_ivf (bottom-K vec_ids by md5 — a
    TakeOrdered, constant-size at any corpus scale) with a DENSE 0..K-1
    codeword index; assignment is an n x K x M broadcast join (codebook
    broadcast is {PQ_K} rows), and the winner per (vector, subspace) is an
    integer-packed argmin (dist*K + cidx, MIN-aggregated — one row per
    group reaches the shuffle, ties break to the lowest codeword index
    identically in both engines). All distances live in the fixed-point
    integer domain of queries.similarity, so SSE is exact and
    order-independent."""
    _, _, assign = _pq_frames(spark, sf_dir)
    code = assign.groupBy("vec_id").agg(
        F.sum(F.col("cidx") * F.expr("shiftleft(1, 4*m)")).alias("pq_code"),
        F.sum("sdist").alias("sse_q"),
    )
    return code.select(
        "vec_id",
        "pq_code",
        "sse_q",
        F.round(
            F.sqrt(F.col("sse_q").cast("double") / (PQ_M * PQ_SUBDIM)) / Q_SCALE, 6
        ).alias("rmse"),
    )


@register(
    "similarity_pq_adc_topk",
    oracle=f"""
    WITH {_PQ_ASSIGN_SQL},
    lut AS (
      SELECT s.vec_id AS query_id, s.m, c.cidx,
             CAST(list_sum(list_transform(range(1, {PQ_SUBDIM}+1),
                  i -> (sq[i]-cs[i]) * (sq[i]-cs[i]))) AS BIGINT) AS d
      FROM sub s JOIN csub c ON s.m = c.m
      WHERE s.vec_id < {PQ_N_QUERIES}
    ),
    acode AS (SELECT vec_id, m, MIN(packed) % {PQ_K} AS cidx FROM scored GROUP BY vec_id, m),
    adc AS (
      SELECT l.query_id, a.vec_id AS neighbor_id, CAST(SUM(l.d) AS BIGINT) AS adc_dist
      FROM acode a JOIN lut l ON a.m = l.m AND a.cidx = l.cidx
      WHERE a.vec_id <> l.query_id
      GROUP BY l.query_id, a.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, adc_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, neighbor_id) AS rn
      FROM adc
    )
    SELECT query_id, neighbor_id, adc_dist FROM ranked WHERE rn <= {PQ_TOP_K}
    """,
    category="similarity",
)
def similarity_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k search — the query path that
    makes product quantization pay at 100 TB: each query precomputes a
    distance LookUp Table to every codeword ({PQ_N_QUERIES} x {PQ_M} x
    {PQ_K} rows, broadcast), and every corpus vector is scored by summing
    {PQ_M} table lookups on its dense codeword indices — the corpus side
    never touches raw floats at query time. Plan: the code-assignment
    shuffle (shared with the encoder), one broadcast equi-join on
    (subspace, codeword index), one (query, vector) hash aggregate, and a
    per-query top-k window over k-bounded groups. All distances are exact
    fixed-point integers; ties break on neighbor id identically in both
    engines. Every corpus vector lands in some codeword cell, so (unlike
    IVF probing) recall loss comes only from code granularity —
    planted-duplicate recovery is property-tested in tests/test_ext.py
    (on cluster-free random vectors, rank recall vs exact L2 is
    chance-level by construction; codes preserve identity, not noise)."""
    from pyspark.sql import Window as W

    sub, csub, assign = _pq_frames(spark, sf_dir)
    dist = F.aggregate(
        F.zip_with(F.col("sq"), F.col("cs"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    lut = (
        sub.filter(F.col("vec_id") < PQ_N_QUERIES)
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(csub), "m")
        .select("query_id", "m", "cidx", dist.alias("d"))
    )
    adc = (
        assign.join(F.broadcast(lut), ["m", "cidx"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d").alias("adc_dist"))
    )
    topk_w = W.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        adc.withColumn("rn", F.row_number().over(topk_w))
        .filter(F.col("rn") <= PQ_TOP_K)
        .select("query_id", "neighbor_id", "adc_dist")
    )


MINHASH_REF_JACCARD = 0.5


def _against_corpus_sql() -> str:
    from glue_etl_framework_spark.queries.dedup import _minhash_sig_sql

    sigs = ", ".join(_minhash_sig_sql())
    bands = {
        side: " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, md5(s{2*b} || s{2*b+1}) AS bh FROM sig_{side}"
            for b in range(N_MINHASH // BAND_SIZE)
        )
        for side in ("new", "ref")
    }
    return f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, source,
             unnest(list_transform(range(1, length(w) - 1),
                                   i -> array_to_string(w[i:i+2], ' '))) AS shingle
      FROM (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents)
      WHERE length(w) >= 3
    ),
    sig_new AS (SELECT doc_id, {sigs} FROM sh WHERE source <> '{BENCH_SOURCE}' GROUP BY doc_id),
    sig_ref AS (SELECT doc_id, {sigs} FROM sh WHERE source = '{BENCH_SOURCE}' GROUP BY doc_id),
    bands_new AS ({bands["new"]}),
    bands_ref AS ({bands["ref"]}),
    cand AS (
      SELECT DISTINCT n.doc_id AS doc_id, r.doc_id AS corpus_doc_id
      FROM bands_new n JOIN bands_ref r ON n.band = r.band AND n.bh = r.bh
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_id, c.corpus_doc_id, COUNT(*) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_id
      JOIN sh b ON b.doc_id = c.corpus_doc_id AND b.shingle = a.shingle
      GROUP BY c.doc_id, c.corpus_doc_id
    )
    SELECT i.doc_id, i.corpus_doc_id,
           round(CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_id
    JOIN sizes sb ON sb.doc_id = i.corpus_doc_id
    WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= {MINHASH_REF_JACCARD}
    """


@register("dedup_minhash_against_corpus", oracle=_against_corpus_sql(), category="dedup")
def dedup_minhash_against_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-duplicate dedup of a new batch against an existing
    reference corpus — the daily-ingest production shape (exact-hash twin:
    dedup_against_corpus). Both sides get banded MinHash signatures; the
    candidate join is bands_new x bands_ref keyed on (band, band-hash) —
    cross-side only, never new x new or an all-pairs product — then exact
    shingle Jaccard verifies candidates (no false positives in the output).
    At 100 TB the reference side's band table is precomputed once and
    reused per batch (append-only index), so per-batch cost is
    O(batch shingles + candidate pairs), independent of corpus size. The
    shared shingle frame is checkpointed once for its four consumers (the
    dedup_minhash_verified lesson; DATA_SIZED per the ckpt policy).

    r16 (guide §2.3 "aggregate before you shuffle"): the new-side
    signatures, ref-side signatures, and per-doc sizes were THREE
    independent full aggregates over the checkpointed shingle stream —
    three map passes, three doc_id exchanges. Every doc's shingles carry
    one constant source, so signatures grouped over ALL docs then split by
    source are identical to per-side aggregates; fusing sigs + count +
    max(source) into ONE groupBy leaves one map pass and one exchange,
    with the band/size consumers projecting off the fused frame. The
    fused frame is checkpointed (one narrow row per doc): without that,
    column pruning splits the aggregate back per consumer and the
    exchanges stop matching (see dedup_minhash_verified)."""
    from glue_etl_framework_spark.ckpt import DATA_SIZED, checkpoint_shared

    d = t(spark, sf_dir, "documents")
    sh = checkpoint_shared(shingle_rows(d, "doc_id", "source"), size_class=DATA_SIZED)
    per_doc = checkpoint_shared(
        sh.groupBy("doc_id").agg(
            *minhash_signature_aggs(),
            F.count("*").alias("n"),
            # constant per doc (a doc has ONE source); max() is deterministic
            F.max("source").alias("source"),
        ),
        size_class=DATA_SIZED,
    )
    bands = minhash_bands(per_doc, "source")
    cand = band_join(
        bands.filter(F.col("source") != BENCH_SOURCE).drop("source"),
        bands.filter(F.col("source") == BENCH_SOURCE).drop("source"),
    ).distinct()
    return jaccard_verify(sh, cand, per_doc, MINHASH_REF_JACCARD).select(
        F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("corpus_doc_id"), "jaccard"
    )


TEMP_WEIGHT_SCALE = 1_000_000  # fixed-point sqrt(n) weights: exact integer sum


@register(
    "sample_temperature_rebalance",
    oracle=f"""
    WITH counts AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang),
    wts AS (
      SELECT lang, n_lang,
             CAST(round(sqrt(CAST(n_lang AS DOUBLE)) * {TEMP_WEIGHT_SCALE}) AS BIGINT) AS w,
             CAST(SUM(n_lang) OVER () AS BIGINT) AS total
      FROM counts
    ),
    rates AS (
      SELECT lang,
             least(CAST(1.0 AS DOUBLE),
                   (CAST(w AS DOUBLE) / CAST(SUM(w) OVER () AS DOUBLE))
                   * total / n_lang) AS rate
      FROM wts
    )
    SELECT d.doc_id, d.lang, round(r.rate, 6) AS keep_rate
    FROM documents d JOIN rates r ON d.lang = r.lang
    WHERE CAST(floor(r.rate * 65536) AS BIGINT) >= 65536
       OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
          < lpad(lower(to_hex(CAST(floor(r.rate * 65536) AS BIGINT))), 4, '0')
    """,
    category="curation",
)
def sample_temperature_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing (the mT5/multilingual-mixing
    standard, alpha = 0.5): target shares proportional to n^alpha flatten
    the language distribution, down-sampling dominant languages (never
    upsampling — keep-rates cap at 1). The sqrt weights are fixed-point
    BIGINTs so the cross-language weight sum is exact and
    order-independent (a raw double sum would be last-ULP
    shuffle-order-dependent); the per-row draw is the same deterministic
    lowercase-hex md5-bucket comparison as sample_domain_mixture. One tiny
    counts aggregate (|languages| rows, documented single-partition
    window) broadcast back onto the scan — data rows never shuffle."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_lang"))
    w = F.round(F.sqrt(F.col("n_lang").cast("double")) * TEMP_WEIGHT_SCALE).cast("long")
    wts = counts.select(
        "lang",
        "n_lang",
        w.alias("w"),
        F.sum("n_lang").over(W.partitionBy()).cast("long").alias("total"),
    )
    rate = F.least(
        F.lit(1.0),
        (F.col("w").cast("double") / F.sum("w").over(W.partitionBy()).cast("double"))
        * F.col("total")
        / F.col("n_lang"),
    )
    rates = wts.select("lang", rate.alias("rate"))
    thr = F.floor(F.col("rate") * 65536).cast("long")
    keep = (thr >= 65536) | (
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
        < F.lpad(F.lower(F.hex(thr)), 4, "0")
    )
    return (
        d.join(F.broadcast(rates), "lang")
        .where(keep)
        .select("doc_id", "lang", F.round("rate", 6).alias("keep_rate"))
    )


KEEP_BEST_PACK = 1 << 33  # packed argmax: score * PACK + (PACK - 1 - doc_id)


def _keep_best_sql() -> str:
    from glue_etl_framework_spark.queries.dedup import _components_sql

    return f"""
    WITH comp AS (
      SELECT * FROM ({_components_sql()})
    ),
    score AS (
      SELECT doc_id,
             CAST(length(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
      FROM documents
    )
    SELECT c.component,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST({KEEP_BEST_PACK} - 1 - (MAX(s.n_distinct * {KEEP_BEST_PACK}
                 + ({KEEP_BEST_PACK} - 1 - c.doc_id)) % {KEEP_BEST_PACK}) AS BIGINT)
             AS kept_doc_id,
           CAST(MAX(s.n_distinct * {KEEP_BEST_PACK}
                 + ({KEEP_BEST_PACK} - 1 - c.doc_id)) // {KEEP_BEST_PACK} AS BIGINT)
             AS kept_distinct_tokens
    FROM comp c JOIN score s ON c.doc_id = s.doc_id
    GROUP BY c.component
    """


@register("curation_dedup_keep_best", oracle=_keep_best_sql(), category="curation")
def curation_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection for near-dup clusters: within each
    connected component of the MinHash duplicate graph, KEEP the member
    with the most distinct tokens (production dedup keeps the best
    representative, not the lowest id; ties break to the lower doc_id).
    The argmax is a single packed-BIGINT MAX (score * 2^33 + (2^33 - 1 -
    doc_id); the -1 keeps doc_id 0 inside the modulus slot) — a partial+final hash aggregate, one surviving row per
    component at the shuffle, portable tie semantics across engines.
    Components come from the oracle-checked label-propagation operator
    (O(diameter) rounds); everything after is one scan-side distinct-token
    expression, one broadcast-scale join of labels to scores, and one
    keyed aggregate — linear at any corpus size."""
    from glue_etl_framework_spark.queries.dedup import dedup_minhash_lsh
    from glue_etl_framework_spark.ext.dedup import connected_component_labels

    d = t(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )
    labels = connected_component_labels(d.select("doc_id"), pairs, id_col="doc_id")
    score = d.select(
        "doc_id",
        F.size(F.array_distinct(F.split("text", " "))).cast("long").alias("n_distinct"),
    )
    packed = F.col("n_distinct") * KEEP_BEST_PACK + (KEEP_BEST_PACK - 1 - F.col("doc_id"))
    return (
        labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))
        .join(score, "doc_id")
        .groupBy("component")
        .agg(
            F.count("*").alias("n_members"),
            (KEEP_BEST_PACK - 1 - F.max(packed) % KEEP_BEST_PACK)
            .cast("long")
            .alias("kept_doc_id"),
            F.expr(f"max(n_distinct * {KEEP_BEST_PACK} + ({KEEP_BEST_PACK} - 1 - doc_id)) div {KEEP_BEST_PACK}")
            .cast("long")
            .alias("kept_distinct_tokens"),
        )
    )


PPL_DECILES = [round(0.1 * i, 1) for i in range(1, 10)]  # 0.1 .. 0.9


def _ppl_bucket_sql() -> str:
    import glue_etl_framework_spark.queries.text  # noqa: F401  (registers)
    from glue_etl_framework_spark.queries import REGISTRY

    inner = REGISTRY["text_unigram_logprob"].oracle
    cuts = ", ".join(str(p) for p in PPL_DECILES)
    return f"""
    WITH base AS ({inner}),
    cuts AS (SELECT quantile_cont(per_token_fp, [{cuts}]) AS cs FROM base)
    SELECT b.doc_id, b.per_token_fp,
           1 + length(list_filter(cuts.cs,
                 c -> CAST(b.per_token_fp AS DOUBLE) > c)) AS ppl_bucket
    FROM base b CROSS JOIN cuts
    """


@register("quality_perplexity_bucket", oracle=_ppl_bucket_sql(), category="quality")
def quality_perplexity_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile stratification of documents by statistical quality (per-token
    unigram log-prob, the perplexity proxy) — the binning step behind
    curriculum ordering and quality-threshold ablations. Deliberately NOT
    a global ntile: a windowed ntile needs a single-partition global sort,
    which dies at 100 TB. Instead the nine decile cutoffs come from one
    tiny interpolated-percentile aggregate (Spark `percentile` == DuckDB
    `quantile_cont`, the text_length_outlier_trim parity) broadcast back
    onto the scan, and each row counts the cutoffs strictly below it —
    scan throughput, no data shuffle beyond the logprob operator's own.
    Bucket boundaries use exact fixed-point integer scores, so bucketing
    is deterministic across engines."""
    from glue_etl_framework_spark.queries.text import text_unigram_logprob

    base = text_unigram_logprob(spark, sf_dir)
    cuts = base.agg(
        F.percentile("per_token_fp", F.array(*[F.lit(p) for p in PPL_DECILES])).alias("cs")
    )
    bucket = 1 + F.size(
        F.filter(F.col("cs"), lambda c: F.col("per_token_fp").cast("double") > c)
    )
    return base.crossJoin(F.broadcast(cuts)).select(
        "doc_id", "per_token_fp", bucket.alias("ppl_bucket")
    )


# train/val/test thresholds in the md5-prefix string domain:
# floor(0.8 * 65536) = 52428 = 0xcccc, floor(0.9 * 65536) = 58982 = 0xe666
SPLIT_TRAIN_MAX = "cccc"
SPLIT_VAL_MAX = "e666"


@register(
    "curation_train_eval_split",
    oracle=f"""
    SELECT doc_id, lang,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{SPLIT_TRAIN_MAX}'
                THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{SPLIT_VAL_MAX}'
                THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    category="curation",
)
def curation_train_eval_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~80/10/10 train/val/test assignment by md5 bucket of
    the document id — reproducible across runs, engines, and corpus
    growth (a doc's split never changes when new docs arrive, unlike
    randomSplit). Pure scan-side expression, zero shuffles; the hex
    thresholds are precomputed constants in the same lowercase-string
    domain as the md5 prefix. Stratification audit joins (per-lang split
    shares) stay one tiny aggregate away."""
    d = t(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    split = (
        F.when(h < SPLIT_TRAIN_MAX, "train")
        .when(h < SPLIT_VAL_MAX, "val")
        .otherwise("test")
    )
    return d.select("doc_id", "lang", split.alias("split"))


RESERVOIR_K = 10  # fixed sample size per stratum


@register(
    "sample_reservoir_per_group",
    oracle=f"""
    SELECT doc_id, lang, rn
    FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    )
    WHERE rn <= {RESERVOIR_K}
    """,
    category="curation",
)
def sample_reservoir_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-stratum sample ({RESERVOIR_K} docs per language) —
    the deterministic replacement for reservoir sampling when carving
    eval slices: rank within each stratum by md5(doc_id) (a uniform,
    engine-portable pseudo-random order; ties impossible past the doc_id
    tiebreak) and keep the first K. One shuffle keyed on the stratum;
    Spark plans the rank-filter as WindowGroupLimit, so only ~K rows per
    group survive the partial stage — the shuffle carries K x |strata|
    rows, not the corpus."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= RESERVOIR_K)
    )


# 8-token sliding window (stride 1) at split-token positions — the window
# length used by suffix-array substring dedup scaled down to the fixture
# corpus (production uses 50-token windows; the plan shape is identical).
WIN_K = 8
DUP_WIN_FLAG = 0.5  # flag docs with >= 50% of their windows shared


@register(
    "dedup_substring_windows",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, md5(array_to_string(tkn[i:i+{WIN_K - 1}], ' ')) AS h
      FROM (SELECT doc_id, string_split(text, ' ') AS tkn FROM documents),
           UNNEST(range(1, length(tkn) - {WIN_K - 2})) AS u(i)
      WHERE length(tkn) >= {WIN_K}
    ),
    dup AS (
      SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM w GROUP BY h)
      WHERE nd >= 2
    )
    SELECT w.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN d.h IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS n_dup_windows,
           round(SUM(CASE WHEN d.h IS NULL THEN 0 ELSE 1 END)::DOUBLE
                 / COUNT(*), 6) AS dup_fraction,
           CASE WHEN SUM(CASE WHEN d.h IS NULL THEN 0 ELSE 1 END)::DOUBLE
                     / COUNT(*) >= {DUP_WIN_FLAG} THEN 1 ELSE 0 END AS flagged
    FROM w LEFT JOIN dup d ON w.h = d.h
    GROUP BY w.doc_id
    """,
    category="dedup",
)
def dedup_substring_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup via sliding token-window hashes (the
    equi-join reformulation of the suffix-array method in "Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2022): hash
    every overlapping {WIN_K}-token window, find windows occurring in >= 2
    distinct docs, and report each doc's duplicated-window fraction. At
    scale this is O(total tokens) window rows hashed to 16-byte keys — one
    (window-hash) aggregate plus one hash equi-join, never all-pairs and
    never a monolithic suffix array; both shuffles key on md5 output,
    which is uniform by construction (no skew). "Occurs in >= 2 distinct
    docs" is computed as MIN(doc_id) != MAX(doc_id) — exactly equivalent
    to COUNT(DISTINCT doc_id) >= 2 but a single-pass aggregate whose
    map-side partial is two longs per hash (A/B at sf0.1: 1.5s -> 1.3s;
    the distinct-agg carries every (hash, doc_id) pair into the shuffle).
    Reference: aws-samples/glue-etl-framework has no dedup surface (EXT,
    north star BASELINE.json:6)."""
    d = t(spark, sf_dir, "documents")
    # The window stream feeds two consumers whose exchanges DIFFER (the
    # dup aggregate exchanges partial min/max rows; the join side
    # exchanges raw (doc_id, h)), so AQE's ReusedExchange cannot share
    # them and the scan+regex+md5 ran twice. Eager checkpoint = one pass
    # (r15; contrast dedup_prefix_filter_jaccard where the consumers'
    # exchanges are identical and checkpointing LOST). DATA_SIZED (r16):
    # one hash per token window is input-proportional (ckpt policy).
    from glue_etl_framework_spark.ckpt import DATA_SIZED, checkpoint_shared

    w = checkpoint_shared(
        d.select("doc_id", F.explode(shingle_array(n=WIN_K)).alias("win"))
        .select("doc_id", F.md5("win").alias("h")),
        size_class=DATA_SIZED,
    )
    dup = (
        w.groupBy("h")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .select("h")
    )
    hit = F.sum(F.when(F.col("nd_flag").isNull(), 0).otherwise(1))
    frac = hit.cast("double") / F.count("*")
    return (
        w.join(dup.withColumn("nd_flag", F.lit(1)), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            hit.cast("long").alias("n_dup_windows"),
            F.round(frac, 6).alias("dup_fraction"),
            F.when(frac >= DUP_WIN_FLAG, 1).otherwise(0).alias("flagged"),
        )
    )


CHUNK_TOKENS = 32  # context-window chunk size (tokens)
CHUNK_STRIDE = 24  # stride => 8-token overlap between consecutive chunks


@register(
    "text_chunk_windows",
    oracle=f"""
    SELECT doc_id,
           CAST((i - 1) // {CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
           array_to_string(tkn[i:i+{CHUNK_TOKENS - 1}], ' ') AS chunk_text,
           CAST(least({CHUNK_TOKENS}, length(tkn) - i + 1) AS INTEGER)
             AS n_chunk_tokens
    FROM (SELECT doc_id, string_split(text, ' ') AS tkn FROM documents),
         UNNEST(range(1, greatest(length(tkn), 1) + 1, {CHUNK_STRIDE})) AS u(i)
    """,
    category="text",
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split each document into {CHUNK_TOKENS}-token
    chunks with {CHUNK_TOKENS - CHUNK_STRIDE}-token overlap (the standard
    pre-tokenization step that turns variable-length docs into model-ready
    windows; overlap preserves cross-boundary context). Pure narrow ops —
    split + sequence + posexplode + slice inside one projection, no shuffle
    at all: each input partition emits its own chunk rows, so the operator
    scales with scan bandwidth. Chunk rows carry (doc_id, chunk_idx) so
    downstream packing/dedup can reconstruct provenance."""
    d = t(spark, sf_dir, "documents")
    tkn = F.split(F.col("text"), " ")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(tkn), F.lit(1)), F.lit(CHUNK_STRIDE)
    )
    return (
        d.select("doc_id", tkn.alias("tkn"), F.explode(starts).alias("i"))
        .select(
            "doc_id",
            ((F.col("i") - 1) / CHUNK_STRIDE).cast("int").alias("chunk_idx"),
            F.array_join(
                F.slice(F.col("tkn"), F.col("i"), F.lit(CHUNK_TOKENS)), " "
            ).alias("chunk_text"),
            F.least(
                F.lit(CHUNK_TOKENS), F.size(F.col("tkn")) - F.col("i") + 1
            ).cast("int").alias("n_chunk_tokens"),
        )
    )


@register(
    "text_vocab_growth",
    oracle="""
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens,
           round(COUNT(DISTINCT tok)::DOUBLE / COUNT(*), 6) AS type_token_ratio
    FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
          FROM documents)
    GROUP BY source
    """,
    category="text",
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary statistics (Heaps-law corpus profiling):
    token count, distinct-token count, and type-token ratio per source —
    the diversity signal used to spot template-generated or looping
    sources before training. One explode + one grouped aggregate keyed on
    source; the two COUNT(DISTINCT) expand internally to a single
    two-phase distinct-aggregate shuffle (Spark plans `expand` +
    partial/final), linear in total tokens."""
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", "source", F.explode(F.split("text", " ")).alias("tok"))
    ttr = F.count_distinct("tok").cast("double") / F.count("*")
    return tok.groupBy("source").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_tokens"),
        F.count_distinct("tok").alias("n_distinct_tokens"),
        F.round(ttr, 6).alias("type_token_ratio"),
    )


TOKEN_BUDGET = 1_000_000  # total training-token budget to allocate


@register(
    "curation_token_budget_mix",
    oracle=f"""
    WITH per AS (
      SELECT source,
             CAST(SUM(length(string_split(text, ' '))) AS BIGINT) AS tokens
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, tokens,
             CAST(ROUND(sqrt(CAST(tokens AS DOUBLE)) * 1e6) AS BIGINT) AS wq
      FROM per
    ),
    tot AS (SELECT CAST(SUM(wq) AS BIGINT) AS total_wq FROM w)
    SELECT source, tokens,
           round(CAST(wq AS DOUBLE) / total_wq, 6) AS mix_weight,
           CAST(FLOOR(CAST(wq AS DOUBLE) / total_wq * {TOKEN_BUDGET}) AS BIGINT)
             AS alloc_tokens
    FROM w, tot
    """,
    category="curation",
)
def curation_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture allocation: distribute a {TOKEN_BUDGET:,}-token
    budget across sources proportional to sqrt(source tokens) — the
    sub-linear upweighting of small high-quality sources used when
    composing pretraining mixtures (alpha=0.5; sqrt is IEEE
    correctly-rounded, so both engines compute bit-identical weights,
    unlike pow()). The sqrt weights are fixed-point-quantized to integer
    micro-units BEFORE the cross-source sum so the total is
    order-independent (same discipline as money sums). One grouped
    aggregate to per-source token counts, then the grand total as an
    unpartitioned window over that FEW-HUNDRED-ROW frame — the corpus is
    scanned exactly once; only aggregated rows ever move again (a
    crossJoin against a separate total aggregate would re-scan and
    re-aggregate the whole corpus for the second branch)."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    per = (
        d.select("source", F.size(F.split("text", " ")).alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").alias("tokens"))
        .withColumn(
            "wq",
            F.round(F.sqrt(F.col("tokens").cast("double")) * 1e6).cast("long"),
        )
    )
    weight = F.col("wq").cast("double") / F.sum("wq").over(W.partitionBy())
    return per.select(
        "source",
        "tokens",
        F.round(weight, 6).alias("mix_weight"),
        F.floor(weight * TOKEN_BUDGET).cast("long").alias("alloc_tokens"),
    )


ZBITS = 16  # bits per dimension interleaved into the z-value
ZBUCKET = 65536  # rows cluster into buckets of 2^16 consecutive z-values


def _zvalue_expr(divop: str) -> str:
    """Bit-interleave l_partkey (even bits) and l_suppkey (odd bits) into a
    Morton z-value using only portable integer arithmetic: bit b of x is
    (x div 2^b) % 2, placed at position 2b (worth 4^b) resp. 2b+1 (worth
    2*4^b). `divop` is the engine's integer-division token (Spark `div`,
    DuckDB `//`) — the formula text is otherwise identical on both sides."""
    terms = []
    for b in range(ZBITS):
        p = 2**b
        terms.append(f"(((l_partkey {divop} {p}) % 2) * {4 ** b})")
        terms.append(f"(((l_suppkey {divop} {p}) % 2) * {2 * 4 ** b})")
    return " + ".join(terms)


@register(
    "layout_zorder_bucket",
    oracle=f"""
    SELECT zbucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(l_partkey) AS BIGINT) AS min_partkey,
           CAST(MAX(l_partkey) AS BIGINT) AS max_partkey,
           CAST(MIN(l_suppkey) AS BIGINT) AS min_suppkey,
           CAST(MAX(l_suppkey) AS BIGINT) AS max_suppkey
    FROM (SELECT l_partkey, l_suppkey,
                 CAST(({_zvalue_expr('//')}) // {ZBUCKET} AS BIGINT) AS zbucket
          FROM lineitem)
    GROUP BY zbucket
    """,
    category="layout",
)
def layout_zorder_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout clustering over (l_partkey, l_suppkey):
    interleave {ZBITS} bits of each key into a z-value and group rows into
    buckets of {ZBUCKET} consecutive z-values — the multi-dimensional
    clustering used by lakehouse OPTIMIZE ZORDER BY so that range
    predicates on EITHER column prune most files. The output per bucket
    (row count + min/max of both keys) is exactly the file-skipping index
    such a layout would publish: tight per-bucket ranges on both
    dimensions at once, which a single-column sort cannot achieve. The
    z-value is a pure per-row projection (32 integer terms, whole-stage
    codegen'd); the only shuffle is the final bucket aggregate. To
    materialize the layout at scale: repartitionByRange(zvalue) +
    sortWithinPartitions(zvalue) — same expression, no extra pass."""
    li = t(spark, sf_dir, "lineitem")
    z = F.expr(f"({_zvalue_expr('div')}) div {ZBUCKET}")
    return (
        li.select("l_partkey", "l_suppkey", z.cast("long").alias("zbucket"))
        .groupBy("zbucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("l_partkey").cast("long").alias("min_partkey"),
            F.max("l_partkey").cast("long").alias("max_partkey"),
            F.min("l_suppkey").cast("long").alias("min_suppkey"),
            F.max("l_suppkey").cast("long").alias("max_suppkey"),
        )
    )


RADIUS = 0.25       # cosine threshold for range search
RADIUS_QMOD = 50    # queries = vec_id % 50 == 0 (a fixed, sparse query set)
KNN_K = 5

_EMB_QUANT_SQL = """
      SELECT vec_id, label,
             list_transform(embedding,
                            x -> CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS q
      FROM embeddings
"""

_EMB_NORM_SQL = """
      SELECT vec_id, label, q,
             CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nq
      FROM quant
"""

_PAIR_COS_SQL = """
             CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i]))
                  AS BIGINT)
               / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE)))
"""


@register(
    "similarity_radius_search",
    oracle=f"""
    WITH quant AS ({_EMB_QUANT_SQL}),
    normed AS ({_EMB_NORM_SQL})
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           round({_PAIR_COS_SQL}, 9) AS cosine
    FROM normed a JOIN normed b ON b.vec_id <> a.vec_id
    WHERE a.vec_id % {RADIUS_QMOD} = 0
      AND {_PAIR_COS_SQL} >= {RADIUS}
    """,
    category="similarity",
)
def similarity_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) search: every corpus vector within cosine >= {RADIUS}
    of each query — the retrieval primitive behind duplicate-radius audits
    and threshold-based RAG recall. Broadcast the sparse query set against
    one corpus scan and filter on the quantized-integer cosine (exact,
    engine-portable): per-partition work is |queries| x rows with no
    shuffle at all for the search itself. At 100 TB the same shape holds —
    the query side is the small one by construction; for query sets beyond
    broadcast size, band both sides with hyperplane LSH first
    (similarity_lsh_hyperplane_pairs is that scale path)."""
    from glue_etl_framework_spark.ext.similarity import quantized_cosine
    from glue_etl_framework_spark.queries.similarity import _quantized

    v = _quantized(spark, sf_dir)
    queries = v.filter(F.col("vec_id") % RADIUS_QMOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qa"),
        F.col("nq").alias("na"),
    )
    corpus = v.select(
        F.col("vec_id").alias("neighbor_id"), F.col("q").alias("qb"),
        F.col("nq").alias("nb"),
    )
    return (
        F.broadcast(queries)
        .join(corpus, F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", quantized_cosine().alias("cosine"))
        .filter(F.col("cosine") >= RADIUS)
        .select("query_id", "neighbor_id", F.round("cosine", 9).alias("cosine"))
    )


@register(
    "similarity_knn_classify",
    oracle=f"""
    WITH quant AS ({_EMB_QUANT_SQL}),
    normed AS ({_EMB_NORM_SQL}),
    pairs AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid, b.label AS nlabel,
             {_PAIR_COS_SQL} AS cosine
      FROM normed a JOIN normed b
        ON b.vec_id <> a.vec_id AND b.vec_id % {RADIUS_QMOD} <> 0
      WHERE a.vec_id % {RADIUS_QMOD} = 0
    ),
    knn AS (
      SELECT qid, nlabel FROM (
        SELECT qid, nlabel,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, nid) AS rn
        FROM pairs) r
      WHERE rn <= {KNN_K}
    ),
    votes AS (SELECT qid, nlabel, COUNT(*) AS c FROM knn GROUP BY qid, nlabel),
    pick AS (
      SELECT qid, nlabel, c FROM (
        SELECT qid, nlabel, c,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, nlabel) AS rn2
        FROM votes) v
      WHERE rn2 = 1
    )
    SELECT p.qid AS query_id, p.nlabel AS predicted_label,
           CAST(p.c AS BIGINT) AS votes, e.label AS true_label,
           CASE WHEN p.nlabel = e.label THEN 1 ELSE 0 END AS correct
    FROM pick p JOIN embeddings e ON p.qid = e.vec_id
    """,
    category="similarity",
)
def similarity_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label prediction: classify each held-out query vector by the
    majority label of its {KNN_K} nearest corpus neighbors (exact
    quantized cosine), reporting the vote count and a correctness flag
    against the recorded label — the standard embedding-quality probe run
    before trusting vectors for curation decisions. Plan shape: broadcast
    query set x one corpus scan, per-query top-k via WindowGroupLimit (the
    shuffle carries ~K rows per query, not the corpus), then two tiny
    aggregates over |queries| x labels rows. Ties break deterministically
    (cosine desc, neighbor_id; then votes desc, label)."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "embeddings")
    qcol = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * 1048576).cast("long")
    )
    nq = F.aggregate(
        F.transform(F.col("q"), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    v = e.select("vec_id", "label", qcol.alias("q")).withColumn("nq", nq)
    is_query = F.col("vec_id") % RADIUS_QMOD == 0
    queries = v.filter(is_query).select(
        F.col("vec_id").alias("qid"), F.col("q").alias("qa"), F.col("nq").alias("na")
    )
    corpus = v.filter(~is_query).select(
        F.col("vec_id").alias("nid"), F.col("label").alias("nlabel"),
        F.col("q").alias("qb"), F.col("nq").alias("nb"),
    )
    from glue_etl_framework_spark.ext.similarity import quantized_cosine

    pairs = (
        F.broadcast(queries)
        .join(corpus, F.col("nid") != F.col("qid"))
        .select("qid", "nid", "nlabel", quantized_cosine().alias("cosine"))
    )
    w = W.partitionBy("qid").orderBy(F.col("cosine").desc(), "nid")
    knn = pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= KNN_K)
    votes = knn.groupBy("qid", "nlabel").agg(F.count("*").alias("c"))
    w2 = W.partitionBy("qid").orderBy(F.col("c").desc(), "nlabel")
    pick = votes.withColumn("rn2", F.row_number().over(w2)).filter(F.col("rn2") == 1)
    truth = e.select(F.col("vec_id").alias("qid"), F.col("label").alias("true_label"))
    return pick.join(truth, "qid").select(
        F.col("qid").alias("query_id"),
        F.col("nlabel").alias("predicted_label"),
        F.col("c").cast("long").alias("votes"),
        "true_label",
        F.when(F.col("nlabel") == F.col("true_label"), 1).otherwise(0).alias("correct"),
    )


@register(
    "text_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           CAST(length(regexp_extract_all(text, '{PII_EMAIL}')) AS BIGINT)
             AS n_emails,
           CAST(length(regexp_extract_all(text, '{PII_IP}')) AS BIGINT) AS n_ips,
           CAST(length(regexp_extract_all(text, '{PII_PHONE}')) AS BIGINT)
             AS n_phones,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
                 '{PII_EMAIL}', '<EMAIL>', 'g'),
                 '{PII_IP}', '<IP>', 'g'),
                 '{PII_PHONE}', '<PHONE>', 'g')) AS redacted_fp
    FROM documents
    """,
    category="quality",
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction audit: count email / IPv4 / US-phone
    matches per document and fingerprint the redacted text (md5 of the
    text with all three classes replaced by typed placeholders, applied
    in a fixed order so engines agree byte-for-byte). Patterns are
    restricted to the RE2 ∩ Java-regex subset — no lookaround — so the
    same pattern text runs on both engines. The audit columns are
    ext.text.pii_audit_cols. Pure scan-side expressions: zero shuffles,
    scales with scan bandwidth; the real scrub at 100 TB is this exact
    plan writing `redacted` instead of its hash
    (streaming.quality.pii_scrub_stream does exactly that at ingest)."""
    d = t(spark, sf_dir, "documents")
    audited = d.select("doc_id", *pii_audit_cols("text"))
    return audited.select(
        "doc_id", "n_emails", "n_ips", "n_phones",
        F.md5("redacted").alias("redacted_fp"),
    )


@register(
    "text_novelty_ratio",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, length(w) - 1),
                                   i -> array_to_string(w[i:i+2], ' '))) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      WHERE length(w) >= 3
    ),
    first_seen AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle)
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           round(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 6) AS novelty_ratio
    FROM sh JOIN first_seen f ON sh.shingle = f.shingle
    GROUP BY sh.doc_id
    """,
    category="text",
)
def text_novelty_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-order novelty scoring (the marginal-contribution signal
    used to prioritize crawl batches): a document's distinct word-3-grams
    that no LOWER-doc_id document contains, as a fraction of its shingles.
    doc_id is the arrival order, so MIN(doc_id) per shingle marks its
    first appearance; a doc full of already-seen shingles (novelty -> 0)
    adds nothing to the corpus. Two keyed shuffles — per-shingle min
    aggregate (map-side combine) and the shingle equi-join back — both on
    the shingle key, linear at any corpus size."""
    d = t(spark, sf_dir, "documents")
    sh = shingle_rows(d, "doc_id")
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
    return (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            novel.cast("long").alias("n_novel"),
            F.round(novel.cast("double") / F.count("*"), 6).alias("novelty_ratio"),
        )
    )


SEQ_MAX_EVENTS = 20  # cap: first N events per user form the training sequence


@register(
    "events_user_sequences",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id, event_type, ts, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    )
    SELECT user_id,
           string_agg(event_type, '>' ORDER BY rn) AS seq,
           CAST(COUNT(*) AS BIGINT) AS seq_len
    FROM ranked
    WHERE rn <= {SEQ_MAX_EVENTS}
    GROUP BY user_id
    """,
    category="events",
)
def events_user_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-sequence extraction: each user's first {SEQ_MAX_EVENTS}
    events (by time, event_id tiebreak) joined into one '>'-delimited
    string — the events-to-training-examples step for sequence models.
    WindowGroupLimit short-circuits the rank so the shuffle carries at
    most {SEQ_MAX_EVENTS} rows per user, then array_sort on (rn-tagged)
    structs + array_join assembles the ordered sequence inside the same
    aggregate — deterministic regardless of shuffle arrival order."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = (
        e.select("user_id", "event_type", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SEQ_MAX_EVENTS)
    )
    ordered = F.array_sort(
        F.collect_list(F.struct("rn", "event_type"))
    )
    return ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(ordered, lambda s: s["event_type"]), ">"
        ).alias("seq"),
        F.count("*").alias("seq_len"),
    )


XMODAL_AGREE = 0.25  # cosine above which embeddings corroborate a text dup

# The audit composes the verified near-dup pairs with embedding cosine;
# importing the dedup module here guarantees its registry entry (and thus
# its oracle SQL, reused verbatim as a subquery) exists at build time.
from glue_etl_framework_spark.queries import REGISTRY as _REGISTRY  # noqa: E402
from glue_etl_framework_spark.queries import dedup as _dedup  # noqa: E402, F401

_XMODAL_ORACLE = f"""
    WITH pairs AS (SELECT * FROM ({_REGISTRY["dedup_minhash_verified"].oracle})),
    quant AS ({_EMB_QUANT_SQL}),
    normed AS ({_EMB_NORM_SQL})
    SELECT p.doc_a, p.doc_b, round(p.jaccard, 6) AS jaccard,
           round({_PAIR_COS_SQL}, 9) AS cosine,
           CASE WHEN {_PAIR_COS_SQL} >= {XMODAL_AGREE} THEN 1 ELSE 0 END
             AS embeddings_agree
    FROM pairs p
    JOIN normed a ON p.doc_a = a.vec_id
    JOIN normed b ON p.doc_b = b.vec_id
"""


@register("curation_crossmodal_audit", oracle=_XMODAL_ORACLE, category="curation")
def curation_crossmodal_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal agreement audit: every exact-Jaccard-verified text
    near-dup pair scored by the cosine of the two documents' embeddings
    (doc_id = vec_id), flagging pairs the embedding space corroborates
    (cosine >= {XMODAL_AGREE}). Healthy pipelines show high agreement;
    a low agree-rate means the embedding model drifted from the text it
    indexes — caught here BEFORE embedding-based dedup silently under-
    deletes. Plan: the banded MinHash+verify subplan emits a tiny pair
    set; two hash equi-joins attach quantized vectors; cosine is an exact
    integer dot product. Nothing here is all-pairs — cost is the verified
    dedup plus two lookups."""
    from glue_etl_framework_spark.ext.similarity import quantized_cosine_joined
    from glue_etl_framework_spark.queries.dedup import dedup_minhash_verified
    from glue_etl_framework_spark.queries.similarity import _quantized

    pairs = dedup_minhash_verified(spark, sf_dir)
    v = _quantized(spark, sf_dir)
    return quantized_cosine_joined(v, pairs, "doc_a", "doc_b").select(
        "doc_a", "doc_b",
        F.round("jaccard", 6).alias("jaccard"),
        F.round("cosine", 9).alias("cosine"),
        F.when(F.col("cosine") >= XMODAL_AGREE, 1).otherwise(0).alias("embeddings_agree"),
    )


@register(
    "events_cumulative_uniques",
    oracle="""
    WITH first_day AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id
    ),
    daily AS (SELECT day, COUNT(*) AS n_new_users FROM first_day GROUP BY day)
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(n_new_users AS BIGINT) AS n_new_users,
           CAST(SUM(n_new_users) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
    FROM daily
    """,
    category="events",
)
def events_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day — the growth-curve metric that a
    naive COUNT(DISTINCT) OVER (ORDER BY day) cannot compute scalably
    (running distinct state grows unboundedly). The scalable reformulation:
    each user collapses to their FIRST event day (one keyed aggregate over
    user_id), daily new-user counts follow (second tiny aggregate), and
    the running sum over the ~days-sized frame is the only unpartitioned
    window — it touches hundreds of rows, not the event log."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    first_day = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("day"))
    daily = first_day.groupBy("day").agg(F.count("*").alias("n_new_users"))
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n_new_users").cast("long").alias("n_new_users"),
        F.sum("n_new_users").over(w).cast("long").alias("cum_users"),
    )


@register(
    "events_cooccurrence_pmi",
    oracle=f"""
    WITH u AS (SELECT DISTINCT user_id, event_type FROM events),
    tc AS (SELECT event_type, COUNT(*) AS c FROM u GROUP BY event_type),
    n AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM events),
    ab AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS c_ab
      FROM u a JOIN u b ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT ab.type_a, ab.type_b, CAST(ab.c_ab AS BIGINT) AS n_users_both,
           CAST(round(ln(CAST(ab.c_ab AS DOUBLE) * n.n_users
                         / (ca.c * cb.c)) * 1000000) AS BIGINT)
             AS pmi_fp
    FROM ab, n
    JOIN tc ca ON ab.type_a = ca.event_type
    JOIN tc cb ON ab.type_b = cb.event_type
    """,
    category="events",
)
def events_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence PMI (association mining over user
    baskets): for each unordered type pair, pointwise mutual information
    of the two types appearing in the same user's history, as fixed-point
    round(ln(c_ab x N / (c_a x c_b)) x 1e6) — exact integer counts feed
    one IEEE ln per OUTPUT row (pairs of a small type vocabulary), so
    engines agree bit-for-bit. The self-join is keyed on user_id over the
    DISTINCT (user, type) projection: per-user blowup is bounded by the
    type-vocabulary size, never by event volume."""
    e = t(spark, sf_dir, "events")
    u = e.select("user_id", "event_type").distinct()
    tc = u.groupBy("event_type").agg(F.count("*").alias("c"))
    n = e.agg(F.count_distinct("user_id").alias("n_users"))
    a = u.select("user_id", F.col("event_type").alias("type_a"))
    b = u.select("user_id", F.col("event_type").alias("type_b"))
    ab = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("c_ab"))
    )
    pmi = F.round(
        F.log(
            F.col("c_ab").cast("double") * F.col("n_users")
            / (F.col("ca") * F.col("cb"))
        ) * 1_000_000
    ).cast("long")
    return (
        ab.crossJoin(F.broadcast(n))
        .join(F.broadcast(tc.select(F.col("event_type").alias("type_a"),
                                    F.col("c").alias("ca"))), "type_a")
        .join(F.broadcast(tc.select(F.col("event_type").alias("type_b"),
                                    F.col("c").alias("cb"))), "type_b")
        .select(
            "type_a", "type_b",
            F.col("c_ab").cast("long").alias("n_users_both"),
            pmi.alias("pmi_fp"),
        )
    )


SHARD_BYTES = 4096  # target shard capacity (WebDataset-style tar shards)


@register(
    "multimodal_shard_manifest",
    oracle=f"""
    SELECT doc_id, source,
           CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
           CAST((cum - octet_length(encode(text))) // {SHARD_BYTES} AS BIGINT)
             AS shard_idx,
           CAST((cum - octet_length(encode(text))) % {SHARD_BYTES} AS BIGINT)
             AS shard_offset
    FROM (
      SELECT doc_id, source, text,
             SUM(octet_length(encode(text))) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM documents
    )
    """,
    category="multimodal",
)
def multimodal_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style shard assignment: pack payloads sequentially (by
    doc_id, within source) into ~{SHARD_BYTES}-byte shards and emit the
    manifest (shard index + byte offset of each payload's start) that the
    shard writer and any random-access reader share. The running byte sum
    is a window per SOURCE — shards never span sources, so the state per
    window is one long and the shuffle is keyed on source, not global.
    At 100 TB with few giant sources, sub-partition the ordering key
    (e.g. (source, doc_id div N)) — the manifest formula is unchanged."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    nbytes = F.length(F.encode(F.col("text"), "UTF-8")).cast("long")
    w = W.partitionBy("source").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    start = F.sum(nbytes).over(w) - nbytes
    return d.select(
        "doc_id", "source",
        nbytes.alias("payload_bytes"),
        (start / SHARD_BYTES).cast("long").alias("shard_idx"),
        (start % SHARD_BYTES).cast("long").alias("shard_offset"),
    )


@register(
    "curation_funnel_report",
    oracle=f"""
    WITH t0 AS (SELECT doc_id, source, string_split(text, ' ') AS w,
                       md5(text) AS h
                FROM documents),
    g AS (
      SELECT doc_id, source, h,
             CASE WHEN {_gopher_pass_sql()} THEN 1 ELSE 0 END AS pass_q,
             CASE WHEN {_BAD_HITS_SQL} > 0 THEN 1 ELSE 0 END AS has_bad
      FROM t0
    ),
    c AS (SELECT *, CASE WHEN MIN(doc_id) OVER (PARTITION BY h) = doc_id
                         THEN 1 ELSE 0 END AS canonical
          FROM g)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(pass_q) AS BIGINT) AS n_pass_quality,
           CAST(SUM(CASE WHEN pass_q = 1 AND has_bad = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pass_blocklist,
           CAST(SUM(CASE WHEN pass_q = 1 AND has_bad = 0 AND canonical = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_dedup
    FROM c GROUP BY source
    """,
    category="curation",
)
def curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation funnel — the survivor counts after each gate
    (quality battery -> blocklist -> exact dedup) that every production
    pipeline reports per batch: where documents die decides where tuning
    effort goes. Reuses the shared gate expressions (ext.text's
    gopher_audit_cols and lexicon_hits over BADWORDS) plus a
    canonical-by-content-hash window; one
    shuffle on the 16-byte hash, one tiny source aggregate. Funnel stages
    are successive ANDs, so each column is a subset of the previous —
    asserted by construction, not recomputed downstream."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    audited = d.select(
        "doc_id", "source", F.md5("text").alias("h"),
        gopher_audit_cols("text")[-1],  # passes_gopher
        (lexicon_hits(F.split("text", " "), BADWORDS) > 0).cast("int").alias("has_bad"),
    )
    canonical = (F.min("doc_id").over(W.partitionBy("h")) == F.col("doc_id")).cast("int")
    c = audited.withColumn("canonical", canonical)
    pq = F.col("passes_gopher") == 1
    nb = F.col("has_bad") == 0
    cn = F.col("canonical") == 1
    return c.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(pq, 1).otherwise(0)).cast("long").alias("n_pass_quality"),
        F.sum(F.when(pq & nb, 1).otherwise(0)).cast("long").alias("n_pass_blocklist"),
        F.sum(F.when(pq & nb & cn, 1).otherwise(0)).cast("long").alias("n_pass_dedup"),
    )


ZIPF_TOP = 100  # fit the slope over the top-R token ranks


@register(
    "text_zipf_slope",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    cnt AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok
            ORDER BY c DESC, tok LIMIT {ZIPF_TOP}),
    ranked AS (
      SELECT ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS r, c FROM cnt
    ),
    fp AS (
      SELECT CAST(round(ln(r) * 1e6) AS BIGINT) AS u,
             CAST(round(ln(c) * 1e6) AS BIGINT) AS v,
             CAST(round(ln(r) * ln(c) * 1e6) AS BIGINT) AS a,
             CAST(round(ln(r) * ln(r) * 1e6) AS BIGINT) AS b
      FROM ranked
    ),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(u) AS BIGINT) AS su,
                 CAST(SUM(v) AS BIGINT) AS sv, CAST(SUM(a) AS BIGINT) AS sa,
                 CAST(SUM(b) AS BIGINT) AS sb
          FROM fp)
    SELECT n AS n_terms,
           round((n * sa - CAST(su AS DOUBLE) * sv / 1e6)
                 / (n * sb - CAST(su AS DOUBLE) * su / 1e6), 6) AS zipf_slope,
           round((CAST(sv AS DOUBLE) / 1e6
                  - ((n * sa - CAST(su AS DOUBLE) * sv / 1e6)
                     / (n * sb - CAST(su AS DOUBLE) * su / 1e6))
                    * su / 1e6) / n, 6) AS zipf_intercept
    FROM s
    """,
    category="text",
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the top-{ZIPF_TOP} token frequencies: least-squares
    slope/intercept of ln(count) vs ln(rank) — natural corpora fit slope
    ~ -1; template spam and synthetic loops bend the curve, making this a
    one-row corpus-health gauge. Per-term ln products are rounded to
    fixed-point integers BEFORE the regression sums (order-independent,
    exact), and the closed-form slope does only IEEE double arithmetic on
    those exact integers — bit-identical across engines. Plan: one token
    count aggregate, a TakeOrdered top-{ZIPF_TOP} (no global sort), and a
    single-row reduction."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    cnt = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(ZIPF_TOP)
    )
    r = F.row_number().over(W.orderBy(F.col("c").desc(), "tok")).cast("double")
    ranked = cnt.select(r.alias("r"), F.col("c").cast("double").alias("c"))
    fp = ranked.select(
        F.round(F.log("r") * 1e6).cast("long").alias("u"),
        F.round(F.log("c") * 1e6).cast("long").alias("v"),
        F.round(F.log("r") * F.log("c") * 1e6).cast("long").alias("a"),
        F.round(F.log("r") * F.log("r") * 1e6).cast("long").alias("b"),
    )
    s = fp.agg(
        F.count("*").alias("n"), F.sum("u").alias("su"), F.sum("v").alias("sv"),
        F.sum("a").alias("sa"), F.sum("b").alias("sb"),
    )
    num = F.col("n") * F.col("sa") - F.col("su").cast("double") * F.col("sv") / 1e6
    den = F.col("n") * F.col("sb") - F.col("su").cast("double") * F.col("su") / 1e6
    slope = num / den
    return s.select(
        F.col("n").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            (F.col("sv").cast("double") / 1e6 - slope * F.col("su") / 1e6)
            / F.col("n"), 6
        ).alias("zipf_intercept"),
    )


IV_BIN_DAYS = 7  # weekly bins: every interval spans <= 4 bins at these widths


@register(
    "join_interval_overlap",
    oracle=f"""
    WITH a AS (
      SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS s,
             CAST(l_shipdate AS DATE) + (l_linenumber % 7 + 1) AS e
      FROM lineitem WHERE l_orderkey % 37 = 0
    ),
    b AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS s2,
             CAST(o_orderdate AS DATE) + 14 AS e2
      FROM orders WHERE o_orderkey % 53 = 0
    ),
    ax AS (
      SELECT a.*, unnest(range((s - DATE '1970-01-01') // {IV_BIN_DAYS},
                               (e - DATE '1970-01-01') // {IV_BIN_DAYS} + 1)) AS bin
      FROM a
    ),
    bx AS (
      SELECT b.*, unnest(range((s2 - DATE '1970-01-01') // {IV_BIN_DAYS},
                               (e2 - DATE '1970-01-01') // {IV_BIN_DAYS} + 1)) AS bin
      FROM b
    )
    SELECT DISTINCT ax.l_orderkey, ax.l_linenumber, bx.o_orderkey,
           CAST(least(ax.e, bx.e2) - greatest(ax.s, bx.s2) + 1 AS BIGINT)
             AS overlap_days
    FROM ax JOIN bx ON ax.bin = bx.bin
    WHERE ax.s <= bx.e2 AND bx.s2 <= ax.e
    """,
    category="join",
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (large x large): ship windows vs promo
    windows, matched where the date ranges intersect. Neither side is
    broadcastable at 100 TB, so both explode into fixed-width
    ({IV_BIN_DAYS}-day) time bins and meet in a BIN-KEYED equi-join —
    work is O(overlapping-bin pairs), never |A| x |B|; DISTINCT collapses
    multi-bin duplicates of the same pair. Same discipline as
    join_range_binned, extended from point-in-interval to
    interval-interval. Bin width tunes the explode factor vs join
    selectivity trade (intervals here span <= 4 bins)."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    epoch = "DATE'1970-01-01'"
    a = li.filter(F.col("l_orderkey") % 37 == 0).select(
        "l_orderkey", "l_linenumber",
        F.to_date("l_shipdate").alias("s"),
        F.date_add(F.to_date("l_shipdate"),
                   (F.col("l_linenumber") % 7 + 1).cast("int")).alias("e"),
    )
    b = o.filter(F.col("o_orderkey") % 53 == 0).select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("s2"),
        F.date_add(F.to_date("o_orderdate"), 14).alias("e2"),
    )
    ax = a.withColumn(
        "bin",
        F.explode(F.sequence(
            F.expr(f"datediff(s, {epoch}) div {IV_BIN_DAYS}"),
            F.expr(f"datediff(e, {epoch}) div {IV_BIN_DAYS}"),
        )),
    )
    bx = b.withColumn(
        "bin",
        F.explode(F.sequence(
            F.expr(f"datediff(s2, {epoch}) div {IV_BIN_DAYS}"),
            F.expr(f"datediff(e2, {epoch}) div {IV_BIN_DAYS}"),
        )),
    )
    return (
        ax.join(bx, "bin")
        .filter((F.col("s") <= F.col("e2")) & (F.col("s2") <= F.col("e")))
        .select(
            "l_orderkey", "l_linenumber", "o_orderkey",
            (F.datediff(F.least("e", "e2"), F.greatest("s", "s2")) + 1)
                .cast("long").alias("overlap_days"),
        )
        .distinct()
    )


EWMA_K = 8  # truncated exponential window: weights 2^-k over the last K rows


def _ewma_terms_sql() -> tuple[str, str]:
    """(weighted_sum, weight_sum) SQL over lag columns ``vfp`` (fixed-point
    value) — identical text for both engines (lag/CASE/integer arithmetic
    only). Weight for lag k is 2^({EWMA_K}-1-k): integer, exact."""
    num, den = [], []
    for k in range(EWMA_K):
        w = 2 ** (EWMA_K - 1 - k)
        col = "vfp" if k == 0 else f"lag(vfp, {k}) OVER w"
        num.append(f"COALESCE({col} * {w}, 0)")
        den.append(f"CASE WHEN {col} IS NULL THEN 0 ELSE {w} END")
    return " + ".join(num), " + ".join(den)


_EWMA_NUM, _EWMA_DEN = _ewma_terms_sql()


@register(
    "window_ewma_smooth",
    oracle=f"""
    SELECT user_id, event_id, round(value, 6) AS value,
           round(CAST(({_EWMA_NUM}) AS DOUBLE)
                 / (({_EWMA_DEN}) * 1e6), 6) AS ewma
    FROM (SELECT user_id, event_id, ts, value,
                 CAST(round(value * 1e6) AS BIGINT) AS vfp
          FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    category="window",
)
def window_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha = 1/2, truncated at
    {EWMA_K} lags) of each user's event values in time order — the
    time-series smoother behind anomaly baselines. Determinism: values
    are fixed-point-quantized, weights are exact powers of two, so the
    weighted sum is pure integer arithmetic with one final IEEE division
    — bit-identical across engines (a float pow(alpha,k) recurrence is
    not). One hash shuffle on user_id; all {EWMA_K} lags share a single
    window frame, so Catalyst plans ONE Window operator, not {EWMA_K}."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    base = e.select(
        "user_id", "event_id", "value",
        F.round(F.col("value") * 1e6).cast("long").alias("vfp"),
        "ts",
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    num, den = None, None
    for k in range(EWMA_K):
        wt = 2 ** (EWMA_K - 1 - k)
        col = F.col("vfp") if k == 0 else F.lag("vfp", k).over(w)
        n_k = F.coalesce(col * wt, F.lit(0))
        d_k = F.when(col.isNull(), 0).otherwise(wt)
        num = n_k if num is None else num + n_k
        den = d_k if den is None else den + d_k
    return base.select(
        "user_id", "event_id",
        F.round("value", 6).alias("value"),
        F.round(num.cast("double") / (den * 1e6), 6).alias("ewma"),
    )


NORM_LO_FP = 6_500_000  # healthy squared-norm band (fixed-point 1e6 units):
NORM_HI_FP = 9_500_000  # 64-dim N(0, 0.125)-ish vectors land in ~[6.5, 9.5]


@register(
    "quality_embedding_norm_audit",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label,
             CAST(list_sum(list_transform(embedding,
                  x -> CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT)
                       * CAST(round(CAST(x AS DOUBLE) * 1048576) AS BIGINT)))
                  AS BIGINT) AS nq
      FROM embeddings
    ),
    f AS (SELECT vec_id, label,
                 CAST(round(nq / 1099511627776.0 * 1e6) AS BIGINT) AS norm2_fp
          FROM q)
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(MIN(norm2_fp) AS BIGINT) AS min_norm2_fp,
           CAST(MAX(norm2_fp) AS BIGINT) AS max_norm2_fp,
           CAST(SUM(norm2_fp) AS BIGINT) AS sum_norm2_fp,
           CAST(SUM(CASE WHEN norm2_fp = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero_vecs,
           CAST(SUM(CASE WHEN norm2_fp BETWEEN {NORM_LO_FP} AND {NORM_HI_FP}
                         THEN 0 ELSE 1 END) AS BIGINT) AS n_outliers
    FROM f GROUP BY label
    """,
    category="quality",
)
def quality_embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-health audit per label: squared-norm min/max/sum,
    zero-vector count, and out-of-band count — the cheap invariant checks
    that catch collapsed encoders, dead batches, and unnormalized mixes
    before any similarity op consumes the vectors. Norms are exact
    integer sums of quantized squares (2^20 scale; /2^40 renormalizes),
    fixed-pointed BEFORE aggregation so every statistic is
    order-independent. One narrow scan + one tiny label aggregate."""
    e = t(spark, sf_dir, "embeddings")
    qv = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * 1048576).cast("long")
    )
    nq = F.aggregate(
        F.transform(qv, lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    norm2_fp = F.round(nq / F.lit(1099511627776.0) * 1e6).cast("long")
    f = e.select("vec_id", "label", norm2_fp.alias("norm2_fp"))
    inband = F.col("norm2_fp").between(NORM_LO_FP, NORM_HI_FP)
    return f.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.min("norm2_fp").alias("min_norm2_fp"),
        F.max("norm2_fp").alias("max_norm2_fp"),
        F.sum("norm2_fp").alias("sum_norm2_fp"),
        F.sum(F.when(F.col("norm2_fp") == 0, 1).otherwise(0)).cast("long")
            .alias("n_zero_vecs"),
        F.sum(F.when(inband, 0).otherwise(1)).cast("long").alias("n_outliers"),
    )


@register(
    "dedup_graph_degree_stats",
    oracle=f"""
    WITH pairs AS (SELECT * FROM ({_REGISTRY["dedup_minhash_verified"].oracle})),
    deg AS (
      SELECT doc_id, COUNT(*) AS degree FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL
        SELECT doc_b AS doc_id FROM pairs
      ) GROUP BY doc_id
    )
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM deg GROUP BY degree
    """,
    category="dedup",
)
def dedup_graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the verified near-dup graph: how many documents
    have 1, 2, ... near-duplicates. The shape decides the dedup strategy
    at scale — a heavy tail (template hubs) calls for component capping
    before connected components, a flat degree-1 profile means pair-level
    keep-one suffices and the iterative CC pass can be skipped entirely.
    Cost: the verified-pair subplan plus two tiny aggregates over the
    pair set."""
    from glue_etl_framework_spark.queries.dedup import dedup_minhash_verified

    pairs = dedup_minhash_verified(spark, sf_dir)
    deg = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count("*").alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count("*").alias("n_docs"))


KL_SCALE = 1_000_000_000  # per-term fixed-point scale for KL contributions


@register(
    "text_source_drift_kl",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    cst AS (SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY source, tok),
    ct AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS ctot FROM cst GROUP BY tok),
    ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cst GROUP BY source),
    nn AS (SELECT source, n, CAST(SUM(n) OVER () AS BIGINT) AS big_n FROM ns),
    terms AS (
      SELECT cst.source,
             CAST(round(CAST(cst.c AS DOUBLE) / nn.n
                        * ln(CAST(cst.c AS DOUBLE) * nn.big_n
                             / (CAST(nn.n AS DOUBLE) * ct.ctot))
                        * {KL_SCALE}) AS BIGINT) AS kfp
      FROM cst JOIN ct ON cst.tok = ct.tok
      JOIN nn ON cst.source = nn.source
    )
    SELECT t.source, nn.n AS n_tokens,
           CAST(SUM(t.kfp) AS BIGINT) AS kl_fp,
           round(CAST(SUM(t.kfp) AS DOUBLE) / {KL_SCALE}, 6) AS kl_nats
    FROM terms t JOIN nn ON t.source = nn.source
    GROUP BY t.source, nn.n
    """,
    category="quality",
)
def text_source_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-vs-corpus distribution drift: KL(source unigram dist ||
    corpus unigram dist) per source — the shift detector that flags a
    crawl slice whose token mix diverged (new boilerplate, language
    drift, spam bursts). No smoothing needed: every source token exists
    in the corpus by construction. Per-token KL contributions are
    fixed-point-rounded (exact integer inputs to one ln each) and summed
    as integers — order-independent. Plan: one (source, token) count
    aggregate; corpus token totals and per-source totals both DERIVE from
    that frame (no rescan); the global total is a window over the
    #sources-row frame. Joins: the corpus token totals are VOCABULARY-
    sized (grows with the corpus — 100M+ types on a real crawl), so that
    join is an unhinted tok-keyed equi-join (AQE may still broadcast it
    at small scale); only the #sources-row lookup is hint-broadcast.
    The corpus text is scanned once."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    cst = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
    )
    ct = cst.groupBy("tok").agg(F.sum("c").alias("ctot"))
    ns = cst.groupBy("source").agg(F.sum("c").alias("n"))
    nn = ns.withColumn("big_n", F.sum("n").over(W.partitionBy()))
    kfp = F.round(
        F.col("c").cast("double") / F.col("n")
        * F.log(
            F.col("c").cast("double") * F.col("big_n")
            / (F.col("n").cast("double") * F.col("ctot"))
        )
        * KL_SCALE
    ).cast("long")
    terms = (
        cst.join(ct, "tok")
        .join(F.broadcast(nn), "source")
        .select("source", "n", kfp.alias("kfp"))
    )
    return terms.groupBy("source", "n").agg(
        F.sum("kfp").alias("kl_fp"),
        F.round(F.sum("kfp").cast("double") / KL_SCALE, 6).alias("kl_nats"),
    ).select(
        "source", F.col("n").alias("n_tokens"), "kl_fp", "kl_nats"
    )


_CLUSTER_HIST_ORACLE = f"""
    WITH comp AS (
      SELECT * FROM ({_REGISTRY["dedup_connected_components"].oracle})
    ),
    sizes AS (SELECT component, COUNT(*) AS sz FROM comp GROUP BY component)
    SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
    FROM sizes GROUP BY sz
"""


@register(
    "dedup_cluster_size_hist",
    oracle=_CLUSTER_HIST_ORACLE,
    category="dedup",
)
def dedup_cluster_size_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram over the connected components of
    the near-dup graph: the capacity-planning number for dedup (N docs in
    size-k clusters -> N - N/k survivors) and the early warning for
    template explosions (a single giant component means the LSH threshold
    or the shingling broke). Two tiny aggregates on top of the CC
    subplan; singleton docs form size-1 clusters, preserved so the
    histogram sums to the corpus size."""
    from glue_etl_framework_spark.queries.dedup import dedup_connected_components

    comp = dedup_connected_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count("*").alias("sz"))
    return sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count("*").alias("n_clusters")
    )


BOT_RATE_PER_MIN = 3  # flag users sustaining > 3 events in any single minute


@register(
    "events_bot_detection",
    oracle=f"""
    WITH perm AS (
      SELECT user_id, date_trunc('minute', ts) AS m, COUNT(*) AS c
      FROM events GROUP BY user_id, date_trunc('minute', ts)
    )
    SELECT user_id,
           CAST(MAX(c) AS BIGINT) AS peak_per_min,
           CAST(SUM(c) AS BIGINT) AS n_events,
           CASE WHEN MAX(c) > {BOT_RATE_PER_MIN} THEN 1 ELSE 0 END AS flagged_bot
    FROM perm GROUP BY user_id
    """,
    category="events",
)
def events_bot_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-based bot flagging: a user's peak events-per-minute and a flag
    when it exceeds {BOT_RATE_PER_MIN} — the standard pre-filter that
    keeps scripted traffic out of behavioral training data. Two keyed
    hash aggregates ((user, minute) then user), both with map-side
    partials; no windows, no state — linear at any event volume and
    robust to hot users because the first aggregate already collapses
    their rows to one per minute."""
    e = t(spark, sf_dir, "events")
    perm = e.groupBy("user_id", F.date_trunc("minute", "ts").alias("m")).agg(
        F.count("*").alias("c")
    )
    return perm.groupBy("user_id").agg(
        F.max("c").alias("peak_per_min"),
        F.sum("c").alias("n_events"),
        F.when(F.max("c") > BOT_RATE_PER_MIN, 1).otherwise(0).alias("flagged_bot"),
    )


# --- DSIR-style importance weighting -------------------------------------
# Hashed n-gram importance resampling (Xie et al., "Data Selection for
# Language Models via Importance Resampling", NeurIPS 2023): score every
# document by how target-domain-like its hashed unigram distribution is,
# lambda(b) = ln p_target(b) - ln p_raw(b) over hashed feature buckets.

DSIR_BUCKETS = 4096  # md5-prefix space: 16^3 hex buckets
DSIR_TARGET_LANG = "en"  # the "target domain": English docs


@register(
    "sample_importance_dsir",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    feat AS (
      SELECT doc_id, lang, substr(md5(token), 1, 3) AS bucket FROM toks
    ),
    buckets AS (
      SELECT bucket,
             CAST(COUNT(*) AS BIGINT) AS rc,
             CAST(SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS BIGINT) AS tc
      FROM feat GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(SUM(rc) AS BIGINT) AS rt, CAST(SUM(tc) AS BIGINT) AS tt FROM buckets
    ),
    lam AS (
      SELECT b.bucket,
             CAST(round((ln(CAST(b.tc + 1 AS DOUBLE) / (tot.tt + {DSIR_BUCKETS}.0))
                       - ln(CAST(b.rc + 1 AS DOUBLE) / (tot.rt + {DSIR_BUCKETS}.0)))
                       * {LM_SCALE}) AS BIGINT) AS lam_fp
      FROM buckets b CROSS JOIN tot
    )
    SELECT f.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(l.lam_fp) AS BIGINT) AS dsir_fp,
           CAST(SUM(l.lam_fp) AS DOUBLE) / COUNT(*) AS per_token_fp
    FROM feat f JOIN lam l ON f.bucket = l.bucket
    GROUP BY f.doc_id
    """,
    category="curation",
)
def sample_importance_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weighting: per-document log importance ratio
    sum_b lambda(b) with lambda(b) = ln p_target(b) - ln p_raw(b) over
    hashed unigram buckets (md5 3-hex-prefix, 4096 buckets; add-1
    smoothing). The target domain here is the corpus's English subset;
    the raw distribution is the whole corpus — swap either for any
    reference corpus without changing the plan. High scores mark docs to
    up-sample when fitting a target domain on a raw crawl.

    Scale: the bucket table is FIXED SIZE (4096 rows) no matter the corpus
    — unlike a vocabulary table it cannot grow — so the lambda join is a
    permanent broadcast. Two shuffles: the 4096-key bucket count (map-side
    partials collapse each task to <=4096 rows, so hot buckets cannot
    skew) and the per-doc sum. Lambdas are fixed-point longs (round 1e-6
    precedent of text_unigram_logprob) so the per-doc sum is exact in any
    order; the per-token average divides the same two integers on both
    engines."""
    d = t(spark, sf_dir, "documents")
    feat = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    ).select("doc_id", "lang", F.substring(F.md5("token"), 1, 3).alias("bucket"))
    buckets = feat.groupBy("bucket").agg(
        F.count("*").alias("rc"),
        F.sum(F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)).alias("tc"),
    )
    tot = buckets.agg(F.sum("rc").alias("rt"), F.sum("tc").alias("tt"))
    lam_fp = F.round(
        (
            F.log((F.col("tc") + 1).cast("double") / (F.col("tt") + float(DSIR_BUCKETS)))
            - F.log((F.col("rc") + 1).cast("double") / (F.col("rt") + float(DSIR_BUCKETS)))
        )
        * LM_SCALE
    ).cast("long")
    lam = buckets.crossJoin(F.broadcast(tot)).select("bucket", lam_fp.alias("lam_fp"))
    return (
        feat.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("lam_fp").alias("dsir_fp"),
            (F.sum("lam_fp").cast("double") / F.count("*")).alias("per_token_fp"),
        )
    )


# --- robust outlier detection --------------------------------------------

MAD_K = 3.0  # flag beyond 3 scaled-MADs
MAD_SCALE = 1.4826  # normal-consistency constant


@register(
    "quality_mad_outliers",
    oracle=f"""
    WITH med AS (
      SELECT lang, quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS med
      FROM documents GROUP BY lang
    ),
    dev AS (
      SELECT d.doc_id, d.lang, d.n_chars, m.med,
             abs(d.n_chars - m.med) AS adev
      FROM documents d JOIN med m ON d.lang = m.lang
    ),
    mad AS (
      SELECT lang, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY lang
    )
    SELECT v.doc_id, v.lang, v.n_chars,
           CASE WHEN v.adev > {MAD_K} * {MAD_SCALE} * m.mad AND m.mad > 0
                THEN 1 ELSE 0 END AS outlier
    FROM dev v JOIN mad m ON v.lang = m.lang
    """,
    category="quality",
)
def quality_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-language length-outlier flag: |x - median| > 3 * 1.4826 *
    MAD (median absolute deviation). Unlike z-scores (events_anomaly_zscore)
    the median/MAD pair is immune to the outliers it hunts — the standard
    robust gate for corpus length screens. Two tiny per-lang aggregates
    (exact interpolated percentile: Spark `percentile` == DuckDB
    `quantile_cont`, the established parity) broadcast back onto the scan;
    the doc-level data itself never shuffles. At 100 TB swap the exact
    percentile for approx_percentile(..., 1e-5) — same plan shape, bounded
    memory per group — exact is kept here for the bit-identical oracle."""
    d = t(spark, sf_dir, "documents")
    med = d.groupBy("lang").agg(
        F.percentile(F.col("n_chars").cast("double"), F.lit(0.5)).alias("med")
    )
    dev = d.join(F.broadcast(med), "lang").select(
        "doc_id", "lang", "n_chars", F.abs(F.col("n_chars") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("lang").agg(F.percentile("adev", F.lit(0.5)).alias("mad"))
    return dev.join(F.broadcast(mad), "lang").select(
        "doc_id",
        "lang",
        "n_chars",
        F.when(
            (F.col("adev") > MAD_K * MAD_SCALE * F.col("mad")) & (F.col("mad") > 0), 1
        )
        .otherwise(0)
        .alias("outlier"),
    )


# --- pretrained linear quality classifier ---------------------------------
# fastText-style inference: a FIXED hashed bag-of-words weight vector
# applied at scan throughput. The weights here are a deterministic stand-in
# (derived from md5 of the feature bucket — portable across engines);
# swapping in real trained weights is a broadcast-table swap, not a plan
# change.


@register(
    "quality_hashed_classifier",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    scored AS (
      SELECT doc_id,
             CAST(ascii(substr(md5('w:' || substr(md5(token), 1, 3)), 1, 1)) - 80 AS BIGINT) AS w_fp
      FROM toks
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(w_fp) AS BIGINT) AS score_fp,
           CASE WHEN CAST(SUM(w_fp) AS DOUBLE) / COUNT(*) > 0 THEN 1 ELSE 0 END AS keep
    FROM scored GROUP BY doc_id
    """,
    category="quality",
)
def quality_hashed_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier inference (the fastText-classifier step of
    CCNet/LLaMA-style pipelines) as pure scan arithmetic: each token maps
    to a hashed feature bucket, each bucket to a fixed integer weight, and
    the document's score is the mean weight; keep = score > 0. The weight
    "model" is computed inline from md5 (deterministic both engines) —
    with trained weights it becomes a 4096-row broadcast join, same plan.
    ONE shuffle (the per-doc sum); no corpus-wide state at all, so
    classification throughput is scan throughput at any corpus size."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    w_fp = (
        F.ascii(
            F.substring(F.md5(F.concat(F.lit("w:"), F.substring(F.md5("token"), 1, 3))), 1, 1)
        )
        - 80
    ).cast("long")
    scored = toks.select("doc_id", w_fp.alias("w_fp"))
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("w_fp").alias("score_fp"),
        F.when(F.sum("w_fp").cast("double") / F.count("*") > 0, 1)
        .otherwise(0)
        .alias("keep"),
    )


# --- multi-resolution time rollup -----------------------------------------


@register(
    "events_multires_rollup",
    oracle="""
    SELECT CASE WHEN GROUPING(h) = 1 THEN 'day'
                WHEN GROUPING(m) = 1 THEN 'hour'
                ELSE 'minute' END AS resolution,
           d, h, m,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS total_value
    FROM (
      SELECT date_trunc('day', ts) AS d, date_trunc('hour', ts) AS h,
             date_trunc('minute', ts) AS m, value
      FROM events
    ) b
    GROUP BY GROUPING SETS ((d), (d, h), (d, h, m))
    """,
    category="time-window",
)
def events_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: minute, hour, and day
    resolutions of the event stream in ONE pass via GROUPING SETS over
    truncated-timestamp columns (a single Expand + one hash aggregate —
    not three scans unioned). The resolution label decodes the grouping
    bits, so downstream dashboards filter one materialized table by
    resolution. Value sums are integer cents (exact any order). At 100 TB
    the Expand produces 3 rows per event pre-aggregation; map-side partial
    aggregation collapses them within each scan task, so the shuffle
    carries only group cardinality (minutes+hours+days), not event
    volume."""
    e = t(spark, sf_dir, "events")
    b = e.select(
        F.date_trunc("day", "ts").alias("d"),
        F.date_trunc("hour", "ts").alias("h"),
        F.date_trunc("minute", "ts").alias("m"),
        "value",
    )
    g = b.groupingSets([["d"], ["d", "h"], ["d", "h", "m"]], "d", "h", "m")
    return g.agg(
        F.when(F.grouping("h") == 1, "day")
        .when(F.grouping("m") == 1, "hour")
        .otherwise("minute")
        .alias("resolution"),
        F.count("*").alias("n_events"),
        (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("total_value"),
    ).select("resolution", "d", "h", "m", "n_events", "total_value")


# --- categorical association audit ----------------------------------------


@register(
    "quality_chi2_association",
    oracle=f"""
    WITH obs AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o FROM documents GROUP BY lang, source
    ),
    rows_ AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS rt FROM obs GROUP BY lang),
    cols_ AS (SELECT source, CAST(SUM(o) AS BIGINT) AS ct FROM obs GROUP BY source),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs)
    SELECT obs.lang, obs.source, obs.o AS observed,
           CAST(round(CAST(rows_.rt * cols_.ct AS DOUBLE) / tot.n * {LM_SCALE}) AS BIGINT) AS expected_fp,
           CAST(round(
             (obs.o - CAST(rows_.rt * cols_.ct AS DOUBLE) / tot.n)
             * (obs.o - CAST(rows_.rt * cols_.ct AS DOUBLE) / tot.n)
             / (CAST(rows_.rt * cols_.ct AS DOUBLE) / tot.n) * {LM_SCALE}) AS BIGINT) AS chi2_term_fp
    FROM obs
    JOIN rows_ ON obs.lang = rows_.lang
    JOIN cols_ ON obs.source = cols_.source
    CROSS JOIN tot
    """,
    category="quality",
)
def quality_chi2_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared association audit between document language and source:
    per-cell observed count, expected count under independence, and the
    cell's chi-squared contribution — the standard check that a corpus's
    language mix isn't driven by a few sources (cells with large terms are
    the skew culprits). ONE shuffle builds the contingency table; row and
    column marginals derive from the table itself (tiny re-aggregations,
    broadcast back), the grand total is a 1-row cross join. Expected
    counts and chi-squared terms are exact-integer products divided once
    in double — identical operation order on both engines — then
    fixed-pointed for hash-stable comparison."""
    d = t(spark, sf_dir, "documents")
    obs = d.groupBy("lang", "source").agg(F.count("*").alias("o"))
    rows_ = obs.groupBy("lang").agg(F.sum("o").alias("rt"))
    cols_ = obs.groupBy("source").agg(F.sum("o").alias("ct"))
    tot = obs.agg(F.sum("o").alias("n"))
    exp = (F.col("rt") * F.col("ct")).cast("double") / F.col("n")
    return (
        obs.join(F.broadcast(rows_), "lang")
        .join(F.broadcast(cols_), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            F.col("o").alias("observed"),
            F.round(exp * LM_SCALE).cast("long").alias("expected_fp"),
            F.round((F.col("o") - exp) * (F.col("o") - exp) / exp * LM_SCALE)
            .cast("long")
            .alias("chi2_term_fp"),
        )
    )


# --- weighted sampling without replacement --------------------------------
# Efraimidis–Spirakis exponential keys: top-k by u^(1/w) (equivalently by
# ln(u)/w) draws a weighted sample without replacement. u comes from md5 of
# the doc id — engine-portable and reproducible — via hex-digit expansion.

WEIGHTED_K = 20  # sample size per language stratum

# Divisors are written in e-notation: Spark parses a plain `16.0` literal as
# DECIMAL and decimal division truncates the quotient's scale; `1.6e1` is a
# DOUBLE literal in both engines, keeping every term in float64.
_HEX_U_SQL = (
    "("
    + " + ".join(
        f"(position(substr(md5(CAST(doc_id AS VARCHAR)), {i}, 1) IN '0123456789abcdef') - 1)"
        f" / {16.0 ** i:e}"
        for i in range(1, 9)
    )
    + " + 1e-12)"
)


def _hex_u_spark():
    expr = (
        "("
        + " + ".join(
            f"(position(substr(md5(CAST(doc_id AS STRING)), {i}, 1) IN '0123456789abcdef') - 1)"
            f" / {16.0 ** i:e}"
            for i in range(1, 9)
        )
        + " + 1e-12)"
    )
    return F.expr(expr)


@register(
    "sample_weighted_aes",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             CAST(round(ln({_HEX_U_SQL}) / n_chars * 1000000000) AS BIGINT) AS key_fp
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, lang, n_chars, key_fp,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY key_fp DESC, doc_id) AS rn
      FROM keyed
    )
    SELECT doc_id, lang, n_chars, key_fp, CAST(rn AS BIGINT) AS rn
    FROM ranked WHERE rn <= {WEIGHTED_K}
    """,
    category="curation",
)
def sample_weighted_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-ES):
    per language stratum, keep the top-{WEIGHTED_K} docs by the key
    ln(u)/w with w = n_chars — equivalent to drawing docs with probability
    proportional to length, the standard token-budget-aware sampler. The
    uniform u is md5-derived (8 hex digits -> (0,1)), so the "random"
    draw is reproducible across runs AND engines; keys are fixed-pointed
    to 1e-9 so rank order is an integer comparison on both engines (ln
    ULP noise absorbed, doc_id tiebreak). One stratum-keyed shuffle;
    Spark plans the rank-filter as WindowGroupLimit so only ~K rows per
    stratum survive the map side — at 100 TB the shuffle carries
    K x |strata| rows, not the corpus."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    key_fp = F.round(F.log(_hex_u_spark()) / F.col("n_chars") * 1e9).cast("long")
    keyed = d.select("doc_id", "lang", "n_chars", key_fp.alias("key_fp"))
    w = W.partitionBy("lang").orderBy(F.desc("key_fp"), "doc_id")
    return (
        keyed.select("doc_id", "lang", "n_chars", "key_fp",
                     F.row_number().over(w).cast("long").alias("rn"))
        .filter(F.col("rn") <= WEIGHTED_K)
    )


# --- Pareto skyline -------------------------------------------------------

SKYLINE_BUCKETS = 32  # level-1 fan-in for the two-level skyline


def _skyline_filter(df: DataFrame, part_cols: list[str]) -> DataFrame:
    """One skyline pass: two RANGE-frame running maxima over the price
    order (within ``part_cols`` if given, else global). A row survives iff
    no row is cheaper-with-size>=, nor equal-or-cheaper-with-size>."""
    from pyspark.sql import Window as W

    base = W.partitionBy(*part_cols) if part_cols else W
    w_cheaper = base.orderBy("price_cents").rangeBetween(W.unboundedPreceding, -1)
    w_upto = base.orderBy("price_cents").rangeBetween(W.unboundedPreceding, W.currentRow)
    framed = df.select(
        *df.columns,
        F.max("p_size").over(w_cheaper).alias("max_cheaper"),
        F.max("p_size").over(w_upto).alias("max_upto"),
    )
    return framed.filter(
        (F.col("max_cheaper").isNull() | (F.col("max_cheaper") < F.col("p_size")))
        & (F.col("max_upto") <= F.col("p_size"))
    ).drop("max_cheaper", "max_upto")


@register(
    "part_pareto_skyline",
    oracle="""
    WITH priced AS (
      SELECT p_partkey, p_name, p_size,
             CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_cents
      FROM part
    ),
    framed AS (
      SELECT p_partkey, p_name, p_size, price_cents,
             MAX(p_size) OVER (ORDER BY price_cents
                               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS max_cheaper,
             MAX(p_size) OVER (ORDER BY price_cents
                               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS max_upto
      FROM priced
    )
    SELECT p_partkey, p_name, p_size, price_cents / 100.0 AS price
    FROM framed
    WHERE (max_cheaper IS NULL OR max_cheaper < p_size) AND max_upto <= p_size
    """,
    category="quality",
)
def part_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of parts: minimize price, maximize size —
    a part survives iff no part is cheaper-and-at-least-as-large nor
    equal-or-cheaper-and-strictly-larger. The classic quadratic anti-join
    collapses to two RANGE-frame running maxima over the price order
    (strictly-cheaper via 1 PRECEDING on integer cents, cheaper-or-equal
    via CURRENT ROW). Executed as TWO levels because the input grows with
    sf: level 1 buckets rows by hash(p_partkey) % {SKYLINE_BUCKETS} and
    takes the local skyline per bucket with a PARTITIONED window (any
    globally dominated row is either dominated inside its bucket — pruned
    here — or survives into level 2; no global-skyline row is ever
    dropped). Level 2 re-runs the same filter globally over the union of
    local skylines — a 2-D skyline is typically O(log n) per bucket, so
    the single-task window at level 2 sees ~{SKYLINE_BUCKETS} x log n
    rows, not the input (skyline-of-skylines is associative). The oracle
    keeps the one-level global formulation: both produce exactly the
    global skyline. Prices ordered as integer cents, so frames and ties
    are exact on both engines."""
    p = t(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_size",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
    )
    bucketed = p.withColumn("bkt", F.pmod(F.col("p_partkey"), F.lit(SKYLINE_BUCKETS)))
    local = _skyline_filter(bucketed, ["bkt"]).drop("bkt")
    return _skyline_filter(local, []).select(
        "p_partkey", "p_name", "p_size", (F.col("price_cents") / 100.0).alias("price")
    )


# --- asymmetric containment -----------------------------------------------

_TRIGRAM_SQL = """
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, length(w) - 1),
                                   i -> array_to_string(w[i:i+2], ' '))) AS g
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      WHERE length(w) >= 3
"""

CONTAIN_MIN = 0.5  # report pairs where >= 50% of A's trigrams appear in B

from glue_etl_framework_spark.queries.dedup import SHINGLE_DF_CAP  # noqa: E402


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH g0 AS ({_TRIGRAM_SQL}),
    g AS (
      SELECT doc_id, g FROM g0
      QUALIFY COUNT(*) OVER (PARTITION BY g) <= {SHINGLE_DF_CAP}
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS shared
      FROM g a JOIN g b ON a.g = b.g AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b, i.shared, sa.n AS n_a,
           round(CAST(i.shared AS DOUBLE) / sa.n, 6) AS containment
    FROM inter i JOIN sizes sa ON i.doc_a = sa.doc_id
    WHERE CAST(i.shared AS DOUBLE) / sa.n >= {CONTAIN_MIN}
    """,
    category="dedup",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment |S(A) intersect S(B)| / |S(A)| over distinct
    trigram shingles — catches SUBSUMED documents (quotes, excerpts, a doc
    pasted inside a longer one) that symmetric Jaccard under-scores: a
    200-token doc fully inside a 10k-token doc has Jaccard ~0.02 but
    containment 1.0. Same banded scale shape as dedup_ngram_jaccard: docs
    meet only through the trigram equi-join (shingle-keyed shuffle, never
    all-pairs), one (a,b) count aggregate, then an unhinted equi-join to
    attach per-doc shingle counts (one row per document — data-sized, so
    NO broadcast hint; AQE picks broadcast only when genuinely small).
    Hot-key guard: shingles whose document frequency exceeds
    SHINGLE_DF_CAP (stop-phrase trigrams — a DF-k shingle alone yields
    k^2 candidate pairs) are dropped from BOTH the numerator and the
    denominator on both engines; see dedup.SHINGLE_DF_CAP for the recall
    trade. Directional: (A,B) and (B,A) both emitted with their own
    denominators. Trigrams are hashed to 64-bit tokens before the first
    shuffle (token-dictionary compression — rationale and collision
    arithmetic in dedup.dedup_prefix_filter_jaccard's docstring; the
    oracle stays string-exact, so the driver certifies the equivalence)."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    g0 = (
        d.select("doc_id", F.explode(shingle_array()).alias("g"))
        .distinct()
        .select("doc_id", F.xxhash64("g").alias("g"))
    )
    # DF ceiling via a shingle-partitioned window: one shuffle on g, which
    # the candidate self-join below reuses (same key). r15 optimization
    # note: an eager localCheckpoint here (three consumers of g) measured
    # NEUTRAL at sf0.1 — AQE's ReusedExchange already shares the window's
    # exchange across the consumers — so the plan-pure form stays
    # (probes/abx_r15opt_main.txt).
    g = (
        g0.withColumn("df_ct", F.count("*").over(W.partitionBy("g")))
        .filter(F.col("df_ct") <= SHINGLE_DF_CAP)
        .drop("df_ct")
    )
    sizes = g.groupBy("doc_id").agg(F.count("*").alias("n"))
    ga = g.select(F.col("doc_id").alias("doc_a"), "g")
    gb = g.select(F.col("doc_id").alias("doc_b"), "g")
    # shared-count is symmetric, so aggregate each unordered pair ONCE
    # (doc_a < doc_b applied inside the join probe) and emit the two
    # directional rows AFTER the aggregate with a 2-element explode —
    # halves the pair-stream shuffle into the groupBy, the operator's
    # dominant exchange, without a union (one subtree, nothing recomputed).
    inter_sym = (
        ga.join(gb, "g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"))
    )
    inter = inter_sym.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("doc_a"),
                    F.col("doc_b").alias("doc_b"),
                    F.col("shared").alias("shared"),
                ),
                F.struct(
                    F.col("doc_b").alias("doc_a"),
                    F.col("doc_a").alias("doc_b"),
                    F.col("shared").alias("shared"),
                ),
            )
        ).alias("x")
    ).select("x.doc_a", "x.doc_b", "x.shared")
    contain = F.col("shared").cast("double") / F.col("n_a")
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")),
            "doc_a",
        )
        .filter(contain >= CONTAIN_MIN)
        .select("doc_a", "doc_b", "shared", "n_a", F.round(contain, 6).alias("containment"))
    )


# --- PageRank over the transaction graph ----------------------------------
# Fixed-point, fixed-iteration power method: each iteration is one
# edge-join + destination aggregate — the BSP PageRank shape. Per-edge
# contributions and per-node ranks are rounded to 1e-9 fixed point at every
# step, so both engines walk the identical integer trajectory.

PR_DAMP = 0.85
PR_ITERS = 3
PR_SCALE = 1_000_000_000

_PR_EDGES_SQL = """
      SELECT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
             's' || CAST(l.l_suppkey AS VARCHAR) AS dst,
             CAST(COUNT(*) AS BIGINT) AS w
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY src, dst
"""


def _pr_iter_sql(prev: str, it: int) -> str:
    return f"""
    contrib{it} AS (
      SELECT e.dst AS node,
             CAST(SUM(CAST(round(CAST(r.rank_fp * e.w AS DOUBLE) / d.wout) AS BIGINT)) AS BIGINT) AS inflow_fp
      FROM edges e
      JOIN {prev} r ON e.src = r.node
      JOIN deg d ON e.src = d.node
      GROUP BY e.dst
    ),
    r{it} AS (
      SELECT n.node,
             CAST(nn.base_fp + CAST(round({PR_DAMP} * COALESCE(c.inflow_fp, 0)) AS BIGINT) AS BIGINT) AS rank_fp
      FROM nodes n
      LEFT JOIN contrib{it} c ON n.node = c.node
      CROSS JOIN nbase nn
    )"""


def _pr_oracle() -> str:
    iters = ",".join(_pr_iter_sql(f"r{i - 1}" if i > 1 else "r0", i) for i in range(1, PR_ITERS + 1))
    return f"""
    WITH edges_dir AS ({_PR_EDGES_SQL}),
    edges AS (
      SELECT src, dst, w FROM edges_dir
      UNION ALL
      SELECT dst AS src, src AS dst, w FROM edges_dir
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    deg AS (SELECT src AS node, CAST(SUM(w) AS BIGINT) AS wout FROM edges GROUP BY src),
    ncount AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
    nbase AS (
      SELECT CAST(round((1 - {PR_DAMP}) * {PR_SCALE} / n) AS BIGINT) AS base_fp,
             CAST(round(CAST({PR_SCALE} AS DOUBLE) / n) AS BIGINT) AS init_fp
      FROM ncount
    ),
    r0 AS (SELECT node, nn.init_fp AS rank_fp FROM nodes CROSS JOIN nbase nn),
    {iters}
    SELECT node, rank_fp FROM r{PR_ITERS}
    """


@register("graph_pagerank_transactions", oracle=_pr_oracle(), category="graph")
def graph_pagerank_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer-supplier transaction graph (edges =
    distinct customer/supplier pairs weighted by lineitem count, run
    undirected via both edge directions): {PR_ITERS} unrolled power
    iterations at damping {PR_DAMP}. Surfaces structurally central
    suppliers/buyers the raw volume top-k misses (a mid-volume supplier
    serving many high-volume customers outranks a high-volume single-
    customer one).

    Scale: the classic join-based BSP PageRank — each iteration shuffles
    the rank table across the edge join (keyed on src) then aggregates
    inflow per dst; state is O(nodes), work per iteration O(edges). The
    edge/degree/node tables are materialized ONCE with localCheckpoint
    (the ext.dedup.connected_component_labels discipline) so no iteration
    re-executes the lineitem join, and each round's ranks checkpoint too,
    keeping the plan flat instead of growing 130 nodes per iteration. All
    ranks and per-edge contributions are fixed-point 1e-9 integers,
    rounded IDENTICALLY each step on both engines, so even after
    {PR_ITERS} multiply-round cycles the trajectories match
    hash-exactly."""
    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    e_dir = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .agg(F.count("*").alias("w"))
    )
    edges = e_dir.unionAll(
        e_dir.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    ).localCheckpoint(eager=True)
    nodes = edges.select(F.col("src").alias("node")).distinct().localCheckpoint(eager=True)
    deg = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.sum("w").alias("wout"))
        .localCheckpoint(eager=True)
    )
    ncount = nodes.agg(F.count("*").alias("n"))
    nbase = ncount.select(
        F.round((1 - PR_DAMP) * PR_SCALE / F.col("n")).cast("long").alias("base_fp"),
        F.round(F.lit(float(PR_SCALE)) / F.col("n")).cast("long").alias("init_fp"),
    )
    ranks = nodes.crossJoin(F.broadcast(nbase)).select(
        "node", F.col("init_fp").alias("rank_fp")
    )
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.sum(
                    F.round((F.col("rank_fp") * F.col("w")).cast("double") / F.col("wout")).cast("long")
                ).alias("inflow_fp")
            )
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(nbase))
            .select(
                "node",
                (
                    F.col("base_fp")
                    + F.round(PR_DAMP * F.coalesce("inflow_fp", F.lit(0))).cast("long")
                ).alias("rank_fp"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


# --- table reconciliation -------------------------------------------------


def _ts2(s: str):
    return F.to_timestamp(F.lit(s))


@register(
    "quality_table_diff",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderdate < TIMESTAMP '2001-06-01'
    ),
    v2 AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderstatus = 'O' THEN o_totalprice * 1.1 ELSE o_totalprice END
               AS o_totalprice
      FROM orders WHERE o_orderdate >= TIMESTAMP '1995-06-01'
    )
    SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
           CASE WHEN v1.o_orderkey IS NULL THEN 'added'
                WHEN v2.o_orderkey IS NULL THEN 'removed'
                WHEN md5(CAST(v1.o_orderstatus AS VARCHAR) || '|' ||
                         CAST(CAST(ROUND(v1.o_totalprice * 100) AS BIGINT) AS VARCHAR))
                  <> md5(CAST(v2.o_orderstatus AS VARCHAR) || '|' ||
                         CAST(CAST(ROUND(v2.o_totalprice * 100) AS BIGINT) AS VARCHAR))
                THEN 'changed' ELSE 'unchanged' END AS diff_status
    FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
    """,
    category="quality",
)
def quality_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed table reconciliation (the data-diff primitive behind safe
    backfills and migration sign-off): FULL OUTER JOIN two versions on the
    key and classify every key as added / removed / changed / unchanged,
    where "changed" compares an md5 row fingerprint over normalized column
    values (money as integer cents, so float formatting can't fake a
    diff). The two "versions" here are date-windowed/perturbed views of
    orders; swap in any two snapshots. One co-partitioned shuffle on the
    key; fingerprints are 16 bytes per row regardless of row width — at
    100 TB, project only the compared columns and the shuffle carries
    key + digest, not the table."""
    o = t(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderdate") < _ts2("2001-06-01")).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v2 = o.filter(F.col("o_orderdate") >= _ts2("1995-06-01")).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice") * 1.1)
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    def fp(df):
        return F.md5(
            F.concat_ws(
                "|",
                F.col(f"{df}_status"),
                F.round(F.col(f"{df}_price") * 100).cast("long").cast("string"),
            )
        )
    a = v1.select(
        F.col("o_orderkey").alias("k1"),
        F.col("o_orderstatus").alias("v1_status"),
        F.col("o_totalprice").alias("v1_price"),
    )
    b = v2.select(
        F.col("o_orderkey").alias("k2"),
        F.col("o_orderstatus").alias("v2_status"),
        F.col("o_totalprice").alias("v2_price"),
    )
    return a.join(b, a.k1 == b.k2, "full_outer").select(
        F.coalesce("k1", "k2").alias("o_orderkey"),
        F.when(F.col("k1").isNull(), "added")
        .when(F.col("k2").isNull(), "removed")
        .when(fp("v1") != fp("v2"), "changed")
        .otherwise("unchanged")
        .alias("diff_status"),
    )


K_ANON = 5  # flag quasi-identifier combinations shared by fewer than 5 rows


@register(
    "quality_k_anonymity",
    oracle=f"""
    SELECT c_nationkey, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           CASE WHEN COUNT(*) < {K_ANON} THEN 1 ELSE 0 END AS reidentifiable
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    ORDER BY c_nationkey, c_mktsegment
    """,
    category="quality",
)
def quality_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over a quasi-identifier tuple (nation, market
    segment): any combination shared by fewer than {K_ANON} individuals is
    re-identifiable and must be generalized or suppressed before the
    dataset ships — the standard privacy gate next to PII scrubbing
    (text_pii_scrub). One hash aggregate on the quasi-identifier key;
    at any scale the output is bounded by the QI-combination cardinality,
    not the row count."""
    c = t(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count("*").alias("group_size"),
            F.when(F.count("*") < K_ANON, 1).otherwise(0).alias("reidentifiable"),
        )
        .orderBy("c_nationkey", "c_mktsegment")
    )


# --- marketing-style attribution ------------------------------------------

ATTR_WINDOW_H = 48  # attribute a purchase to the last click within 48h


@register(
    "events_attribution_last_touch",
    oracle=f"""
    WITH purchases AS (
      SELECT event_id AS p_id, user_id, ts AS p_ts FROM events
      WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT event_id AS c_id, user_id, ts AS c_ts FROM events
      WHERE event_type = 'click'
    ),
    paired AS (
      SELECT p.p_id, p.user_id, p.p_ts, c.c_id, c.c_ts,
             ROW_NUMBER() OVER (PARTITION BY p.p_id
                                ORDER BY c.c_ts DESC, c.c_id DESC) AS rn
      FROM purchases p
      JOIN clicks c
        ON c.user_id = p.user_id
       AND c.c_ts <= p.p_ts
       AND c.c_ts > p.p_ts - INTERVAL {ATTR_WINDOW_H} HOUR
    )
    SELECT p.p_id AS purchase_id, p.user_id,
           pa.c_id AS attributed_click_id,
           CASE WHEN pa.c_id IS NULL THEN 0 ELSE 1 END AS attributed
    FROM purchases p
    LEFT JOIN (SELECT * FROM paired WHERE rn = 1) pa ON p.p_id = pa.p_id
    """,
    category="events",
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: each purchase credits the most
    recent click by the same user within {ATTR_WINDOW_H}h (ties on
    timestamp break by event id). The oracle states it as
    join-then-rank; the Spark plan bounds the join with BOTH interval
    endpoints (c_ts <= p_ts AND c_ts > p_ts - window), so a candidate
    click matches at most ceil(window/interarrival) purchases — the
    user-keyed equi-join shuffle stays linear-ish and WindowGroupLimit
    keeps only rank-1 rows per purchase on the map side. Unattributed
    purchases survive via the left join (attributed = 0). At 100 TB the
    same query runs per day-partition with a {ATTR_WINDOW_H}h lookback
    read from the prior partitions."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    paired = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr(f"INTERVAL {ATTR_WINDOW_H} HOURS")),
    )
    w = W.partitionBy("p_id").orderBy(F.desc("c_ts"), F.desc("c_id"))
    best = (
        paired.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("p_id").alias("b_pid"), F.col("c_id"))
    )
    return p.join(best, p.p_id == F.col("b_pid"), "left").select(
        F.col("p_id").alias("purchase_id"),
        "user_id",
        F.col("c_id").alias("attributed_click_id"),
        F.when(F.col("c_id").isNull(), 0).otherwise(1).alias("attributed"),
    )


# --- Benford first-digit audit --------------------------------------------


@register(
    "quality_benford_digits",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS d
      FROM orders WHERE o_totalprice > 0
    ),
    counts AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY d
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM counts)
    SELECT c.d AS first_digit, c.n,
           CAST(round(CAST(c.n AS DOUBLE) / tot.t * {LM_SCALE}) AS BIGINT) AS observed_fp,
           CAST(round(ln(1.0e0 + 1.0e0 / c.d) / ln(1.0e1) * {LM_SCALE}) AS BIGINT) AS benford_fp
    FROM counts c CROSS JOIN tot
    ORDER BY c.d
    """,
    category="quality",
)
def quality_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order amounts: organic money
    values follow P(d) = log10(1 + 1/d); synthetic, capped, or fabricated
    columns visibly deviate — a one-aggregate data-forensics gauge used in
    fraud screens and pipeline-regression checks. Digits come from the
    integer-cents representation (identical string rendering on both
    engines); expected frequencies use fixed-point ln-ratio like every
    log in this repo. One 9-key aggregate; output is bounded at 9 rows at
    any scale."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = o.select(
        F.substring(F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1)
        .cast("long")
        .alias("d")
    )
    counts = d.groupBy("d").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").alias("t"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            F.col("d").alias("first_digit"),
            "n",
            F.round(F.col("n").cast("double") / F.col("t") * LM_SCALE).cast("long").alias("observed_fp"),
            F.round(F.log(1.0 + 1.0 / F.col("d")) / F.log(F.lit(10.0)) * LM_SCALE)
            .cast("long")
            .alias("benford_fp"),
        )
        .orderBy("first_digit")
    )


# --- market-basket association --------------------------------------------

ASSOC_MIN_CO = 2  # emit rules with at least 2 co-occurring orders


@register(
    "part_association_rules",
    oracle=f"""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    nb AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM baskets),
    item AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n FROM baskets GROUP BY l_partkey
    ),
    pair AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, CAST(COUNT(*) AS BIGINT) AS co
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY part_a, part_b
      HAVING COUNT(*) >= {ASSOC_MIN_CO}
    )
    SELECT p.part_a, p.part_b, p.co,
           ia.n AS n_a, ib.n AS n_b,
           CAST(round(CAST(p.co AS DOUBLE) / nb.n_orders * {LM_SCALE}) AS BIGINT) AS support_fp,
           CAST(round(CAST(p.co AS DOUBLE) / ia.n * {LM_SCALE}) AS BIGINT) AS confidence_fp,
           CAST(round(CAST(p.co AS DOUBLE) * nb.n_orders / ia.n / ib.n * {LM_SCALE}) AS BIGINT) AS lift_fp
    FROM pair p
    JOIN item ia ON p.part_a = ia.l_partkey
    JOIN item ib ON p.part_b = ib.l_partkey
    CROSS JOIN nb
    """,
    category="events",
)
def part_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over same-order part pairs:
    support, confidence(a->b), and lift in fixed point — the frequently-
    bought-together primitive. Pairs come from a basket self-join keyed
    on the ORDER (an equi-join, never a cross product), so the work is
    sum(k_i^2) over basket sizes k_i — fine while baskets are small
    (TPC-H ~4 lines). For power-law baskets cap per-basket items first
    (WindowGroupLimit top-N by relevance) or block by item like the
    dedup operators; the min-co HAVING prunes the pair table before the
    marginals join (item counts broadcast)."""
    l = t(spark, sf_dir, "lineitem")
    baskets = l.select("l_orderkey", "l_partkey").distinct()
    nb = baskets.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item = baskets.groupBy("l_partkey").agg(F.count("*").alias("n"))
    a = baskets.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a"))
    b = baskets.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b"))
    pair = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("co"))
        .filter(F.col("co") >= ASSOC_MIN_CO)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("n_a"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("n_b"))
    # item-frequency sides are PART-cardinality (SF-proportional) — no
    # broadcast hint; AQE broadcasts them while they fit and shuffles on
    # the part key when they don't. Only the 1-row basket count is hinted.
    return (
        pair.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "part_a", "part_b", "co", "n_a", "n_b",
            F.round(F.col("co").cast("double") / F.col("n_orders") * LM_SCALE).cast("long").alias("support_fp"),
            F.round(F.col("co").cast("double") / F.col("n_a") * LM_SCALE).cast("long").alias("confidence_fp"),
            F.round(F.col("co").cast("double") * F.col("n_orders") / F.col("n_a") / F.col("n_b") * LM_SCALE)
            .cast("long")
            .alias("lift_fp"),
        )
    )


# --- RFM segmentation -----------------------------------------------------

RFM_CUTS = [0.2, 0.4, 0.6, 0.8]


@register(
    "customer_rfm_segments",
    oracle=f"""
    WITH rfm AS (
      SELECT o_custkey AS c_custkey,
             CAST(date_diff('day', MAX(o_orderdate), TIMESTAMP '2001-08-01') AS BIGINT) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
      FROM orders GROUP BY o_custkey
    ),
    cuts AS (
      SELECT quantile_cont(CAST(recency_days AS DOUBLE), [{', '.join(map(str, RFM_CUTS))}]) AS rc,
             quantile_cont(CAST(frequency AS DOUBLE), [{', '.join(map(str, RFM_CUTS))}]) AS fc,
             quantile_cont(CAST(monetary_cents AS DOUBLE), [{', '.join(map(str, RFM_CUTS))}]) AS mc
      FROM rfm
    )
    SELECT r.c_custkey, r.recency_days, r.frequency, r.monetary_cents / 100.0 AS monetary,
           CAST(5 - length(list_filter(cuts.rc, c -> CAST(r.recency_days AS DOUBLE) > c)) AS BIGINT) AS r_score,
           CAST(1 + length(list_filter(cuts.fc, c -> CAST(r.frequency AS DOUBLE) > c)) AS BIGINT) AS f_score,
           CAST(1 + length(list_filter(cuts.mc, c -> CAST(r.monetary_cents AS DOUBLE) > c)) AS BIGINT) AS m_score
    FROM rfm r CROSS JOIN cuts
    """,
    category="aggregate",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) customer segmentation: per
    customer, days since last order, order count, and lifetime value,
    each scored 1-5 by quintile — recency INVERTED (recent = 5). Like
    quality_perplexity_bucket, the quintile cutoffs come from one tiny
    interpolated-percentile aggregate broadcast back over the scan — no
    global ntile sort anywhere, so segmentation scales to any customer
    count. Monetary is exact integer cents; scores count cutoffs below
    the exact value, so bucket assignment is deterministic on both
    engines."""
    o = t(spark, sf_dir, "orders")
    rfm = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.datediff(F.to_timestamp(F.lit("2001-08-01")), F.max("o_orderdate"))
        .cast("long")
        .alias("recency_days"),
        F.count("*").alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("monetary_cents"),
    )
    carr = F.array(*[F.lit(p) for p in RFM_CUTS])
    cuts = rfm.agg(
        F.percentile(F.col("recency_days").cast("double"), carr).alias("rc"),
        F.percentile(F.col("frequency").cast("double"), carr).alias("fc"),
        F.percentile(F.col("monetary_cents").cast("double"), carr).alias("mc"),
    )
    def score(col, cut, invert=False):
        n_below = F.size(F.filter(F.col(cut), lambda c: F.col(col).cast("double") > c))
        return (5 - n_below if invert else 1 + n_below).cast("long")
    return rfm.crossJoin(F.broadcast(cuts)).select(
        "c_custkey", "recency_days", "frequency",
        (F.col("monetary_cents") / 100.0).alias("monetary"),
        score("recency_days", "rc", invert=True).alias("r_score"),
        score("frequency", "fc").alias("f_score"),
        score("monetary_cents", "mc").alias("m_score"),
    )


@register(
    "agg_ratio_to_report",
    oracle=f"""
    WITH nat AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_cents
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY region, nation
    ),
    reg AS (SELECT region, CAST(SUM(rev_cents) AS BIGINT) AS reg_cents FROM nat GROUP BY region),
    tot AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS tot_cents FROM nat)
    SELECT nat.region, nat.nation, nat.rev_cents / 100.0 AS revenue,
           CAST(round(CAST(nat.rev_cents AS DOUBLE) / reg.reg_cents * {LM_SCALE}) AS BIGINT) AS share_of_region_fp,
           CAST(round(CAST(nat.rev_cents AS DOUBLE) / tot.tot_cents * {LM_SCALE}) AS BIGINT) AS share_of_total_fp
    FROM nat JOIN reg ON nat.region = reg.region CROSS JOIN tot
    """,
    category="aggregate",
)
def agg_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report over the region > nation hierarchy: each nation's
    supplier revenue as a share of its region and of the whole corpus —
    the percent-of-parent shape every BI layer needs. Derived entirely
    from ONE grouped aggregate: the region and grand totals re-aggregate
    the (region, nation) table (25 rows), never the fact table, and join
    back as broadcasts; the supplier join is unhinted (SF-proportional). Shares are exact-cents ratios in fixed point."""
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    # supplier is SF-proportional -> unhinted (AQE-chosen); nation/region
    # are fixed 25/5 rows and keep the hint (round-4 broadcast policy).
    nat = (
        l.join(s, l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")).alias("rev_cents"))
    )
    reg = nat.groupBy("region").agg(F.sum("rev_cents").alias("reg_cents"))
    tot = nat.agg(F.sum("rev_cents").alias("tot_cents"))
    return (
        nat.join(F.broadcast(reg), "region")
        .crossJoin(F.broadcast(tot))
        .select(
            "region", "nation", (F.col("rev_cents") / 100.0).alias("revenue"),
            F.round(F.col("rev_cents").cast("double") / F.col("reg_cents") * LM_SCALE).cast("long").alias("share_of_region_fp"),
            F.round(F.col("rev_cents").cast("double") / F.col("tot_cents") * LM_SCALE).cast("long").alias("share_of_total_fp"),
        )
    )


@register(
    "orders_open_backlog_curve",
    oracle="""
    WITH opened AS (
      SELECT date_trunc('day', o_orderdate) AS d, CAST(COUNT(*) AS BIGINT) AS delta
      FROM orders GROUP BY d
    ),
    fulfilled AS (
      SELECT date_trunc('day', last_ship) AS d, CAST(-COUNT(*) AS BIGINT) AS delta
      FROM (SELECT l_orderkey, MAX(l_shipdate) AS last_ship FROM lineitem GROUP BY l_orderkey)
      GROUP BY d
    ),
    deltas AS (
      SELECT d, CAST(SUM(delta) AS BIGINT) AS delta
      FROM (SELECT * FROM opened UNION ALL SELECT * FROM fulfilled)
      GROUP BY d
    )
    SELECT d, delta,
           CAST(SUM(delta) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS open_orders
    FROM deltas
    """,
    category="time-window",
)
def orders_open_backlog_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog over time — the interval-stabbing curve ("how
    many intervals cover time t") via the +1/-1 sweep: each order
    contributes +1 at placement and -1 at its last shipment, daily deltas
    aggregate first, and ONE running sum over the (tiny) day axis yields
    the concurrency curve. The global window is bounded by |days|, not
    |orders| — the two keyed aggregates (per order, per day) did the
    volume work, which is why this formulation scales where a per-order
    interval join would not. Works identically for session concurrency,
    connection pools, or any validity-interval fact."""
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem")
    opened = o.groupBy(F.date_trunc("day", "o_orderdate").alias("d")).agg(
        F.count("*").alias("delta")
    )
    fulfilled = (
        l.groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .groupBy(F.date_trunc("day", "last_ship").alias("d"))
        .agg((-F.count("*")).alias("delta"))
    )
    deltas = (
        opened.unionByName(fulfilled)
        .groupBy("d")
        .agg(F.sum("delta").alias("delta"))
    )
    w = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    return deltas.select("d", "delta", F.sum("delta").over(w).alias("open_orders"))


NULL_DRIFT_FACTOR = 2.0  # flag days whose null rate doubles the corpus rate


@register(
    "quality_null_drift_by_day",
    oracle=f"""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS d,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN props IS NULL OR props = '' THEN 1 ELSE 0 END) AS BIGINT) AS n_null
      FROM events GROUP BY d
    ),
    overall AS (
      SELECT CAST(SUM(n) AS BIGINT) AS tot, CAST(SUM(n_null) AS BIGINT) AS tot_null FROM daily
    )
    SELECT daily.d, daily.n, daily.n_null,
           CAST(round(CAST(daily.n_null AS DOUBLE) / daily.n * 1000000) AS BIGINT) AS null_rate_fp,
           CASE WHEN CAST(daily.n_null AS DOUBLE) / daily.n
                   > {NULL_DRIFT_FACTOR} * (CAST(overall.tot_null AS DOUBLE) / overall.tot)
                 AND daily.n_null > 0
                THEN 1 ELSE 0 END AS drifted
    FROM daily CROSS JOIN overall
    """,
    category="quality",
)
def quality_null_drift_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-rate drift monitor: per-day null/empty rate of a column vs the
    corpus-wide rate, flagging days that exceed {NULL_DRIFT_FACTOR}x — the
    canary for an upstream producer silently dropping a field (the classic
    way pipelines rot). One day-keyed aggregate; the baseline derives from
    the daily table itself (no second scan) and broadcasts back. Rates are
    exact-count ratios in fixed point."""
    e = t(spark, sf_dir, "events")
    is_null = F.when(F.col("props").isNull() | (F.col("props") == ""), 1).otherwise(0)
    daily = e.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count("*").alias("n"), F.sum(is_null).alias("n_null")
    )
    overall = daily.agg(F.sum("n").alias("tot"), F.sum("n_null").alias("tot_null"))
    rate = F.col("n_null").cast("double") / F.col("n")
    base = F.col("tot_null").cast("double") / F.col("tot")
    return daily.crossJoin(F.broadcast(overall)).select(
        "d", "n", "n_null",
        F.round(rate * 1_000_000).cast("long").alias("null_rate_fp"),
        F.when((rate > NULL_DRIFT_FACTOR * base) & (F.col("n_null") > 0), 1)
        .otherwise(0)
        .alias("drifted"),
    )


@register(
    "events_conversion_latency",
    oracle=f"""
    WITH purchases AS (
      SELECT event_id AS p_id, user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'
    ),
    clicks AS (
      SELECT user_id, ts AS c_ts FROM events WHERE event_type = 'click'
    ),
    paired AS (
      SELECT p.p_id,
             CAST(date_diff('second', MAX(c.c_ts), MAX(p.p_ts)) AS BIGINT) AS latency_s
      FROM purchases p
      JOIN clicks c
        ON c.user_id = p.user_id AND c.c_ts <= p.p_ts
       AND c.c_ts > p.p_ts - INTERVAL {ATTR_WINDOW_H} HOUR
      GROUP BY p.p_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_conversions,
           quantile_cont(CAST(latency_s AS DOUBLE), 0.5) AS median_latency_s,
           quantile_cont(CAST(latency_s AS DOUBLE), 0.9) AS p90_latency_s
    FROM paired
    """,
    category="events",
)
def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click-to-purchase latency distribution (median and p90 seconds over
    last-touch-attributed conversions) — the SLA-style companion to
    events_attribution_last_touch: the MAX(c_ts) per purchase is the
    attributed click, so latency = purchase time minus last qualifying
    click. Same bounded interval join; the latency aggregate reduces to
    one interpolated-percentile pass over |conversions| rows (exact here,
    approx_percentile at 100 TB — same plan)."""
    e = t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    paired = (
        p.join(
            c,
            (F.col("c_user") == F.col("user_id"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") > F.col("p_ts") - F.expr(f"INTERVAL {ATTR_WINDOW_H} HOURS")),
        )
        .groupBy("p_id")
        .agg(
            (F.unix_seconds(F.max("p_ts")) - F.unix_seconds(F.max("c_ts"))).alias("latency_s")
        )
    )
    return paired.agg(
        F.count("*").alias("n_conversions"),
        F.percentile(F.col("latency_s").cast("double"), F.lit(0.5)).alias("median_latency_s"),
        F.percentile(F.col("latency_s").cast("double"), F.lit(0.9)).alias("p90_latency_s"),
    )


@register(
    "text_source_vocab_overlap",
    oracle=f"""
    WITH vocab AS (
      SELECT DISTINCT source, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM vocab GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS shared
      FROM vocab a JOIN vocab b ON a.token = b.token AND a.source < b.source
      GROUP BY src_a, src_b
    )
    SELECT i.src_a, i.src_b, i.shared, sa.n AS n_a, sb.n AS n_b,
           CAST(round(CAST(i.shared AS DOUBLE) / (sa.n + sb.n - i.shared) * {LM_SCALE}) AS BIGINT)
             AS jaccard_fp
    FROM inter i
    JOIN sizes sa ON i.src_a = sa.source
    JOIN sizes sb ON i.src_b = sb.source
    """,
    category="text",
)
def text_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between SOURCES (not documents): which
    corpus slices speak the same language and which bring genuinely new
    tokens — the diagnostic behind source-mixture and dedup-scope
    decisions. Sources meet only through the token-keyed equi-join of
    their distinct-vocab tables, so the pair table is |sources|^2-bounded
    (tiny) while the heavy work — two distinct aggregates — is linear in
    corpus tokens. Same banded discipline as document dedup, lifted one
    aggregation level up."""
    d = t(spark, sf_dir, "documents")
    vocab = d.select(
        "source", F.explode(F.split("text", " ")).alias("token")
    ).distinct()
    sizes = vocab.groupBy("source").agg(F.count("*").alias("n"))
    a = vocab.select(F.col("source").alias("src_a"), "token")
    b = vocab.select(F.col("source").alias("src_b"), "token")
    inter = (
        a.join(b, "token")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("shared"))
    )
    jac = F.col("shared").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("shared"))
    return (
        inter.join(F.broadcast(sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))), "src_a")
        .join(F.broadcast(sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))), "src_b")
        .select(
            "src_a", "src_b", "shared", "n_a", "n_b",
            F.round(jac * LM_SCALE).cast("long").alias("jaccard_fp"),
        )
    )


@register(
    "orders_cohort_ltv",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey, date_trunc('month', MIN(o_orderdate)) AS cohort_month
      FROM orders GROUP BY o_custkey
    ),
    spend AS (
      SELECT f.cohort_month,
             CAST(date_diff('month', f.cohort_month, date_trunc('month', o.o_orderdate)) AS BIGINT)
               AS months_since,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_cents,
             CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS active_customers
      FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
      GROUP BY f.cohort_month, months_since
    ),
    sized AS (
      SELECT cohort_month, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM firsts GROUP BY cohort_month
    )
    SELECT s.cohort_month, s.months_since, s.active_customers, z.cohort_size,
           CAST(SUM(s.spend_cents) OVER (PARTITION BY s.cohort_month ORDER BY s.months_since
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             / 100.0 / z.cohort_size AS cum_ltv_per_customer
    FROM spend s JOIN sized z ON s.cohort_month = z.cohort_month
    """,
    category="time-window",
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: customers grouped by first-order
    month, cumulative spend per customer by months-since-acquisition —
    the money companion to events_retention_cohorts. Two custkey-keyed
    aggregates build the (cohort, month) matrix; the running sum windows
    over the TINY matrix (months^2 rows), never the fact table. Spend is
    exact integer cents; the per-customer division happens once on the
    cumulative sum, identically on both engines."""
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate")).alias("cohort_month")
    )
    joined = o.join(firsts, "o_custkey")
    spend = joined.groupBy(
        "cohort_month",
        (
            (F.year(F.date_trunc("month", "o_orderdate")) - F.year("cohort_month")) * 12
            + (F.month(F.date_trunc("month", "o_orderdate")) - F.month("cohort_month"))
        )
        .cast("long")
        .alias("months_since"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("spend_cents"),
        F.countDistinct("o_custkey").alias("active_customers"),
    )
    sized = firsts.groupBy("cohort_month").agg(F.count("*").alias("cohort_size"))
    w = W.partitionBy("cohort_month").orderBy("months_since").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        spend.join(F.broadcast(sized), "cohort_month")
        .select(
            "cohort_month", "months_since", "active_customers", "cohort_size",
            (F.sum("spend_cents").over(w) / 100.0 / F.col("cohort_size")).alias("cum_ltv_per_customer"),
        )
    )


@register(
    "quality_pk_uniqueness_audit",
    oracle="""
    SELECT 'orders' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_dup_rows
    FROM orders
    UNION ALL
    SELECT 'customer', CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT c_custkey) AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT) FROM customer
    UNION ALL
    SELECT 'part', CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT p_partkey) AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT p_partkey) AS BIGINT) FROM part
    UNION ALL
    SELECT 'supplier', CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT s_suppkey) AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT s_suppkey) AS BIGINT) FROM supplier
    UNION ALL
    SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT l_orderkey * 16 + l_linenumber) AS BIGINT),
           CAST(COUNT(*) - COUNT(DISTINCT l_orderkey * 16 + l_linenumber) AS BIGINT) FROM lineitem
    ORDER BY table_name
    """,
    category="quality",
)
def quality_pk_uniqueness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit across the star schema in one result:
    rows vs distinct keys per table (lineitem's composite key packed into
    one BIGINT so the distinct is single-column). The first check any
    ingest should run — a duplicated key silently doubles every join
    downstream. Each branch is one count-distinct aggregate; the union is
    five independent scans that schedule in parallel."""
    def audit(name, df, key):
        return df.agg(
            F.lit(name).alias("table_name"),
            F.count("*").alias("n_rows"),
            F.countDistinct(key).alias("n_keys"),
            (F.count("*") - F.countDistinct(key)).alias("n_dup_rows"),
        )

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    p = t(spark, sf_dir, "part")
    s = t(spark, sf_dir, "supplier")
    l = t(spark, sf_dir, "lineitem")
    return (
        audit("orders", o, F.col("o_orderkey"))
        .unionByName(audit("customer", c, F.col("c_custkey")))
        .unionByName(audit("part", p, F.col("p_partkey")))
        .unionByName(audit("supplier", s, F.col("s_suppkey")))
        .unionByName(audit("lineitem", l, F.col("l_orderkey") * 16 + F.col("l_linenumber")))
        .orderBy("table_name")
    )


# --- code detection -------------------------------------------------------

CODE_SYMBOLS = r"[{}();=<>\[\]|&+*/%#]"


@register(
    "text_code_detection",
    oracle=f"""
    SELECT doc_id,
           CAST(length(regexp_replace(text, '[^{{}}();=<>\\[\\]|&+*/%#]', '', 'g')) AS BIGINT)
             AS n_code_symbols,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(round(CAST(length(regexp_replace(text, '[^{{}}();=<>\\[\\]|&+*/%#]', '', 'g')) AS DOUBLE)
                 / length(text) * 1000000) AS BIGINT) AS symbol_ratio_fp,
           CASE WHEN CAST(length(regexp_replace(text, '[^{{}}();=<>\\[\\]|&+*/%#]', '', 'g')) AS DOUBLE)
                     / length(text) > 0.02
                THEN 1 ELSE 0 END AS looks_like_code
    FROM documents WHERE length(text) > 0
    """,
    category="text",
)
def text_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose heuristic: density of code-ish symbols ({{}}();=<>...)
    per character — the cheap first-stage router that separates code from
    natural language before language-specific pipelines (prose rarely
    exceeds ~2% symbol density; source code runs 5-15%). Pure scan-side
    regexp arithmetic, zero shuffles; the fixed-point ratio keeps the
    driver hash stable. Swap the symbol class or threshold per corpus —
    the plan is unchanged."""
    d = t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_sym = F.length(F.regexp_replace("text", r"[^{}();=<>\[\]|&+*/%#]", ""))
    ratio = n_sym.cast("double") / F.length("text")
    return d.select(
        "doc_id",
        n_sym.cast("long").alias("n_code_symbols"),
        F.length("text").cast("long").alias("n_chars"),
        F.round(ratio * 1_000_000).cast("long").alias("symbol_ratio_fp"),
        F.when(ratio > 0.02, 1).otherwise(0).alias("looks_like_code"),
    )


@register(
    "events_user_gini",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x FROM events GROUP BY user_id
    ),
    bins AS (
      SELECT length(bin(x)) - 1 AS b,
             CAST(COUNT(*) AS BIGINT) AS nb,
             CAST(SUM(x) AS BIGINT) AS sb
      FROM per_user GROUP BY b
    ),
    cum AS (
      SELECT nb, sb,
             CAST(COALESCE(SUM(nb) OVER (ORDER BY b
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cb
      FROM bins
    ),
    agg AS (
      SELECT CAST(SUM(nb) AS BIGINT) AS n,
             CAST(SUM(sb) AS BIGINT) AS sx,
             CAST(SUM(sb * (2 * cb + nb)) AS BIGINT) AS swx
      FROM cum
    )
    SELECT n AS n_users, sx AS n_events,
           CAST(round((CAST(swx AS DOUBLE) / (CAST(n AS DOUBLE) * sx) - CAST(n + 1 AS DOUBLE) / n)
                 * 1000000) AS BIGINT) AS gini_fp
    FROM agg
    """,
    category="events",
)
def events_user_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-user event concentration (0 = uniform,
    -> 1 = a few users generate everything): the audit that decides
    whether behavioral data needs per-user caps before training. Binned
    (grouped-data) Gini: users land in the FIXED histogram of log2
    activity bins (bin = floor(log2(x)) via the length of x's binary
    string — integer-exact on both engines, <= 63 bins for any BIGINT
    count, so the cumulative window runs over a BOUNDED frame no matter
    how many users exist). Within a bin, users are treated as equal at
    the bin mean; the grouped rank-sum collapses in closed form to
    swx = sum_b sb*(2*cb+nb) (cb = users in cheaper bins) — every term an
    exact integer, so the result is order-independent and engine-exact.
    Grouping only removes within-bin inequality, so binned G <= exact G,
    converging as bins narrow (pinned vs the exact rank formula in
    tests/test_text_properties.py). The volume work stays in the per-user
    aggregate; NO global window ever touches the per-user frame."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count("*").alias("x"))
    bins = per_user.groupBy(
        (F.length(F.bin("x")) - 1).alias("b")
    ).agg(F.count("*").alias("nb"), F.sum("x").alias("sb"))
    cum = bins.select(
        "nb", "sb",
        F.coalesce(
            F.sum("nb").over(
                W.orderBy("b").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("cb"),
    )
    agg = cum.agg(
        F.sum("nb").alias("n"),
        F.sum("sb").alias("sx"),
        F.sum(F.col("sb") * (2 * F.col("cb") + F.col("nb"))).alias("swx"),
    )
    gini = (
        F.col("swx").cast("double") / (F.col("n").cast("double") * F.col("sx"))
        - (F.col("n") + 1).cast("double") / F.col("n")
    )
    return agg.select(
        F.col("n").alias("n_users"),
        F.col("sx").alias("n_events"),
        F.round(gini * 1_000_000).cast("long").alias("gini_fp"),
    )


@register(
    "curation_mixture_entropy",
    oracle=f"""
    WITH src AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM src),
    terms AS (
      SELECT CAST(round(-(CAST(n AS DOUBLE) / tot.t) * ln(CAST(n AS DOUBLE) / tot.t)
                   * {LM_SCALE}) AS BIGINT) AS h_fp
      FROM src CROSS JOIN tot
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
           CAST(SUM(h_fp) AS BIGINT) AS entropy_nats_fp,
           CAST(round(exp(CAST(SUM(h_fp) AS DOUBLE) / {LM_SCALE}) * 1000) AS BIGINT)
             AS effective_sources_x1000
    FROM terms
    """,
    category="curation",
)
def curation_mixture_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the source mixture and its exponential — the
    EFFECTIVE number of sources (perplexity of the mix): 20 sources at
    effective 19.9 is a healthy blend, at effective 3.2 three sources
    dominate and rebalancing (sample_domain_mixture /
    sample_temperature_rebalance) is overdue. One tiny source aggregate;
    per-source entropy terms are fixed-pointed before the sum (the ln
    discipline), so the corpus-level number is order-independent."""
    d = t(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(F.count("*").alias("n"))
    tot = src.agg(F.sum("n").alias("t"))
    p = F.col("n").cast("double") / F.col("t")
    terms = src.crossJoin(F.broadcast(tot)).select(
        F.round(-p * F.log(p) * LM_SCALE).cast("long").alias("h_fp")
    )
    return terms.agg(
        F.count("*").alias("n_sources"),
        F.sum("h_fp").alias("entropy_nats_fp"),
        F.round(F.exp(F.sum("h_fp").cast("double") / LM_SCALE) * 1000)
        .cast("long")
        .alias("effective_sources_x1000"),
    )


@register(
    "events_dau_wau_stickiness",
    oracle="""
    WITH user_days AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
    ),
    dau AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM user_days GROUP BY d
    ),
    spread AS (
      SELECT user_id, d + to_days(CAST(k AS INTEGER)) AS d
      FROM user_days, UNNEST(range(0, 7)) AS u(k)
    ),
    wau AS (
      SELECT d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau FROM spread GROUP BY d
    )
    SELECT dau.d, dau.dau, wau.wau,
           CAST(round(CAST(dau.dau AS DOUBLE) / wau.wau * 1000000) AS BIGINT) AS stickiness_fp
    FROM dau JOIN wau ON dau.d = wau.d
    ORDER BY dau.d
    """,
    category="events",
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day (what share of the week's active users
    showed up today). The naive WAU — COUNT(DISTINCT user) over a sliding
    7-day window — re-scans each event 7x inside window state; instead
    each (user, day) PAIR (already deduplicated, 1000x smaller than
    events) fans out to the 7 days it contributes to, and WAU is a plain
    per-day distinct count. Bounded 7x expansion of the SMALL table — the
    same first-collapse-then-expand discipline as
    events_cumulative_uniques. Ratio is an exact-count division, fixed
    point."""
    e = t(spark, sf_dir, "events")
    user_days = e.select("user_id", F.date_trunc("day", "ts").alias("d")).distinct()
    dau = user_days.groupBy("d").agg(F.count("*").alias("dau"))
    spread = user_days.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("k"),
        "d",
    ).select("user_id", (F.col("d") + F.make_interval(days=F.col("k").cast("int"))).alias("d"))
    wau = spread.groupBy("d").agg(F.countDistinct("user_id").alias("wau"))
    return (
        dau.join(wau, "d")
        .select(
            "d", "dau", "wau",
            F.round(F.col("dau").cast("double") / F.col("wau") * 1_000_000)
            .cast("long")
            .alias("stickiness_fp"),
        )
        .orderBy("d")
    )


@register(
    "orders_seasonality_index",
    oracle="""
    WITH monthly AS (
      SELECT CAST(month(o_orderdate) AS BIGINT) AS m,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY m
    ),
    base AS (
      SELECT CAST(SUM(rev_cents) AS BIGINT) AS tot_cents, CAST(COUNT(*) AS BIGINT) AS n_months
      FROM monthly
    )
    SELECT monthly.m AS month, monthly.n_orders, monthly.rev_cents / 100.0 AS revenue,
           CAST(round(CAST(monthly.rev_cents AS DOUBLE) * base.n_months / base.tot_cents * 1000000) AS BIGINT)
             AS seasonal_index_fp
    FROM monthly CROSS JOIN base
    ORDER BY month
    """,
    category="time-window",
)
def orders_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-of-year seasonal index: each calendar month's revenue
    relative to the average month (1e6 = exactly average) — the
    normalization behind deseasonalized trend monitoring and inventory
    planning. Twelve-row output at any scale: one month-keyed aggregate,
    baseline derived from the monthly table itself. Exact cents
    throughout; the index divides integers in the same order on both
    engines."""
    o = t(spark, sf_dir, "orders")
    monthly = o.groupBy(F.month("o_orderdate").cast("long").alias("month")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_cents"),
        F.count("*").alias("n_orders"),
    )
    base = monthly.agg(
        F.sum("rev_cents").alias("tot_cents"), F.count("*").alias("n_months")
    )
    idx = F.col("rev_cents").cast("double") * F.col("n_months") / F.col("tot_cents")
    return (
        monthly.crossJoin(F.broadcast(base))
        .select(
            "month", "n_orders", (F.col("rev_cents") / 100.0).alias("revenue"),
            F.round(idx * 1_000_000).cast("long").alias("seasonal_index_fp"),
        )
        .orderBy("month")
    )


@register(
    "supplier_lead_time_stats",
    oracle="""
    WITH lags AS (
      SELECT l.l_suppkey,
             CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS lead_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT l_suppkey AS s_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_shipments,
           quantile_cont(CAST(lead_days AS DOUBLE), 0.5) AS median_lead_days,
           quantile_cont(CAST(lead_days AS DOUBLE), 0.9) AS p90_lead_days,
           CAST(MAX(lead_days) AS BIGINT) AS max_lead_days
    FROM lags GROUP BY s_suppkey
    """,
    category="aggregate",
)
def supplier_lead_time_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier fulfillment lead time (order date to ship date):
    median, p90, and worst case — the vendor-scorecard aggregate behind
    SLA enforcement. One orderkey join (the date lives on the order) and
    one supplier-keyed aggregate; exact interpolated percentiles here,
    approx_percentile at extreme shipment counts — same plan shape. Lead
    days are exact integers so the percentile interpolation is
    deterministic on both engines."""
    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    lags = l.join(o, l.l_orderkey == o.o_orderkey).select(
        "l_suppkey",
        F.datediff("l_shipdate", "o_orderdate").cast("long").alias("lead_days"),
    )
    return lags.groupBy(F.col("l_suppkey").alias("s_suppkey")).agg(
        F.count("*").alias("n_shipments"),
        F.percentile(F.col("lead_days").cast("double"), F.lit(0.5)).alias("median_lead_days"),
        F.percentile(F.col("lead_days").cast("double"), F.lit(0.9)).alias("p90_lead_days"),
        F.max("lead_days").alias("max_lead_days"),
    )


@register(
    "events_hourly_heatmap",
    oracle="""
    SELECT CAST(dayofweek(ts) AS BIGINT) AS weekday,
           CAST(SUM(CASE WHEN hour(ts) BETWEEN 0 AND 5 THEN 1 ELSE 0 END) AS BIGINT) AS night,
           CAST(SUM(CASE WHEN hour(ts) BETWEEN 6 AND 11 THEN 1 ELSE 0 END) AS BIGINT) AS morning,
           CAST(SUM(CASE WHEN hour(ts) BETWEEN 12 AND 17 THEN 1 ELSE 0 END) AS BIGINT) AS afternoon,
           CAST(SUM(CASE WHEN hour(ts) BETWEEN 18 AND 23 THEN 1 ELSE 0 END) AS BIGINT) AS evening
    FROM events
    GROUP BY weekday
    ORDER BY weekday
    """,
    category="events",
)
def events_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday x daypart activity heatmap — the load-profile query behind
    capacity planning and anomaly baselines, expressed as conditional
    sums rather than a pivot so the output schema is static (a PIVOT's
    columns depend on observed values; dashboards want fixed columns).
    One 7-row aggregate with map-side partials; DuckDB's dayofweek
    (0=Sunday) matches Spark's dayofweek-1, aligned below."""
    e = t(spark, sf_dir, "events")
    h = F.hour("ts")
    def part(lo, hi, name):
        return F.sum(F.when(h.between(lo, hi), 1).otherwise(0)).alias(name)
    return (
        e.groupBy((F.dayofweek("ts") - 1).cast("long").alias("weekday"))
        .agg(part(0, 5, "night"), part(6, 11, "morning"),
             part(12, 17, "afternoon"), part(18, 23, "evening"))
        .orderBy("weekday")
    )


@register(
    "quality_fk_coverage_summary",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS fk,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'lineitem.l_partkey->part', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    UNION ALL
    SELECT 'orders.o_custkey->customer', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY fk
    """,
    category="quality",
)
def quality_fk_coverage_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential coverage across every foreign key of the star schema in
    one result — the companion to quality_fk_orphans (which LISTS broken
    rows; this COUNTS them per relationship, the number a data contract
    monitors). ALL four parent sides are SF-proportional
    (orders/part/supplier/customer grow with sf), so every branch is
    UNHINTED — AQE/stats pick broadcast only while the parent genuinely
    fits and fall back to a keyed shuffle at scale (round-4 broadcast
    policy, queries/relational.py docstring). Each branch is one
    conditional count; branches are independent scans that schedule in
    parallel."""
    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    p = t(spark, sf_dir, "part")
    s = t(spark, sf_dir, "supplier")
    c = t(spark, sf_dir, "customer")

    def cov(name, fact, dim, fk, pk):
        joined = fact.join(dim, fact[fk] == dim[pk], "left")
        return joined.agg(
            F.lit(name).alias("fk"),
            F.count("*").alias("n_rows"),
            F.sum(F.when(dim[pk].isNull(), 1).otherwise(0)).alias("n_orphans"),
        )

    return (
        cov("lineitem.l_orderkey->orders", l, o, "l_orderkey", "o_orderkey")
        .unionByName(cov("lineitem.l_partkey->part", l, p, "l_partkey", "p_partkey"))
        .unionByName(cov("lineitem.l_suppkey->supplier", l, s, "l_suppkey", "s_suppkey"))
        .unionByName(cov("orders.o_custkey->customer", o, c, "o_custkey", "c_custkey"))
        .orderBy("fk")
    )


SLA_DAYS = 30


@register(
    "orders_fulfillment_sla",
    oracle=f"""
    WITH per_order AS (
      SELECT o.o_orderkey, o.o_orderpriority,
             CASE WHEN MAX(l.l_shipdate) <= o.o_orderdate + INTERVAL {SLA_DAYS} DAY
                  THEN 1 ELSE 0 END AS on_time
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(on_time) AS BIGINT) AS n_on_time,
           CAST(round(CAST(SUM(on_time) AS DOUBLE) / COUNT(*) * 1000000) AS BIGINT) AS sla_rate_fp
    FROM per_order
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    category="aggregate",
)
def orders_fulfillment_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-level fulfillment SLA by priority: an order is on time only
    if its LAST line ships within {SLA_DAYS} days — the all-lines MAX
    semantics that line-level late counts (tpch_q12_late_shipments) can't
    express. Two keyed aggregates: per-order max collapses the fact table
    on the join key it already shuffles on; the per-priority rollup is
    five rows. The SLA rate is an exact-count ratio in fixed point."""
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem")
    per_order = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(
            F.when(
                F.max("l_shipdate") <= F.col("o_orderdate") + F.expr(f"INTERVAL {SLA_DAYS} DAYS"),
                1,
            )
            .otherwise(0)
            .alias("on_time")
        )
    )
    return (
        per_order.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("on_time").alias("n_on_time"),
            F.round(F.sum("on_time").cast("double") / F.count("*") * 1_000_000)
            .cast("long")
            .alias("sla_rate_fp"),
        )
        .orderBy("o_orderpriority")
    )


PSI_SCALE = 1_000_000_000  # fixed-point scale for per-bin PSI contributions


@register(
    "quality_psi_drift",
    oracle=f"""
    WITH e AS (
      SELECT date_trunc('day', ts) AS day,
             length(bin(CAST(round(value * 100) AS BIGINT))) - 1 AS b
      FROM events
    ),
    cdb AS (SELECT day, b, CAST(COUNT(*) AS BIGINT) AS c FROM e GROUP BY day, b),
    nd AS (SELECT day, CAST(SUM(c) AS BIGINT) AS n FROM cdb GROUP BY day),
    cb AS (SELECT b, CAST(SUM(c) AS BIGINT) AS cb FROM cdb GROUP BY b),
    tot AS (SELECT CAST(SUM(cb) AS BIGINT) AS big_n,
                   CAST(COUNT(*) AS BIGINT) AS n_bins FROM cb),
    grid AS (SELECT nd.day, nd.n, cb.b, cb.cb, tot.big_n, tot.n_bins
             FROM nd CROSS JOIN cb CROSS JOIN tot),
    terms AS (
      SELECT g.day, g.n,
             CAST(round((CAST(COALESCE(c.c, 0) + 1 AS DOUBLE) / (g.n + g.n_bins)
                         - CAST(g.cb + 1 AS DOUBLE) / (g.big_n + g.n_bins))
                        * ln(CAST(COALESCE(c.c, 0) + 1 AS DOUBLE) * (g.big_n + g.n_bins)
                             / (CAST(g.n + g.n_bins AS DOUBLE) * (g.cb + 1)))
                        * {PSI_SCALE}) AS BIGINT) AS pfp
      FROM grid g LEFT JOIN cdb c ON g.day = c.day AND g.b = c.b
    )
    SELECT day, n AS n_events,
           CAST(SUM(pfp) AS BIGINT) AS psi_fp,
           round(CAST(SUM(pfp) AS DOUBLE) / {PSI_SCALE}, 6) AS psi
    FROM terms GROUP BY day, n
    """,
    category="quality",
)
def quality_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event-value distribution, per day
    vs the full corpus — the standard production drift monitor (PSI > 0.2
    = significant shift) for deciding whether a feed's value mix moved
    before it poisons training. Values land in FIXED log2 cent bins
    (length(bin(cents))-1 — integer-exact in both engines, <= 64 bins for
    any BIGINT), so the reference histogram is a BOUNDED frame no matter
    the volume; Laplace-smoothed (+1 per bin) so days missing a bin stay
    finite. Per-bin contributions are fixed-point-rounded after one ln on
    exact-integer ratios, then integer-summed — order-independent and
    engine-exact. Plan: one (day, bin) count aggregate carries all the
    volume; per-day totals derive from it; the per-bin reference histogram
    (<= 64 rows) and the 1-row grand total broadcast onto the days x bins
    grid. Days grow with the time horizon, never with event rate — every
    shuffle after the first is over bounded-or-days-sized frames."""
    e = t(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("day"),
        (F.length(F.bin(F.round(F.col("value") * 100).cast("long"))) - 1).alias("b"),
    )
    cdb = e.groupBy("day", "b").agg(F.count("*").alias("c"))
    nd = cdb.groupBy("day").agg(F.sum("c").alias("n"))
    cb = cdb.groupBy("b").agg(F.sum("c").alias("cb"))
    tot = cb.agg(
        F.sum("cb").alias("big_n"), F.count("*").alias("n_bins")
    )
    grid = nd.crossJoin(F.broadcast(cb)).crossJoin(F.broadcast(tot))
    joined = grid.join(cdb, ["day", "b"], "left").select(
        "day",
        "n",
        F.round(
            (
                (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                / (F.col("n") + F.col("n_bins"))
                - (F.col("cb") + 1).cast("double") / (F.col("big_n") + F.col("n_bins"))
            )
            * F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                * (F.col("big_n") + F.col("n_bins"))
                / ((F.col("n") + F.col("n_bins")).cast("double") * (F.col("cb") + 1))
            )
            * PSI_SCALE
        )
        .cast("long")
        .alias("pfp"),
    )
    return joined.groupBy("day", "n").agg(
        F.sum("pfp").alias("psi_fp"),
        F.round(F.sum("pfp").cast("double") / PSI_SCALE, 6).alias("psi"),
    ).select("day", F.col("n").alias("n_events"), "psi_fp", "psi")


RETENTION_SCALE = 1_000_000


@register(
    "events_retention_cohort",
    oracle=f"""
    WITH uw AS (
      SELECT DISTINCT user_id,
             (CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS w
      FROM events
    ),
    cohort AS (SELECT user_id, CAST(MIN(w) AS BIGINT) AS cw FROM uw GROUP BY user_id),
    sizes AS (SELECT cw, CAST(COUNT(*) AS BIGINT) AS cohort_size FROM cohort GROUP BY cw),
    act AS (
      SELECT c.cw, CAST(u.w - c.cw AS BIGINT) AS week_offset,
             CAST(COUNT(*) AS BIGINT) AS n_active
      FROM uw u JOIN cohort c ON u.user_id = c.user_id
      GROUP BY c.cw, u.w - c.cw
    )
    SELECT a.cw AS cohort_week, a.week_offset, a.n_active, s.cohort_size,
           CAST(round(CAST(a.n_active AS DOUBLE) * {RETENTION_SCALE} / s.cohort_size)
                AS BIGINT) AS retention_fp
    FROM act a JOIN sizes s ON a.cw = s.cw
    """,
    category="events",
)
def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users are cohorted by their first
    active week and each later week contributes the share of the cohort
    still active — the table behind every retention curve. Weeks are
    absolute epoch-week indices (days-since-1970 div 7 — engine-exact
    integer arithmetic, no locale week-start ambiguity). Plan: the volume
    work is ONE (user, week) distinct (events collapse to at most
    #users x #weeks rows); the per-user min-week aggregate and the
    user-keyed join both shuffle on user_id; the output and the cohort-
    size frame are bounded by #weeks^2 / #weeks — independent of event
    rate. The sizes join is left unhinted: #weeks rows, AQE broadcasts
    it. At 100 TB the only heavy stage is the first distinct, a
    map-side-combining hash aggregate."""
    e = t(spark, sf_dir, "events")
    uw = (
        e.select(
            "user_id",
            F.floor(
                F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")) / 7
            ).alias("w"),
        )
        .distinct()
    )
    cohort = uw.groupBy("user_id").agg(F.min("w").alias("cw"))
    sizes = cohort.groupBy("cw").agg(F.count("*").alias("cohort_size"))
    act = (
        uw.join(cohort, "user_id")
        .groupBy("cw", (F.col("w") - F.col("cw")).alias("week_offset"))
        .agg(F.count("*").alias("n_active"))
    )
    return act.join(sizes, "cw").select(
        F.col("cw").alias("cohort_week"),
        "week_offset",
        "n_active",
        "cohort_size",
        F.round(F.col("n_active").cast("double") * RETENTION_SCALE / F.col("cohort_size"))
        .cast("long")
        .alias("retention_fp"),
    )


@register(
    "quality_dataset_card",
    oracle="""
    WITH base AS (
      SELECT source, lang, n_chars,
             CAST(length(string_split(text, ' ')) AS BIGINT) AS n_toks,
             md5(text) AS h
      FROM documents
    ),
    per_source AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars_total,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct_texts
      FROM base GROUP BY source
    ),
    lang_counts AS (
      SELECT source, lang, COUNT(*) AS c FROM base GROUP BY source, lang
    ),
    top_lang AS (
      SELECT source, lang AS top_lang FROM (
        SELECT source, lang,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, lang) AS rn
        FROM lang_counts
      ) WHERE rn = 1
    )
    SELECT p.source, p.n_docs, p.n_tokens, p.n_chars_total, p.n_langs,
           t.top_lang,
           CAST(p.n_docs - p.n_distinct_texts AS BIGINT) AS n_redundant_docs,
           CAST(round(CAST(p.n_docs - p.n_distinct_texts AS DOUBLE) * 1000000
                      / p.n_docs) AS BIGINT) AS dup_rate_fp
    FROM per_source p JOIN top_lang t ON p.source = t.source
    """,
    category="quality",
)
def quality_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card generator: the per-source summary block (docs, tokens,
    chars, language spread, dominant language, exact-duplicate redundancy)
    that documents a corpus release — the first artifact any 100 TB
    pretraining mix ships with. All volume work happens in ONE scan-side
    projection (token count, 128-bit text hash) feeding per-source hash
    aggregates with map-side combine; exact-dup redundancy is
    n_docs - distinct(md5) so no pairwise work exists. The dominant-
    language window partitions by source over the (source, lang) count
    frame — bounded by #langs per source (ISO language codes, a fixed
    vocabulary), never by volume. Ties break to the lexicographically
    smallest language identically in both engines."""
    from pyspark.sql import Window as W

    base = t(spark, sf_dir, "documents").select(
        "source",
        "lang",
        "n_chars",
        F.size(F.split("text", " ")).cast("long").alias("n_toks"),
        F.md5("text").alias("h"),
    )
    per_source = base.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars_total"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("h").alias("n_distinct_texts"),
    )
    lang_counts = base.groupBy("source", "lang").agg(F.count("*").alias("c"))
    rn_w = W.partitionBy("source").orderBy(F.col("c").desc(), "lang")
    top_lang = (
        lang_counts.withColumn("rn", F.row_number().over(rn_w))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    redundant = (F.col("n_docs") - F.col("n_distinct_texts")).cast("long")
    return per_source.join(top_lang, "source").select(
        "source",
        "n_docs",
        "n_tokens",
        "n_chars_total",
        "n_langs",
        "top_lang",
        redundant.alias("n_redundant_docs"),
        F.round(redundant.cast("double") * 1_000_000 / F.col("n_docs"))
        .cast("long")
        .alias("dup_rate_fp"),
    )


def _ivfpq_coarse_sql() -> tuple[str, str, str]:
    """Coarse-quantizer CTE bodies (cnorm, ccent, cassign+probes) for the
    combined IVF+PQ oracle — the cosine coarse layer of
    queries.similarity.similarity_ann_ivf under clash-free names so they
    compose with _PQ_ASSIGN_SQL's quant/cent/sub/csub/scored/assign."""
    from glue_etl_framework_spark.queries.similarity import (
        _COSINE_SQL,
        N_CENTROIDS,
        N_PROBE,
    )

    cnorm = """SELECT vec_id, q,
             CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nq
      FROM quant"""
    ccent = f"""SELECT vec_id AS ccid, q, nq FROM cnorm
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {N_CENTROIDS}"""
    cos = _COSINE_SQL.format(a="n", b="c")
    cassign_probes = f"""
    cassign AS (
      SELECT vec_id, ccid FROM (
        SELECT n.vec_id, c.ccid,
               ROW_NUMBER() OVER (PARTITION BY n.vec_id
                                  ORDER BY {cos} DESC, c.ccid) AS rn
        FROM cnorm n CROSS JOIN ccent c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, ccid FROM (
        SELECT n.vec_id AS query_id, c.ccid,
               ROW_NUMBER() OVER (PARTITION BY n.vec_id
                                  ORDER BY {cos} DESC, c.ccid) AS rn
        FROM cnorm n CROSS JOIN ccent c
        WHERE n.vec_id < {PQ_N_QUERIES}
      ) WHERE rn <= {N_PROBE}
    )"""
    return cnorm, ccent, cassign_probes


_IVFPQ_COARSE = _ivfpq_coarse_sql()


@register(
    "similarity_ivf_pq_topk",
    oracle=f"""
    WITH {_PQ_ASSIGN_SQL},
    cnorm AS ({_IVFPQ_COARSE[0]}),
    ccent AS ({_IVFPQ_COARSE[1]}),
    {_IVFPQ_COARSE[2]},
    lut AS (
      SELECT s.vec_id AS query_id, s.m, c.cidx,
             CAST(list_sum(list_transform(range(1, {PQ_SUBDIM}+1),
                  i -> (sq[i]-cs[i]) * (sq[i]-cs[i]))) AS BIGINT) AS d
      FROM sub s JOIN csub c ON s.m = c.m
      WHERE s.vec_id < {PQ_N_QUERIES}
    ),
    acode AS (SELECT vec_id, m, MIN(packed) % {PQ_K} AS cidx FROM scored GROUP BY vec_id, m),
    cand AS (
      SELECT p.query_id, a.vec_id
      FROM probes p JOIN cassign a ON a.ccid = p.ccid
      WHERE a.vec_id <> p.query_id
    ),
    adc AS (
      SELECT c.query_id, c.vec_id AS neighbor_id, CAST(SUM(l.d) AS BIGINT) AS adc_dist
      FROM cand c
      JOIN acode a ON a.vec_id = c.vec_id
      JOIN lut l ON l.query_id = c.query_id AND l.m = a.m AND l.cidx = a.cidx
      GROUP BY c.query_id, c.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, adc_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, neighbor_id) AS rn
      FROM adc
    )
    SELECT query_id, neighbor_id, adc_dist FROM ranked WHERE rn <= {PQ_TOP_K}
    """,
    category="similarity",
)
def similarity_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ combined ANN search (the FAISS IndexIVFPQ shape, without
    residual encoding — codes are on raw vectors, the by_residual=false
    variant) — THE standard billion-scale production index: the IVF
    coarse layer prunes the corpus to the query's nprobe nearest cells,
    and PQ asymmetric distance scores the survivors from 16-bit codes via
    a broadcast lookup table, so query-time work is nprobe/K of the corpus
    and never touches raw floats. Composition of two already-verified
    layers: the fixed-K cosine coarse quantizer of similarity_ann_ivf
    (O(K) broadcast, O(n*K) map-side assignment) and the ADC machinery of
    similarity_pq_adc_topk (fixed-K codebook, integer-packed argmin,
    query LUT broadcast). All candidate generation is keyed joins on cell
    id and (m, cidx); distances are exact fixed-point integers, ties
    break on neighbor id — fully oracle-checked end to end. At scale,
    raise both K's; the plan shape is constant."""
    from pyspark.sql import Window as W

    from glue_etl_framework_spark.ext.similarity import (
        ivf_assign,
        ivf_centroids,
        ivf_probes,
    )
    from glue_etl_framework_spark.queries.similarity import (
        N_CENTROIDS,
        N_PROBE,
        _quantized,
    )

    sub, csub, assign_pq = _pq_frames(spark, sf_dir)
    # r16: the coarse layer's quantized frame feeds the centroid sample
    # and the full n x K scoring cross join over a no-exchange
    # scan+transform subtree — same diamond as dedup_semdedup; one
    # DATA_SIZED checkpoint = one quantization pass.
    from glue_etl_framework_spark.ckpt import DATA_SIZED, checkpoint_shared

    v = checkpoint_shared(_quantized(spark, sf_dir), size_class=DATA_SIZED)
    cent = ivf_centroids(v, N_CENTROIDS)
    cassign = ivf_assign(v, cent)
    probes = ivf_probes(v.filter(F.col("vec_id") < PQ_N_QUERIES), cent, N_PROBE)
    dist = F.aggregate(
        F.zip_with(F.col("sq"), F.col("cs"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    lut = (
        sub.filter(F.col("vec_id") < PQ_N_QUERIES)
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(csub), "m")
        .select("query_id", "m", "cidx", dist.alias("d"))
    )
    cand = (
        F.broadcast(probes)
        .join(cassign, "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    adc = (
        cand.join(assign_pq, "vec_id")
        .join(F.broadcast(lut), ["query_id", "m", "cidx"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d").alias("adc_dist"))
    )
    topk_w = W.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        adc.withColumn("rn", F.row_number().over(topk_w))
        .filter(F.col("rn") <= PQ_TOP_K)
        .select("query_id", "neighbor_id", "adc_dist")
    )


L_DIVERSITY = 3  # distinct sensitive values a QI group needs to be safe


@register(
    "quality_l_diversity",
    oracle=f"""
    WITH base AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(round(c_acctbal / 1000) AS BIGINT) AS sens
      FROM customer
    )
    SELECT c_nationkey, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           CAST(COUNT(DISTINCT sens) AS BIGINT) AS n_sensitive,
           CASE WHEN COUNT(DISTINCT sens) < {L_DIVERSITY} THEN 1 ELSE 0 END
             AS homogeneous
    FROM base GROUP BY c_nationkey, c_mktsegment
    ORDER BY c_nationkey, c_mktsegment
    """,
    category="quality",
)
def quality_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the stronger privacy gate k-anonymity misses:
    a quasi-identifier group can be large (k-anonymous) yet reveal the
    sensitive attribute anyway if everyone in it shares the same value
    (the homogeneity attack). Per (nation, segment) QI group: size,
    distinct coarse account-balance buckets (the sensitive attribute),
    and a flag when diversity < {L_DIVERSITY}. One hash aggregate with a
    distinct count on the QI key; output bounded by QI cardinality at any
    scale. Companion to quality_k_anonymity and text_pii_scrub in the
    release-gate battery."""
    c = t(spark, sf_dir, "customer")
    sens = F.round(F.col("c_acctbal") / 1000).cast("long")
    return (
        c.select("c_nationkey", "c_mktsegment", sens.alias("sens"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count("*").alias("group_size"),
            F.countDistinct("sens").alias("n_sensitive"),
            F.when(F.countDistinct("sens") < L_DIVERSITY, 1)
            .otherwise(0)
            .alias("homogeneous"),
        )
        .orderBy("c_nationkey", "c_mktsegment")
    )


@register(
    "graph_triangle_copurchase",
    oracle="""
    WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
    e AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p
    ),
    deg AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS n FROM e UNION ALL SELECT v FROM e
      ) GROUP BY n
    ),
    oe AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst
      FROM e JOIN deg du ON e.u = du.n JOIN deg dv ON e.v = dv.n
    ),
    wedge AS (
      SELECT x.src AS a, x.dst AS n1, y.dst AS n2
      FROM oe x JOIN oe y ON x.src = y.src AND x.dst < y.dst
    ),
    tri AS (
      SELECT w.a, w.n1, w.n2
      FROM wedge w
      JOIN e ON e.u = LEAST(w.n1, w.n2) AND e.v = GREATEST(w.n1, w.n2)
    ),
    member AS (
      SELECT a AS p FROM tri
      UNION ALL SELECT n1 FROM tri
      UNION ALL SELECT n2 FROM tri
    )
    SELECT p AS partkey, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM member GROUP BY p
    """,
    category="graph",
)
def graph_triangle_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting over the co-purchase graph (parts
    bought together in one order) — the clustering-structure primitive
    behind community detection and recommendation audits, in the
    SCALABLE join shape: edges are ORIENTED from the lower-(degree, id)
    endpoint to the higher one, every triangle is generated from exactly
    ONE wedge at its minimum-degree apex, and the wedge fan-out per node
    is bounded by outdegree^2 with outdegree <= sqrt(2|E|) under this
    orientation (Schank/Wagner; the MapReduce formulation is Suri &
    Vassilvitskii, WWW'11) — so the join never explodes on hub nodes the
    way a naive (a,b)x(b,c) self-join does. Three keyed shuffles: the
    co-purchase edge distinct, the degree join, the apex-keyed wedge
    self-join plus the closing-edge equi-join. Returns triangle
    participation per part (bounded by |parts|)."""
    l = t(spark, sf_dir, "lineitem")
    lp = l.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")).distinct()
    a, b = lp.alias("a"), lp.alias("b")
    e = (
        a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oe = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    x, y = oe.alias("x"), oe.alias("y")
    wedge = x.join(
        y, (F.col("x.src") == F.col("y.src")) & (F.col("x.dst") < F.col("y.dst"))
    ).select(
        F.col("x.src").alias("a"), F.col("x.dst").alias("n1"), F.col("y.dst").alias("n2")
    )
    tri = wedge.join(
        e,
        (F.col("u") == F.least("n1", "n2")) & (F.col("v") == F.greatest("n1", "n2")),
    ).select("a", "n1", "n2")
    # one explode over tri instead of three unionAll branches: the union
    # formulation re-executes the wedge-closing join once per branch
    member = tri.select(F.explode(F.array("a", "n1", "n2")).alias("p"))
    return member.groupBy(F.col("p").alias("partkey")).agg(
        F.count("*").alias("n_triangles")
    )


BOOT_B = 32  # bootstrap replicates; Poisson(1) multiplicities per row


def _pois_case_sql(u: str) -> str:
    """Inverse Poisson(1) CDF lookup: deterministic multiplicity 0..6."""
    return f"""CASE
      WHEN {u} < 0.3678794411714423 THEN 0
      WHEN {u} < 0.7357588823428846 THEN 1
      WHEN {u} < 0.9196986029286058 THEN 2
      WHEN {u} < 0.9810118431238462 THEN 3
      WHEN {u} < 0.9963401531726563 THEN 4
      WHEN {u} < 0.9994058151824183 THEN 5
      ELSE 6 END"""


@register(
    "stats_bootstrap_se_mean",
    oracle=f"""
    WITH rows_v AS (
      SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    rep AS (
      SELECT r.k, r.cents, b.b,
             ('0x' || substr(md5(CAST(r.k AS VARCHAR) || ':' || CAST(b.b AS VARCHAR)),
                             1, 8))::UBIGINT / 4294967296.0 AS u
      FROM rows_v r CROSS JOIN (SELECT unnest(range({BOOT_B})) AS b) b
    ),
    weighted AS (
      SELECT b, CAST({_pois_case_sql('u')} AS BIGINT) AS m, cents FROM rep
    ),
    per_rep AS (
      SELECT b, CAST(SUM(m) AS BIGINT) AS cnt, CAST(SUM(m * cents) AS BIGINT) AS s
      FROM weighted GROUP BY b HAVING SUM(m) > 0
    ),
    means AS (
      SELECT b, CAST(round(CAST(s AS DOUBLE) * 1000000 / cnt) AS BIGINT) AS mean_fp
      FROM per_rep
    ),
    summary AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_reps,
             CAST(SUM(mean_fp) AS BIGINT) AS sm,
             CAST(SUM(CAST(mean_fp AS HUGEINT) * mean_fp) AS HUGEINT) AS sm2
      FROM means
    ),
    base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(round(CAST(SUM(cents) AS DOUBLE) * 1000000 / COUNT(*)) AS BIGINT)
               AS mean_fp
      FROM rows_v
    )
    SELECT base.n, base.mean_fp, summary.n_reps,
           CAST(round(sqrt((CAST(summary.sm2 AS DOUBLE)
                            - CAST(summary.sm AS DOUBLE) * summary.sm / summary.n_reps)
                           / (summary.n_reps - 1))) AS BIGINT) AS boot_se_fp
    FROM base CROSS JOIN summary
    """,
    category="sampling",
)
def stats_bootstrap_se_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Poisson bootstrap (Chamandy et al., Google 2012) for
    the standard error of a mean — THE way to get uncertainty estimates
    at 100 TB, where classical resampling (draw n rows with replacement,
    B times) is impossible because no node ever sees all n rows: each row
    independently contributes multiplicity ~ Poisson(1) to each of
    {BOOT_B} replicates, so one scan emits (replicate, weighted
    contribution) pairs and a map-side-combining aggregate leaves only
    {BOOT_B} rows crossing the shuffle. Fully deterministic here:
    the Poisson draw is an inverse-CDF lookup on an md5-derived uniform
    (exact integer / 2^32 — identical doubles in both engines), so even
    the bootstrap randomness is oracle-checked. Output: the point
    estimate of mean order value and its bootstrap SE in 1e-6 fixed
    point. The x{BOOT_B} row expansion is the honest cost of bootstrap;
    it rides the same scan and never materializes (explode feeds the
    aggregate directly)."""
    o = t(spark, sf_dir, "orders")
    rows_v = o.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    rep = rows_v.select(
        "k",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
    ).withColumn(
        "u",
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("k").cast("string"), F.lit(":"), F.col("b").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / 4294967296.0,
    )
    m = (
        F.when(F.col("u") < 0.3678794411714423, 0)
        .when(F.col("u") < 0.7357588823428846, 1)
        .when(F.col("u") < 0.9196986029286058, 2)
        .when(F.col("u") < 0.9810118431238462, 3)
        .when(F.col("u") < 0.9963401531726563, 4)
        .when(F.col("u") < 0.9994058151824183, 5)
        .otherwise(6)
        .cast("long")
    )
    per_rep = (
        rep.select("b", m.alias("m"), "cents")
        .groupBy("b")
        .agg(F.sum("m").alias("cnt"), F.sum(F.col("m") * F.col("cents")).alias("s"))
        .filter(F.col("cnt") > 0)
    )
    means = per_rep.select(
        F.round(F.col("s").cast("double") * 1_000_000 / F.col("cnt"))
        .cast("long")
        .alias("mean_fp")
    )
    summary = means.agg(
        F.count("*").alias("n_reps"),
        F.sum("mean_fp").alias("sm"),
        F.sum(F.col("mean_fp").cast("decimal(38,0)") * F.col("mean_fp")).alias("sm2"),
    )
    base = rows_v.agg(
        F.count("*").alias("n"),
        F.round(F.sum("cents").cast("double") * 1_000_000 / F.count("*"))
        .cast("long")
        .alias("mean_fp"),
    )
    se = F.round(
        F.sqrt(
            (
                F.col("sm2").cast("double")
                - F.col("sm").cast("double") * F.col("sm") / F.col("n_reps")
            )
            / (F.col("n_reps") - 1)
        )
    ).cast("long")
    return base.crossJoin(F.broadcast(summary)).select(
        "n", "mean_fp", "n_reps", se.alias("boot_se_fp")
    )


def _ivfpq_recall_oracle() -> str:
    ivfpq = _REGISTRY["similarity_ivf_pq_topk"].oracle
    return f"""
    WITH gt AS (
      SELECT query_id, neighbor_id FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY a.vec_id
                 ORDER BY list_sum(list_transform(range(1, 65),
                                   i -> (a.q[i]-b.q[i]) * (a.q[i]-b.q[i]))),
                          b.vec_id) AS rn
        FROM (SELECT vec_id, list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE) * {Q_SCALE}) AS BIGINT)) AS q
              FROM embeddings) a
        JOIN (SELECT vec_id, list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE) * {Q_SCALE}) AS BIGINT)) AS q
              FROM embeddings) b
          ON b.vec_id <> a.vec_id
        WHERE a.vec_id < {PQ_N_QUERIES}
      ) WHERE rn <= {PQ_TOP_K}
    ),
    ap AS (SELECT query_id, neighbor_id FROM ({ivfpq}))
    SELECT g.query_id,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*) AS recall_at_k
    FROM gt g LEFT JOIN ap a
      ON g.query_id = a.query_id AND g.neighbor_id = a.neighbor_id
    GROUP BY g.query_id
    """


@register(
    "similarity_ivfpq_recall", oracle=_ivfpq_recall_oracle(), category="similarity"
)
def similarity_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the combined IVF+PQ index against EXACT L2 ground truth
    (the metric FAISS users tune nprobe and code size against), computed
    in-engine like similarity_ann_recall: brute-force exact quantized-L2
    top-k for the query set (broadcast queries x corpus scan — ground
    truth generation is the expensive half and is itself linear), then
    one (query, neighbor) equi-join against the index results. Losses
    here combine BOTH approximation layers — cell pruning (query's true
    neighbor lives in an unprobed cell) and code granularity (ADC
    misranks within a probed cell) — which is exactly the production
    trade being monitored."""
    from pyspark.sql import Window as W

    from glue_etl_framework_spark.queries.similarity import _quantized

    v = _quantized(spark, sf_dir)
    queries = v.filter(F.col("vec_id") < PQ_N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qa")
    )
    corpus = v.select(F.col("vec_id").alias("neighbor_id"), F.col("q").alias("qb"))
    d2 = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = W.partitionBy("query_id").orderBy("d2", "neighbor_id")
    gt = (
        F.broadcast(queries)
        .join(corpus, F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PQ_TOP_K)
        .select("query_id", "neighbor_id")
    )
    ap = similarity_ivf_pq_topk(spark, sf_dir).select(
        F.col("query_id").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
    )
    return (
        gt.join(
            ap,
            (gt.query_id == F.col("a_qid")) & (gt.neighbor_id == F.col("a_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("a_nid").alias("n_hits"),
            F.count("*").alias("k"),
            (F.count("a_nid").cast("double") / F.count("*")).alias("recall_at_k"),
        )
    )


KN_DISCOUNT = 0.75   # standard absolute discount
KN_MIN_COUNT = 5     # emit rows only for bigrams seen >= this many times
KN_SCALE = 1_000_000_000


@register(
    "text_kneser_ney_bigram",
    oracle=f"""
    WITH bg AS ({_BIGRAM_SQL}),
    split AS (
      SELECT string_split(bigram, ' ')[1] AS w1,
             string_split(bigram, ' ')[2] AS w2
      FROM bg
    ),
    c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM split GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS cw1,
                  CAST(COUNT(*) AS BIGINT) AS n_follow
           FROM c2 GROUP BY w1),
    cont AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n_prec FROM c2 GROUP BY w2),
    tot AS (SELECT CAST(SUM(n_prec) AS BIGINT) AS t FROM cont)
    SELECT c2.w1, c2.w2, c2.c,
           CAST(round((GREATEST(c2.c - {KN_DISCOUNT}, 0) / c1.cw1
                       + ({KN_DISCOUNT} * c1.n_follow / c1.cw1)
                         * (CAST(cont.n_prec AS DOUBLE) / tot.t))
                      * {KN_SCALE}) AS BIGINT) AS pkn_fp
    FROM c2
    JOIN c1 ON c2.w1 = c1.w1
    JOIN cont ON c2.w2 = cont.w2
    CROSS JOIN tot
    WHERE c2.c >= {KN_MIN_COUNT}
    """,
    category="text",
)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (Kneser & Ney 1995;
    Chen & Goodman 1998) — the smoothing every serious count-based LM
    ships with, and a step up from the MLE text_bigram_logprob: mass is
    absolutely discounted (D={KN_DISCOUNT}) from observed bigrams and
    redistributed via the CONTINUATION distribution (how many distinct
    contexts a word follows — which is why "Francisco" scores low despite
    high frequency: it follows almost nothing but "San"). Every term is a
    ratio of exact integer counts, so the fixed-point result is
    engine-identical. Plan: one corpus-wide (w1, w2) count carries the
    volume; the per-context totals and fan-out DERIVE from it (no
    re-scan); the continuation table joins keyed on w2 — both sides are
    vocabulary-sized, so the join is unhinted (AQE decides; same
    discipline as text_source_drift_kl's vocab join); only the 1-row
    grand total broadcasts. The c >= {KN_MIN_COUNT} emission filter
    bounds the DRIVER-facing artifact, not the model math (all counts
    participate in smoothing)."""
    d = t(spark, sf_dir, "documents")
    split_col = F.split(F.col("bigram"), " ")
    bg = d.select(F.explode(shingle_array(n=2)).alias("bigram")).select(
        split_col.getItem(0).alias("w1"), split_col.getItem(1).alias("w2")
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    c1 = c2.groupBy("w1").agg(
        F.sum("c").alias("cw1"), F.count("*").alias("n_follow")
    )
    cont = c2.groupBy("w2").agg(F.count("*").alias("n_prec"))
    tot = cont.agg(F.sum("n_prec").alias("t"))
    pkn = (
        F.greatest(F.col("c") - KN_DISCOUNT, F.lit(0.0)) / F.col("cw1")
        + (KN_DISCOUNT * F.col("n_follow") / F.col("cw1"))
        * (F.col("n_prec").cast("double") / F.col("t"))
    )
    return (
        c2.filter(F.col("c") >= KN_MIN_COUNT)
        .join(c1, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "c",
            F.round(pkn * KN_SCALE).cast("long").alias("pkn_fp"),
        )
    )


OLS_SCALE = 1_000_000


@register(
    "agg_group_ols_regression",
    oracle=f"""
    WITH pts AS (
      SELECT p_brand AS brand, CAST(p_size AS BIGINT) AS x,
             CAST(round(p_retailprice * 100) AS BIGINT) AS y
      FROM part
    ),
    sums AS (
      SELECT brand,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(x * x) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      FROM pts GROUP BY brand
    )
    SELECT brand, n,
           CAST(round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                      / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                      * {OLS_SCALE}) AS BIGINT) AS slope_fp,
           CAST(round((CAST(sy AS DOUBLE)
                       - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                          / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx))
                         * sx)
                      / n) AS BIGINT) AS intercept_cents
    FROM sums
    WHERE n * CAST(sxx AS DOUBLE) > CAST(sx AS DOUBLE) * sx
    """,
    category="aggregate",
)
def agg_group_ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form per-group OLS regression (price-vs-size slope per
    brand) — the pattern that makes "fit a model per key" scale: no
    iterative solver, no per-group collect; the normal equations collapse
    to SIX sufficient statistics (n, Sx, Sy, Sxx, Sxy) accumulated in one
    map-side-combining aggregate, and slope/intercept are closed-form
    ratios computed on the reduced frame. Sufficient statistics are exact
    integer sums held in DECIMAL(38,0)/HUGEINT (the products clear BIGINT
    on large groups — same overflow discipline the 100x probe forced on
    the anisotropy audit); the final division is one deterministic double
    expression, fixed-point rounded. Degenerate groups (zero variance in
    x) are excluded identically in both engines. At any scale the shuffle
    carries one row per group."""
    p = t(spark, sf_dir, "part")
    pts = p.select(
        F.col("p_brand").alias("brand"),
        F.col("p_size").cast("long").alias("x"),
        F.round(F.col("p_retailprice") * 100).cast("long").alias("y"),
    )
    sums = pts.groupBy("brand").agg(
        F.count("*").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    slope = (nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")) / (
        nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    intercept = (F.col("sy").cast("double") - slope * F.col("sx").cast("double")) / nd
    return (
        sums.filter(
            nd * F.col("sxx").cast("double")
            > F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        .select(
            "brand",
            "n",
            F.round(slope * OLS_SCALE).cast("long").alias("slope_fp"),
            F.round(intercept).cast("long").alias("intercept_cents"),
        )
    )


@register(
    "orders_forecast_seasonal_naive",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', CAST(o_orderdate AS TIMESTAMP)) AS day,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY day
    )
    SELECT a.day,
           a.cents AS actual_cents,
           f.cents AS forecast_cents,
           CAST(abs(a.cents - f.cents) AS BIGINT) AS abs_err_cents,
           CAST(round(CAST(abs(a.cents - f.cents) AS DOUBLE) * 1000000 / a.cents)
                AS BIGINT) AS ape_fp
    FROM daily a JOIN daily f ON f.day = a.day - INTERVAL 7 DAY
    WHERE a.cents > 0
    """,
    category="events",
)
def orders_forecast_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest — the baseline every demand
    forecast must beat (forecast(d) = actual(d - 7), the weekly cycle):
    per-day revenue joined to itself at a 7-day lag, emitting actuals,
    forecasts, absolute and percentage errors. The volume collapses in
    ONE day-keyed aggregate; the lag join runs on the days-sized frame
    (grows with the horizon, never with order rate). Integer-cent
    arithmetic end to end; APE in 1e-6 fixed point."""
    o = t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate").cast("timestamp")).alias("day")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
    a = daily.alias("a")
    f_ = daily.select(
        (F.col("day") + F.expr("INTERVAL 7 DAYS")).alias("day"),
        F.col("cents").alias("fcents"),
    ).alias("f")
    ape = F.round(
        F.abs(F.col("a.cents") - F.col("fcents")).cast("double")
        * 1_000_000
        / F.col("a.cents")
    ).cast("long")
    return (
        a.join(f_, "day")
        .filter(F.col("a.cents") > 0)
        .select(
            "day",
            F.col("a.cents").alias("actual_cents"),
            F.col("fcents").alias("forecast_cents"),
            F.abs(F.col("a.cents") - F.col("fcents")).alias("abs_err_cents"),
            ape.alias("ape_fp"),
        )
    )


@register(
    "events_user_activity_trend",
    oracle=f"""
    WITH uw AS (
      SELECT user_id,
             (CAST(ts AS DATE) - DATE '1970-01-01') // 7 AS w,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY user_id, w
    ),
    sums AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_weeks,
             CAST(SUM(c) AS BIGINT) AS total_events,
             CAST(SUM(w) AS HUGEINT) AS sx, CAST(SUM(c) AS HUGEINT) AS sy,
             CAST(SUM(w * w) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(w AS HUGEINT) * c) AS HUGEINT) AS sxy
      FROM uw GROUP BY user_id
    )
    SELECT user_id, n_weeks, total_events,
           CAST(round((n_weeks * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                      / (n_weeks * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                      * {OLS_SCALE}) AS BIGINT) AS trend_fp
    FROM sums
    WHERE n_weeks * CAST(sxx AS DOUBLE) > CAST(sx AS DOUBLE) * sx
    """,
    category="events",
)
def events_user_activity_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity trend (events/week OLS slope) — the churn-signal
    feature engineering pass: a negative slope flags disengaging users
    before they go silent. Same closed-form sufficient-statistics OLS as
    agg_group_ols_regression, grouped by user over absolute epoch weeks:
    two keyed aggregates — (user, week) counts, then one row of six sums
    per user — and the slope is a deterministic double of exact integers.
    Users grow with the corpus; rows per user are bounded by the time
    horizon. Single-week users (zero x-variance) are excluded identically
    in both engines."""
    e = t(spark, sf_dir, "events")
    uw = e.groupBy(
        "user_id",
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")) / 7
        ).alias("w"),
    ).agg(F.count("*").alias("c"))
    sums = uw.groupBy("user_id").agg(
        F.count("*").alias("n_weeks"),
        F.sum("c").alias("total_events"),
        F.sum(F.col("w").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("c").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("w").cast("decimal(38,0)") * F.col("w")).alias("sxx"),
        F.sum(F.col("w").cast("decimal(38,0)") * F.col("c")).alias("sxy"),
    )
    nd = F.col("n_weeks").cast("double")
    slope = (
        nd * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / (
        nd * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
    )
    return (
        sums.filter(
            nd * F.col("sxx").cast("double")
            > F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        .select(
            "user_id",
            "n_weeks",
            "total_events",
            F.round(slope * OLS_SCALE).cast("long").alias("trend_fp"),
        )
    )


ZTEST_SCALE = 1_000_000

# Shared by the experiment operators (z-test, CUPED, guardrails) — the
# operators' cross-operator contract is that they analyze the SAME
# assignment, so the oracle expression lives once and is interpolated
# into each oracle f-string (assignment drift between the three
# experiments would silently break the contract).
def ab_variant_sql(col: str = "user_id") -> str:
    """DuckDB SQL for the deterministic 50/50 md5-bucket arm assignment
    (the oracle twin of ab_variant below)."""
    return (
        f"CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 2))"
        "::UBIGINT % 2 AS BIGINT)"
    )


def ab_variant() -> "F.Column":
    """Deterministic 50/50 md5-bucket arm assignment from user_id."""
    return (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 2), 16, 10)
        .cast("long") % 2
    )


def mid_split_day(e: DataFrame) -> DataFrame:
    """1-row (split_day): midpoint of the observed event-date range —
    the pre/post boundary shared by CUPED and the KS drift test."""
    return e.agg(
        F.date_add(
            F.min(F.to_date("ts")),
            F.floor(
                F.datediff(F.max(F.to_date("ts")), F.min(F.to_date("ts"))) / 2
            ).cast("int"),
        ).alias("split_day")
    )


@register(
    "events_abtest_proportions_ztest",
    oracle=f"""
    WITH assign AS (
      SELECT user_id,
             {ab_variant_sql()} AS variant
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    conv AS (
      SELECT DISTINCT user_id FROM events
      WHERE event_type = 'purchase' AND value >= 150
    ),
    cells AS (
      SELECT a.variant,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS x
      FROM assign a LEFT JOIN conv c ON a.user_id = c.user_id
      GROUP BY a.variant
    ),
    wide AS (
      SELECT MAX(CASE WHEN variant = 0 THEN n END) AS n_a,
             MAX(CASE WHEN variant = 0 THEN x END) AS x_a,
             MAX(CASE WHEN variant = 1 THEN n END) AS n_b,
             MAX(CASE WHEN variant = 1 THEN x END) AS x_b
      FROM cells
    )
    SELECT n_a, x_a, n_b, x_b,
           CAST(round(CAST(x_a AS DOUBLE) * {ZTEST_SCALE} / n_a) AS BIGINT) AS cvr_a_fp,
           CAST(round(CAST(x_b AS DOUBLE) * {ZTEST_SCALE} / n_b) AS BIGINT) AS cvr_b_fp,
           CAST(round((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
                      / sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                             * (1 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                             * (1.0 / n_a + 1.0 / n_b))
                      * {ZTEST_SCALE}) AS BIGINT) AS z_fp,
           CASE WHEN abs((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
                         / sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                                * (1 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                                * (1.0 / n_a + 1.0 / n_b))) > 1.959963985
                THEN 1 ELSE 0 END AS significant
    FROM wide
    WHERE n_a > 0 AND n_b > 0 AND x_a + x_b > 0 AND x_a + x_b < n_a + n_b
    """,
    category="events",
)
def events_abtest_proportions_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test for an A/B experiment — the analysis every
    experimentation platform runs continuously: users are bucketed by an
    md5 hash of their id (the REAL production assignment mechanism —
    deterministic, uniform, no coordination — and portable, so even the
    randomization is oracle-checked), conversion = a purchase of at least 150 (a mid-funnel
    threshold that keeps both converted and unconverted arms populated at
    fixture scale),
    and the pooled-variance z statistic decides significance at the
    two-sided 5% level. All inputs are exact integer counts from two
    keyed aggregates (distinct users, distinct converters — each one
    shuffle with map-side combine); the z expression is one deterministic
    double over those integers, fixed-point rounded. Degenerate designs
    (empty arm, zero or unanimous conversion) are excluded identically in
    both engines. Output is ONE row regardless of scale."""
    e = t(spark, sf_dir, "events")
    assign = e.select("user_id").distinct().select("user_id", ab_variant().alias("variant"))
    conv = (
        e.filter((F.col("event_type") == "purchase") & (F.col("value") >= 150))
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    cells = (
        assign.join(conv, "user_id", "left")
        .groupBy("variant")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.coalesce(F.col("converted"), F.lit(0))).alias("x"),
        )
    )
    wide = cells.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == 0, F.col("x"))).alias("x_a"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == 1, F.col("x"))).alias("x_b"),
    )
    p_a = F.col("x_a").cast("double") / F.col("n_a")
    p_b = F.col("x_b").cast("double") / F.col("n_b")
    p_pool = (F.col("x_a") + F.col("x_b")).cast("double") / (F.col("n_a") + F.col("n_b"))
    z = (p_a - p_b) / F.sqrt(
        p_pool * (1 - p_pool) * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return (
        wide.filter(
            (F.col("n_a") > 0)
            & (F.col("n_b") > 0)
            & (F.col("x_a") + F.col("x_b") > 0)
            & (F.col("x_a") + F.col("x_b") < F.col("n_a") + F.col("n_b"))
        )
        .select(
            "n_a",
            "x_a",
            "n_b",
            "x_b",
            F.round(p_a * ZTEST_SCALE).cast("long").alias("cvr_a_fp"),
            F.round(p_b * ZTEST_SCALE).cast("long").alias("cvr_b_fp"),
            F.round(z * ZTEST_SCALE).cast("long").alias("z_fp"),
            F.when(F.abs(z) > 1.959963985, 1).otherwise(0).alias("significant"),
        )
    )


HEALTH_SCALE = 1_000_000


def _health_report_oracle() -> str:
    gopher = _REGISTRY["quality_gopher_filters"].oracle
    pii = _REGISTRY["text_pii_scrub"].oracle
    return f"""
    WITH base AS (
      SELECT doc_id, lang,
             CAST(length(string_split(text, ' ')) AS BIGINT) AS n_toks,
             md5(text) AS h
      FROM documents
    ),
    core AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct
      FROM base
    ),
    langs AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY lang),
    lent AS (
      SELECT CAST(SUM(CAST(round(-(CAST(c AS DOUBLE) / t)
                                 * ln(CAST(c AS DOUBLE) / t)
                                 * {HEALTH_SCALE}) AS BIGINT)) AS BIGINT) AS ent_fp
      FROM (SELECT c, CAST(SUM(c) OVER () AS BIGINT) AS t FROM langs)
    ),
    gph AS (
      SELECT CAST(SUM(passes_gopher) AS BIGINT) AS n_pass,
             CAST(COUNT(*) AS BIGINT) AS n FROM ({gopher})
    ),
    pii AS (
      SELECT CAST(SUM(CASE WHEN n_emails + n_ips + n_phones > 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_pii
      FROM ({pii})
    )
    SELECT 'n_docs' AS metric, CAST(core.n_docs AS BIGINT) AS value_fp FROM core
    UNION ALL SELECT 'n_tokens', core.n_tokens FROM core
    UNION ALL SELECT 'mean_doc_tokens_fp',
      CAST(round(CAST(core.n_tokens AS DOUBLE) * {HEALTH_SCALE} / core.n_docs)
           AS BIGINT) FROM core
    UNION ALL SELECT 'exact_dup_rate_fp',
      CAST(round((1 - CAST(core.n_distinct AS DOUBLE) / core.n_docs)
                 * {HEALTH_SCALE}) AS BIGINT) FROM core
    UNION ALL SELECT 'lang_entropy_fp', lent.ent_fp FROM lent
    UNION ALL SELECT 'gopher_pass_rate_fp',
      CAST(round(CAST(gph.n_pass AS DOUBLE) * {HEALTH_SCALE} / gph.n) AS BIGINT)
      FROM gph
    UNION ALL SELECT 'pii_doc_rate_fp',
      CAST(round(CAST(pii.n_pii AS DOUBLE) * {HEALTH_SCALE} / core.n_docs)
           AS BIGINT) FROM pii CROSS JOIN core
    """


@register(
    "pipeline_corpus_health_report",
    oracle=_health_report_oracle(),
    category="curation",
)
def pipeline_corpus_health_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass corpus health report — the scorecard a curation run emits
    before anyone trains on the data: volume (docs, tokens, mean length),
    exact-duplicate rate, language-mix entropy, Gopher-gate pass rate,
    and PII incidence, as a (metric, value) frame. Every metric reuses
    the individually-oracle-checked primitive expressions
    (gopher_audit_cols, pii_audit_cols, the md5 content hash), and the
    plan is ONE documents scan feeding parallel aggregates (the language
    entropy derives from a bounded per-lang count frame; nothing rescans
    the text). Output is a fixed handful of rows at any corpus size —
    the shape that lands in a metrics store per run."""
    d = t(spark, sf_dir, "documents")
    base = d.select(
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_toks"),
        F.md5("text").alias("h"),
        *gopher_audit_cols("text"),
        *pii_audit_cols("text"),
    )
    core = base.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        F.countDistinct("h").alias("n_distinct"),
        F.sum("passes_gopher").alias("n_pass"),
        F.sum(
            F.when(F.col("n_emails") + F.col("n_ips") + F.col("n_phones") > 0, 1)
            .otherwise(0)
        ).alias("n_pii"),
    )
    langs = base.groupBy("lang").agg(F.count("*").alias("c"))
    from pyspark.sql import Window as W

    lent = (
        langs.withColumn("t", F.sum("c").over(W.partitionBy()))
        .select(
            F.round(
                -(F.col("c").cast("double") / F.col("t"))
                * F.log(F.col("c").cast("double") / F.col("t"))
                * HEALTH_SCALE
            )
            .cast("long")
            .alias("term")
        )
        .agg(F.sum("term").alias("ent_fp"))
    )
    c = core.crossJoin(F.broadcast(lent))

    def row(name, expr):
        return c.select(F.lit(name).alias("metric"), expr.cast("long").alias("value_fp"))

    # try_divide, not /: a zero-doc corpus must yield NULL rates (DuckDB's
    # x/0 semantics), not an ANSI DIVIDE_BY_ZERO — pinned by the
    # empty-input sweep (tests/test_empty_inputs.py).
    rows = [
        row("n_docs", F.col("n_docs")),
        row("n_tokens", F.col("n_tokens")),
        row(
            "mean_doc_tokens_fp",
            F.round(
                F.try_divide(F.col("n_tokens").cast("double") * HEALTH_SCALE, F.col("n_docs"))
            ),
        ),
        row(
            "exact_dup_rate_fp",
            F.round(
                (1 - F.try_divide(F.col("n_distinct").cast("double"), F.col("n_docs")))
                * HEALTH_SCALE
            ),
        ),
        row("lang_entropy_fp", F.col("ent_fp")),
        row(
            "gopher_pass_rate_fp",
            F.round(
                F.try_divide(F.col("n_pass").cast("double") * HEALTH_SCALE, F.col("n_docs"))
            ),
        ),
        row(
            "pii_doc_rate_fp",
            F.round(
                F.try_divide(F.col("n_pii").cast("double") * HEALTH_SCALE, F.col("n_docs"))
            ),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


HRW_SHARDS = 8  # fixed shard ring for the rendezvous assignment


@register(
    "layout_rendezvous_sharding",
    oracle=f"""
    WITH shards AS (SELECT unnest(range({HRW_SHARDS})) AS shard),
    assign AS (
      SELECT d.doc_id, d.source, length(d.text) AS nbytes,
             arg_max(s.shard, md5(CAST(s.shard AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR))) AS shard
      FROM documents d CROSS JOIN shards s
      GROUP BY d.doc_id, d.source, length(d.text)
    )
    SELECT CAST(shard AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nbytes) AS BIGINT) AS total_bytes,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM assign GROUP BY shard
    """,
    category="layout",
)
def layout_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous / highest-random-weight (HRW) sharding (Thaler &
    Ravishankar): each document goes to argmax over shards of
    md5(shard ':' doc_id) — the consistent-hashing scheme whose defining
    property is MINIMAL RESHUFFLE: removing one shard remaps ONLY the
    documents that lived on it (each survivor's argmax over the remaining
    shards is unchanged), so growing or draining a 100 TB corpus's shard
    ring moves 1/N of the data instead of rehash-everything. That
    property is pinned exactly in tests/test_sketch_properties.py — the
    oracle here certifies the full assignment via per-shard doc counts,
    byte totals, and source spread.

    Scale shape: the argmax is a per-row expression over a FIXED
    HRW_SHARDS(=8)-element literal array (array_max over (hash, shard)
    structs — no join, no shuffle for the assignment itself), then one
    bounded groupBy on shard. Contrast with mod-hashing
    (curation shard packing): same balance, but mod remaps ~100% of keys
    when N changes. The md5 ranking makes the assignment portable and
    engine-checkable, unlike JVM-seeded hash functions."""
    d = t(spark, sf_dir, "documents")
    ranked = F.array(
        *[
            F.struct(
                F.md5(F.concat(F.lit(f"{s}:"), F.col("doc_id").cast("string"))).alias("h"),
                F.lit(s).alias("shard"),
            )
            for s in range(HRW_SHARDS)
        ]
    )
    assigned = d.select(
        "doc_id",
        "source",
        F.length("text").alias("nbytes"),
        F.array_max(ranked).getField("shard").alias("shard"),
    )
    return assigned.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("nbytes").alias("total_bytes"),
        F.count_distinct("source").alias("n_sources"),
    )


BENFORD_SCALE = 1_000_000


@register(
    "quality_benford_audit",
    oracle=f"""
    WITH v AS (
      SELECT substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS digit
      FROM orders WHERE o_totalprice > 0
    ),
    obs AS (SELECT digit, COUNT(*) AS n_obs FROM v GROUP BY digit),
    tot AS (SELECT SUM(n_obs) AS n FROM obs)
    SELECT CAST(o.digit AS INT) AS digit,
           CAST(o.n_obs AS BIGINT) AS n_obs,
           CAST(round(CAST(o.n_obs AS DOUBLE) / t.n * {BENFORD_SCALE}) AS BIGINT) AS share_fp,
           CAST(round(ln(1.0 + 1.0 / CAST(o.digit AS INT)) / ln(10.0) * {BENFORD_SCALE}) AS BIGINT) AS benford_fp,
           CAST(round((CAST(o.n_obs AS DOUBLE) / t.n
                       - ln(1.0 + 1.0 / CAST(o.digit AS INT)) / ln(10.0))
                      * {BENFORD_SCALE}) AS BIGINT) AS diff_fp
    FROM obs o CROSS JOIN tot t
    """,
    category="quality",
)
def quality_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit on order totals — the classic
    forensic/data-quality screen: naturally-occurring monetary amounts
    follow P(d) = log10(1 + 1/d); synthetic, truncated, or fabricated
    data shows up as a flat or spiked digit histogram (the fixture's
    uniform generator is exactly such a deviation, and diff_fp makes it
    visible). One scan -> 9-row digit histogram (map-side partials
    carry the volume), a 1-row total cross-joined back — no windows, no
    data-sized broadcast; per-digit observed share, Benford expectation,
    and deviation all as fixed-point integers so the driver hash-check
    pins every digit. At 100 TB the same audit runs per source/segment
    by adding the key to both group-bys."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    v = o.select(
        F.substring(F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1)
        .cast("int")
        .alias("digit")
    )
    obs = v.groupBy("digit").agg(F.count("*").alias("n_obs"))
    tot = obs.agg(F.sum("n_obs").alias("n"))
    benford = F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    share = F.col("n_obs").cast("double") / F.col("n")
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            F.round(share * BENFORD_SCALE).cast("long").alias("share_fp"),
            F.round(benford * BENFORD_SCALE).cast("long").alias("benford_fp"),
            F.round((share - benford) * BENFORD_SCALE).cast("long").alias("diff_fp"),
        )
    )


MB_MIN_BOTH = 3     # min co-occurrence count for an emitted rule
MB_TOP = 20         # rules returned (top by lift)
MB_SCALE = 1_000_000


@register(
    "orders_market_basket_lift",
    oracle=f"""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM b),
    ic AS (SELECT l_partkey, COUNT(*) AS c FROM b GROUP BY l_partkey),
    pc AS (
      SELECT a.l_partkey AS part_a, b2.l_partkey AS part_b, COUNT(*) AS n_both
      FROM b a JOIN b b2
        ON a.l_orderkey = b2.l_orderkey AND a.l_partkey < b2.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, n_both, n_a, n_b, n_orders, lift_fp, conf_fp FROM (
      SELECT p.part_a, p.part_b,
             CAST(p.n_both AS BIGINT) AS n_both,
             CAST(ca.c AS BIGINT) AS n_a, CAST(cb.c AS BIGINT) AS n_b,
             CAST(n.n_orders AS BIGINT) AS n_orders,
             CAST(round(CAST(p.n_both AS DOUBLE) * n.n_orders
                        / (ca.c * cb.c) * {MB_SCALE}) AS BIGINT) AS lift_fp,
             CAST(round(CAST(p.n_both AS DOUBLE) / ca.c * {MB_SCALE}) AS BIGINT) AS conf_fp
      FROM pc p
      JOIN ic ca ON ca.l_partkey = p.part_a
      JOIN ic cb ON cb.l_partkey = p.part_b
      CROSS JOIN n
      WHERE p.n_both >= {MB_MIN_BOTH}
    )
    ORDER BY lift_fp DESC, part_a, part_b LIMIT {MB_TOP}
    """,
    category="events",
)
def orders_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (Agrawal's support/confidence/lift
    over co-purchase baskets): item pairs co-occurring in >= 3 orders,
    scored by lift = N * P(a,b) / (P(a) * P(b)) and confidence, top-20 by
    lift. The pair join is keyed on l_orderkey, so candidate fan-out per
    order is (items-per-order choose 2) — bounded by basket size (<= 7
    lines in this schema, 21 pairs), NEVER item-keyed (a popular item
    would make an item-keyed self-join quadratic in its order count).
    Item counts and the basket total broadcast onto the bounded pair
    frame; exact integer counts feed one double division per rule
    (fixed-point, cross-engine exact); final TakeOrdered top-20 with
    full deterministic tie-break. Same sufficient-statistics shape as
    events_cooccurrence_pmi but over the retail basket table — lift is
    exp(PMI) normalized per rule, the form a recommender consumes."""
    b = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    n = b.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    ic = b.groupBy("l_partkey").agg(F.count("*").alias("c"))
    a = b.alias("a")
    b2 = b.alias("b2")
    pc = (
        a.join(
            b2,
            (F.col("a.l_orderkey") == F.col("b2.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b2.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("part_a"), F.col("b2.l_partkey").alias("part_b"))
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= MB_MIN_BOTH)
    )
    ca = ic.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("n_a"))
    cb = ic.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("n_b"))
    lift = F.round(
        F.col("n_both").cast("double") * F.col("n_orders") / (F.col("n_a") * F.col("n_b")) * MB_SCALE
    ).cast("long")
    conf = F.round(F.col("n_both").cast("double") / F.col("n_a") * MB_SCALE).cast("long")
    return (
        pc.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a", "part_b", "n_both", "n_a", "n_b", "n_orders",
            lift.alias("lift_fp"), conf.alias("conf_fp"),
        )
        .orderBy(F.col("lift_fp").desc(), "part_a", "part_b")
        .limit(MB_TOP)
    )


BPE_MERGES = 4  # learned merge rounds (unrolled in both engines)


def _bpe_oracle() -> str:
    stages = ["""repr0 AS (
      SELECT freq,
             array_to_string(list_transform(range(1, length(word) + 1), i -> word[i]), ' ')
               || ' </w>' AS r
      FROM (
        SELECT tok AS word, COUNT(*) AS freq FROM (
          SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        ) WHERE tok <> '' GROUP BY tok
      )
    )"""]
    for i in range(1, BPE_MERGES + 1):
        stages.append(f"""pairs{i} AS (
      SELECT p, CAST(SUM(freq) AS BIGINT) AS c FROM (
        SELECT freq, toks[i] || ' ' || toks[i + 1] AS p
        FROM (SELECT freq, string_split(r, ' ') AS toks FROM repr{i - 1}),
             UNNEST(range(1, len(toks))) AS u(i)
      ) GROUP BY p
    )""")
        stages.append(f"""best{i} AS (SELECT p, c FROM pairs{i} ORDER BY c DESC, p LIMIT 1)""")
        if i < BPE_MERGES:
            stages.append(f"""repr{i} AS (
      SELECT freq,
             trim(replace(' ' || r || ' ', ' ' || b.p || ' ',
                          ' ' || replace(b.p, ' ', '') || ' ')) AS r
      FROM repr{i - 1} CROSS JOIN best{i} b
    )""")
    selects = "\n    UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS merge_order, p AS pair, replace(p, ' ', '') AS merged, c AS pair_count FROM best{i}"
        for i in range(1, BPE_MERGES + 1)
    )
    return "    WITH " + ",\n    ".join(stages) + "\n    " + selects


def _bpe_repr0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(freq, r): corpus words as space-separated character symbols with an
    </w> marker, weighted by frequency — the trainer's working frame."""
    d = t(spark, sf_dir, "documents")
    # Empty words (consecutive/leading spaces) are excluded on BOTH engines:
    # a BPE trainer has no symbol sequence for them, and DuckDB's
    # array_to_string over an empty char list is NULL (silent row loss) —
    # the empty-token divergence a review probe caught.
    words = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    chars = F.concat(F.array_join(F.split("word", ""), " "), F.lit(" </w>"))
    return words.select("freq", chars.alias("r"))


def _bpe_pair_counts(repr_df: DataFrame) -> DataFrame:
    """(p, c): frequency-weighted adjacent symbol-pair counts over the
    working representation — the per-round aggregate both trainers share.
    The symbol string is split ONCE into an array column before the
    adjacent-pair transform (the previous single-expression form evaluated
    `split(r, ' ')` four times per row — filter, size, and twice inside
    the lambda — and Catalyst does not CSE across the projection/filter
    boundary); identical pair stream, ~4x fewer regex splits per pass."""
    pair_arr = F.expr(
        "transform(sequence(0, size(toks) - 2), i -> "
        "concat(toks[i], ' ', toks[i + 1]))"
    )
    return (
        repr_df.select("freq", F.split("r", " ").alias("toks"))
        .filter(F.size("toks") >= 2)
        .select("freq", F.explode(pair_arr).alias("p"))
        .groupBy("p")
        .agg(F.sum("freq").alias("c"))
    )


def _bpe_best_pair(repr_df: DataFrame) -> DataFrame:
    """1-row (p, c): the most frequent adjacent symbol pair, deterministic
    tie-break on the pair itself."""
    return _bpe_pair_counts(repr_df).orderBy(F.col("c").desc(), F.col("p")).limit(1)


def _bpe_apply_merge(repr_df: DataFrame, pair: str) -> DataFrame:
    """Apply one learned merge (boundary-delimited leftmost-non-overlapping;
    see text_bpe_learn_merges for the variant's semantics). `pair` is a
    plain string literal, not a frame — see _bpe_rounds."""
    padded = F.concat(F.lit(" "), F.col("r"), F.lit(" "))
    return repr_df.select(
        "freq",
        F.trim(
            F.replace(padded, F.lit(f" {pair} "), F.lit(" " + pair.replace(" ", "") + " "))
        ).alias("r"),
    )


def _bpe_rounds(repr_df: DataFrame, k: int):
    """Run k merge rounds. The per-round argmax is a 1-ROW COLLECT inlined
    as a literal into the next round's plan (the CC-convergence-scalar
    precedent) — so the representation lineage stays LINEAR in k. The
    earlier all-lazy formulation embedded each round's aggregate subtree
    inside the next round's plan, doubling work per round (~2^k vocab
    passes — a review finding); with the literal inlining, k rounds is
    exactly k bounded passes, as a 32k-merge production trainer needs.
    Callers checkpoint the incoming vocab frame (see text_bpe_learn_merges)
    so each round's argmax re-reads materialized blocks instead of
    re-running the corpus scan + word aggregate underneath its merge
    projections. Returns ([(round, pair, merged, count), ...], final_repr)."""
    merges = []
    for i in range(1, k + 1):
        row = _bpe_best_pair(repr_df).collect()
        if not row:
            break
        pair, count = row[0]["p"], row[0]["c"]
        merges.append((i, pair, pair.replace(" ", ""), count))
        if i < k:
            repr_df = _bpe_apply_merge(repr_df, pair)
    return merges, repr_df


@register("text_bpe_learn_merges", oracle=_bpe_oracle(), category="text")
def text_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge LEARNING (Sennrich et al. 2016 — the subword-tokenizer
    training loop, not just BPE-style counting): words become
    space-separated character sequences with an </w> marker, weighted by
    corpus frequency; each round counts adjacent symbol pairs
    (frequency-weighted), merges the most frequent pair corpus-wide, and
    re-derives the representation — 4 unrolled rounds, returning
    (merge_order, pair, merged, pair_count): the head of the merge table
    a tokenizer trainer would emit. Merge application is the
    boundary-delimited leftmost-non-overlapping variant (' A B ' ->
    ' AB ' on the padded symbol string — immune to the classic
    false-substring bug where pair 'e r' would corrupt token 'te r';
    consecutive overlapping occurrences of the same pair defer to a
    later round). Both engines implement the IDENTICAL variant, so the
    whole learned trajectory is driver-hash-pinned.

    Scale shape: the corpus collapses to the distinct-WORD frame first
    (the standard trainer trick — pair counts are frequency-weighted
    word-level sums, so iteration cost tracks vocabulary, not corpus);
    each round is one keyed pair-count aggregate + a TakeOrdered argmax
    + a 1-row broadcast applied map-side. k rounds = k bounded passes
    over the vocab frame, but each pass is a SERIAL Spark job with a
    1-row collect — at a real 32k-merge vocabulary that is 32k serial
    jobs, which is NOT a production shape for a declarative engine; this
    operator is the k=4 algorithm demo and ORACLE ANCHOR ONLY — at any
    real merge budget use text_bpe_learn_merges_batched, the designated
    scale path (batched top-m non-conflicting merges per pass; m~64
    cuts 32k rounds to ~500)."""
    # Materialize the corpus -> weighted-vocab collapse ONCE (r15
    # optimization, guide §5): every round's argmax otherwise re-runs the
    # document scan + word aggregate underneath its merge projections —
    # k rounds = k corpus scans. Lazy checkpoint: round 1's collect is the
    # single sequential first consumer; later rounds re-apply their cheap
    # vocab-sized merge projections on the materialized blocks — one
    # corpus pass, k vocab passes, the production trainer shape.
    merges, _ = _bpe_rounds(
        _bpe_repr0(spark, sf_dir).localCheckpoint(eager=False), BPE_MERGES
    )
    return spark.createDataFrame(
        merges, "merge_order int, pair string, merged string, pair_count long"
    )


def _bpe_compression_oracle() -> str:
    # Reuse the trainer's unrolled CTE chain; swap its final UNION of merge
    # rows for one more merge application (best4 onto repr3) plus the
    # corpus-level token counts.
    base = _bpe_oracle()
    head = base[: base.index("SELECT CAST(1 AS INT) AS merge_order")]
    # Re-open the CTE list by stripping EXACTLY the one paren that closes
    # the last CTE — .rstrip(")") would eat nested trailing parens if a
    # future edit to _bpe_oracle ends the last CTE differently.
    head = head.rstrip()
    if not head.endswith(")"):  # explicit: must survive python -O
        raise ValueError("last CTE must end with a closing paren")
    head = head[:-1] + "),"
    return (
        head
        + f"""
    rfin AS (
      SELECT freq,
             trim(replace(' ' || r || ' ', ' ' || b.p || ' ',
                          ' ' || replace(b.p, ' ', '') || ' ')) AS r
      FROM repr{BPE_MERGES - 1} CROSS JOIN best{BPE_MERGES} b
    )
    SELECT CAST((SELECT COUNT(*) FROM repr0) AS BIGINT) AS vocab_words,
           CAST((SELECT SUM(freq * len(string_split(r, ' '))) FROM repr0) AS BIGINT) AS tokens_before,
           CAST((SELECT SUM(freq * len(string_split(r, ' '))) FROM rfin) AS BIGINT) AS tokens_after
    """
    )


@register(
    "text_bpe_apply_compression",
    oracle=_bpe_compression_oracle(),
    category="text",
)
def text_bpe_apply_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The payoff measurement for the BPE trainer (text_bpe_learn_merges):
    apply all 4 learned merges to the weighted vocabulary and report
    corpus token volume before (pure character+</w> symbols) vs after —
    the compression curve a tokenizer team tracks per merge budget.
    Token totals are frequency-weighted symbol counts over the DISTINCT
    word frame (never a corpus re-scan), exact BIGINTs. Same unrolled
    deterministic chain as the trainer, so the measurement is
    driver-hash-pinned end to end."""
    # One materialized vocab build for the trainer rounds AND the
    # before/after token counts (three consumers of repr0 — see
    # text_bpe_learn_merges for the rationale).
    base = _bpe_repr0(spark, sf_dir).localCheckpoint(eager=False)
    merges, repr_df = _bpe_rounds(base, BPE_MERGES)
    if merges:  # _bpe_rounds applies all but the last learned merge
        repr_df = _bpe_apply_merge(repr_df, merges[-1][1])
    def ntok(df):
        return df.agg(F.sum(F.col("freq") * F.size(F.split("r", " "))).alias("n"))

    before = ntok(base).select(F.col("n").alias("tokens_before"))
    after = ntok(repr_df).select(F.col("n").alias("tokens_after"))
    vocab = base.agg(F.count("*").alias("vocab_words"))
    return (
        vocab.crossJoin(F.broadcast(before))
        .crossJoin(F.broadcast(after))
        .select("vocab_words", "tokens_before", "tokens_after")
    )


BPE_BATCH_PASSES = 2  # unrolled in both engines
BPE_BATCH_CAND = 8    # candidate window per pass (top-m by count)


def _bpe_batched_oracle() -> str:
    # Same repr0 / pair-count CTE shapes as _bpe_oracle; per pass, the
    # top-CAND candidates are strict-filtered to mutually symbol-disjoint
    # merges and applied in one list_reduce fold (rank order — the merges
    # commute, see the operator docstring).
    stages = ["""repr0 AS (
      SELECT freq,
             array_to_string(list_transform(range(1, length(word) + 1), i -> word[i]), ' ')
               || ' </w>' AS r
      FROM (
        SELECT tok AS word, COUNT(*) AS freq FROM (
          SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        ) WHERE tok <> '' GROUP BY tok
      )
    )"""]
    for i in range(1, BPE_BATCH_PASSES + 1):
        stages.append(f"""pairs{i} AS (
      SELECT p, CAST(SUM(freq) AS BIGINT) AS c FROM (
        SELECT freq, toks[i] || ' ' || toks[i + 1] AS p
        FROM (SELECT freq, string_split(r, ' ') AS toks FROM repr{i - 1}),
             UNNEST(range(1, len(toks))) AS u(i)
      ) GROUP BY p
    )""")
        stages.append(f"""cand{i} AS (
      SELECT p, c, CAST(row_number() OVER (ORDER BY c DESC, p) AS INT) AS rk
      FROM (SELECT p, c FROM pairs{i} ORDER BY c DESC, p LIMIT {BPE_BATCH_CAND})
    )""")
        stages.append(f"""sel{i} AS (
      SELECT a.p, a.c, a.rk FROM cand{i} a
      WHERE NOT EXISTS (
        SELECT 1 FROM cand{i} b
        WHERE b.rk < a.rk
          AND (string_split(b.p, ' ')[1] IN (string_split(a.p, ' ')[1], string_split(a.p, ' ')[2])
            OR string_split(b.p, ' ')[2] IN (string_split(a.p, ' ')[1], string_split(a.p, ' ')[2]))
      )
    )""")
        if i < BPE_BATCH_PASSES:
            stages.append(f"""repr{i} AS (
      SELECT freq,
             trim(list_reduce(
               list_prepend(' ' || r || ' ', (SELECT list(p ORDER BY rk) FROM sel{i})),
               (acc, m) -> replace(acc, ' ' || m || ' ', ' ' || replace(m, ' ', '') || ' ')
             )) AS r
      FROM repr{i - 1}
    )""")
    selects = "\n    UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS pass_no, rk AS cand_rank, p AS pair, "
        f"replace(p, ' ', '') AS merged, c AS pair_count FROM sel{i}"
        for i in range(1, BPE_BATCH_PASSES + 1)
    )
    return "    WITH " + ",\n    ".join(stages) + "\n    " + selects


@register(
    "text_bpe_learn_merges_batched",
    oracle=_bpe_batched_oracle(),
    category="text",
)
def text_bpe_learn_merges_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched BPE merge learning — the PRODUCTION shape of
    text_bpe_learn_merges: instead of one serial Spark job per merge
    (32k jobs at a real vocabulary), each pass takes the top-m candidate
    pairs in ONE aggregate and applies every mutually symbol-disjoint
    candidate in ONE map-side fold, so a 32k-merge table costs ~32k/m
    passes (m~64 -> ~500), not 32k.

    Soundness of the batch: a pair is selected iff its two symbols are
    disjoint from the symbols of ALL higher-ranked candidates (strict
    rule — non-iterative, hence expressible identically in both
    engines). Disjoint merges COMMUTE under the boundary-delimited
    replace (' A B ' -> ' AB '): a replacement only consumes its own
    boundary spaces and re-emits them, so it can neither create nor
    destroy an occurrence of a symbol-disjoint pair — each selected
    pair's pre-pass count therefore remains its exact merge count, and
    the fold order is irrelevant (rank order used on both engines for
    determinism). The deliberate approximation vs greedy BPE: new pairs
    involving freshly merged symbols only compete from the NEXT pass.

    Scale shape: per pass, one keyed pair-count aggregate, one
    TakeOrdered(m) argmax (an m-row driver collect — metadata-scale,
    same class as the CC convergence scalar), and one map-side fold of
    <=m literal replaces; lineage stays linear in passes. Returns
    (pass_no, cand_rank, pair, merged, pair_count) for the selected
    merges of each pass, driver-hash-pinned against the identically
    unrolled DuckDB chain."""
    # One materialized vocab build for all passes (see text_bpe_learn_merges).
    repr_df = _bpe_repr0(spark, sf_dir).localCheckpoint(eager=False)
    out = []
    for pass_no in range(1, BPE_BATCH_PASSES + 1):
        cands = (
            _bpe_pair_counts(repr_df)
            .orderBy(F.col("c").desc(), F.col("p"))
            .limit(BPE_BATCH_CAND)
            .collect()
        )
        sel = []
        for rk, row in enumerate(cands, 1):
            syms = set(row["p"].split(" "))
            if all(
                syms.isdisjoint(prev["p"].split(" ")) for prev in cands[: rk - 1]
            ):
                sel.append((pass_no, rk, row["p"], row["p"].replace(" ", ""), row["c"]))
        out.extend(sel)
        if pass_no < BPE_BATCH_PASSES:
            expr = F.concat(F.lit(" "), F.col("r"), F.lit(" "))
            for _, _, p, merged, _ in sel:
                expr = F.replace(expr, F.lit(f" {p} "), F.lit(f" {merged} "))
            repr_df = repr_df.select("freq", F.trim(expr).alias("r"))
    return spark.createDataFrame(
        out, "pass_no int, cand_rank int, pair string, merged string, pair_count long"
    )


_PROFILE_COLS = [
    ("o_orderkey", "CAST(o_orderkey AS VARCHAR)"),
    ("o_custkey", "CAST(o_custkey AS VARCHAR)"),
    ("o_totalprice_cents", "CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS VARCHAR)"),
    ("o_orderpriority", "o_orderpriority"),
]


@register(
    "quality_column_profile",
    oracle="\n    UNION ALL ".join(
        f"""SELECT '{name}' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN {expr} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT {expr}) AS BIGINT) AS n_distinct,
           MIN({expr}) AS min_s, MAX({expr}) AS max_s
    FROM orders"""
        for name, expr in _PROFILE_COLS
    ),
    category="quality",
)
def quality_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profile (the DESCRIBE/profiling pass every
    ingestion pipeline runs before trusting a feed): one row per profiled
    column with row count, null count, distinct cardinality, and
    lexicographic min/max — over a canonical string projection per
    column (integers via CAST, money via exact cents) so the values are
    engine-portable and the whole profile is driver-hash-pinned. The
    plan is ONE scan feeding per-column aggregates unioned into a
    bounded (#columns) frame; distinct counts are the only shuffled
    aggregates and they shuffle per column key-space, not per row pair.
    At 100 TB you'd swap COUNT(DISTINCT) for approx_count_distinct
    (HLL, one pass, no expand) and keep the schema — the audit row shape
    is the contract; agg_hll_mergeable_sketches is that estimator,
    oracle-checked."""
    o = t(spark, sf_dir, "orders")
    proj = {
        "o_orderkey": F.col("o_orderkey").cast("string"),
        "o_custkey": F.col("o_custkey").cast("string"),
        "o_totalprice_cents": F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
        "o_orderpriority": F.col("o_orderpriority"),
    }
    names = [n for n, _ in _PROFILE_COLS]
    projected = o.select([c.alias(n) for n, c in proj.items()])
    # ONE aggregate computes every per-column measure (4 columns x 4
    # measures + the shared row count), then the 1-row result unpivots to
    # the per-column row shape — a single scan, where a union of
    # per-column aggregates would re-scan orders once per column (review
    # finding; Spark does not merge identical scans across union branches).
    aggs = [F.count("*").alias("n_rows")]
    for n in names:
        c = F.col(n)
        aggs += [
            F.sum(F.when(c.isNull(), 1).otherwise(0)).alias(f"{n}__nulls"),
            F.count_distinct(c).alias(f"{n}__distinct"),
            F.min(c).alias(f"{n}__min"),
            F.max(c).alias(f"{n}__max"),
        ]
    row = projected.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(n).alias("col_name"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"{n}__nulls").alias("n_null"),
                F.col(f"{n}__distinct").alias("n_distinct"),
                F.col(f"{n}__min").alias("min_s"),
                F.col(f"{n}__max").alias("max_s"),
            )
            for n in names
        ]
    )
    return row.select(F.explode(per_col).alias("s")).select("s.*")


LP_SEEDS = 10      # link-prediction query nodes (smallest part ids in the graph)
LP_TOP = 5         # predictions per seed
LP_SCALE = 1_000_000


@register(
    "graph_link_prediction_jaccard",
    oracle=f"""
    WITH lp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
    e AS (
      SELECT DISTINCT a.p AS u, b.p AS v
      FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p
    ),
    adj AS (SELECT u AS n, v AS nbr FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY n),
    seeds AS (SELECT n AS q FROM deg ORDER BY n LIMIT {LP_SEEDS}),
    qadj AS (SELECT s.q, a.nbr AS w FROM seeds s JOIN adj a ON a.n = s.q),
    cand AS (
      SELECT qa.q, a.nbr AS b, CAST(COUNT(*) AS BIGINT) AS cn
      FROM qadj qa JOIN adj a ON a.n = qa.w
      WHERE a.nbr <> qa.q
      GROUP BY qa.q, a.nbr
    ),
    new_links AS (
      SELECT c.q, c.b, c.cn FROM cand c
      WHERE NOT EXISTS (
        SELECT 1 FROM adj x WHERE x.n = c.q AND x.nbr = c.b
      )
    )
    SELECT q, b, cn, jaccard_fp FROM (
      SELECT n.q, n.b, n.cn,
             CAST(round(CAST(n.cn AS DOUBLE) / (dq.d + db.d - n.cn) * {LP_SCALE}) AS BIGINT)
               AS jaccard_fp,
             row_number() OVER (
               PARTITION BY n.q
               ORDER BY CAST(n.cn AS DOUBLE) / (dq.d + db.d - n.cn) DESC, n.b
             ) AS rk
      FROM new_links n
      JOIN deg dq ON dq.n = n.q
      JOIN deg db ON db.n = n.b
    ) WHERE rk <= {LP_TOP}
    """,
    category="graph",
)
def graph_link_prediction_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-based link prediction (Liben-Nowell & Kleinberg): for
    10 seed parts, rank NON-adjacent parts by Jaccard of co-purchase
    neighborhoods — common neighbors / union of neighborhoods — the
    baseline every recommender link-predictor is measured against.
    Candidates come from a two-hop walk restricted to the SEED side
    (seeds -> their neighbors -> those neighbors' neighbors), so the
    wedge volume is O(seeds x deg^2), bounded by the query batch — the
    all-pairs variant on this deliberately dense co-purchase graph would
    be sum(deg^2) ~ 28M wedges at sf0.01 (the triangle counter pays it
    once with degree orientation; a per-pair scorer must not). Existing
    edges are removed with an anti-join (predictions must be NEW links);
    top-5 per seed via one partitioned rank window; scores are
    fixed-point over exact integer counts. The adjacency list is
    localCheckpoint-ed so its four consumers share one edge build.

    100 TB: production link prediction is always seed-batched exactly
    like this (score candidates for a user/session batch, not all
    pairs); the shuffles are keyed on node ids and the only fan-out is
    the seed frontier. Hub mitigation (cap/frequency-weight the w
    expansion) composes the same way as SHINGLE_DF_CAP.

    r15 optimization (guide §3.1): everything keyed by the SEED side is
    bounded by LP_SEEDS x max-degree — the seed frontier `qadj`, the
    seeds' own adjacency (the anti-join's only relevant slice: cand.q is
    a seed by construction, so anti-joining against the FULL adjacency
    was equivalent but shuffled the whole graph by (q,b)), and the seed
    degrees (derivable from `qadj` itself, sparing a join against the
    full degree table). Broadcasting those three collapses four
    SortMergeJoins of the full adjacency/degree frames to broadcast hash
    joins: 10 Exchanges -> 5, measured 3.38s -> ~1.6s at sf0.1. The
    frontier is eagerly checkpointed once for its three consumers. Only
    the candidate-side degree attach (db, node-count-sized) stays a
    shuffle join in the static plan — that one is data-sized and must
    not be hinted.

    The db attach plans statically as a SortMergeJoin, but the AQE-final
    executed plan at sf0.1 (read after the DataFrame's own collect, at 4
    and 32 shuffle partitions:
    probes/final_plan_r16_sf01_graph_link_prediction_jaccard.txt) runs it
    as a BroadcastHashJoin: once the deg shuffle stage has run, its
    measured output is under the adaptive broadcast threshold, so AQE
    demotes the join. That is the outcome to want without a hint: deg is
    node-count sized, AQE broadcasts it only when measured small, and a
    broadcast hint here would OOM on a billion-node graph. Stage profile
    at sf0.1 (2 trials): adj build+checkpoint 1.4-1.9 s of the 2.5-2.9 s
    query; deg 0.3-0.5 s; cand wedge aggregate 0.4-0.7 s — the db join
    is not where the time goes. A half-size undirected-edge checkpoint
    (adj as a lazy union over the blocks) read 1.36x SLOWER in r16 (3
    bursts, ratio of minimum medians) and was reverted; 10 alternating
    bursts at local[4] read 1.03x, inside the quartiles
    (probes/abx_graph_half_edge_ckpt_sf01_local4.txt). The kept change is
    the LAZY adjacency checkpoint (see inline comment), 0.97x on its
    sf0.1 ladder and inside the ±15% noise band at 10x
    (probes/abx_r16opt_graph_*.txt)."""
    l = t(spark, sf_dir, "lineitem")
    lp = l.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p")).distinct()
    a0, b0 = lp.alias("a"), lp.alias("b")
    e = (
        a0.join(b0, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
        .distinct()
    )
    adj = e.select(F.col("u").alias("n"), F.col("v").alias("nbr")).unionAll(
        e.select(F.col("v").alias("n"), F.col("u").alias("nbr"))
    )
    # The adjacency list feeds four consumers (deg, qadj, hop2, existing);
    # without materialization each re-runs the per-order pair self-join —
    # ReusedExchange usually dedups it but is not guaranteed across the
    # four subtrees. localCheckpoint pins the edge build to exactly one
    # job (same discipline as dedup_connected_components). r16
    # measured-and-REVERTED: checkpointing the half-size undirected edge
    # set `e` instead (adj as a lazy union over the blocks) read 1.36x
    # SLOWER (probes/abx_r16opt_graph_sf01.txt) — every consumer then
    # scanned the blocks twice through the union and the frontier job
    # absorbed the whole build serially. LAZY here (r16, kept after A/B):
    # the sequential first consumer is qadj's eager-checkpoint job, so the
    # build materializes inside it instead of paying its own job barrier
    # (the dedup_connected_components fingerprint-probe pattern).
    from glue_etl_framework_spark.ckpt import DATA_SIZED, checkpoint_shared

    adj = checkpoint_shared(adj, size_class=DATA_SIZED, eager=False)
    deg = adj.groupBy("n").agg(F.count("*").alias("d"))
    seeds = deg.select(F.col("n").alias("q")).orderBy("q").limit(LP_SEEDS)
    # Seed frontier: LP_SEEDS x max-degree rows — bounded by the query
    # batch, never by the graph. Materialized once for its three consumers
    # (hop-2 probe, existing-edge anti-join, seed degrees).
    qadj = (
        F.broadcast(seeds)
        .join(adj, F.col("n") == F.col("q"))
        .select("q", F.col("nbr").alias("w"))
        .localCheckpoint(eager=True)
    )
    hop2 = adj.select(F.col("n").alias("w"), F.col("nbr").alias("b"))
    # Broadcast the frontier into the hop-2 expansion: the full adjacency
    # is probed in place instead of being shuffled by w.
    cand = (
        hop2.join(F.broadcast(qadj), "w")
        .filter(F.col("b") != F.col("q"))
        .groupBy("q", "b")
        .agg(F.count("*").alias("cn"))
    )
    # cand.q is a seed, so "edge (q,b) already exists" only needs the
    # seeds' adjacency — which IS the frontier (q, w->b). Anti-joining
    # against the full adjacency was equivalent but data-sized.
    existing = qadj.select("q", F.col("w").alias("b"))
    new_links = cand.join(F.broadcast(existing), ["q", "b"], "left_anti")
    # Seed degrees fall out of the frontier (adj restricted to n in seeds,
    # rows distinct), sparing a join against the full degree table.
    dq = qadj.groupBy("q").agg(F.count("*").alias("dq"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    jac = F.col("cn").cast("double") / (F.col("dq") + F.col("db") - F.col("cn"))
    from pyspark.sql import Window as W

    rk = F.row_number().over(W.partitionBy("q").orderBy(jac.desc(), F.col("b")))
    return (
        new_links.join(F.broadcast(dq), "q")
        .join(db, "b")
        .withColumn("rk", rk)
        .filter(F.col("rk") <= LP_TOP)
        .select("q", "b", "cn", F.round(jac * LP_SCALE).cast("long").alias("jaccard_fp"))
    )


KM_SCALE = 1_000_000


@register(
    "orders_survival_km_repeat_purchase",
    oracle=f"""
    WITH RECURSIVE per_cust AS (
      SELECT o_custkey,
             MIN(o_orderdate) AS first_dt,
             MIN(CASE WHEN rn = 2 THEN o_orderdate END) AS second_dt
      FROM (
        SELECT o_custkey, o_orderdate,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders
      ) GROUP BY o_custkey
    ),
    horizon AS (SELECT MAX(o_orderdate) AS max_dt FROM orders),
    subjects AS (
      SELECT p.o_custkey,
             CASE WHEN p.second_dt IS NOT NULL
                  THEN date_diff('day', p.first_dt, p.second_dt)
                  ELSE date_diff('day', p.first_dt, h.max_dt) END AS dur,
             CASE WHEN p.second_dt IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM per_cust p CROSS JOIN horizon h
    ),
    tbl AS (
      SELECT dur, CAST(SUM(ev) AS BIGINT) AS n_event,
             CAST(COUNT(*) AS BIGINT) AS n_total
      FROM subjects GROUP BY dur
    ),
    km1 AS (
      SELECT row_number() OVER (ORDER BY dur) AS i,
             CAST(dur AS BIGINT) AS dur, n_event,
             CAST((SELECT COUNT(*) FROM subjects) AS BIGINT)
               - (SUM(n_total) OVER (ORDER BY dur) - n_total) AS n_risk
      FROM tbl
    ),
    rec AS (
      -- exact integer KM recursion S_j = (S_{{j-1}} * (n_j - d_j)) div n_j:
      -- no ln/exp, so the value path cannot flake on cross-libm ulps
      SELECT i, dur, n_event, n_risk,
             (CAST({KM_SCALE} AS BIGINT) * (n_risk - n_event)) // n_risk AS s
      FROM km1 WHERE i = 1
      UNION ALL
      SELECT k.i, k.dur, k.n_event, k.n_risk,
             (r.s * (k.n_risk - k.n_event)) // k.n_risk
      FROM km1 k JOIN rec r ON k.i = r.i + 1
    )
    -- CAST back to BIGINT: the window SUM in km1 widens n_risk to HUGEINT
    -- (and s inherits it through the recursion); the driver's value-hash
    -- renders HUGEINT as float ("995000.0") vs Spark's BIGINT ("995000"),
    -- which was the r5 hash-mismatch root cause despite identical values.
    SELECT dur AS dur_days, CAST(n_risk AS BIGINT) AS n_risk, n_event,
           CAST(s AS BIGINT) AS surv_fp
    FROM rec WHERE n_event > 0
    """,
    category="events",
)
def orders_survival_km_repeat_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate for time-to-repeat-purchase — the
    right-censoring-aware answer to "how long until a customer orders
    again" (naive mean-of-gaps is biased: one-order customers aren't
    failures, they're CENSORED at the observation horizon). Subjects =
    customers; event = second order (duration in days from the first);
    censoring = horizon minus first order otherwise. S(t) =
    prod_{{t_j <= t}} (1 - d_j / n_j) computed as an EXACT integer
    fixed-point recursion S_j = (S_{{j-1}} * (n_j - d_j)) div n_j folded
    over the sorted per-duration array (the events_forecast_holt_linear
    pattern) — no ln/exp in the value path, so the driver hash cannot
    flake on cross-libm last-ulp differences (which r4 proved is a real,
    data-dependent failure mode for round(exp(sum(ln(...)))*1e6)).
    At-risk counts ride along in the fold accumulator. Scale: the
    per-customer reduction is one keyed window+agg; the KM table is
    bounded by the observation range in DAYS (time-bounded, like
    events_cumulative_uniques), so the fold is a scan-side expression
    over a calendar-bounded array."""
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    rn = F.row_number().over(
        W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    )
    per_cust = (
        o.select("o_custkey", "o_orderdate", rn.alias("rn"))
        .groupBy("o_custkey")
        .agg(
            F.min("o_orderdate").alias("first_dt"),
            F.min(F.when(F.col("rn") == 2, F.col("o_orderdate"))).alias("second_dt"),
        )
    )
    horizon = o.agg(F.max("o_orderdate").alias("max_dt"))
    subjects = per_cust.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("second_dt").isNotNull(),
            F.datediff("second_dt", "first_dt"),
        )
        .otherwise(F.datediff("max_dt", "first_dt"))
        .cast("long")
        .alias("dur"),
        F.when(F.col("second_dt").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    tbl = subjects.groupBy("dur").agg(
        F.sum("ev").alias("n_event"), F.count("*").alias("n_total")
    )
    total = subjects.agg(F.count("*").alias("n_subj"))
    series = tbl.crossJoin(F.broadcast(total)).groupBy("n_subj").agg(
        F.sort_array(F.collect_list(F.struct("dur", "n_event", "n_total"))).alias("arr")
    )
    # S_j = (S_{j-1} * (n_j - d_j)) div n_j is exact in BIGINT: S <= 1e6
    # and n_risk <= n_subj, so the product stays far inside 2^63. A final
    # event with d_j == n_j drives S to exactly 0 with no ln(0) special
    # case, and pure-censoring rows (d_j = 0) multiply by n_j div n_j = 1.
    out = F.expr(f"""
        aggregate(
          arr,
          named_struct(
            's', CAST({KM_SCALE} AS BIGINT), 'risk', n_subj,
            'out', CAST(array() AS array<struct<dur: bigint, n_risk: bigint,
                                               n_event: bigint, surv_fp: bigint>>)),
          (acc, x) -> named_struct(
            's', (acc.s * (acc.risk - x.n_event)) div acc.risk,
            'risk', acc.risk - x.n_total,
            'out', CASE WHEN x.n_event > 0
                   THEN array_append(acc.out, named_struct(
                          'dur', x.dur, 'n_risk', acc.risk, 'n_event', x.n_event,
                          'surv_fp', (acc.s * (acc.risk - x.n_event)) div acc.risk))
                   ELSE acc.out END)
        ).out
    """)
    return (
        series.select(F.explode(out).alias("r"))
        .select(
            F.col("r.dur").alias("dur_days"),
            F.col("r.n_risk").alias("n_risk"),
            F.col("r.n_event").alias("n_event"),
            F.col("r.surv_fp").alias("surv_fp"),
        )
    )


CUPED_SCALE = 1_000_000


@register(
    "events_abtest_cuped_adjustment",
    oracle=f"""
    WITH span AS (
      SELECT CAST(MIN(ts) AS DATE)
               + CAST(date_diff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE)) // 2 AS INTEGER)
               AS split_day
      FROM events
    ),
    per_user AS (
      SELECT e.user_id,
             {ab_variant_sql("e.user_id")} AS variant,
             SUM(CASE WHEN CAST(e.ts AS DATE) < s.split_day
                      THEN CAST(ROUND(e.value * 100) AS BIGINT) ELSE 0 END) AS x,
             SUM(CASE WHEN CAST(e.ts AS DATE) >= s.split_day
                      THEN CAST(ROUND(e.value * 100) AS BIGINT) ELSE 0 END) AS y
      FROM events e CROSS JOIN span s
      WHERE e.event_type = 'purchase'
      GROUP BY e.user_id
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM per_user
    ),
    arms AS (
      SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN variant = 0 THEN x ELSE 0 END) AS HUGEINT) AS sx_a,
             CAST(SUM(CASE WHEN variant = 1 THEN x ELSE 0 END) AS HUGEINT) AS sx_b,
             CAST(SUM(CASE WHEN variant = 0 THEN y ELSE 0 END) AS HUGEINT) AS sy_a,
             CAST(SUM(CASE WHEN variant = 1 THEN y ELSE 0 END) AS HUGEINT) AS sy_b
      FROM per_user
    )
    SELECT a.n_a, a.n_b,
           CAST(round(theta * {CUPED_SCALE}) AS BIGINT) AS theta_fp,
           CAST(round(raw_diff) AS BIGINT) AS raw_diff_cents,
           CAST(round(raw_diff
                      - theta * (CAST(a.sx_b AS DOUBLE) / a.n_b
                                 - CAST(a.sx_a AS DOUBLE) / a.n_a)) AS BIGINT)
             AS cuped_diff_cents,
           CAST(round(r2 * {CUPED_SCALE}) AS BIGINT) AS var_reduction_fp
    FROM (
      SELECT a.*, s.*,
             (s.n * CAST(s.sxy AS DOUBLE) - CAST(s.sx AS DOUBLE) * CAST(s.sy AS DOUBLE))
               / (s.n * CAST(s.sxx AS DOUBLE) - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE)) AS theta,
             CAST(a.sy_b AS DOUBLE) / a.n_b - CAST(a.sy_a AS DOUBLE) / a.n_a AS raw_diff,
             ((s.n * CAST(s.sxy AS DOUBLE) - CAST(s.sx AS DOUBLE) * CAST(s.sy AS DOUBLE))
              * (s.n * CAST(s.sxy AS DOUBLE) - CAST(s.sx AS DOUBLE) * CAST(s.sy AS DOUBLE)))
             / ((s.n * CAST(s.sxx AS DOUBLE) - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE))
                * (s.n * CAST(s.syy AS DOUBLE) - CAST(s.sy AS DOUBLE) * CAST(s.sy AS DOUBLE))) AS r2
      FROM arms a CROSS JOIN stats s
      WHERE a.n_a > 0 AND a.n_b > 0
        AND s.n * CAST(s.sxx AS DOUBLE) > CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE)
        AND s.n * CAST(s.syy AS DOUBLE) > CAST(s.sy AS DOUBLE) * CAST(s.sy AS DOUBLE)
    ) a
    """,
    category="events",
)
def events_abtest_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13 — the adjustment
    every large experimentation platform applies before reading a
    metric): per-user PRE-period spend is the covariate, POST-period
    spend the metric (the period split is the midpoint of the observed
    range, derived identically in both engines); theta = cov(X,Y)/var(X)
    from ONE pass of integer sufficient statistics (HUGEINT/DECIMAL
    internals — the OLS overflow discipline), and the reported treatment
    effect is the raw between-arm diff minus theta times the arms'
    pre-period imbalance. var_reduction_fp = corr(X,Y)^2 — the fraction
    of metric variance CUPED removes, the number that decides whether
    the adjustment is worth running. Population = users with >= 1
    purchase (deterministic in both engines; production would join the
    assignment log). Same md5-bucket assignment as the z-test operator,
    so the two entries together form the experiment readout pipeline.
    Output is ONE row at any scale; the only shuffle is the per-user
    aggregate."""
    e = t(spark, sf_dir, "events")
    span = mid_split_day(e)
    cents = F.round(F.col("value") * 100).cast("long")
    per_user = (
        e.filter(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.to_date("ts") < F.col("split_day"), cents).otherwise(0)).alias("x"),
            F.sum(F.when(F.to_date("ts") >= F.col("split_day"), cents).otherwise(0)).alias("y"),
        )
        .withColumn("variant", ab_variant())
    )
    def dec(c):
        return F.col(c).cast("decimal(38,0)")

    stats = per_user.agg(
        F.count("*").alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * F.col("x")).alias("sxx"),
        F.sum(dec("x") * F.col("y")).alias("sxy"),
        F.sum(dec("y") * F.col("y")).alias("syy"),
    )
    arms = per_user.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("variant") == 0, dec("x")).otherwise(F.lit(0).cast("decimal(38,0)"))).alias("sx_a"),
        F.sum(F.when(F.col("variant") == 1, dec("x")).otherwise(F.lit(0).cast("decimal(38,0)"))).alias("sx_b"),
        F.sum(F.when(F.col("variant") == 0, dec("y")).otherwise(F.lit(0).cast("decimal(38,0)"))).alias("sy_a"),
        F.sum(F.when(F.col("variant") == 1, dec("y")).otherwise(F.lit(0).cast("decimal(38,0)"))).alias("sy_b"),
    )
    j = arms.crossJoin(F.broadcast(stats))
    nd = F.col("n").cast("double")

    def d(c):
        return F.col(c).cast("double")

    cov_n = nd * d("sxy") - d("sx") * d("sy")
    varx_n = nd * d("sxx") - d("sx") * d("sx")
    vary_n = nd * d("syy") - d("sy") * d("sy")
    theta = cov_n / varx_n
    raw_diff = d("sy_b") / F.col("n_b") - d("sy_a") / F.col("n_a")
    cuped_diff = raw_diff - theta * (d("sx_b") / F.col("n_b") - d("sx_a") / F.col("n_a"))
    r2 = (cov_n * cov_n) / (varx_n * vary_n)
    return (
        j.filter(
            (F.col("n_a") > 0) & (F.col("n_b") > 0) & (varx_n > 0) & (vary_n > 0)
        )
        .select(
            "n_a",
            "n_b",
            F.round(theta * CUPED_SCALE).cast("long").alias("theta_fp"),
            F.round(raw_diff).cast("long").alias("raw_diff_cents"),
            F.round(cuped_diff).cast("long").alias("cuped_diff_cents"),
            F.round(r2 * CUPED_SCALE).cast("long").alias("var_reduction_fp"),
        )
    )


NEYMAN_BUDGET = 200  # total sample size allocated across strata


@register(
    "sample_neyman_allocation",
    oracle=f"""
    WITH doc AS (
      SELECT doc_id, source,
             CAST(length(string_split(text, ' ')) AS BIGINT) AS toks
      FROM documents
    ),
    strata AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS nh,
             CAST(SUM(toks) AS BIGINT) AS sx,
             CAST(SUM(toks * toks) AS BIGINT) AS sxx
      FROM doc GROUP BY source
    ),
    weighted AS (
      SELECT source, nh,
             nh * sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / nh) / nh) AS w
      FROM strata
    ),
    alloc AS (
      SELECT source, nh,
             CAST(round({NEYMAN_BUDGET} * w / (SELECT SUM(w) FROM weighted)) AS BIGINT) AS n_alloc
      FROM weighted
    ),
    ranked AS (
      SELECT d.doc_id, d.source,
             row_number() OVER (PARTITION BY d.source
                                ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rk
      FROM doc d
    )
    SELECT a.source, a.nh, a.n_alloc,
           CAST(COUNT(r.doc_id) AS BIGINT) AS n_drawn,
           CAST(COALESCE(SUM(r.doc_id), 0) AS BIGINT) AS drawn_id_sum
    FROM alloc a
    LEFT JOIN ranked r ON r.source = a.source AND r.rk <= a.n_alloc
    GROUP BY a.source, a.nh, a.n_alloc
    """,
    category="sampling",
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling allocation (Neyman 1934): the
    fixed budget is split across strata proportional to N_h * S_h —
    bigger AND more variable strata get more samples, the allocation
    that minimizes the variance of the stratified mean estimator
    (proportional allocation ignores S_h; uniform ignores both). Sigma
    comes from exact integer sufficient statistics per stratum
    (population SD, one keyed aggregate); the draw is the engine's
    standard deterministic device — md5-rank within stratum, take the
    first n_h (WindowGroupLimit, no global sort, reproducible across
    engines, which is why even the drawn id-sum is oracle-checked).
    Output one row per stratum with its size, allocation, and the drawn
    sample's fingerprint. At 100 TB: two keyed passes (stats, draw) plus
    a #strata-row broadcast — the same shape as the temperature/DSIR
    samplers."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).cast("long").alias("toks")
    )
    strata = d.groupBy("source").agg(
        F.count("*").alias("nh"),
        F.sum("toks").alias("sx"),
        F.sum(F.col("toks") * F.col("toks")).alias("sxx"),
    )
    w = F.col("nh") * F.sqrt(
        (F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / F.col("nh"))
        / F.col("nh")
    )
    weighted = strata.select("source", "nh", w.alias("w"))
    tot = weighted.agg(F.sum("w").alias("tw"))
    alloc = weighted.crossJoin(F.broadcast(tot)).select(
        "source",
        "nh",
        F.round(NEYMAN_BUDGET * F.col("w") / F.col("tw")).cast("long").alias("n_alloc"),
    )
    rk = F.row_number().over(
        W.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    )
    ranked = d.select("doc_id", "source").withColumn("rk", rk)
    drawn = ranked.join(F.broadcast(alloc), "source").filter(F.col("rk") <= F.col("n_alloc"))
    return (
        alloc.join(
            drawn.groupBy("source").agg(
                F.count("*").alias("n_drawn"), F.sum("doc_id").alias("drawn_id_sum")
            ),
            "source",
            "left",
        )
        .select(
            "source",
            "nh",
            "n_alloc",
            F.coalesce("n_drawn", F.lit(0)).alias("n_drawn"),
            F.coalesce("drawn_id_sum", F.lit(0)).alias("drawn_id_sum"),
        )
    )


KS_BINS = 64
KS_SCALE = 1_000_000


@register(
    "quality_ks_binned_drift",
    oracle=f"""
    WITH span AS (
      SELECT CAST(MIN(ts) AS DATE)
               + CAST(date_diff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE)) // 2 AS INTEGER)
               AS split_day
      FROM events
    ),
    v AS (
      SELECT CASE WHEN CAST(e.ts AS DATE) < s.split_day THEN 0 ELSE 1 END AS half,
             CAST(least(length(bin(CAST(ROUND(e.value * 100) AS BIGINT))) - 1,
                        {KS_BINS - 1}) AS BIGINT) AS bin
      FROM events e CROSS JOIN span s
      WHERE e.value > 0
    ),
    binned AS (
      SELECT bin,
             CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pre,
             CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_post
      FROM v GROUP BY bin
    ),
    cum AS (
      SELECT bin, n_pre, n_post,
             SUM(n_pre) OVER (ORDER BY bin) AS c_pre,
             SUM(n_post) OVER (ORDER BY bin) AS c_post,
             (SELECT SUM(n_pre) FROM binned) AS t_pre,
             (SELECT SUM(n_post) FROM binned) AS t_post
      FROM binned
    )
    SELECT CAST(MAX(round(abs(CAST(c_pre AS DOUBLE) / t_pre
                              - CAST(c_post AS DOUBLE) / t_post) * {KS_SCALE})) AS BIGINT)
             AS ks_stat_fp,
           CAST(MAX(t_pre) AS BIGINT) AS n_pre,
           CAST(MAX(t_post) AS BIGINT) AS n_post,
           CAST(COUNT(*) AS BIGINT) AS n_bins_used
    FROM cum
    WHERE t_pre > 0 AND t_post > 0
    """,
    category="quality",
)
def quality_ks_binned_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned two-sample Kolmogorov-Smirnov drift statistic — the
    sup-of-CDF-gap view of distribution change, next to PSI's
    sum-of-bin-terms view (quality_psi_drift): event values from the
    first half of the observation window vs the second, bucketed into
    <= 64 log2 bins (length-of-binary-representation — integer-exact in
    both engines, the events_user_gini device), cumulative shares per
    half, and KS = max |F_pre - F_post| over bin boundaries. The exact
    KS over raw values needs a merged global ORDER over both samples —
    unbounded at scale; the binned statistic is a lower bound whose
    resolution is the bin width, computed from one bounded cumulative
    window. One shuffle: the 64-key bin aggregate (map-side combined);
    the split day derives from the data identically in both engines.
    Output is one row: the statistic, both sample sizes, bins touched."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    span = mid_split_day(e)
    cents = F.round(F.col("value") * 100).cast("long")
    v = (
        e.filter(F.col("value") > 0)
        .crossJoin(F.broadcast(span))
        .select(
            F.when(F.to_date("ts") < F.col("split_day"), 0).otherwise(1).alias("half"),
            F.least(F.length(F.bin(cents)) - 1, F.lit(KS_BINS - 1)).cast("long").alias("bin"),
        )
    )
    binned = v.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n_pre"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n_post"),
    )
    tot = binned.agg(
        F.sum("n_pre").alias("t_pre"), F.sum("n_post").alias("t_post")
    )
    wcum = W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
    cum = (
        binned.crossJoin(F.broadcast(tot))
        .withColumn("c_pre", F.sum("n_pre").over(wcum))
        .withColumn("c_post", F.sum("n_post").over(wcum))
    )
    gap = F.round(
        F.abs(
            F.col("c_pre").cast("double") / F.col("t_pre")
            - F.col("c_post").cast("double") / F.col("t_post")
        )
        * KS_SCALE
    )
    return (
        cum.filter((F.col("t_pre") > 0) & (F.col("t_post") > 0))
        .agg(
            F.max(gap).cast("long").alias("ks_stat_fp"),
            F.max("t_pre").alias("n_pre"),
            F.max("t_post").alias("n_post"),
            F.count("*").alias("n_bins_used"),
        )
    )


@register(
    "orders_cohort_ltv_curve",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey,
             MIN(year(o_orderdate) * 12 + month(o_orderdate)) AS cohort_m
      FROM orders GROUP BY o_custkey
    ),
    cohort_sizes AS (
      SELECT cohort_m, CAST(COUNT(*) AS BIGINT) AS n_cust FROM firsts GROUP BY cohort_m
    ),
    rev AS (
      SELECT f.cohort_m,
             (year(o.o_orderdate) * 12 + month(o.o_orderdate)) - f.cohort_m AS age_m,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
      FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
      GROUP BY 1, 2
    )
    SELECT CAST((r.cohort_m - 1) // 12 AS BIGINT) AS cohort_year,
           CAST((r.cohort_m - 1) % 12 + 1 AS BIGINT) AS cohort_month,
           CAST(r.age_m AS BIGINT) AS age_months,
           s.n_cust,
           CAST(SUM(r.rev_cents) OVER (PARTITION BY r.cohort_m ORDER BY r.age_m) AS BIGINT)
             AS cum_rev_cents,
           CAST(SUM(r.rev_cents) OVER (PARTITION BY r.cohort_m ORDER BY r.age_m)
                // s.n_cust AS BIGINT) AS ltv_per_cust_cents
    FROM rev r JOIN cohort_sizes s ON s.cohort_m = r.cohort_m
    """,
    category="events",
)
def orders_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve — the companion matrix to
    events_retention_cohort: customers are grouped by first-order month,
    and each cohort's CUMULATIVE revenue per original member is tracked
    by months-since-acquisition. The curve's flattening point is the
    payback horizon every acquisition budget is judged against. Months
    are year*12+month integers (exact in both engines, no date-diff
    calendar subtleties); revenue is exact cents; the running sum
    partitions by cohort (bounded frames: months in the observation
    window) — so the whole matrix is (cohorts x ages) rows from two
    keyed aggregates and one partitioned window. LTV-per-customer uses
    integer division by the FIXED original cohort size (not the active
    count) — the standard definition, stated because the off-by-one
    between those denominators is a classic dashboard bug."""
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    month_idx = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    firsts = o.groupBy("o_custkey").agg(F.min(month_idx).alias("cohort_m"))
    sizes = firsts.groupBy("cohort_m").agg(F.count("*").alias("n_cust"))
    rev = (
        o.join(firsts, "o_custkey")
        .groupBy("cohort_m", (month_idx - F.col("cohort_m")).alias("age_m"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_cents"))
    )
    cum = F.sum("rev_cents").over(
        W.partitionBy("cohort_m").orderBy("age_m").rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        rev.join(sizes, "cohort_m")
        .select(
            F.expr("(cohort_m - 1) div 12").alias("cohort_year"),
            ((F.col("cohort_m") - 1) % 12 + 1).cast("long").alias("cohort_month"),
            F.col("age_m").cast("long").alias("age_months"),
            "n_cust",
            cum.alias("cum_rev_cents"),
            F.expr(
                "CAST(sum(rev_cents) OVER (PARTITION BY cohort_m ORDER BY age_m "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) div n_cust AS BIGINT)"
            ).alias("ltv_per_cust_cents"),
        )
    )


SRM_SCALE = 1_000_000
MDE_Z_ALPHA = 1.959963985  # two-sided 5%
MDE_Z_BETA = 0.841621234   # 80% power


@register(
    "events_abtest_guardrails",
    oracle=f"""
    WITH assign AS (
      SELECT DISTINCT user_id,
             {ab_variant_sql()} AS variant
      FROM events
    ),
    conv AS (
      SELECT DISTINCT user_id FROM events
      WHERE event_type = 'purchase' AND value >= 150
    ),
    cells AS (
      SELECT CAST(SUM(CASE WHEN a.variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN a.variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS x
      FROM assign a LEFT JOIN conv c ON c.user_id = a.user_id
    )
    SELECT n_a, n_b,
           CAST(round((power(n_a - CAST(n_a + n_b AS DOUBLE) / 2, 2)
                       / (CAST(n_a + n_b AS DOUBLE) / 2)
                       + power(n_b - CAST(n_a + n_b AS DOUBLE) / 2, 2)
                       / (CAST(n_a + n_b AS DOUBLE) / 2)) * {SRM_SCALE}) AS BIGINT) AS srm_chi2_fp,
           CASE WHEN power(n_a - CAST(n_a + n_b AS DOUBLE) / 2, 2) / (CAST(n_a + n_b AS DOUBLE) / 2)
                     + power(n_b - CAST(n_a + n_b AS DOUBLE) / 2, 2) / (CAST(n_a + n_b AS DOUBLE) / 2)
                     > 3.841458821 THEN 1 ELSE 0 END AS srm_flag,
           CAST(round(({MDE_Z_ALPHA} + {MDE_Z_BETA})
                      * sqrt(2.0 * (CAST(x AS DOUBLE) / (n_a + n_b))
                             * (1.0 - CAST(x AS DOUBLE) / (n_a + n_b))
                             / least(n_a, n_b)) * {SRM_SCALE}) AS BIGINT) AS mde_abs_fp
    FROM cells
    WHERE n_a > 0 AND n_b > 0 AND x > 0 AND x < n_a + n_b
    """,
    category="events",
)
def events_abtest_guardrails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation guardrails — the two checks that gate reading ANY
    A/B result: (1) sample-ratio mismatch (SRM): chi-square of the
    observed arm sizes against the designed 50/50 split; a significant
    SRM (chi2 > 3.84, p < .05, 1 dof) means the assignment or logging is
    broken and the experiment is invalid regardless of its metrics —
    the industry's first-line validity test (Fabijan et al. 2019). (2)
    Minimum detectable effect at the current sample size and 80% power —
    the absolute conversion-rate lift the test could actually detect; a
    readout with an observed lift below its MDE is noise regardless of
    the z-test. Completes the experiment pipeline with the z-test
    (events_abtest_proportions_ztest) and CUPED
    (events_abtest_cuped_adjustment) over the SAME md5-bucket
    assignment. One distinct-users aggregate; everything downstream is a
    1-row frame; closed-form constants inlined so both engines agree to
    fixed-point."""
    e = t(spark, sf_dir, "events")
    assign = e.select("user_id").distinct().select("user_id", ab_variant().alias("variant"))
    conv = (
        e.filter((F.col("event_type") == "purchase") & (F.col("value") >= 150))
        .select("user_id")
        .distinct()
        .withColumn("c", F.lit(1))
    )
    cells = (
        assign.join(conv, "user_id", "left")
        .agg(
            F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n_b"),
            F.sum(F.coalesce(F.col("c"), F.lit(0))).alias("x"),
        )
    )
    half = (F.col("n_a") + F.col("n_b")).cast("double") / 2
    chi2 = (F.col("n_a") - half) * (F.col("n_a") - half) / half + (
        F.col("n_b") - half
    ) * (F.col("n_b") - half) / half
    p = F.col("x").cast("double") / (F.col("n_a") + F.col("n_b"))
    mde = (
        F.lit(MDE_Z_ALPHA + MDE_Z_BETA)
        * F.sqrt(2.0 * p * (1.0 - p) / F.least("n_a", "n_b"))
    )
    return (
        cells.filter(
            (F.col("n_a") > 0)
            & (F.col("n_b") > 0)
            & (F.col("x") > 0)
            & (F.col("x") < F.col("n_a") + F.col("n_b"))
        )
        .select(
            "n_a",
            "n_b",
            F.round(chi2 * SRM_SCALE).cast("long").alias("srm_chi2_fp"),
            F.when(chi2 > 3.841458821, 1).otherwise(0).alias("srm_flag"),
            F.round(mde * SRM_SCALE).cast("long").alias("mde_abs_fp"),
        )
    )


PVM_TOP = 20


@register(
    "orders_price_volume_decomposition",
    oracle=f"""
    WITH span AS (
      SELECT CAST(MIN(o_orderdate) AS DATE)
               + CAST(date_diff('day', CAST(MIN(o_orderdate) AS DATE),
                                CAST(MAX(o_orderdate) AS DATE)) // 2 AS INTEGER)
               AS split_day
      FROM orders
    ),
    pp AS (
      SELECT l.l_partkey AS part,
             CASE WHEN CAST(o.o_orderdate AS DATE) < s.split_day THEN 0 ELSE 1 END AS period,
             CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
             CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      CROSS JOIN span s
      GROUP BY 1, 2
    ),
    wide AS (
      SELECT part,
             MAX(CASE WHEN period = 0 THEN qty END) AS q1,
             MAX(CASE WHEN period = 0 THEN rev_cents END) AS r1,
             MAX(CASE WHEN period = 1 THEN qty END) AS q2,
             MAX(CASE WHEN period = 1 THEN rev_cents END) AS r2
      FROM pp GROUP BY part
      HAVING MAX(CASE WHEN period = 0 THEN qty END) > 0
         AND MAX(CASE WHEN period = 1 THEN qty END) > 0
    )
    SELECT part, q1, q2, r1, r2,
           CAST(r2 - r1 AS BIGINT) AS delta_rev_cents,
           CAST(round((q2 - q1) * (CAST(r1 AS DOUBLE) / q1)) AS BIGINT) AS volume_effect_cents,
           CAST(round((CAST(r2 AS DOUBLE) / q2 - CAST(r1 AS DOUBLE) / q1) * q2) AS BIGINT)
             AS price_effect_cents
    FROM wide
    ORDER BY abs(r2 - r1) DESC, part LIMIT {PVM_TOP}
    """,
    category="events",
)
def orders_price_volume_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume decomposition (the FP&A variance-bridge classic):
    revenue change between the two halves of the observation window,
    split per part into a VOLUME effect ((q2-q1) x p1, what selling more
    units at old prices would explain) and a PRICE effect ((p2-p1) x q2,
    what realized-price movement explains) — the two-factor form
    decomposes EXACTLY: delta_rev = volume + price up to cent rounding
    of each term. Top-20 parts by absolute revenue swing, deterministic
    tie-break. Shapes: one fact-dim join (orders broadcastable side
    carries only the date), one (part, period) aggregate, a 2-column
    pivot to wide, TakeOrdered top-k — everything keyed on part; the
    period boundary derives from the data identically in both engines
    (same midpoint device as CUPED/KS). Money is exact integer cents;
    unit prices are the only doubles and each output term is rounded
    independently."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    span = o.agg(
        F.date_add(
            F.min(F.to_date("o_orderdate")),
            F.floor(
                F.datediff(F.max(F.to_date("o_orderdate")), F.min(F.to_date("o_orderdate"))) / 2
            ).cast("int"),
        ).alias("split_day")
    )
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    pp = (
        li.join(o.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
        .crossJoin(F.broadcast(span))
        .groupBy(
            F.col("l_partkey").alias("part"),
            F.when(F.to_date("o_orderdate") < F.col("split_day"), 0).otherwise(1).alias("period"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("qty"),
            F.sum(cents).alias("rev_cents"),
        )
    )
    wide = (
        pp.groupBy("part")
        .agg(
            F.max(F.when(F.col("period") == 0, F.col("qty"))).alias("q1"),
            F.max(F.when(F.col("period") == 0, F.col("rev_cents"))).alias("r1"),
            F.max(F.when(F.col("period") == 1, F.col("qty"))).alias("q2"),
            F.max(F.when(F.col("period") == 1, F.col("rev_cents"))).alias("r2"),
        )
        .filter((F.col("q1") > 0) & (F.col("q2") > 0))
    )
    p1 = F.col("r1").cast("double") / F.col("q1")
    p2 = F.col("r2").cast("double") / F.col("q2")
    return (
        wide.select(
            "part", "q1", "q2", "r1", "r2",
            (F.col("r2") - F.col("r1")).alias("delta_rev_cents"),
            F.round((F.col("q2") - F.col("q1")) * p1).cast("long").alias("volume_effect_cents"),
            F.round((p2 - p1) * F.col("q2")).cast("long").alias("price_effect_cents"),
        )
        .orderBy(F.abs(F.col("delta_rev_cents")).desc(), "part")
        .limit(PVM_TOP)
    )


MTA_WINDOW_H = 72   # multi-touch lookback
MTA_SCALE = 1_000_000


@register(
    "events_attribution_position_based",
    oracle=f"""
    WITH p AS (
      SELECT event_id AS p_id, user_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    ),
    tch AS (
      SELECT event_id AS t_id, user_id, ts AS t_ts, event_type AS t_type
      FROM events WHERE event_type IN ('click', 'view')
    ),
    paired AS (
      SELECT p.p_id, t.t_id, t.t_type, t.t_ts
      FROM p JOIN tch t ON t.user_id = p.user_id
       AND t.t_ts <= p.p_ts
       AND t.t_ts > p.p_ts - INTERVAL {MTA_WINDOW_H} HOURS
    ),
    ranked AS (
      SELECT p_id, t_id, t_type,
             row_number() OVER (PARTITION BY p_id ORDER BY t_ts, t_id) AS rn,
             COUNT(*) OVER (PARTITION BY p_id) AS n
      FROM paired
    ),
    credited AS (
      SELECT t_type,
             CASE WHEN n = 1 THEN 'only'
                  WHEN rn = 1 THEN 'first'
                  WHEN rn = n THEN 'last'
                  ELSE 'middle' END AS pos_class,
             CAST(round(CASE WHEN n = 1 THEN 1.0
                             WHEN n = 2 THEN 0.5
                             WHEN rn = 1 OR rn = n THEN 0.4
                             ELSE 0.2 / (n - 2) END * {MTA_SCALE}) AS BIGINT)
               AS credit_fp
      FROM ranked
    )
    SELECT t_type AS touch_type, pos_class,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(credit_fp) AS BIGINT) AS credit_fp
    FROM credited GROUP BY t_type, pos_class
    """,
    category="events",
)
def events_attribution_position_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution — the adtech
    counterpart of events_attribution_last_touch when credit must be
    SHARED across the journey: every click/view by the purchaser within
    {MTA_WINDOW_H}h shares the conversion's credit — 40% first touch,
    40% last, the middle 20% split evenly (degenerate journeys: a
    single touch takes 100%, a pair splits 50/50). Credits are rounded
    to fixed-point PER TOUCH (identical double literal and rounding on
    both engines), so aggregation order cannot drift the sums.

    Plan: one user-keyed interval join bounded on BOTH endpoints (same
    discipline as last-touch: a touch matches at most lookback/
    interarrival purchases), one window pass per conversion for
    (position, journey length), then a tiny (touch_type x position)
    aggregate. At 100 TB this runs per day-partition with a lookback
    read — the join and window both key on conversion id / user id, no
    global state."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts")
    )
    tch = e.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("t_id"),
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("t_type"),
    )
    paired = p.join(
        tch,
        (F.col("t_user") == F.col("user_id"))
        & (F.col("t_ts") <= F.col("p_ts"))
        & (F.col("t_ts") > F.col("p_ts") - F.expr(f"INTERVAL {MTA_WINDOW_H} HOURS")),
    )
    w = W.partitionBy("p_id")
    rn = F.row_number().over(w.orderBy("t_ts", "t_id"))
    n = F.count("*").over(w)
    ranked = paired.select("t_type", rn.alias("rn"), n.alias("n"))
    credit = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when((F.col("rn") == 1) | (F.col("rn") == F.col("n")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    pos_class = (
        F.when(F.col("n") == 1, "only")
        .when(F.col("rn") == 1, "first")
        .when(F.col("rn") == F.col("n"), "last")
        .otherwise("middle")
    )
    return (
        ranked.select(
            F.col("t_type").alias("touch_type"),
            pos_class.alias("pos_class"),
            F.round(credit * MTA_SCALE).cast("long").alias("credit_fp"),
        )
        .groupBy("touch_type", "pos_class")
        .agg(
            F.count("*").alias("n_touches"),
            F.sum("credit_fp").alias("credit_fp"),
        )
    )


HOLT_SCALE = 1_000_000  # fixed-point scale for the level/trend state


@register(
    "events_forecast_holt_linear",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    series AS (
      SELECT event_type,
             list_transform(list(n ORDER BY day),
                            x -> [x * {HOLT_SCALE}, CAST(0 AS BIGINT)]) AS xs,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY event_type
    ),
    folded AS (
      SELECT event_type, n_days,
             list_reduce(xs, (acc, x) -> list_value(
               (2 * x[1] + 8 * (acc[1] + acc[2])) // 10,
               (((2 * x[1] + 8 * (acc[1] + acc[2])) // 10) - acc[1] + 9 * acc[2]) // 10
             )) AS st
      FROM series
    )
    SELECT event_type, n_days,
           st[1] AS level_fp, st[2] AS trend_fp,
           st[1] + st[2] AS forecast_1d_fp,
           st[1] + 7 * st[2] AS forecast_7d_fp
    FROM folded
    """,
    category="events",
)
def events_forecast_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (double exponential smoothing) forecast over per-type
    daily event volumes — the level+trend upgrade of window_ewma_smooth
    and the standard capacity-planning baseline when traffic has drift.
    The recursion (alpha=0.2, beta=0.1) runs in INTEGER fixed point:
    l' = (2x + 8(l+t)) div 10, t' = ((l'-l) + 9t) div 10 — both engines
    truncate integer division toward zero (verified), so the whole
    trajectory is exact BIGINTs and the driver hash pins every step of
    the recursion, not a float approximation of it. Initialization is
    the textbook l1=x1, t1=0 (the fold's first element).

    Plan: one (type, day) count aggregate (days-bounded output), then a
    per-type sort_array + aggregate() fold — state is 2 BIGINTs per
    series, the fold is a scan-side expression over a bounded array
    (days, not rows), and series are independent keys. 100 TB: the
    daily rollup absorbs the volume; the fold cost tracks the calendar,
    exactly like events_changepoint_binseg."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("n"))
    series = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "n"))).alias("arr"),
        F.count("*").alias("n_days"),
    )
    st = F.expr(f"""
        aggregate(
          slice(transform(arr, s -> s.n * {HOLT_SCALE}), 2, size(arr) - 1),
          named_struct('l', arr[0].n * {HOLT_SCALE}, 't', CAST(0 AS BIGINT)),
          (acc, x) -> named_struct(
            'l', (2 * x + 8 * (acc.l + acc.t)) div 10,
            't', (((2 * x + 8 * (acc.l + acc.t)) div 10) - acc.l + 9 * acc.t) div 10)
        )
    """)
    return series.select(
        "event_type",
        "n_days",
        st["l"].alias("level_fp"),
        st["t"].alias("trend_fp"),
        (st["l"] + st["t"]).alias("forecast_1d_fp"),
        (st["l"] + 7 * st["t"]).alias("forecast_7d_fp"),
    )
