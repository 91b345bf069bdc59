"""Text-analysis operators over the documents table (EXT — SURVEY.md §2.10,
north star BASELINE.json:6): token counting, quality scoring, language-ID
heuristic, document fingerprinting.

All pure JVM-side column expressions (no Python UDFs) — at 100 TB these run
inside whole-stage codegen over the parquet scan with zero shuffles except
the final aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from glue_etl_framework_spark.ext.text import STOPWORDS, lexicon_hits, predict_language
from glue_etl_framework_spark.queries import register, t

# The registry's pinned stopword lexicons: the first five words of each
# ext.text.STOPWORDS list, in alphabetical language order, which is the
# tie-break order of both the Spark argmax and the oracle's CASE chain.
LEXICONS = {lang: STOPWORDS[lang][:5] for lang in sorted(STOPWORDS)}


def lexicon_hits_sql(lexicon: list[str], words: str = "string_split(text, ' ')") -> str:
    """DuckDB twin of ext.text.lexicon_hits over the token-list SQL ``words``."""
    arr = ", ".join(f"'{w}'" for w in lexicon)
    return f"length(list_filter({words}, x -> list_contains([{arr}], x)))"


@register(
    "text_token_stats",
    oracle="""
    WITH toks AS (SELECT doc_id, lang, n_chars, text,
                         string_split(text, ' ') AS words
                  FROM documents)
    SELECT doc_id, lang,
           CAST(length(words) AS INTEGER) AS n_tokens,
           CAST(length(list_distinct(words)) AS INTEGER) AS n_distinct_tokens,
           CAST(length(text) AS INTEGER) AS n_chars_actual,
           CAST(n_chars AS BIGINT) AS n_chars_recorded,
           CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END AS chars_consistent,
           round(CAST(length(text) AS DOUBLE) / length(words), 6) AS avg_token_len
    FROM toks
    """,
    category="text",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting + data-quality check of the recorded
    n_chars column against the actual text length."""
    d = t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    return d.select(
        "doc_id", "lang",
        F.size(words).alias("n_tokens"),
        F.size(F.array_distinct(words)).alias("n_distinct_tokens"),
        F.length("text").alias("n_chars_actual"),
        F.col("n_chars").alias("n_chars_recorded"),
        F.when(F.length("text") == F.col("n_chars"), 1).otherwise(0).alias("chars_consistent"),
        F.round(F.length("text").cast("double") / F.size(words), 6).alias("avg_token_len"),
    )


@register(
    "text_quality_score",
    oracle="""
    WITH s AS (
      SELECT doc_id, source,
             CAST(length(text) AS INTEGER) AS n_chars,
             CAST(length(string_split(text, ' ')) AS INTEGER) AS n_tokens,
             CAST(length(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct
      FROM documents)
    SELECT doc_id, source, n_chars, n_tokens,
           round(CAST(n_distinct AS DOUBLE) / n_tokens, 6) AS lexical_diversity,
           CASE WHEN n_tokens BETWEEN 20 AND 1000
                 AND CAST(n_distinct AS DOUBLE) / n_tokens > 0.3
                THEN 1 ELSE 0 END AS passes_quality
    FROM s
    """,
    category="text",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length bounds + lexical diversity (distinct/total
    token ratio) — the standard cheap pre-filter for LLM training data."""
    d = t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_tokens = F.size(words)
    n_distinct = F.size(F.array_distinct(words))
    diversity = n_distinct.cast("double") / n_tokens
    return d.select(
        "doc_id", "source",
        F.length("text").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(diversity, 6).alias("lexical_diversity"),
        F.when(n_tokens.between(20, 1000) & (diversity > 0.3), 1).otherwise(0).alias("passes_quality"),
    )


@register(
    "text_langid_heuristic",
    oracle=f"""
    SELECT doc_id, lang AS lang_recorded,
           CASE WHEN {lexicon_hits_sql(LEXICONS['en'])} >= 1 THEN 'en' ELSE 'unknown' END
             AS lang_predicted,
           CAST({lexicon_hits_sql(LEXICONS['en'])} AS INTEGER) AS en_stopword_hits
    FROM documents
    """,
    category="text",
)
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID (n-gram heuristic family). The fixture text
    is an English-ish word soup, so the useful signal is en-vs-unknown:
    ext.text.predict_language over the pinned English lexicon alone
    (quality_langid_confusion scores all of LEXICONS)."""
    d = t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    en = {"en": LEXICONS["en"]}
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_recorded"),
        predict_language(words, en).alias("lang_predicted"),
        lexicon_hits(words, en["en"]).alias("en_stopword_hits"),
    )


@register(
    "text_fingerprint",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
      FROM documents)
    SELECT fingerprint,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS representative_doc
    FROM fp GROUP BY fingerprint
    """,
    category="text",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-vocabulary fingerprint (order/multiplicity-insensitive content
    hash) — groups docs that are permutations/repetitions of the same word
    set; the classic cheap near-dup fingerprint."""
    d = t(spark, sf_dir, "documents")
    fp = F.md5(F.array_join(F.sort_array(F.array_distinct(F.split(F.col("text"), " "))), " "))
    return (
        d.select(fp.alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("representative_doc"))
    )


BPE_ISH = "[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"


@register(
    "text_bpe_regex_tokens",
    oracle=f"""
    SELECT doc_id,
           CAST(length(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
           CAST(length(regexp_extract_all(text, '{BPE_ISH}')) AS INTEGER) AS n_bpe_tokens,
           round(CAST(octet_length(encode(text)) AS DOUBLE)
                 / length(regexp_extract_all(text, '{BPE_ISH}')), 6) AS bytes_per_token
    FROM documents
    WHERE length(regexp_extract_all(text, '{BPE_ISH}')) > 0
    """,
    category="text",
)
def text_bpe_regex_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: a subword-style regex (letter runs, single
    digits, punctuation marks) approximates BPE token counts without a
    vocab file — the standard cheap cost estimator for LLM training data.
    Pure per-row projection (regexp_extract_all + size), no shuffle; a real
    tokenizer drops in as an Arrow-batched Pandas UDF with this exact
    schema."""
    d = t(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH), 0)
    return (
        d.filter(F.size(bpe) > 0)
        .select(
            "doc_id",
            F.size(F.split("text", " ")).alias("n_ws_tokens"),
            F.size(bpe).alias("n_bpe_tokens"),
            F.round(F.length(F.encode(F.col("text"), "UTF-8")).cast("double") / F.size(bpe), 6).alias("bytes_per_token"),
        )
    )


TFIDF_TOP = 3


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
           FROM toks GROUP BY doc_id, token),
    dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
              FROM tf GROUP BY token),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
    SELECT doc_id, token, tf, df, round(tfidf, 9) AS tfidf FROM (
      SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
             tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df) AS tfidf,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df) DESC,
                                         tf.token) AS rn
      FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n
    ) WHERE rn <= {TFIDF_TOP}
    """,
    category="text",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-3 terms per document. All counts are
    exact integers; the only float op (tf * ln(N/df)) happens once per
    (doc, token) in both engines, so values hash-match. df comes from a
    count(*) window over token ON the tf relation — tf is computed ONCE
    (the aggregate-then-join formulation recomputes the whole token
    pipeline for the df branch and needs a vocabulary-sized broadcast,
    which a web-scale vocabulary breaks). Shuffles: tokens once into tf,
    tf once for the token window, tf once for the per-doc top-k; the
    scalar N rides along as a 1-row broadcast (never a driver collect)."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    n = d.agg(F.count("*").alias("n_docs"))
    with_df = tf.withColumn("df", F.count("*").over(W.partitionBy("token")))
    tfidf = F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))
    w = W.partitionBy("doc_id").orderBy(tfidf.desc(), "token")
    return (
        with_df.crossJoin(F.broadcast(n))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOP)
        .select("doc_id", "token", "tf", "df", F.round(tfidf, 9).alias("tfidf"))
    )


LEV_PREFIX = 24  # compare fixed-length prefixes: O(P^2) per pair, bounded


@register(
    "text_levenshtein_block_pairs",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, source, substr(text, 1, {LEV_PREFIX}) AS prefix
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.prefix, b.prefix) AS INTEGER) AS edit_distance
    FROM d a
    JOIN d b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE levenshtein(a.prefix, b.prefix) <= 8
    """,
    category="text",
)
def text_levenshtein_block_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy matching: candidate pairs restricted to the same
    (lang, source) block — an equi-join, so the quadratic levenshtein work
    is per-block, never corpus-wide — and the edit distance runs on a
    fixed-length prefix to bound per-pair cost. The FindMatches-style
    fuzzy-dedup building block (SURVEY §2.10) without an ML model."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", F.substring("text", 1, LEV_PREFIX).alias("prefix")
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"), "lang", "source", F.col("prefix").alias("pa")
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"), "lang", "source", F.col("prefix").alias("pb")
    )
    dist = F.levenshtein(F.col("pa"), F.col("pb"))
    return (
        a.join(b, ["lang", "source"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(dist <= 8)
        .select("doc_a", "doc_b", dist.cast("int").alias("edit_distance"))
    )


LM_SCALE = 1_000_000  # fixed-point scale for log-prob sums (exact integer agg)


@register(
    "text_unigram_logprob",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    freq AS (
      SELECT token, COUNT(*) AS tf FROM toks GROUP BY token
    ),
    total AS (SELECT SUM(tf) AS n FROM freq),
    scored AS (
      SELECT t.doc_id,
             CAST(round(ln(CAST(f.tf AS DOUBLE) / total.n) * {LM_SCALE}) AS BIGINT) AS lp
      FROM toks t JOIN freq f ON t.token = f.token CROSS JOIN total
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(lp) AS BIGINT) AS logprob_fp,
           CAST(SUM(lp) // COUNT(*) AS BIGINT) AS per_token_fp
    FROM scored
    GROUP BY doc_id
    """,
    category="text",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical quality score: per-document unigram log-likelihood under
    the corpus's own unigram distribution (low per-token log-prob = rare-
    token soup = likely junk; the statistical complement of the heuristic
    text_quality_score). The frequency table is vocabulary-sized —
    sublinear in the corpus (Heaps' law) but NOT bounded, so the
    token->frequency join carries no broadcast hint: AQE broadcasts it
    while it fits and falls back to a token-keyed shuffle when a 100 TB
    corpus's vocabulary doesn't (the text_source_drift_kl precedent).
    Log-probs are summed as fixed-point integers (round(ln(p)*1e6)) so the
    aggregate is order-independent and hash-matches the oracle exactly."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    freq = toks.groupBy("token").agg(F.count("*").alias("tf"))
    total = freq.agg(F.sum("tf").alias("n"))
    lp = F.round(F.log(F.col("tf").cast("double") / F.col("n")) * LM_SCALE).cast("long")
    scored = toks.join(freq, "token").crossJoin(F.broadcast(total)).select(
        "doc_id", lp.alias("lp")
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum("lp").alias("logprob_fp"),
        (F.sum("lp") / F.count("*")).cast("long").alias("per_token_fp"),
    )


@register(
    "text_token_entropy",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS c FROM toks GROUP BY doc_id, token
    ),
    agg AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(CAST(round(c * log2(CAST(c AS DOUBLE)) * {LM_SCALE}) AS BIGINT)) AS BIGINT) AS s_fp
      FROM tf GROUP BY doc_id
    )
    SELECT doc_id, n AS n_tokens,
           CAST(round(log2(CAST(n AS DOUBLE)) * {LM_SCALE} - CAST(s_fp AS DOUBLE) / n) AS BIGINT)
             AS entropy_fp
    FROM agg
    """,
    category="text",
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution (fixed-point
    bits): H = log2(N) - sum(c*log2(c))/N. Low entropy = repetitive
    boilerplate, high = diverse text — a quality gate orthogonal to the
    unigram log-prob (which scores against the CORPUS; entropy scores the
    doc against ITSELF, so it needs no global state at all). Per-term
    contributions are rounded to fixed-point integers before summing, so
    aggregation order can't change the result; two shuffles on doc-sized
    keys ((doc,token) count, then per-doc sum)."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("c"))
    term_fp = F.round(F.col("c") * F.log2(F.col("c").cast("double")) * LM_SCALE).cast("long")
    agg = tf.groupBy("doc_id").agg(
        F.sum("c").alias("n"), F.sum(term_fp).alias("s_fp")
    )
    entropy_fp = F.round(
        F.log2(F.col("n").cast("double")) * LM_SCALE - F.col("s_fp").cast("double") / F.col("n")
    ).cast("long")
    return agg.select("doc_id", F.col("n").alias("n_tokens"), entropy_fp.alias("entropy_fp"))


BURST_SCALE = 1_000_000


@register(
    "text_token_burstiness",
    oracle=f"""
    WITH counts AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS k FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ) GROUP BY doc_id, tok
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    stats AS (
      SELECT tok,
             CAST(SUM(k) AS BIGINT) AS total,
             CAST(SUM(k * k) AS BIGINT) AS total_sq,
             CAST(COUNT(*) AS BIGINT) AS df
      FROM counts GROUP BY tok
    )
    SELECT tok, total, df,
           CAST(round((CAST(s.total_sq AS DOUBLE) / n.n_docs
                       - (CAST(s.total AS DOUBLE) / n.n_docs)
                         * (CAST(s.total AS DOUBLE) / n.n_docs))
                      / (CAST(s.total AS DOUBLE) / n.n_docs) * {BURST_SCALE}) AS BIGINT)
             AS vmr_fp
    FROM stats s CROSS JOIN nd n
    WHERE s.total >= 50
    """,
    category="text",
)
def text_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness via the variance-to-mean ratio (index of
    dispersion; Church & Gale's observation that content words are
    BURSTY — once a document uses a term it reuses it, so VMR >> 1 —
    while function words scatter Poisson-like, VMR ~ 1): per-token
    occurrence counts per document reduce to three sufficient statistics
    (sum, sum of squares, document frequency; zero-count docs enter
    through the corpus-size denominator, costing nothing), and
    VMR = var/mean is one double expression per token, fixed-point. The
    signal separates topical vocabulary from glue vocabulary with no
    lexicon — a quality/weighting input orthogonal to raw frequency.
    Two keyed aggregates ((doc, tok), then tok); tokens below 50 total
    occurrences are excluded on both engines (VMR is noise at tiny
    counts). Output is vocabulary-bounded."""
    d = t(spark, sf_dir, "documents")
    counts = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("k"))
    )
    nd = d.agg(F.count("*").alias("n_docs"))
    stats = counts.groupBy("tok").agg(
        F.sum("k").alias("total"),
        F.sum(F.col("k") * F.col("k")).alias("total_sq"),
        F.count("*").alias("df"),
    )
    mean = F.col("total").cast("double") / F.col("n_docs")
    var = F.col("total_sq").cast("double") / F.col("n_docs") - mean * mean
    return (
        stats.crossJoin(F.broadcast(nd))
        .filter(F.col("total") >= 50)
        .select(
            "tok",
            "total",
            "df",
            F.round(var / mean * BURST_SCALE).cast("long").alias("vmr_fp"),
        )
    )
