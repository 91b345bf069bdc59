"""Reusable text-analysis verbs (EXT), the one Spark home of each:
tokenization, quality features, stopword-lexicon hits and the argmax
language, the Gopher and PII gates, the normalized-content hash, BPE-ish
token estimates and rolling-hash fingerprints. Registry entries in
queries/ and the streaming gates call these with fixed parameters; the
DuckDB oracle SQL stays in queries/ and reads its constants from here.

All pure column expressions (codegen; no Python UDFs), so every verb runs
unchanged on a streaming DataFrame."""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Stopword lexicons per language, most frequent first. The registry entries
# pin the first five words of each list (queries.text.LEXICONS).
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "y", "que", "en", "un"],
    "de": ["der", "die", "das", "und", "zu", "ein", "ist"],
    "fr": ["le", "la", "de", "et", "que", "un", "est"],
}


def _words(text_col: str) -> Column:
    """Lowercased whitespace-run split with empty tokens dropped."""
    return F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != "")


def lexicon_hits(words: Column, lexicon: list[str]) -> Column:
    """Number of elements of the string array ``words`` found in
    ``lexicon`` (a literal array, broadcast-sized); null when ``words`` is
    null. An empty lexicon counts no hits."""
    lex = F.array(*[F.lit(w) for w in lexicon]) if lexicon else F.array().cast("array<string>")
    return F.size(F.filter(words, lambda x: F.array_contains(lex, x)))


def predict_language(words: Column, lexicons: dict[str, list[str]]) -> Column:
    """The language whose lexicon has the most hits in ``words``; on a tie
    the earlier lexicon in ``lexicons`` wins, and no hit at all (or null
    ``words``) gives 'unknown'."""
    if not lexicons:
        raise ValueError("lexicons must name at least one language")
    hits = {lang: lexicon_hits(words, lex) for lang, lex in lexicons.items()}
    # One flat CASE: the first language whose hits are >= every other's wins,
    # so ties go to the earlier lexicon; null words count as no hit. At sf0.1
    # on 4 cores a greatest()-based chain took 1.13x and an array argmax 1.73x
    # this form's time (probes/langid_argmax_variants_sf01_local4.txt).
    pred = F.when(F.coalesce(reduce(operator.add, hits.values()), F.lit(0)) == 0, F.lit("unknown"))
    for lang, h in hits.items():
        beats = [h >= other for o, other in hits.items() if o != lang]
        pred = pred.when(reduce(operator.and_, beats, F.lit(True)), F.lit(lang))
    return pred.otherwise(F.lit("unknown"))


def normalized_text_hash(text: Column | str) -> Column:
    """md5 of the lowercased, whitespace-collapsed, trimmed text: the
    content key of exact dedup after trivial reformatting."""
    return F.md5(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")))


def tokenize(df: DataFrame, text_col: str = "text", out_col: str = "tokens") -> DataFrame:
    """Whitespace tokenization after lowercase + punctuation strip."""
    cleaned = F.regexp_replace(F.lower(F.col(text_col)), r"[^\p{L}\p{N}\s]", " ")
    return df.withColumn(out_col, F.filter(F.split(F.trim(cleaned), r"\s+"), lambda x: x != ""))


def estimate_bpe_tokens(text: Column) -> Column:
    """BPE-ish token count estimate without a tokenizer model: words +
    extra tokens for long words (a subword every ~4 chars beyond the
    first 4) + digits/punctuation runs. A standard ~4-chars-per-token
    heuristic, exact enough for budget accounting."""
    words = F.filter(F.split(text, r"\s+"), lambda x: x != "")
    per_word = F.transform(
        words, lambda w: F.lit(1) + F.floor(F.greatest(F.length(w) - 4, F.lit(0)) / 4)
    )
    return F.aggregate(per_word, F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long"))


def quality_features(
    df: DataFrame, text_col: str = "text", stopwords: list[str] | None = None
) -> DataFrame:
    """Standard quality-filter feature set: lengths, diversity, stopword
    ratio, punctuation ratio, mean word length. ``stopwords`` defaults to
    the English lexicon; an empty list counts no stopwords."""
    words = _words(text_col)
    n_words = F.size(words)
    n_stop = lexicon_hits(words, STOPWORDS["en"] if stopwords is None else stopwords)
    n_punct = F.length(F.regexp_replace(F.col(text_col), r"[\p{L}\p{N}\s]", ""))
    return (
        df.withColumn("n_chars_q", F.length(text_col))
        .withColumn("n_words_q", n_words)
        .withColumn("mean_word_len", F.length(text_col).cast("double") / F.greatest(n_words, F.lit(1)))
        .withColumn("stopword_ratio", n_stop.cast("double") / F.greatest(n_words, F.lit(1)))
        .withColumn("punct_ratio", n_punct.cast("double") / F.greatest(F.length(text_col), F.lit(1)))
        .withColumn(
            "lexical_diversity",
            F.size(F.array_distinct(words)).cast("double") / F.greatest(n_words, F.lit(1)),
        )
        .withColumn("est_bpe_tokens", estimate_bpe_tokens(F.col(text_col)))
    )


def language_scores(
    df: DataFrame, text_col: str = "text", lexicons: dict[str, list[str]] | None = None
) -> DataFrame:
    """Per-language stopword-hit counts (``score_<lang>``) plus
    predict_language's ``lang_predicted``. Lexicons are literal arrays
    (broadcast-sized); at scale swap for a broadcast join against a
    lexicon table keyed by (lang, word)."""
    lexicons = STOPWORDS if lexicons is None else lexicons
    words = _words(text_col)
    scores = {f"score_{lang}": lexicon_hits(words, lex) for lang, lex in lexicons.items()}
    return df.withColumns({**scores, "lang_predicted": predict_language(words, lexicons)})


# Gopher/MassiveText-style gate thresholds (arXiv 2112.11446 §A1), tuned so
# the synthetic corpus exercises both branches of every gate (docs are
# 10-110 tokens long).
GOPHER_TOKENS_MIN, GOPHER_TOKENS_MAX = 20, 90
GOPHER_MEAN_LEN_MIN, GOPHER_MEAN_LEN_MAX = 3.0, 7.0
GOPHER_STOPWORDS = STOPWORDS["en"][:5]
GOPHER_MIN_STOPWORDS = 2
GOPHER_MAX_SHORT_RATIO = 0.2  # tokens of <= 2 chars


def gopher_audit_cols(text_col: str = "text") -> list[Column]:
    """The Gopher gate battery over single-space tokens as named Column
    expressions: n_tokens, mean_token_len, stopword_hits,
    short_token_ratio and passes_gopher (1 when every gate passes). Pure
    scan-side array expressions (no shuffle, no state), shared by the batch
    registry entries and the streaming ingest gate."""
    w = F.split(text_col, " ")
    n = F.size(w).cast("long")
    sum_len = F.aggregate(
        F.transform(w, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    mean_len = sum_len.cast("double") / n
    stop_hits = lexicon_hits(w, GOPHER_STOPWORDS).cast("long")
    short_ratio = F.size(F.filter(w, lambda x: F.length(x) <= 2)).cast("double") / n
    passes = (
        n.between(GOPHER_TOKENS_MIN, GOPHER_TOKENS_MAX)
        & mean_len.between(GOPHER_MEAN_LEN_MIN, GOPHER_MEAN_LEN_MAX)
        & (stop_hits >= GOPHER_MIN_STOPWORDS)
        & (short_ratio <= GOPHER_MAX_SHORT_RATIO)
    )
    return [
        n.alias("n_tokens"),
        F.round(mean_len, 6).alias("mean_token_len"),
        stop_hits.alias("stopword_hits"),
        F.round(short_ratio, 6).alias("short_token_ratio"),
        F.when(passes, 1).otherwise(0).alias("passes_gopher"),
    ]


# PII patterns — RE2 (DuckDB) and Java (Spark) compatible: no lookaround,
# word boundaries and bounded repetition only.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"


def pii_audit_cols(text_col: str = "text") -> list[Column]:
    """PII audit Column set: per-class match counts (n_emails, n_ips,
    n_phones) plus ``redacted``, the text with emails, IPv4s and phones
    replaced by typed placeholders in that fixed order. Pure per-row
    expressions (no state, no shuffle), shared by the batch registry
    entries and the streaming scrubber."""
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col(text_col), PII_EMAIL, "<EMAIL>"),
            PII_IP, "<IP>",
        ),
        PII_PHONE, "<PHONE>",
    )
    return [
        F.size(F.regexp_extract_all(text_col, F.lit(PII_EMAIL), F.lit(0)))
            .cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(text_col, F.lit(PII_IP), F.lit(0)))
            .cast("long").alias("n_ips"),
        F.size(F.regexp_extract_all(text_col, F.lit(PII_PHONE), F.lit(0)))
            .cast("long").alias("n_phones"),
        redacted.alias("redacted"),
    ]


def rolling_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 5,
    keep_mod: int = 8,
) -> DataFrame:
    """Winnowing-style document fingerprints: hash every ``window``-gram,
    keep the deterministic ~1/keep_mod subset (hash % keep_mod == 0) — the
    selected fingerprints are a content-addressed sketch for copy detection.
    One row per (doc, fingerprint)."""
    w = F.split(F.col(text_col), " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(w) - (window - 1), F.lit(1))),
        lambda i: F.md5(F.array_join(F.slice(w, i, window), " ")),
    )
    kept = F.array_distinct(
        F.filter(grams, lambda g: F.conv(F.substring(g, 1, 4), 16, 10).cast("long") % keep_mod == 0)
    )
    return df.select(id_col, F.explode(kept).alias("fingerprint"))
