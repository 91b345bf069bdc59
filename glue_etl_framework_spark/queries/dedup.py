"""Deduplication operators (EXT — north star BASELINE.json:6): exact,
normalized-exact, n-gram Jaccard, MinHash+LSH, SimHash.

Design for 100 TB: every variant avoids the all-pairs cross product —
exact/normalized dedup is one hash-groupBy; MinHash/LSH and SimHash band
candidates so the self-join only touches same-bucket rows. All hashing uses
md5 (bit-identical across engines) so each operator is fully oracle-checked.
The MinHash entries are fixed-parameter calls into the one banded-MinHash
implementation in glue_etl_framework_spark.ext.dedup; this module keeps
their DuckDB oracle SQL (_SHINGLE_SQL, _minhash_sig_sql, _minhash_band_sql).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from glue_etl_framework_spark.ext.dedup import (
    BAND_SIZE,
    N_MINHASH,
    jaccard_verify,
    minhash_candidates,
    minhash_signature_aggs,
    minhash_signatures,
    shingle_array,
    shingle_rows,
)
from glue_etl_framework_spark.ext.text import normalized_text_hash
from glue_etl_framework_spark.queries import register, t

SHINGLE = 3       # word n-gram size of the oracle SQL


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    category="dedup",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup = hash-groupBy on content hash, keep lowest doc_id.
    One shuffle on a 32-byte key regardless of document size."""
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc"), F.count("*").alias("n_copies"))
    )


@register(
    "dedup_exact_normalized",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS norm_hash,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    category="dedup",
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after normalization (lowercase, whitespace collapse) —
    catches trivially-reformatted duplicates (ext.text.normalized_text_hash)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy(normalized_text_hash("text").alias("norm_hash"))
        .agg(F.min("doc_id").alias("keep_doc"), F.count("*").alias("n_copies"))
    )


_SHINGLE_SQL = """
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, length(w) - 1),
                                   i -> array_to_string(w[i:i+2], ' '))) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      WHERE length(w) >= 3
"""


# Document-frequency ceiling for the PAIRWISE shingle self-joins
# (dedup_ngram_jaccard, llmops.dedup_containment_pairs). A shingle shared by
# k documents alone yields k^2 candidate pairs, so one stop-phrase trigram
# ("terms of service") turns the shingle-keyed join into a hot-key quadratic
# at corpus scale. Shingles with DF > cap are dropped from BOTH sides of the
# ratio (numerator and denominator) on BOTH engines, so parity is exact.
# Recall trade: a true near-dup pair loses at most the capped shingles from
# its intersection; pairs whose overlap rests solely on >cap stop-phrases
# are by construction boilerplate matches, not near-dups. Fixture max-DF is
# far below the cap (pinned by tests/test_text_properties.py), so test-scale
# results are identical to the uncapped formulation. The banded MinHash path
# is unaffected (signatures are per-doc; no pairwise shingle join).
SHINGLE_DF_CAP = 8192


def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct word-3-gram (doc_id, shingle) rows of the documents table
    (ext.dedup.shingle_rows — the same shingle set as the oracle's
    split-based _SHINGLE_SQL for any token content)."""
    return shingle_rows(t(spark, sf_dir, "documents"), "doc_id")


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh0 AS ({_SHINGLE_SQL}),
    sh AS (
      SELECT doc_id, shingle FROM sh0
      QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {SHINGLE_DF_CAP}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.5
    """,
    category="dedup",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (J >= 0.5). The pair space is
    pruned by the shingle equi-join (only docs sharing a shingle meet) —
    at 100 TB the further pruning is MinHash banding (next operator);
    jaccard = |A∩B| / (|A|+|B|-|A∩B|) is an exact integer ratio.
    Hot-key guard: shingles with document frequency > SHINGLE_DF_CAP are
    dropped on both engines before the self-join (see the constant's
    comment for the k^2-pairs rationale and recall trade). The DF filter
    is a shingle-partitioned window, so its shuffle key matches the
    self-join key. Shingles are hashed to 64-bit tokens before the first
    shuffle (token-dictionary compression — rationale, losslessness, and
    collision arithmetic in dedup_prefix_filter_jaccard's docstring; the
    oracle stays string-exact, so the driver certifies the equivalence)."""
    from pyspark.sql import Window as W

    sh = (
        _shingles(spark, sf_dir)
        .select("doc_id", F.xxhash64("shingle").alias("shingle"))
        .withColumn("df_ct", F.count("*").over(W.partitionBy("shingle")))
        .filter(F.col("df_ct") <= SHINGLE_DF_CAP)
        .drop("df_ct")
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def _minhash_sig_sql() -> list[str]:
    """8 signature expressions from TWO md5 evaluations per shingle: each
    digest is split into four 8-hex-char (32-bit) chunks, each chunk acting
    as an independent hash function. Same minhash semantics, 4x fewer md5
    calls than one-digest-per-signature (measured 33% faster end-to-end)."""
    exprs = []
    for i in range(N_MINHASH):
        src = "md5(shingle)" if i < 4 else "md5('x:' || shingle)"
        exprs.append(f"min(substr({src}, {1 + 8 * (i % 4)}, 8)) AS s{i}")
    return exprs


def _minhash_band_sql() -> str:
    sigs = ",\n           ".join(_minhash_sig_sql())
    bands = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(s{2*b} || s{2*b+1}) AS bh FROM sig"
        for b in range(N_MINHASH // BAND_SIZE)
    )
    return f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sig AS (
      SELECT doc_id,
           {sigs}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {bands}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    """


@register("dedup_minhash_lsh", oracle=_minhash_band_sql(), category="dedup")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (8 signatures, string-min over md5 — a valid random
    permutation proxy, portable across engines) + LSH banding (4 bands x 2
    rows): candidate pairs collide on at least one band. The self-join key
    is (band, band_hash) so only same-bucket docs are compared — the
    shuffle is O(docs x bands), never O(docs^2). Recall/threshold behavior
    is property-tested in tests/ against exact Jaccard. The same pairs as
    ext.dedup.minhash_banded_candidate_pairs on the documents table, minus
    that function's per-row array_distinct of the shingles (the distinct
    after the explode already dedups): calling it directly measured 11%
    and 28% slower at sf0.1 in two interleaved A/B bursts on 4 cores."""
    return minhash_candidates(minhash_signatures(_shingles(spark, sf_dir)))


N_SIMHASH_BITS = 32


def _simhash_sql() -> str:
    bit_sums = ",\n             ".join(
        f"SUM(CASE WHEN substr(md5(token), {j + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS b{j}"
        for j in range(N_SIMHASH_BITS)
    )
    value = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(N_SIMHASH_BITS)
    )
    return f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    sums AS (
      SELECT doc_id,
             {bit_sums}
      FROM toks GROUP BY doc_id
    )
    SELECT doc_id, CAST({value} AS BIGINT) AS simhash
    FROM sums
    """


@register("dedup_simhash", oracle=_simhash_sql(), category="dedup")
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash over distinct tokens. Bit j of a token = the top bit
    of hex digit j of md5(token) (portable across engines); the doc bit is
    the sign of the per-bit vote sum. Near-dup pairs = small Hamming
    distance (see dedup_simhash_pairs).

    This is not a call of ext.dedup.simhash_band_signatures, and cannot
    become one without changing the oracle's hashes: the bits here come
    from md5(token), while ext salts every digest as md5("b:chunk:" ||
    token); and dedup_simhash_pairs bands this one 32-bit signature on its
    top 16 bits, while ext builds independent word-aligned bands."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("token")).distinct()
    bit_votes = [
        F.sum(
            F.when(F.substring(F.md5("token"), j + 1, 1) >= "8", 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(N_SIMHASH_BITS)
    ]
    sums = toks.groupBy("doc_id").agg(*bit_votes)
    value = None
    for j in range(N_SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
        value = term if value is None else value + term
    return sums.select("doc_id", value.cast("long").alias("simhash"))


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH sh AS ({_simhash_sql()})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sh a
    JOIN sh b ON (a.simhash >> 16) = (b.simhash >> 16) AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
    """,
    category="dedup",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash candidate pairs: band on the top 16 bits (equi-join — no
    cross product), verify Hamming distance <= 6 via bit_count(xor).
    Banding makes this approximate (pairs differing in the top band are
    missed), and the single fixed band means bucket occupancy grows with
    the corpus (r10 ninth probe). The production path is
    ext.dedup.simhash_neardup_pairs: hamming_max+1 word-aligned bands give
    FULL candidate recall by pigeonhole, and band_bits scales with
    log2(corpus) per the RECIPES.md banding rule."""
    sig = dedup_simhash(spark, sf_dir)
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        a.join(
            b,
            (F.shiftright(F.col("ha"), 16) == F.shiftright(F.col("hb"), 16))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .filter(hamming <= 6)
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
    )


@register(
    "dedup_against_corpus",
    oracle="""
    WITH corpus AS (
      SELECT DISTINCT md5(text) AS content_hash
      FROM documents WHERE source = 'src0'
    ),
    incoming AS (
      SELECT doc_id, md5(text) AS content_hash
      FROM documents WHERE source <> 'src0'
    )
    SELECT i.doc_id, i.content_hash
    FROM incoming i
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.content_hash = i.content_hash)
    """,
    category="dedup",
)
def dedup_against_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: drop incoming documents whose content hash already
    exists in a reference corpus (here: source='src0' plays the corpus,
    the rest play the new batch). One left_anti equi-join on a 32-byte
    hash — the shape of 'dedupe today's crawl against the training set'.
    At 100 TB the corpus side is a hash-only projection (32 bytes/doc);
    broadcast it when it fits, else it's a shuffle join on uniformly
    distributed keys (no skew by construction)."""
    d = t(spark, sf_dir, "documents")
    corpus = (
        d.filter(F.col("source") == "src0")
        .select(F.md5("text").alias("content_hash"))
        .distinct()
    )
    incoming = d.filter(F.col("source") != "src0").select(
        "doc_id", F.md5("text").alias("content_hash")
    )
    return incoming.join(corpus, "content_hash", "left_anti").select("doc_id", "content_hash")


@register(
    "dedup_minhash_verified",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sig AS (
      SELECT doc_id,
           {",".join(_minhash_sig_sql())}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {" UNION ALL ".join(f"SELECT doc_id, {b} AS band, md5(s{2*b} || s{2*b+1}) AS bh FROM sig" for b in range(N_MINHASH // BAND_SIZE))}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.5
    """,
    category="dedup",
)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup shape: LSH banding proposes candidate pairs
    (cheap, some false positives), then EXACT Jaccard is computed for
    candidates only — never for all pairs. Verification joins the shingle
    sets of candidate pairs through a semi-join-shaped equi-join on
    (doc_id, shingle); cost is O(candidates x shingles-per-doc), decoupled
    from corpus size. Combines dedup_minhash_lsh (recall-bounded candidates)
    with dedup_ngram_jaccard's exact measure (precision) — the output has
    NO false positives and exactly the LSH candidate recall.

    The shingle set feeds FOUR consumers (signatures, both verify sides,
    sizes); an eager localCheckpoint materializes it once so the
    scan+regex-explode+distinct chain doesn't run four times (Catalyst
    plans the four subtrees independently — no automatic exchange reuse
    across differently-keyed downstream joins; eager, because concurrent
    first-materialization of a lazy checkpoint races block registration).
    30% faster at sf0.1 (2.1s -> 1.5s). DATA_SIZED: the shingle stream is
    input-proportional — audited size class, level parameterized (ckpt policy).

    r16 (guide §2.3 "aggregate before you shuffle", §2.4): the signature
    aggregate and the per-doc size aggregate were two independent full
    passes over the checkpointed shingle stream, each with its own doc_id
    exchange. They now FUSE into one groupBy (min-signatures + count are
    both partial-aggregable), so the stream is map-scanned and exchanged
    once; sizes project off the fused frame. Same values by construction
    (each doc's rows all reach the one aggregate). The fused frame is
    itself checkpointed: without that, column pruning splits the
    aggregate back per consumer (the bands branch keeps s0..s7, the sizes
    branch keeps only n) and the exchanges stop matching — the exact
    non-reuse the fusion exists to fix. One narrow row per doc
    (DATA_SIZED, ~80 B/doc)."""
    from glue_etl_framework_spark.ckpt import DATA_SIZED, checkpoint_shared

    sh = checkpoint_shared(_shingles(spark, sf_dir), size_class=DATA_SIZED)
    per_doc = checkpoint_shared(
        sh.groupBy("doc_id").agg(*minhash_signature_aggs(), F.count("*").alias("n")),
        size_class=DATA_SIZED,
    )
    return jaccard_verify(sh, minhash_candidates(per_doc), per_doc, 0.5)


def _components_sql() -> str:
    band_query = _minhash_band_sql().strip()
    # embed the banding CTEs inside one WITH RECURSIVE (DuckDB allows mixing
    # recursive and plain CTEs under a single RECURSIVE keyword)
    inner = band_query[len("WITH "):]  # strip the leading WITH
    cte_part, select_part = inner.rsplit(")\n    SELECT DISTINCT", 1)
    return f"""
    WITH RECURSIVE {cte_part}),
    pairs AS (
      SELECT DISTINCT{select_part}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach AS (
      SELECT doc_id AS node, doc_id AS label FROM documents
      UNION
      SELECT e.dst AS node, r.label
      FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, CAST(MIN(label) AS BIGINT) AS component
    FROM reach GROUP BY node
    """


@register("dedup_connected_components", oracle=_components_sql(), category="dedup")
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash candidate-pair graph — the
    cluster step of near-dup dedup, ORACLE-CHECKED (rare for an iterative
    distributed algorithm; the DuckDB side is a recursive-CTE transitive
    closure, the Spark side min-id label propagation from ext.dedup:
    O(component diameter) rounds of one join and one aggregate each, every
    round one checkpoint job that also counts changed labels, nothing
    driver-side). component = the smallest doc_id reachable through shared
    LSH bands; singleton docs are their own component. Near-dup clusters are near-cliques, so the loop
    converges in 2-3 rounds regardless of corpus size."""
    from glue_etl_framework_spark.ext.dedup import connected_component_labels

    d = t(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(spark, sf_dir).select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )
    labels = connected_component_labels(d.select("doc_id"), pairs, id_col="doc_id")
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))


JACCARD_TRUE = 0.5  # a candidate "really is" a near-dup at Jaccard >= 0.5


def _lsh_quality_oracle() -> str:
    from glue_etl_framework_spark.queries import REGISTRY

    verified = REGISTRY["dedup_minhash_verified"].oracle
    return f"""
    WITH v AS ({verified})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN jaccard >= {JACCARD_TRUE} THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN jaccard >= {JACCARD_TRUE} THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS precision
    FROM v
    """


@register("dedup_lsh_quality", oracle=_lsh_quality_oracle(), category="dedup")
def dedup_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-precision summary of the banded MinHash index: of the
    pairs the LSH bands surface, what fraction are true near-dups (exact
    Jaccard >= {JACCARD_TRUE})? The counterpart of similarity_ann_recall
    for the dedup path — precision decides the band/row configuration
    (more bands -> higher recall, lower precision -> more verify work).
    One single-row aggregate over the already-verified pair set; at any
    corpus size this monitoring costs one scan of the candidate pairs."""
    v = dedup_minhash_verified(spark, sf_dir)
    is_true = F.when(F.col("jaccard") >= JACCARD_TRUE, 1).otherwise(0)
    return v.agg(
        F.count("*").alias("n_candidates"),
        F.sum(is_true).alias("n_true"),
        (F.sum(is_true).cast("double") / F.count("*")).alias("precision"),
    )


def _estimator_oracle() -> str:
    from glue_etl_framework_spark.queries import REGISTRY

    verified = REGISTRY["dedup_minhash_verified"].oracle
    sig_exprs = ", ".join(_minhash_sig_sql())
    agree = " + ".join(
        f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)" for i in range(N_MINHASH)
    )
    return f"""
    WITH v AS ({verified}),
    sh AS ({_SHINGLE_SQL}),
    sig AS (SELECT doc_id, {sig_exprs} FROM sh GROUP BY doc_id)
    SELECT v.doc_a, v.doc_b, v.jaccard,
           CAST({agree} AS BIGINT) AS n_agree,
           CAST(round(CAST({agree} AS DOUBLE) / {N_MINHASH} * 1000000) AS BIGINT) AS est_fp,
           CAST(round(abs(CAST({agree} AS DOUBLE) / {N_MINHASH} - v.jaccard) * 1000000) AS BIGINT)
             AS abs_err_fp
    FROM v
    JOIN sig sa ON v.doc_a = sa.doc_id
    JOIN sig sb ON v.doc_b = sb.doc_id
    """


@register("dedup_minhash_estimator_error", oracle=_estimator_oracle(), category="dedup")
def dedup_minhash_estimator_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator audit: per verified candidate pair, the
    signature-agreement estimate of Jaccard (agreeing signatures / 8)
    against the exact value, with absolute error — the third monitor of
    the index trio (recall: similarity_ann_recall; precision:
    dedup_lsh_quality; estimation error: here). With 8 signatures the
    expected |error| is ~1/sqrt(8) ~ 0.35 worst-case — the measurement
    that justifies signature-count budgets before scaling an index out.
    The signature table is one per-doc aggregate (reused plan subtree of
    the LSH operator); joining it twice onto the verified pairs is keyed
    on doc id."""
    v = dedup_minhash_verified(spark, sf_dir)
    sig = minhash_signatures(_shingles(spark, sf_dir))
    agree_col = sum(
        (F.when(F.col(f"a_s{i}") == F.col(f"b_s{i}"), 1).otherwise(0) for i in range(1, N_MINHASH)),
        F.when(F.col("a_s0") == F.col("b_s0"), 1).otherwise(0),
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), *[F.col(f"s{i}").alias(f"a_s{i}") for i in range(N_MINHASH)])
    sb = sig.select(F.col("doc_id").alias("doc_b"), *[F.col(f"s{i}").alias(f"b_s{i}") for i in range(N_MINHASH)])
    est = agree_col.cast("double") / N_MINHASH
    return (
        v.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", "jaccard",
            agree_col.cast("long").alias("n_agree"),
            F.round(est * 1_000_000).cast("long").alias("est_fp"),
            F.round(F.abs(est - F.col("jaccard")) * 1_000_000).cast("long").alias("abs_err_fp"),
        )
    )


BLOOM_BITS = 8192   # m: filter size in bits (256 32-bit words in BIGINTs)
BLOOM_HASHES = 4    # k: probe positions per key (4 disjoint md5 byte-slices)
_BLOOM_WORD = 32    # bits packed per BIGINT word (avoids the sign bit)


def _bloom_pos_sql(j: int, h: str = "h") -> str:
    """DuckDB: j-th bloom bit position from an md5 hex column."""
    return (
        f"CAST(('0x' || substr({h}, {1 + 8 * j}, 8))::UBIGINT % {BLOOM_BITS} AS BIGINT)"
    )


def bloom_ctes_sql(incoming_cte: str) -> str:
    """Shared DuckDB CTE chain for the bloom prefilter: builds the
    reference-shingle filter (ref/rpos/words) and probes it with the
    shingles of `incoming_cte` (must provide doc_id, text), ending in
    per_shingle (bloom verdict per (doc_id, shingle-hash)) and truth
    (exact-join verdict). Composable: dedup_bloom_prefilter uses it on all
    non-reference docs; pipeline_incremental_ingest on its quality-passed
    subset."""
    return f"""
    ref_sh AS (
      SELECT DISTINCT md5(unnest(list_transform(range(1, length(w) - 1),
                                 i -> array_to_string(w[i:i+2], ' ')))) AS h
      FROM (SELECT string_split(text, ' ') AS w FROM documents WHERE source = 'src0')
      WHERE length(w) >= 3
    ),
    rpos AS (
      SELECT DISTINCT {_bloom_pos_sql(0)} AS p FROM ref_sh
      UNION SELECT {_bloom_pos_sql(1)} FROM ref_sh
      UNION SELECT {_bloom_pos_sql(2)} FROM ref_sh
      UNION SELECT {_bloom_pos_sql(3)} FROM ref_sh
    ),
    words AS (
      SELECT p // {_BLOOM_WORD} AS w,
             bit_or(CAST(1 AS BIGINT) << CAST(p % {_BLOOM_WORD} AS INTEGER)) AS bits
      FROM rpos GROUP BY p // {_BLOOM_WORD}
    ),
    new_sh AS (
      SELECT DISTINCT doc_id,
             md5(unnest(list_transform(range(1, length(w) - 1),
                        i -> array_to_string(w[i:i+2], ' ')))) AS h
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM {incoming_cte})
      WHERE length(w) >= 3
    ),
    probes AS (
      SELECT doc_id, h, {_bloom_pos_sql(0)} AS p FROM new_sh
      UNION ALL SELECT doc_id, h, {_bloom_pos_sql(1)} FROM new_sh
      UNION ALL SELECT doc_id, h, {_bloom_pos_sql(2)} FROM new_sh
      UNION ALL SELECT doc_id, h, {_bloom_pos_sql(3)} FROM new_sh
    ),
    checks AS (
      SELECT pr.doc_id, pr.h,
             CASE WHEN w.bits IS NOT NULL
                   AND (w.bits & (CAST(1 AS BIGINT) << CAST(pr.p % {_BLOOM_WORD} AS INTEGER)))
                       <> 0
                  THEN 1 ELSE 0 END AS bit_set
      FROM probes pr LEFT JOIN words w ON pr.p // {_BLOOM_WORD} = w.w
    ),
    per_shingle AS (
      SELECT c.doc_id, c.h, MIN(c.bit_set) AS bloom_hit
      FROM checks c GROUP BY c.doc_id, c.h
    ),
    truth AS (
      SELECT n.doc_id, n.h, CASE WHEN r.h IS NULL THEN 0 ELSE 1 END AS true_hit
      FROM new_sh n LEFT JOIN ref_sh r ON n.h = r.h
    )"""


def bloom_shingle_frames(incoming: DataFrame, ref_docs: DataFrame):
    """Spark twin of bloom_ctes_sql: (per_shingle, truth) frames keyed
    (doc_id, h). `incoming` must provide (doc_id, text); `ref_docs` just
    text. The filter is a bounded broadcast — {BLOOM_BITS} bits in
    {BLOOM_BITS // 32} BIGINT words — at ANY reference size; probes check
    it map-side.

    r15 optimization (guide §2.3/§2.4): the probe is now a PURE PROJECTION
    — the word array travels as a one-row (word -> bits) map crossJoined
    as a broadcast, and all {BLOOM_HASHES} bit tests evaluate inline with
    ``least(...)`` reproducing the oracle's MIN-over-probes exactly. The
    previous shape exploded {BLOOM_HASHES} position rows per shingle,
    broadcast-joined each against the words frame, and re-aggregated by
    (doc_id, h) — a full shuffle of {BLOOM_HASHES}x the shingle stream
    keyed on 32-char strings that a map-side filter never needed. The
    ref / new_sh diamonds stay plan-pure: their distinct() exchanges are
    identical across consumers, so AQE's ReusedExchange already shares
    them (eager checkpoints here measured slower — the
    dedup_prefix_filter_jaccard lesson, probes/abx_r15opt_main.txt)."""
    ref = (
        ref_docs.select(F.explode(shingle_array()).alias("shingle"))
        .select(F.md5("shingle").alias("h"))
        .distinct()
    )
    new_sh = (
        incoming.select("doc_id", F.explode(shingle_array()).alias("shingle"))
        .select("doc_id", F.md5("shingle").alias("h"))
        .distinct()
    )

    def pos(j):
        return F.conv(F.substring("h", 1 + 8 * j, 8), 16, 10).cast("long") % BLOOM_BITS

    positions = F.array(*[pos(j) for j in range(BLOOM_HASHES)])
    rpos = ref.select(F.explode(positions).alias("p")).distinct()
    words = rpos.groupBy((F.col("p") / _BLOOM_WORD).cast("long").alias("w")).agg(
        F.expr(f"bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % {_BLOOM_WORD} AS INT)))").alias(
            "bits"
        )
    )
    # The whole bit array as ONE bounded row: word-index -> bits map.
    wmap = words.agg(
        F.map_from_arrays(F.collect_list("w"), F.collect_list("bits")).alias("wm")
    )

    def bit_set(j):
        pj = pos(j)
        wbits = F.element_at(F.col("wm"), (pj / _BLOOM_WORD).cast("long"))
        # call_function: F.shiftleft only takes a literal bit count
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (pj % _BLOOM_WORD).cast("int")
        )
        return (
            F.when(wbits.isNotNull() & (wbits.bitwiseAND(mask) != 0), 1).otherwise(0)
        )

    per_shingle = (
        new_sh.crossJoin(F.broadcast(wmap))
        .select(
            "doc_id",
            "h",
            F.least(*[bit_set(j) for j in range(BLOOM_HASHES)]).alias("bloom_hit"),
        )
    )
    truth = new_sh.join(
        ref.withColumnRenamed("h", "rh"), F.col("h") == F.col("rh"), "left"
    ).select(
        "doc_id",
        "h",
        F.when(F.col("rh").isNull(), 0).otherwise(1).alias("true_hit"),
    )
    return per_shingle, truth


@register(
    "dedup_bloom_prefilter",
    oracle=f"""
    WITH incoming_docs AS (
      SELECT doc_id, text FROM documents WHERE source <> 'src0'
    ),
    {bloom_ctes_sql("incoming_docs")}
    SELECT p.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(p.bloom_hit) AS BIGINT) AS n_bloom_hits,
           CAST(SUM(t.true_hit) AS BIGINT) AS n_true_hits,
           CASE WHEN SUM(p.bloom_hit) > 0 THEN 1 ELSE 0 END AS flagged
    FROM per_shingle p JOIN truth t ON p.doc_id = t.doc_id AND p.h = t.h
    GROUP BY p.doc_id
    """,
    category="dedup",
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter contamination prefilter — the cheap first pass of
    incremental corpus-vs-reference dedup at 100 TB: the reference
    corpus's distinct shingle set is compressed into a {BLOOM_HASHES}-probe
    bit array ({BLOOM_BITS} bits packed into {BLOOM_BITS // _BLOOM_WORD}
    BIGINT words — a BOUNDED broadcast sized by target false-positive
    rate, never carrying per-row payloads the way data-sized broadcasts
    do; at a billion reference shingles you'd size ~10 bits/key and shard
    the array by key range, plan shape unchanged). Incoming documents
    probe the broadcast words map-side — no-false-negative pruning with
    ZERO shuffle against the reference at query time — and only flagged
    docs would pay the exact shingle join in a production pipeline (the
    composite pipeline_incremental_ingest wires exactly that). Fully
    portable construction (md5 byte-slice bit positions, bit_or word
    aggregate — deterministic in both engines), so the entire filter, not
    just the verdict, is oracle-checked. Returns per incoming doc:
    shingle count, bloom-positive count, exact-truth count (from the real
    join, for audit), and the flag. bloom >= truth everywhere (no false
    negatives) and the gap IS the measured FP rate at this m/n — both
    pinned by tests/test_bloom_properties.py."""
    d = t(spark, sf_dir, "documents")
    per_shingle, truth = bloom_shingle_frames(
        d.filter(F.col("source") != "src0").select("doc_id", "text"),
        d.filter(F.col("source") == "src0").select("text"),
    )
    return (
        per_shingle.join(truth, ["doc_id", "h"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum("bloom_hit").alias("n_bloom_hits"),
            F.sum("true_hit").alias("n_true_hits"),
            F.when(F.sum("bloom_hit") > 0, 1).otherwise(0).alias("flagged"),
        )
    )


def _verify_jaccard_pairs(sh: DataFrame, cand: DataFrame) -> DataFrame:
    """O(candidates) exact-Jaccard verification shared by the blocking
    operators (prefix filter, sorted neighborhood): join candidate pairs
    doc-keyed to sorted shingle arrays and compute the overlap with
    array_intersect (shingle sets are distinct, so size == |A∩B|).
    Arrays are built ONLY for docs appearing in some candidate pair (the
    semi-join), so the collect_list cost tracks candidate volume, not
    corpus size. Returns (doc_a, doc_b, n_common, na, nb). (Local wall
    time is flat vs an unscoped build: the fixtures' near-dup density
    puts most docs in a candidate pair; on a sparse corpus the semi-join
    is the win.)"""
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    arrs = (
        sh.join(cand_docs, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("shingle")).alias("arr"), F.count("*").alias("n"))
    )
    av = arrs.select(F.col("doc_id").alias("doc_a"), F.col("arr").alias("arr_a"), F.col("n").alias("na"))
    bv = arrs.select(F.col("doc_id").alias("doc_b"), F.col("arr").alias("arr_b"), F.col("n").alias("nb"))
    n_common = F.size(F.array_intersect("arr_a", "arr_b"))
    return (
        cand.join(av, "doc_a")
        .join(bv, "doc_b")
        .select("doc_a", "doc_b", n_common.alias("n_common"), "na", "nb")
    )


PREFIX_TAU_NUM, PREFIX_TAU_DEN = 1, 2  # Jaccard threshold τ = 0.5, exact rational


@register(
    "dedup_prefix_filter_jaccard",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE {PREFIX_TAU_DEN} * i.n_common >= {PREFIX_TAU_NUM} * (sa.n + sb.n - i.n_common)
    """,
    category="dedup",
)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity self-join via PREFIX FILTERING (Chaudhuri et al.
    SSJoin / Bayardo et al. All-Pairs; same family as PPJoin): order each
    document's shingles by ascending global document frequency (rarest
    first, the 64-bit hashed shingle token as the deterministic
    tie-break — still total and engine-independent) and probe with
    only the first |S| - ceil(τ·|S|) + 1 of them. Two documents with
    Jaccard >= τ MUST share a prefix shingle under a common global order,
    so the filter is LOSSLESS — which the oracle proves end-to-end: it is
    the plain exact all-pairs Jaccard-τ query with no prefix logic at all,
    and the driver hash-match certifies the filtered plan returns the
    identical pair set (the threshold compare is exact rational
    den·|A∩B| >= num·|A∪B| with τ = num/den = 1/2, no float
    boundary).

    100 TB design vs the raw shingle join (dedup_ngram_jaccard): the
    candidate join touches only prefix shingles — by construction the
    RAREST shingles of each doc — so the hot keys that force a DF cap on
    the raw join (stop-phrase trigrams shared by k docs → k² pairs) are
    structurally excluded from the probe side; no recall trade needed.
    Candidate verification is O(candidates): each candidate pair joins
    doc-keyed to per-doc sorted shingle arrays and the overlap is an
    array_intersect — no second shingle-keyed shuffle. Shuffles: DF count
    + prefix window share the shingle key; the verify joins are keyed on
    doc id. τ is a compile-time rational so prefix lengths use integer
    arithmetic ((n·(den-num) + den - 1) div den + ... simplified below)
    identically in both engines.

    Token-dictionary compression (round 9): shingle STRINGS (~30 B + row
    overhead each) are hashed to 64-bit tokens (xxhash64) immediately
    after shingling, so every downstream exchange — the DF count, the
    prefix window, the candidate equi-join, and above all the verify
    stage's per-pair sorted arrays — moves 8-byte longs instead of
    strings (~4-5x less shuffle/spill volume; the r9 100x realistic-corpus
    probe DNF'd on local spill with string arrays and completes with
    hashed ones). Losslessness is unaffected: prefix filtering needs only
    SOME total order common to all docs, and (df, hashed-token) is one.
    Correctness semantics: Jaccard is computed over the hashed shingle
    sets, which differs from string-set Jaccard only if two distinct
    shingles of the same document pair collide in 64 bits (p ~= s^2/2^65
    per pair, s = shingles/doc — ~1e-15 here, ~1e-10 at 100 TB corpus
    sizes; the standard trade, cf. Spark ML's HashingTF). The oracle
    stays STRING-exact all-pairs with no prefix logic and no hashing, so
    the driver hash-match certifies both the prefix filter's losslessness
    and the collision-free equivalence of the hashed computation.

    r15 optimization note — checkpointing stays reverted: the static plan
    shows the shingle/prefix subtrees replicated 8x (46 Exchange nodes),
    which looks like the dedup_minhash_verified diamond, but at runtime
    AQE's ReusedExchange already deduplicates the identical exchanges, so
    eager localCheckpoints on sh/prefix/cand buy no saved shuffle. The r15
    reading of 1.49x slower at sf0.1 (probes/abx_r15opt_main.txt) rested
    on 1-3 bursts compared by minimum medians; ten later alternating
    bursts at sf0.1 on local[4] read 0.873x
    (probes/abx_prefix_eager_ckpt_sf01_local4.txt), so the variant was
    not shown slower either — only without a gain to keep it. Static
    Exchange counts overstate executed shuffles wherever the duplicated
    subtrees are exchange-identical."""
    from pyspark.sql import Window as W

    sh = _shingles(spark, sf_dir).select(
        "doc_id", F.xxhash64("shingle").alias("shingle")
    )
    # Global document frequency per shingle: the ordering key of the
    # canonical prefix order (shingle-keyed agg; same key as the probe
    # join). r16 reverted a shingle-partitioned window count: it looked
    # like one exchange saved, but the aggregate's output (distinct
    # shingles) is small enough that the attach plans as a BROADCAST hash
    # join — no shuffle of sh at all — while the window forces a full
    # exchange+sort of the shingle stream (plan: 34 -> 14
    # BroadcastHashJoin, +20 Window/+10 Sort). Its "2.58s -> 3.13s" came
    # from one burst; ten later alternating bursts at sf0.1 on local[4]
    # read 0.979x (probes/abx_prefix_window_df_sf01_local4.txt), so it was
    # not shown slower either — it stays reverted for the plan shape, not
    # for a measured loss.
    df_ct = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    sized = sh.join(df_ct, "shingle")
    rn = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("shingle").asc())
    )
    n_doc = F.count("*").over(W.partitionBy("doc_id"))
    # prefix length p = n - ceil(τ·n) + 1, all integer arithmetic:
    # ceil(num·n/den) = (num·n + den - 1) div den.
    ceil_tau_n = F.expr(
        f"({PREFIX_TAU_NUM} * n + {PREFIX_TAU_DEN} - 1) div {PREFIX_TAU_DEN}"
    )
    prefix = (
        sized.select("doc_id", "shingle", rn.alias("rn"), n_doc.alias("n"))
        .filter(F.col("rn") <= F.col("n") - ceil_tau_n + 1)
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    # PPJoin positional filter (also lossless): at the FIRST common prefix
    # token (positions i, j) the overlap is at most min(na-i, nb-j) + 1 —
    # no common token can precede the first prefix match when both docs
    # order tokens identically — and J >= tau needs (den+num)*o >=
    # num*(na+nb). Later matches have smaller suffixes, so filtering every
    # matched row and de-duplicating equals the first-match check. Cuts
    # candidates 3.3x at sf0.1 (409k -> 125k) before the verify join.
    ubound = F.least(F.col("a.n") - F.col("a.rn"), F.col("b.n") - F.col("b.rn")) + 1
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.lit(PREFIX_TAU_DEN + PREFIX_TAU_NUM) * ubound
                >= F.lit(PREFIX_TAU_NUM) * (F.col("a.n") + F.col("b.n"))
            ),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    union_n = F.col("na") + F.col("nb") - F.col("n_common")
    return (
        _verify_jaccard_pairs(sh, cand)
        .filter(F.lit(PREFIX_TAU_DEN) * F.col("n_common") >= F.lit(PREFIX_TAU_NUM) * union_n)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("n_common").cast("double") / union_n.cast("double"), 6).alias("jaccard"),
        )
    )


SN_WINDOW = 4   # sorted-neighborhood comparison window (w)
SN_BUCKET = 4   # blocking-bucket key length (chars)
SN_KEY = 24     # sort-key length (chars)


@register(
    "dedup_sorted_neighborhood",
    oracle=f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    ranked AS (
      SELECT doc_id, substr(text, 1, {SN_BUCKET}) AS bucket,
             row_number() OVER (PARTITION BY substr(text, 1, {SN_BUCKET})
                                ORDER BY substr(text, 1, {SN_KEY}), doc_id) AS rn
      FROM documents
    ),
    cand AS (
      SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS doc_a,
             GREATEST(a.doc_id, b.doc_id) AS doc_b
      FROM ranked a JOIN ranked b
        ON a.bucket = b.bucket AND b.rn - a.rn BETWEEN 1 AND {SN_WINDOW - 1}
    ),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b,
           round(CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common), 6) AS jaccard
    FROM cand c
    JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    WHERE CAST(i.n_common AS DOUBLE) / (sa.n + sb.n - i.n_common) >= 0.5
    """,
    category="dedup",
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo's merge/purge —
    the third classic candidate-generation family next to LSH banding
    and prefix filtering): sort documents by a cheap key (first 24 chars
    of the text), compare each doc only with its w-1 = 3 successors in
    sort order, verify candidates with exact shingle Jaccard. Candidate
    volume is EXACTLY (w-1) x n — linear by construction, no DF caps or
    band tuning needed — at the cost of RECALL tied to the key: only
    near-dups that sort near each other are found (here near-dups share
    long prefixes, so the window catches them; production runs multiple
    passes with different keys — suffix, token-sort — and unions pairs).

    100 TB shape: ranks are computed per BUCKET (first 4 chars), so the
    sort is many partitioned windows, not one global order — the
    documented trade is pairs straddling a bucket boundary (the fraction
    lost is w/bucket-size; the oracle mirrors the same bucketing so the
    check is exact). The neighbor join is an equi-join on (bucket, rank)
    via a fixed x3 offset explode — no range join, no skew (ranks are
    unique within a bucket). Verification joins candidates doc-keyed to
    sorted shingle arrays: O(candidates) = O(n), never a shingle-keyed
    pair blowup. Verify arrays hold 64-bit hashed tokens, not shingle
    strings (see dedup_prefix_filter_jaccard's compression note)."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    ranked = d.select(
        "doc_id",
        F.substring("text", 1, SN_BUCKET).alias("bucket"),
        F.substring("text", 1, SN_KEY).alias("k"),
    ).withColumn(
        "rn",
        F.row_number().over(W.partitionBy("bucket").orderBy("k", "doc_id")),
    )
    a = ranked.select(
        "bucket",
        F.col("doc_id").alias("id_a"),
        "rn",
        F.explode(F.array(*[F.lit(i) for i in range(1, SN_WINDOW)])).alias("off"),
    ).select("bucket", "id_a", (F.col("rn") + F.col("off")).alias("target"))
    b = ranked.select("bucket", F.col("doc_id").alias("id_b"), F.col("rn").alias("target"))
    # r16 measured-and-REVERTED: checkpointing `cand` for its three
    # consumers in _verify_jaccard_pairs (flagged in OPTIMIZATION_r15
    # "Not yet optimized") read mildly SLOWER at every scale tried
    # (1.01x sf0.1, 1.06x/1.08x at 10x realistic, grouped+isolated
    # ladders) — the three consumer subtrees are identical through the
    # distinct's exchange, so AQE ReusedExchange already shares them and
    # the checkpoint only added a serial materialization barrier (the
    # dedup_prefix_filter_jaccard r15 lesson again).
    cand = (
        a.join(b, ["bucket", "target"])
        .select(
            F.least("id_a", "id_b").alias("doc_a"),
            F.greatest("id_a", "id_b").alias("doc_b"),
        )
        .distinct()
    )
    sh = _shingles(spark, sf_dir).select(
        "doc_id", F.xxhash64("shingle").alias("shingle")
    )
    union_n = F.col("na") + F.col("nb") - F.col("n_common")
    jac = F.col("n_common").cast("double") / union_n.cast("double")
    return (
        _verify_jaccard_pairs(sh, cand)
        .filter(jac >= 0.5)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )
