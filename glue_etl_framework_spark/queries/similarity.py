"""Vector similarity search over the embeddings table (EXT — north star
BASELINE.json:6): brute-force cosine top-k baseline + near-dup pairs, with
a quantized-integer dot product so results are bit-identical across engines.

Quantization: each float dim is scaled by 2^20 and rounded to BIGINT; dot
products and squared norms are then exact integer sums (order-independent,
< 2^53), and cosine = dot / (sqrt(nq_a) * sqrt(nq_b)) is a deterministic
double. This removes float-summation-order nondeterminism entirely.

The Spark side of every entry is a fixed-parameter call into
glue_etl_framework_spark.ext.similarity (quantized cosine, brute-force
top-k, IVF, banded hyperplane LSH); this module keeps the DuckDB oracle
SQL those calls are checked against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from glue_etl_framework_spark.ckpt import BOUNDED, DATA_SIZED, checkpoint_shared
from glue_etl_framework_spark.ext.similarity import (
    band_join,
    banded_signatures,
    brute_force_topk,
    hyperplane_projection_sql,
    hyperplane_signs,
    ivf_assign,
    ivf_centroids,
    ivf_topk,
    quantize_embeddings,
    quantized_cosine,
    quantized_cosine_joined,
    verified_pairs,
)
from glue_etl_framework_spark.queries import register, t
from glue_etl_framework_spark.queries.dedup import SHINGLE_DF_CAP

SCALE = 1 << 20
N_QUERIES = 10  # vec_id < 10 are the query vectors for top-k
TOP_K = 5

_QUANT_SQL = f"""
      SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {SCALE}) AS BIGINT)) AS q
      FROM embeddings
"""

_NORM_SQL = """
      SELECT vec_id, q,
             CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nq
      FROM quant
"""


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vec_id, q (BIGINT array), nq (squared norm, exact BIGINT) —
    delegates to ext.similarity.quantize_embeddings (r15 review: the
    construction was duplicated line-for-line with only a comment
    keeping SCALE == QUANT_SCALE in sync; the oracle SQL pins 2^20, so a
    drift in either copy would break the bit-for-bit contract silently).
    PLANS.md regen confirmed the delegation is plan-identical."""
    return quantize_embeddings(t(spark, sf_dir, "embeddings"))


@register(
    "similarity_topk_bruteforce",
    oracle=f"""
    WITH quant AS ({_QUANT_SQL}),
    normed AS ({_NORM_SQL}),
    pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS BIGINT)
               / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE))) AS cosine
      FROM normed a JOIN normed b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, round(cosine, 9) AS cosine
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rn
          FROM pairs) r
    WHERE rn <= {TOP_K}
    """,
    category="similarity",
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for a query subset: broadcast the (small) query
    side against the full corpus — at scale this is queries-broadcast x
    corpus-scan with a per-query top-k (row_number), no global sort and no
    corpus x corpus blowup."""
    v = _quantized(spark, sf_dir)
    return brute_force_topk(v, v.filter(F.col("vec_id") < N_QUERIES), k=TOP_K)


@register(
    "similarity_neardup_pairs",
    oracle=f"""
    WITH quant AS ({_QUANT_SQL}),
    normed AS ({_NORM_SQL}),
    labeled AS (SELECT n.vec_id, n.q, n.nq, e.label
                FROM normed n JOIN embeddings e ON n.vec_id = e.vec_id)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS BIGINT)
                   / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE))), 9) AS cosine
    FROM labeled a JOIN labeled b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE CAST(list_sum(list_transform(range(1, 65), i -> a.q[i] * b.q[i])) AS BIGINT)
            / (sqrt(CAST(a.nq AS DOUBLE)) * sqrt(CAST(b.nq AS DOUBLE))) >= 0.35
    """,
    category="similarity",
)
def similarity_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= 0.35), blocked by
    the label (coarse-cluster) column: the join key makes this an equi-join
    — only same-block pairs are ever scored, which is exactly the shape the
    100 TB path needs (with LSH-computed buckets instead of given labels;
    see ext.similarity). Exact cosine within each block."""
    v = _quantized(spark, sf_dir)
    lab = t(spark, sf_dir, "embeddings").select("vec_id", "label")
    v = v.join(lab, "vec_id")
    a = v.select(F.col("vec_id").alias("vec_a"), F.col("q").alias("qa"), F.col("nq").alias("na"), "label")
    b = v.select(F.col("vec_id").alias("vec_b"), F.col("q").alias("qb"), F.col("nq").alias("nb"), "label")
    cosine = quantized_cosine()
    return (
        a.join(b, "label")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(cosine >= 0.35)
        .select("vec_a", "vec_b", F.round(cosine, 9).alias("cosine"))
    )


# FIXED centroid count (not a corpus fraction): K stays constant as the
# corpus grows, so the centroid broadcast is O(K) bytes and assignment work
# is O(n*K) — linear in n, never quadratic. Centroids are a deterministic
# bottom-K-by-md5 sample of vec_ids (TakeOrdered: map-side keeps K rows per
# partition, no full shuffle), reproducible bit-identically in DuckDB. At
# production scale you'd raise K (e.g. 4096) — the plan shape is unchanged.
N_CENTROIDS = 16
N_PROBE = 4  # IVF: query probes its 4 nearest centroid lists (25% of K=16;
# recall@10 vs brute force = 0.56 at sf0.01 — measured by similarity_ann_recall)

_CENT_SQL = f"""SELECT vec_id AS cid, q, nq FROM normed
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {N_CENTROIDS}"""

_COSINE_SQL = (
    "CAST(list_sum(list_transform(range(1, 65), i -> {a}.q[i] * {b}.q[i])) AS BIGINT)"
    " / (sqrt(CAST({a}.nq AS DOUBLE)) * sqrt(CAST({b}.nq AS DOUBLE)))"
)


@register(
    "similarity_ann_ivf",
    oracle=f"""
    WITH quant AS ({_QUANT_SQL}),
    normed AS ({_NORM_SQL}),
    cent AS ({_CENT_SQL}),
    assign AS (
      SELECT vec_id, cid FROM (
        SELECT n.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY n.vec_id
                                  ORDER BY {_COSINE_SQL.format(a='n', b='c')} DESC, c.cid) AS rn
        FROM normed n CROSS JOIN cent c
      ) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, cid FROM (
        SELECT n.vec_id AS query_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY n.vec_id
                                  ORDER BY {_COSINE_SQL.format(a='n', b='c')} DESC, c.cid) AS rn
        FROM normed n CROSS JOIN cent c
        WHERE n.vec_id < {N_QUERIES}
      ) WHERE rn <= {N_PROBE}
    )
    SELECT query_id, neighbor_id, round(cosine, 9) AS cosine FROM (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {_COSINE_SQL.format(a='qv', b='nv')} AS cosine,
             ROW_NUMBER() OVER (PARTITION BY p.query_id
                                ORDER BY {_COSINE_SQL.format(a='qv', b='nv')} DESC, a.vec_id) AS rn
      FROM probes p
      JOIN assign a ON a.cid = p.cid AND a.vec_id <> p.query_id
      JOIN normed qv ON qv.vec_id = p.query_id
      JOIN normed nv ON nv.vec_id = a.vec_id
    ) WHERE rn <= {TOP_K}
    """,
    category="similarity",
)
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the 100 TB scale path for
    ANN. Coarse quantizer: a FIXED-size deterministic centroid sample
    (bottom-K vec_ids by md5 — a TakeOrdered, so selection is map-side
    top-K with no full shuffle, and K does NOT grow with the corpus);
    every vector is assigned to its nearest centroid (an n x K broadcast
    join — the K-row broadcast is constant-size, so assignment is
    shuffle-free and O(n*K), linear in n); a query scores only the vectors
    in its nprobe=2 nearest centroid lists, cutting scored pairs by
    ~K/nprobe vs brute force. Exact quantized cosine everywhere, so the
    whole pipeline is oracle-checkable; recall vs brute force is
    property-tested in tests/test_ext.py.

    r16: the quantized frame feeds FIVE consumers (centroid sample, n x K
    scoring, both exact-cosine sides, the query broadcast) over a
    no-exchange scan+transform subtree — one DATA_SIZED checkpoint = one
    quantization pass (the dedup_semdedup / similarity_ivf_pq_topk
    pattern, 0.84x-0.91x on their 10x ladders)."""
    v = checkpoint_shared(_quantized(spark, sf_dir), size_class=DATA_SIZED)
    return ivf_topk(
        v,
        v.filter(F.col("vec_id") < N_QUERIES),
        k=TOP_K,
        n_probe=N_PROBE,
        n_centroids=N_CENTROIDS,
    )


N_HYPERPLANES = 16  # signature bits; bands of 8 -> 2 bands
_BAND_BITS = 8
# The banding shape above is ORACLE-PINNED: the DuckDB SQL bakes these
# hyperplanes in as literals, so the registry entry cannot scale them.
# Production callers use the parameterized ext API instead
# (ext.similarity.lsh_neardup_pairs / scaled_band_bits: signature bits
# grow with log2(corpus) so candidate volume stays linear — r10 ninth
# probe; RECIPES.md "Scale LSH signature bits with the corpus").


def _band_exprs_sql() -> list[str]:
    """SQL expressions for the two 8-bit band values of the hyperplane
    signature of q (quantized embedding array)."""
    bands = []
    for b in range(N_HYPERPLANES // _BAND_BITS):
        bits = []
        for k in range(_BAND_BITS):
            j = b * _BAND_BITS + k
            signs = hyperplane_signs(j)
            arr = "list_value(" + ", ".join(str(s) for s in signs) + ")"
            proj = f"list_sum(list_transform(range(1, 65), i -> {arr}[i] * q[i]))"
            bits.append(f"(CASE WHEN {proj} > 0 THEN {1 << k} ELSE 0 END)")
        bands.append(" + ".join(bits))
    return bands


def _hyperplane_sig(v: DataFrame) -> DataFrame:
    """(vec_id, bidx, bv): the 8-bit band values of the 16-bit hyperplane
    signature, one row per vector per band — the LSH index frame shared by
    the pairs join and the multi-probe query path. Thin pin over the
    parameterized ext builder at the oracle's banding shape."""
    return banded_signatures(
        v, n_bands=N_HYPERPLANES // _BAND_BITS, band_bits=_BAND_BITS
    )


@register(
    "similarity_lsh_hyperplane_pairs",
    oracle=f"""
    WITH quant AS ({_QUANT_SQL}),
    normed AS ({_NORM_SQL}),
    sig AS (
      SELECT vec_id, q, nq,
             {_band_exprs_sql()[0]} AS band0,
             {_band_exprs_sql()[1]} AS band1
      FROM normed
    ),
    cand AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM sig a JOIN sig b ON a.band0 = b.band0 AND a.vec_id < b.vec_id
      UNION
      SELECT a.vec_id, b.vec_id
      FROM sig a JOIN sig b ON a.band1 = b.band1 AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, round(cosine, 9) AS cosine FROM (
      SELECT c.vec_a, c.vec_b, {_COSINE_SQL.format(a='x', b='y')} AS cosine
      FROM cand c
      JOIN normed x ON x.vec_id = c.vec_a
      JOIN normed y ON y.vec_id = c.vec_b
    ) WHERE cosine >= 0.35
    """,
    category="similarity",
)
def similarity_lsh_hyperplane_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane (SimHash-for-vectors) LSH near-dup pairs WITHOUT a
    given blocking label — the honest 100 TB path: 16 signature bits from
    +-1 hyperplane projections (exact integer dot products), banded 2x8 so
    candidates collide on a band equi-join (shuffle keyed on an 8-bit band
    value — never an all-pairs product), then exact cosine >= 0.35 verify.
    Raising bands/bits trades recall vs candidate volume; recall against
    the label-blocked exact pairs is property-tested in tests/.

    r16: the quantized frame feeds THREE consumers (signatures + both
    verify-join sides) over a scan+transform subtree with no exchange —
    nothing for AQE to reuse, so the scan and per-element quantization ran
    three times. One DATA_SIZED checkpoint = one pass (the pattern
    ext.similarity.lsh_neardup_pairs already used; ADVICE r11)."""
    v = checkpoint_shared(_quantized(spark, sf_dir), size_class=DATA_SIZED)
    return verified_pairs(v, band_join(_hyperplane_sig(v)), 0.35)


@register(
    "similarity_label_centroid",
    oracle=f"""
    WITH quant AS ({_QUANT_SQL})
    SELECT e.label,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(q.q[1]) AS BIGINT) AS sum_dim1_q,
           CAST(SUM(q.q[64]) AS BIGINT) AS sum_dim64_q
    FROM embeddings e JOIN quant q ON e.vec_id = q.vec_id
    GROUP BY e.label
    """,
    category="similarity",
)
def similarity_label_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped vector aggregation (centroid-style sums in quantized space) —
    the building block for IVF coarse clustering; exact integer sums."""
    v = _quantized(spark, sf_dir)
    e = t(spark, sf_dir, "embeddings").select("vec_id", "label")
    return (
        e.join(v, "vec_id")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum(F.element_at("q", 1)).alias("sum_dim1_q"),
            F.sum(F.element_at("q", 64)).alias("sum_dim64_q"),
        )
    )


def _kmeans_assign_sql(centroids_cte: str) -> str:
    """Nearest-centroid assignment (exact quantized cosine, ties to the
    lowest centroid id) against a centroid CTE with (cid, q, nq)."""
    return f"""
      SELECT vec_id, cid FROM (
        SELECT n.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY n.vec_id
                                  ORDER BY {_COSINE_SQL.format(a='n', b='c')} DESC, c.cid) AS rn
        FROM normed n CROSS JOIN {centroids_cte} c
      ) WHERE rn = 1
    """


@register(
    "similarity_kmeans_refine",
    oracle=f"""
    WITH quant AS ({_QUANT_SQL}),
    normed AS ({_NORM_SQL}),
    c0 AS ({_CENT_SQL}),
    a1 AS ({_kmeans_assign_sql('c0')}),
    ex AS (
      SELECT a1.cid, unnest(n.q) AS val, generate_subscripts(n.q, 1) AS pos
      FROM a1 JOIN normed n ON n.vec_id = a1.vec_id
    ),
    agg AS (
      SELECT cid, pos, CAST(SUM(val) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM ex GROUP BY cid, pos
    ),
    newc AS (
      SELECT cid,
             list(CAST(FLOOR(CAST(s AS DOUBLE) / cnt) AS BIGINT) ORDER BY pos) AS q
      FROM agg GROUP BY cid
    ),
    c1 AS (
      SELECT cid, q, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nq
      FROM newc
    ),
    a2 AS ({_kmeans_assign_sql('c1')})
    SELECT a2.cid,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(n.q[1]) AS BIGINT) AS sum_dim1_q
    FROM a2 JOIN normed n ON n.vec_id = a2.vec_id
    GROUP BY a2.cid
    """,
    category="similarity",
)
def similarity_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means over the corpus — the iterative-
    algorithm representative, fully distributed AND fully deterministic
    (hence oracle-checked, rare for an iterative op): init centroids = a
    FIXED-size bottom-K-by-md5 sample (K constant as the corpus grows, so
    the broadcast never scales with n and assignment stays O(n*K));
    assign by exact quantized cosine (n x K broadcast
    join); update = per-(centroid, dim) integer sums via posexplode — one
    shuffle keyed on (cid, dim), floor-averaged back to quantized space,
    arrays rebuilt with a sorted collect per centroid (K x 64 rows, tiny);
    reassign against refined centroids; report cluster sizes. More
    iterations = loop the same two shuffles with localCheckpoint lineage
    truncation (see ext.dedup.dedup_keep_representative for the pattern)."""
    v = _quantized(spark, sf_dir)
    a1 = ivf_assign(v, ivf_centroids(v, N_CENTROIDS))
    ex = a1.join(v, "vec_id").select(
        "cid", F.posexplode("q").alias("pos0", "val")
    )
    agg = ex.groupBy("cid", (F.col("pos0") + 1).alias("pos")).agg(
        F.sum("val").alias("s"), F.count("*").alias("cnt")
    )
    newc = agg.groupBy("cid").agg(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        "pos",
                        F.floor(F.col("s").cast("double") / F.col("cnt")).cast("long").alias("v"),
                    )
                )
            ),
            lambda st: st["v"],
        ).alias("cq")
    )
    c1 = newc.select(
        "cid",
        "cq",
        F.aggregate(
            F.transform("cq", lambda x: x * x), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("cnq"),
    )
    a2 = ivf_assign(v, c1)
    return (
        a2.join(v, "vec_id")
        .groupBy("cid")
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum(F.element_at("q", 1)).alias("sum_dim1_q"),
        )
    )


REF_CORPUS_MOD = 10  # vec_id % 10 == 0 -> the held-out reference corpus


@register(
    "similarity_semantic_decontaminate",
    oracle=f"""
    WITH quant AS ({_QUANT_SQL}),
    normed AS ({_NORM_SQL}),
    sig AS (
      SELECT vec_id, q, nq,
             {_band_exprs_sql()[0]} AS band0,
             {_band_exprs_sql()[1]} AS band1
      FROM normed
    ),
    bench AS (SELECT * FROM sig WHERE vec_id % {REF_CORPUS_MOD} = 0),
    cand AS (SELECT * FROM sig WHERE vec_id % {REF_CORPUS_MOD} <> 0),
    hits0 AS (
      SELECT c.vec_id, b.vec_id AS ref_id
      FROM cand c JOIN bench b ON c.band0 = b.band0
      UNION
      SELECT c.vec_id, b.vec_id
      FROM cand c JOIN bench b ON c.band1 = b.band1
    ),
    verified AS (
      SELECT h.vec_id, {_COSINE_SQL.format(a='x', b='y')} AS cosine
      FROM hits0 h
      JOIN normed x ON x.vec_id = h.vec_id
      JOIN normed y ON y.vec_id = h.ref_id
    ),
    agg AS (
      SELECT vec_id,
             CAST(COUNT(*) FILTER (WHERE cosine >= 0.35) AS BIGINT) AS n_matches,
             MAX(CASE WHEN cosine >= 0.35 THEN cosine END) AS best
      FROM verified GROUP BY vec_id
    )
    SELECT c.vec_id,
           CAST(COALESCE(a.n_matches, 0) AS BIGINT) AS n_matches,
           round(a.best, 9) AS best_cosine,
           CASE WHEN COALESCE(a.n_matches, 0) > 0 THEN 1 ELSE 0 END AS contaminated
    FROM (SELECT vec_id FROM normed WHERE vec_id % {REF_CORPUS_MOD} <> 0) c
    LEFT JOIN agg a ON a.vec_id = c.vec_id
    """,
    category="similarity",
)
def similarity_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) decontamination: flag every training
    candidate whose embedding lies within cosine >= 0.35 of ANY vector in a
    held-out reference corpus — the DataComp-style semantic filter that
    catches paraphrased benchmark leakage n-gram overlap misses. Candidate
    and reference sets meet ONLY through hyperplane-LSH band collisions (a
    cross-corpus equi-join keyed on the band value — |cand| x |bench| is
    never materialized), then exact quantized cosine verifies candidates;
    clean docs come back via a left join with n_matches = 0. Same banded
    scale shape as similarity_lsh_hyperplane_pairs, but set-vs-set instead
    of self-join.

    r16: the quantized frame feeds FOUR consumers (signatures, both verify
    sides, the clean-doc base) over a no-exchange scan+transform subtree —
    one DATA_SIZED checkpoint = one quantization pass (flagged in
    OPTIMIZATION_r15 "Not yet optimized")."""
    v = checkpoint_shared(_quantized(spark, sf_dir), size_class=DATA_SIZED)
    sig = _hyperplane_sig(v)
    is_ref = F.col("vec_id") % REF_CORPUS_MOD == 0
    hits = band_join(sig.filter(~is_ref), sig.filter(is_ref))
    agg = (
        quantized_cosine_joined(v, hits)
        .groupBy(F.col("vec_a").alias("vec_id"))
        .agg(
            F.count(F.when(F.col("cosine") >= 0.35, 1)).alias("n_matches"),
            F.max(F.when(F.col("cosine") >= 0.35, F.col("cosine"))).alias("best"),
        )
    )
    base = v.filter(~is_ref).select("vec_id")
    return base.join(agg, "vec_id", "left").select(
        "vec_id",
        F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
        F.round("best", 9).alias("best_cosine"),
        F.when(F.coalesce("n_matches", F.lit(0)) > 0, 1).otherwise(0).alias("contaminated"),
    )


def _recall_oracle() -> str:
    from glue_etl_framework_spark.queries import REGISTRY

    bf = REGISTRY["similarity_topk_bruteforce"].oracle
    ann = REGISTRY["similarity_ann_ivf"].oracle
    return f"""
    WITH bf AS ({bf}),
    ann AS ({ann})
    SELECT bf.query_id,
           CAST(COUNT(ann.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(COUNT(ann.neighbor_id) AS DOUBLE) / COUNT(*) AS recall_at_k
    FROM bf
    LEFT JOIN ann ON bf.query_id = ann.query_id AND bf.neighbor_id = ann.neighbor_id
    GROUP BY bf.query_id
    """


@register("similarity_ann_recall", oracle=_recall_oracle(), category="similarity")
def similarity_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF ANN path against brute-force ground truth,
    computed IN the engine: per query, the fraction of true top-k
    neighbors the approximate index returned — the metric that decides
    nprobe/K tuning before anyone ships an index. Composes the two
    registered operators (ground truth and index are each oracle-checked
    on their own); the evaluation itself is one (query_id, neighbor_id)
    equi-join + per-query count over |queries| x k rows — negligible next
    to either search, so continuous recall monitoring is free at any
    corpus size."""
    bf = similarity_topk_bruteforce(spark, sf_dir)
    ann = similarity_ann_ivf(spark, sf_dir).select(
        F.col("query_id").alias("a_qid"), F.col("neighbor_id").alias("a_nid")
    )
    return (
        bf.join(
            ann,
            (bf.query_id == F.col("a_qid")) & (bf.neighbor_id == F.col("a_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("a_nid").alias("n_hits"),
            F.count("*").alias("k"),
            (F.count("a_nid").cast("double") / F.count("*")).alias("recall_at_k"),
        )
    )


def _silhouette_oracle() -> str:
    return f"""
    WITH quant AS ({_QUANT_SQL}),
    lab AS (
      SELECT q.vec_id, q.q, e.label FROM quant q JOIN embeddings e ON q.vec_id = e.vec_id
    ),
    elems AS (
      SELECT vec_id, label, i, q[i] AS v
      FROM lab, UNNEST(range(1, 65)) AS u(i)
    ),
    cent AS (
      SELECT label AS clabel, i,
             CAST(round(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
      FROM elems GROUP BY clabel, i
    ),
    dist AS (
      SELECT e.vec_id, e.label, c.clabel,
             CAST(SUM((e.v - c.c) * (e.v - c.c)) AS BIGINT) AS d2
      FROM elems e JOIN cent c ON e.i = c.i
      GROUP BY e.vec_id, e.label, c.clabel
    ),
    ab AS (
      SELECT vec_id, label,
             CAST(MIN(CASE WHEN clabel = label THEN d2 END) AS BIGINT) AS a2,
             CAST(MIN(CASE WHEN clabel <> label THEN d2 END) AS BIGINT) AS b2
      FROM dist GROUP BY vec_id, label
    )
    SELECT vec_id, label, a2, b2,
           CAST(round((CAST(b2 AS DOUBLE) - a2) / GREATEST(a2, b2) * 1000000) AS BIGINT)
             AS silhouette_fp
    FROM ab
    """


@register("similarity_cluster_silhouette", oracle=_silhouette_oracle(), category="similarity")
def similarity_cluster_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based silhouette score per vector: a = squared distance to
    the OWN label centroid, b = to the nearest OTHER centroid, silhouette
    = (b-a)/max(a,b) — the cluster-quality gauge that says whether the
    label column (or a k-means assignment) actually separates the
    embedding space, without the O(n^2) pairwise silhouette. Centroids
    are FIXED-POINT (rounded mean per dimension), so every distance term
    is an exact integer and the per-(vector, centroid) sums are
    order-independent. Shape: one element-explode shuffle builds the
    centroid table (|labels| x 64 rows — broadcast forever), one more
    computes the n x |labels| distance matrix keyed on the vector."""
    v = _quantized(spark, sf_dir)
    lab = v.join(t(spark, sf_dir, "embeddings").select("vec_id", "label"), "vec_id")
    elems = lab.select(
        "vec_id", "label", F.posexplode("q").alias("i0", "v")
    ).select("vec_id", "label", (F.col("i0") + 1).alias("i"), "v")
    cent = elems.groupBy(F.col("label").alias("clabel"), "i").agg(
        F.round(F.sum("v").cast("double") / F.count("*")).cast("long").alias("c")
    )
    dist = (
        elems.join(F.broadcast(cent), "i")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum((F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))).alias("d2"))
    )
    ab = dist.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("clabel") == F.col("label"), F.col("d2"))).alias("a2"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("d2"))).alias("b2"),
    )
    sil = (F.col("b2").cast("double") - F.col("a2")) / F.greatest("a2", "b2")
    return ab.select(
        "vec_id", "label", "a2", "b2",
        F.round(sil * 1_000_000).cast("long").alias("silhouette_fp"),
    )


SEMDEDUP_TAU = 0.35  # within-cluster cosine above which the higher id drops


@register(
    "dedup_semdedup",
    oracle=f"""
    WITH quant AS ({_QUANT_SQL}),
    normed AS ({_NORM_SQL}),
    cent AS ({_CENT_SQL}),
    assign AS ({{assign}}),
    sig AS (
      SELECT vec_id, {{b0}} AS band0, {{b1}} AS band1 FROM normed
    ),
    mem AS (
      SELECT a.vec_id, a.cid, s.band0, s.band1
      FROM assign a JOIN sig s ON a.vec_id = s.vec_id
    ),
    cand AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM mem a JOIN mem b
        ON a.cid = b.cid AND a.band0 = b.band0 AND a.vec_id < b.vec_id
      UNION
      SELECT a.vec_id, b.vec_id
      FROM mem a JOIN mem b
        ON a.cid = b.cid AND a.band1 = b.band1 AND a.vec_id < b.vec_id
    ),
    ver AS (
      SELECT c.vec_a, c.vec_b FROM cand c
      JOIN normed x ON x.vec_id = c.vec_a
      JOIN normed y ON y.vec_id = c.vec_b
      WHERE {_COSINE_SQL.format(a='x', b='y')} >= {SEMDEDUP_TAU}
    ),
    dropped AS (SELECT DISTINCT vec_b FROM ver)
    SELECT a.vec_id, a.cid,
           CASE WHEN d.vec_b IS NULL THEN 1 ELSE 0 END AS kept
    FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_b
    """.format(
        assign=_kmeans_assign_sql("cent"),
        b0=_band_exprs_sql()[0],
        b1=_band_exprs_sql()[1],
    ),
    category="dedup",
)
def dedup_semdedup(
    spark: SparkSession,
    sf_dir: str,
    max_bucket_size: int | None = None,
    metrics: dict | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al., 2023, arXiv:2303.09540) — semantic
    deduplication in embedding space, the step that removes *meaning*-level
    duplicates exact/MinHash text dedup cannot see. Faithful two-level
    shape, re-expressed scale-first: (1) coarse k-means cells — the FIXED
    bottom-K-by-md5 centroid sample of similarity_ann_ivf, broadcast
    O(K), assignment an O(n*K) map-side max_by (one row per vector reaches
    the shuffle); (2) within-cell near-dup discovery — instead of the
    paper's per-cell dense pairwise matrix (quadratic in cell size, and
    cells GROW with the corpus), candidates collide on (cell, hyperplane
    band) equi-join keys, then exact quantized cosine >= {SEMDEDUP_TAU}
    verifies. Keep policy: within a verified pair the lower vec_id wins
    (greedy keep-one — deterministic in both engines); a vector is dropped
    iff some smaller-id near-duplicate shares its cell. Every join is
    keyed (no cross product anywhere); banding bounds candidate volume the
    same way the MinHash LSH path does. Returns one row per vector with
    its cell and kept/dropped verdict.

    max_bucket_size: optional bounded-output lever (VERDICT r14 item 6 —
    the cosine path's composite audit, mirroring the minhash curation
    pipeline's stage-3 cap): drop over-occupied (cell, band) buckets
    before the candidate self-join (ext.dedup.drop_hot_buckets; EXPLICIT
    int only — hyperplane banding has no occupancy target for 'auto'
    here). Vectors whose every collision is inside hot buckets then
    survive — the recall trade the cap always makes, audited via
    ``metrics`` and priced by ext.dedup.estimate_lost_hyperplane_pairs.

    metrics: optional one-dict funnel audit, same contract as
    pipeline_training_data_curation: ``input_vectors`` /
    ``neardup_removed`` / ``output_vectors``, plus ``hot_buckets`` and
    ``dropped_band_rows`` when the cap engaged (written by
    drop_hot_buckets into the SAME dict) — at the cost of two eager jobs
    (one count of the assignment frame, one count of the checkpointed
    dropped set; output_vectors is derived). The default None keeps the
    fully lazy, byte-identical registry plan (pinned by the PLANS.md
    regen)."""
    # Contract check FIRST (the metrics path runs eager jobs over the
    # whole corpus — an input error must not cost a production scan, and
    # that includes the >= 1 range check drop_hot_buckets would only
    # raise AFTER the eager input count).
    if max_bucket_size is not None and (
        isinstance(max_bucket_size, bool)
        or not isinstance(max_bucket_size, int)
        or max_bucket_size < 1
    ):
        raise ValueError(
            "max_bucket_size must be an explicit int >= 1 here — hyperplane "
            "banding has no occupancy target for 'auto', see "
            "ext.similarity.lsh_neardup_pairs"
        )
    # r16: the quantized frame feeds FIVE consumers (centroid sample, cell
    # assignment, band members, both verify sides) over a no-exchange
    # scan+transform subtree — one DATA_SIZED checkpoint = one
    # quantization pass (see similarity_lsh_hyperplane_pairs).
    v = checkpoint_shared(_quantized(spark, sf_dir), size_class=DATA_SIZED)
    assign = ivf_assign(v, ivf_centroids(v, N_CENTROIDS))
    # (vec_id, cid, bidx, bv): band buckets within each coarse cell — the
    # buckets the (cell, band) cap acts on.
    mem = assign.join(_hyperplane_sig(v), "vec_id")
    if metrics is not None:
        metrics["input_vectors"] = assign.count()
    if max_bucket_size is not None:
        from glue_etl_framework_spark.ext.dedup import drop_hot_buckets

        mem = drop_hot_buckets(
            mem, max_bucket_size, ["cid", "bidx", "bv"], metrics=metrics
        )
    dropped = (
        verified_pairs(v, band_join(mem, keys=("cid", "bidx", "bv")), SEMDEDUP_TAU)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    if metrics is not None:
        # Materialize once: the metrics count and the result plan both
        # read the dropped set (same move as the curation composite).
        dropped = checkpoint_shared(dropped, size_class=DATA_SIZED)
        metrics["neardup_removed"] = dropped.count()
        metrics["output_vectors"] = (
            metrics["input_vectors"] - metrics["neardup_removed"]
        )
    return (
        assign.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cid",
            F.when(F.col("is_dropped").isNull(), 1).otherwise(0).alias("kept"),
        )
    )


@register(
    "embedding_anisotropy_audit",
    oracle=f"""
    WITH quant AS ({_QUANT_SQL}),
    normed AS ({_NORM_SQL}),
    ex AS (
      SELECT unnest(q) AS v, generate_subscripts(q, 1) AS pos FROM normed
    ),
    dimsum AS (SELECT pos, CAST(SUM(v) AS HUGEINT) AS s FROM ex GROUP BY pos),
    gram AS (SELECT CAST(SUM(s * s) AS HUGEINT) AS s2 FROM dimsum),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(nq) AS HUGEINT) AS sum_self
      FROM normed
    )
    SELECT tot.n AS n_vectors,
           CAST(round(CAST(tot.sum_self AS DOUBLE) / tot.n) AS BIGINT)
             AS mean_self_dot,
           CAST(round(CAST(gram.s2 - tot.sum_self AS DOUBLE)
                      / (CAST(tot.n AS DOUBLE) * (tot.n - 1))) AS BIGINT)
             AS mean_pair_dot,
           round((CAST(gram.s2 - tot.sum_self AS DOUBLE)
                  / (CAST(tot.n AS DOUBLE) * (tot.n - 1)))
                 / (CAST(tot.sum_self AS DOUBLE) / tot.n), 9) AS anisotropy
    FROM gram CROSS JOIN tot
    """,
    category="similarity",
)
def embedding_anisotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space anisotropy audit (Ethayarajh 2019 family): the mean
    pairwise dot product across ALL n^2 vector pairs, in O(n) — via the
    Gram identity sum_{i != j} <v_i, v_j> = ||sum_i v_i||^2 - sum_i
    ||v_i||^2, so a statistic that looks quadratic needs ONE pass: per-dim
    integer sums (a 64-group map-side-combining aggregate), square and
    reduce the 64-row frame, subtract the self-dot total. High anisotropy
    (mean pair dot comparable to mean self dot) means embeddings share a
    dominant direction — retrieval and clustering quality degrade and the
    corpus needs centering before ANN indexing. Internally every sum runs
    in DECIMAL(38,0) (HUGEINT in the oracle) because ||sum v||^2 grows
    with n^2 under a nonzero mean — the 100x probe caught the first
    version emitting the RAW pair-dot sum as BIGINT, which overflows near
    50k vectors; the outputs are therefore per-pair/per-vector MEANS
    (bounded by per-vector magnitude at ANY n, exact-integer-derived,
    rounded once half-away-from-zero in both engines). The reported
    `anisotropy` is mean_pair_dot / mean_self_dot — exactly the mean
    pairwise cosine when norms are equal, a documented proxy otherwise
    (no per-row normalize: rounding a normalized re-quantization inside
    the aggregate would make the result ULP-fragile across engines)."""
    v = _quantized(spark, sf_dir)
    ex = v.select(F.posexplode("q").alias("pos", "val"))
    dimsum = ex.groupBy("pos").agg(F.sum("val").cast("decimal(38,0)").alias("s"))
    gram = dimsum.agg(F.sum(F.col("s") * F.col("s")).alias("s2"))
    tot = v.agg(
        F.count("*").alias("n"),
        F.sum("nq").cast("decimal(38,0)").alias("sum_self"),
    )
    pair_mean = (F.col("s2") - F.col("sum_self")).cast("double") / (
        F.col("n").cast("double") * (F.col("n") - 1)
    )
    self_mean = F.col("sum_self").cast("double") / F.col("n")
    return (
        gram.crossJoin(F.broadcast(tot))
        .select(
            F.col("n").alias("n_vectors"),
            F.round(self_mean).cast("long").alias("mean_self_dot"),
            F.round(pair_mean).cast("long").alias("mean_pair_dot"),
            F.round(pair_mean / self_mean, 9).alias("anisotropy"),
        )
    )


TFIDF_SCALE = 1_000_000  # fixed-point idf weights: round(ln(N/df) * 1e6)
TFIDF_COS_MIN = 500_000  # emit pairs with weighted cosine >= 0.5


@register(
    "similarity_tfidf_shingle_cosine",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, length(w) - 1),
                                   i -> array_to_string(w[i:i+2], ' '))) AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      WHERE length(w) >= 3
    ),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM sh),
    wts AS (
      SELECT s.doc_id, s.shingle,
             CAST(round(ln(CAST(nd.n AS DOUBLE) / df.df) * {TFIDF_SCALE}) AS BIGINT) AS w
      FROM sh s
      JOIN (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle
            HAVING COUNT(*) <= {SHINGLE_DF_CAP}) df USING (shingle)
      CROSS JOIN nd
    ),
    norms AS (SELECT doc_id, SUM(w * w) AS ss FROM wts GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, SUM(a.w * b.w) AS dot
      FROM wts a JOIN wts b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT d.doc_a, d.doc_b,
           CAST(round(CAST(d.dot AS DOUBLE)
                      / (sqrt(CAST(na.ss AS DOUBLE)) * sqrt(CAST(nb.ss AS DOUBLE)))
                      * {TFIDF_SCALE}) AS BIGINT) AS cos_fp
    FROM dots d
    JOIN norms na ON na.doc_id = d.doc_a
    JOIN norms nb ON nb.doc_id = d.doc_b
    WHERE CAST(round(CAST(d.dot AS DOUBLE)
                     / (sqrt(CAST(na.ss AS DOUBLE)) * sqrt(CAST(nb.ss AS DOUBLE)))
                     * {TFIDF_SCALE}) AS BIGINT) >= {TFIDF_COS_MIN}
    """,
    category="similarity",
)
def similarity_tfidf_shingle_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sparse-vector similarity join — TF-IDF cosine over the
    shingle inverted index (the IR-classic document-pair scorer; Salton's
    vector space model): each doc is a sparse vector of idf weights
    round(ln(N/df) * 1e6) over its distinct shingles, pairs meet through
    the shingle-keyed index join, and cosine = dot / (|a||b|). Where
    Jaccard (dedup_ngram_jaccard) counts shared shingles equally, idf
    weighting makes RARE shared shingles dominate — boilerplate overlap
    scores near zero, so the same candidate join yields a
    precision-ranked pair list. All weights and dot products are exact
    BIGINT fixed-point (order-independent sums); only the final
    normalize touches doubles (sqrt is IEEE-correctly-rounded in both
    engines), and the emitted score is fixed-point — bit-identical
    cross-engine, like the KL/PMI/logprob family.

    100 TB shape: identical to the Jaccard join — DF-capped
    (SHINGLE_DF_CAP) shingle-keyed self-join (the idf of a capped-out shingle would be
    ~0 anyway: the cap and the weighting agree), per-doc norms keyed on
    doc_id, no data-sized broadcast (the N scalar is a 1-row cross
    join). Candidate volume bounds and the hot-key rationale are
    SHINGLE_DF_CAP's comment in dedup.py. Shingles are hashed to 64-bit
    tokens before the first shuffle (token-dictionary compression —
    rationale and collision arithmetic in dedup_prefix_filter_jaccard's
    docstring; a collision would merge two shingles' df counts and
    weights, p ~ 1e-15 here — the oracle stays string-exact, so the
    driver certifies the equivalence)."""
    from glue_etl_framework_spark.queries.dedup import _shingles

    sh = _shingles(spark, sf_dir).select(
        "doc_id", F.xxhash64("shingle").alias("shingle")
    )
    nd = sh.agg(F.count_distinct("doc_id").alias("n"))
    dfs = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= SHINGLE_DF_CAP)
    )
    wts = (
        sh.join(dfs, "shingle")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "shingle",
            F.round(F.log(F.col("n").cast("double") / F.col("df")) * TFIDF_SCALE)
            .cast("long")
            .alias("w"),
        )
    )
    norms = wts.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("ss"))
    a = wts.alias("a")
    b = wts.alias("b")
    dots = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("ssa"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("ssb"))
    cos_fp = F.round(
        F.col("dot").cast("double")
        / (F.sqrt(F.col("ssa").cast("double")) * F.sqrt(F.col("ssb").cast("double")))
        * TFIDF_SCALE
    ).cast("long")
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", cos_fp.alias("cos_fp"))
        .filter(F.col("cos_fp") >= TFIDF_COS_MIN)
    )


K_CENTERS = 4  # greedy farthest-point rounds (the coreset size)


def _kc_dist_sql(a: str, b: str) -> str:
    """DuckDB: exact integer squared L2 between two quantized vectors."""
    return (
        f"CAST(list_sum(list_transform(range(1, len({a}) + 1),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)"
    )


def _kcenter_oracle() -> str:
    stages = [f"c1 AS (SELECT vec_id AS cid, q AS cq FROM quant ORDER BY vec_id LIMIT 1)",
              f"d1 AS (SELECT p.vec_id, p.q, {_kc_dist_sql('p.q', 'c.cq')} AS mind FROM quant p CROSS JOIN c1 c)"]
    for i in range(2, K_CENTERS + 1):
        stages.append(
            f"n{i} AS (SELECT vec_id, q, mind FROM d{i-1} ORDER BY mind DESC, vec_id LIMIT 1)"
        )
        if i < K_CENTERS:
            stages.append(
                f"d{i} AS (SELECT d.vec_id, d.q, LEAST(d.mind, {_kc_dist_sql('d.q', 'n.q')}) AS mind "
                f"FROM d{i-1} d CROSS JOIN n{i} n)"
            )
    selects = ["SELECT CAST(1 AS INT) AS sel_order, cid AS vec_id, CAST(0 AS BIGINT) AS dist_fp FROM c1"]
    for i in range(2, K_CENTERS + 1):
        selects.append(f"SELECT CAST({i} AS INT), vec_id, CAST(mind AS BIGINT) FROM n{i}")
    return (
        "    WITH quant AS (" + _QUANT_SQL + "),\n    "
        + ",\n    ".join(stages)
        + "\n    "
        + "\n    UNION ALL ".join(selects)
    )


@register("curation_kcenter_coreset", oracle=_kcenter_oracle(), category="curation")
def curation_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center / farthest-point coreset selection (Gonzalez 1985
    — the 2-approximation for the k-center objective, and the standard
    diversity-sampling baseline for training-data curation: pick the
    next example FARTHEST from everything already selected). K_CENTERS
    rounds; each round is one full-corpus pass computing min squared-L2
    to the current centers (a crossJoin against a BROADCAST frame of
    <= K single rows — O(n*K) work, zero shuffle for the distances)
    followed by a TakeOrdered argmax (deterministic tie-break on
    vec_id). Distances are exact BIGINT on the shared 2^20 quantization
    grid, so every selection — and therefore the whole greedy trajectory
    — is bit-identical cross-engine; the oracle unrolls the same K
    rounds as chained CTEs. Returns (sel_order, vec_id, dist_fp): the
    dist_fp column is the coverage radius at each step, the curve that
    tells you when adding coreset points stops buying diversity.

    100 TB: K passes over the corpus, each embarrassingly parallel; the
    driver never sees a vector (argmax via limit(1), centers stay in
    DataFrames). For k in the thousands, the production variant batches
    rounds (over-sample per pass, re-verify) — same plan per pass."""
    pts = _quantized(spark, sf_dir).select("vec_id", "q")

    def dist(qa, qb):
        return F.aggregate(
            F.zip_with(qa, qb, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    c1 = pts.orderBy("vec_id").limit(1)
    centers = c1.select(F.col("vec_id").alias("cid"), F.col("q").alias("cq"))
    sel = [
        c1.select(
            F.lit(1).cast("int").alias("sel_order"),
            "vec_id",
            F.lit(0).cast("long").alias("dist_fp"),
        )
    ]
    for i in range(2, K_CENTERS + 1):
        mind = (
            pts.crossJoin(F.broadcast(centers))
            .select("vec_id", dist(F.col("q"), F.col("cq")).alias("dd"))
            .groupBy("vec_id")
            .agg(F.min("dd").alias("mind"))
        )
        # pin each round's 1-row argmax (the connected-components
        # per-round discipline): without this, round i's lineage embeds
        # every earlier round's TakeOrdered and the final union replays
        # the whole greedy trajectory per selected point (the r5 plan
        # audit measured 15 TakeOrderedAndProject / 19 corpus scans in
        # ONE plan). After: one mind pass + one lookup pass per round at
        # build time, and the final plan unions K one-row RDDs.
        nxt = checkpoint_shared(
            mind.orderBy(F.col("mind").desc(), F.col("vec_id").asc()).limit(1),
            size_class=BOUNDED,
        )
        sel.append(
            nxt.select(
                F.lit(i).cast("int").alias("sel_order"),
                "vec_id",
                F.col("mind").alias("dist_fp"),
            )
        )
        centers = checkpoint_shared(
            centers.unionByName(
                nxt.join(pts, "vec_id").select(
                    F.col("vec_id").alias("cid"), F.col("q").alias("cq")
                )
            ),
            size_class=BOUNDED,
        )
    out = sel[0]
    for s in sel[1:]:
        out = out.unionByName(s)
    return out


MP_MASKS = [0] + [1 << k for k in range(_BAND_BITS)]  # exact probe + 8 Hamming-1 flips


def _multiprobe_oracle() -> str:
    b0, b1 = _band_exprs_sql()
    masks = ", ".join(str(m) for m in MP_MASKS)
    return f"""
    WITH quant AS ({_QUANT_SQL}),
    normed AS ({_NORM_SQL}),
    sig AS (
      SELECT vec_id, {b0} AS band0, {b1} AS band1 FROM quant
    ),
    sigl AS (
      SELECT vec_id, 0 AS bidx, band0 AS bv FROM sig
      UNION ALL SELECT vec_id, 1, band1 FROM sig
    ),
    probes AS (
      SELECT s.vec_id AS query_id, s.bidx, xor(s.bv, m.m) AS bv,
             CASE WHEN m.m = 0 THEN 1 ELSE 0 END AS is_exact
      FROM sigl s CROSS JOIN (SELECT unnest([{masks}]) AS m) m
      WHERE s.vec_id < {N_QUERIES}
    ),
    cand AS (
      SELECT p.query_id, c.vec_id AS neighbor_id, MAX(p.is_exact) AS via_exact
      FROM probes p JOIN sigl c ON c.bidx = p.bidx AND c.bv = p.bv
      WHERE c.vec_id <> p.query_id
      GROUP BY 1, 2
    ),
    counts AS (
      SELECT query_id,
             CAST(SUM(via_exact) AS BIGINT) AS n_cand_plain,
             CAST(COUNT(*) AS BIGINT) AS n_cand_multi
      FROM cand GROUP BY query_id
    ),
    truth AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY {_COSINE_SQL.format(a='q', b='c')} DESC, c.vec_id) AS rn
      FROM normed q JOIN normed c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ),
    hits AS (
      SELECT t.query_id,
             CAST(SUM(CASE WHEN c.via_exact = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hits_plain,
             CAST(SUM(CASE WHEN c.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits_multi
      FROM truth t LEFT JOIN cand c
        ON c.query_id = t.query_id AND c.neighbor_id = t.neighbor_id
      WHERE t.rn <= {TOP_K}
      GROUP BY t.query_id
    )
    SELECT co.query_id, co.n_cand_plain, co.n_cand_multi, h.hits_plain, h.hits_multi
    FROM counts co JOIN hits h USING (query_id)
    """


@register("similarity_lsh_multiprobe_recall", oracle=_multiprobe_oracle(), category="similarity")
def similarity_lsh_multiprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH (Lv et al. 2007): instead of paying more memory for
    more hash tables, each query ALSO probes the buckets whose band value
    differs by one bit (the 8 Hamming-1 neighbors per 8-bit band) — near
    neighbors that landed one hyperplane-sign away become reachable with
    the SAME index. This operator measures the trade in-engine for the 10
    fixture queries: candidate volume and top-5 recall for plain probing
    vs multi-probe, against exact brute-force cosine ground truth.
    hits_multi >= hits_plain and n_cand_multi >= n_cand_plain hold by
    construction (probe sets nest); both columns are driver-hash-pinned.

    100 TB shape: the index frame is the SAME (vec_id, band, value)
    frame the pairs join uses (one corpus pass, reused); multi-probing
    multiplies only the QUERY side by 9 bounded rows per band — the
    candidate join stays keyed on (band_idx, band_value), and the exact
    re-rank touches only candidates. The production knob sequence probes
    buckets in increasing expected distance; the Hamming-1 ring is the
    first step of that sequence."""
    v = _quantized(spark, sf_dir)
    sigl = _hyperplane_sig(v)
    probes = (
        sigl.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            "bidx",
            "bv",
            F.explode(F.array(*[F.lit(m) for m in MP_MASKS])).alias("m"),
        )
        .select(
            "query_id",
            "bidx",
            F.expr("int(bv ^ m)").alias("bv"),
            F.when(F.col("m") == 0, 1).otherwise(0).alias("is_exact"),
        )
    )
    cand = (
        F.broadcast(probes)
        .join(sigl.select(F.col("vec_id").alias("neighbor_id"), "bidx", "bv"), ["bidx", "bv"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("is_exact").alias("via_exact"))
    )
    counts = cand.groupBy("query_id").agg(
        F.sum("via_exact").alias("n_cand_plain"),
        F.count("*").alias("n_cand_multi"),
    )
    truth = brute_force_topk(v, v.filter(F.col("vec_id") < N_QUERIES), k=TOP_K)
    hits = (
        truth.join(cand, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.when(F.col("via_exact") == 1, 1).otherwise(0)).alias("hits_plain"),
            F.sum(F.when(F.col("via_exact").isNotNull(), 1).otherwise(0)).alias("hits_multi"),
        )
    )
    return counts.join(hits, "query_id")


JL_DIMS = 16    # target dimensionality for the random projection
JL_SCALE = 1_000_000


def _jl_proj_sql(vec: str, j: int) -> str:
    signs = hyperplane_signs(100 + j)  # disjoint seed range from the LSH bands
    arr = "list_value(" + ", ".join(str(s) for s in signs) + ")"
    return f"CAST(list_sum(list_transform(range(1, 65), i -> {arr}[i] * {vec}[i])) AS BIGINT)"


@register(
    "similarity_jl_projection_audit",
    oracle=f"""
    WITH quant AS ({{QUANT}}),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.q AS qa, b.q AS qb
      FROM quant a JOIN quant b ON b.vec_id = a.vec_id + 250
      WHERE a.vec_id < 50
    ),
    dists AS (
      SELECT vec_a, vec_b,
             CAST(list_sum(list_transform(range(1, 65),
                  i -> (qa[i] - qb[i]) * (qa[i] - qb[i]))) AS BIGINT) AS d_full,
             { " + ".join(f"(({_jl_proj_sql('qa', j)}) - ({_jl_proj_sql('qb', j)})) * (({_jl_proj_sql('qa', j)}) - ({_jl_proj_sql('qb', j)}))" for j in range(JL_DIMS)) }
               AS d_proj_raw
      FROM pairs
    )
    SELECT vec_a, vec_b, d_full,
           CAST(d_proj_raw // 16 AS BIGINT) AS d_proj_scaled,
           CAST(round(CAST(d_proj_raw AS DOUBLE) / 16 / d_full * {JL_SCALE}) AS BIGINT)
             AS ratio_fp
    FROM dists WHERE d_full > 0
    """.replace("{QUANT}", _QUANT_SQL),
    category="similarity",
)
def similarity_jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random-projection distance audit: 64-dim
    quantized embeddings projected to 16 dims with deterministic ±1
    hyperplanes (a database-friendly JL map — the same md5-derived sign
    matrices as the LSH bands, disjoint seed range), and for 50 fixed
    probe pairs the projected squared distance, divided by k=16 (each ±1
    projection's squared difference has expectation d_full, so the
    unbiased estimator is d_proj/k), is compared against the true
    squared distance. ratio_fp clustering
    near 1e6 is the JL promise (distances preserved within 1±eps, eps ~
    sqrt(ln n / k)); the audit is what you run BEFORE committing an
    index or clustering to the reduced space. Everything is exact
    BIGINT until the single ratio division, so the whole audit is
    driver-hash-pinned. Scale: projections are per-row expressions
    (zero shuffle); the probe pairs are a fixed id-offset join —
    bounded like the ANN recall audits; distortion bounds are
    property-tested in tests/test_sketch_properties.py."""
    v = _quantized(spark, sf_dir)
    a = v.select(F.col("vec_id").alias("vec_a"), F.col("q").alias("qa"))
    b = v.select(F.col("vec_id").alias("vec_b"), F.col("q").alias("qb"))
    pairs = a.filter(F.col("vec_a") < 50).join(
        b, F.col("vec_b") == F.col("vec_a") + 250
    )

    # Projections as ONE SQL-string parse (r15 — see
    # ext.similarity.band_value_sql): the unrolled build evaluated 4
    # proj trees per dim x 64 F.lit py4j calls each (~4k round trips per
    # invocation) purely to CONSTRUCT the plan; the parsed tree is
    # shape-identical, so execution and values are unchanged.
    def proj_sql(col, j):
        return hyperplane_projection_sql(100 + j, 64, col)

    d_full = F.aggregate(
        F.zip_with(F.col("qa"), F.col("qb"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    d_proj_raw = F.expr(
        " + ".join(
            f"(({proj_sql('qa', j)}) - ({proj_sql('qb', j)}))"
            f" * (({proj_sql('qa', j)}) - ({proj_sql('qb', j)}))"
            for j in range(JL_DIMS)
        )
    )
    return (
        pairs.select("vec_a", "vec_b", d_full.alias("d_full"), d_proj_raw.alias("d_proj_raw"))
        .filter(F.col("d_full") > 0)
        .select(
            "vec_a",
            "vec_b",
            "d_full",
            F.expr("d_proj_raw div 16").alias("d_proj_scaled"),
            F.round(F.col("d_proj_raw").cast("double") / 16 / F.col("d_full") * JL_SCALE)
            .cast("long")
            .alias("ratio_fp"),
        )
    )
