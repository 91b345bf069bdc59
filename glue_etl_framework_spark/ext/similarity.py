"""Vector similarity over quantized embeddings: the one Spark home of
exact cosine, brute-force top-k, IVF and banded random-hyperplane LSH.

Every builder works on the (vec_id, q, nq) frame from quantize_embeddings:
each float dimension scaled by 2^20 and rounded to BIGINT, plus the exact
integer squared norm. Dot products are then order-independent integer
sums, so every cosine is a deterministic double on any partitioning and
matches the DuckDB oracle SQL in queries/similarity.py bit for bit.

- quantized_cosine / quantized_cosine_joined: the exact cosine column and
  the candidate-pair verify join built on it.
- brute_force_topk: broadcast queries x corpus scan, per-query top-k.
- ivf_centroids / ivf_assign / ivf_probes / ivf_topk: inverted-file ANN
  over a fixed-size md5 centroid sample.
- hyperplane_signs / banded_signatures / band_join: one +-1 hyperplane
  family, banded; ann_topk_lsh (queries against a corpus) and
  lsh_neardup_pairs (near-duplicate pairs within one corpus) build on them.

The registry entries in queries/ call these with fixed parameters and
keep only their oracle SQL. At scale every path replaces the corpus x
corpus product with a broadcast or an equi-join on a cell or band key.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from glue_etl_framework_spark.ckpt import BOUNDED, DATA_SIZED, checkpoint_shared


def assert_vector_dim(df: DataFrame, vec_col: str, dim: int) -> None:
    """One cheap (min, max array-size) aggregate: raise a clear error if
    any vector's length differs from ``dim``. Without it a dim mismatch
    silently ZEROES every hyperplane projection (zip_with pads with
    nulls, null products null the aggregate, `when(proj > 0)` maps the
    null to bit 0), collapsing all vectors into one LSH bucket and
    turning the candidate self-join into the full O(n^2) cross product
    with bit-correct results — invisible until the shuffle dies at scale
    (r15 review). Called by the API entry points that take a ``dim``
    parameter; costs one scan-shaped job, negligible next to the silent
    failure it prevents."""
    row = df.agg(
        F.min(F.size(F.col(vec_col))).alias("lo"),
        F.max(F.size(F.col(vec_col))).alias("hi"),
    ).first()
    if row["lo"] is not None and (row["lo"] != dim or row["hi"] != dim):
        raise ValueError(
            f"{vec_col} vectors have length in [{row['lo']}, {row['hi']}] "
            f"but dim={dim} was configured — a mismatch would silently "
            "zero every LSH signature (one bucket, O(n^2) candidates); "
            "pass the actual embedding dimensionality"
        )


QUANT_SCALE = 1 << 20  # matches queries/similarity.SCALE: exact BIGINT dots


def quantize_embeddings(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, q, nq): embedding scaled by 2^20 and rounded to BIGINT, plus
    the exact integer squared norm — dot products become order-independent
    integer sums (< 2^53), so downstream cosines are deterministic doubles
    on any partitioning."""
    q = F.transform(F.col(vec_col), lambda x: F.round(x.cast("double") * QUANT_SCALE).cast("long"))
    out = df.select(F.col(id_col).alias("vec_id"), q.alias("q"))
    nq = F.aggregate(
        F.transform(F.col("q"), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return out.select("vec_id", "q", nq.alias("nq"))


def quantized_cosine(
    qa: str = "qa", na: str = "na", qb: str = "qb", nb: str = "nb"
) -> Column:
    """Exact cosine of two quantized vectors held in columns: the integer
    dot product of the BIGINT arrays ``qa``/``qb`` over the square roots
    of their integer squared norms ``na``/``nb``."""
    dot = F.aggregate(
        F.zip_with(F.col(qa), F.col(qb), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return dot / (F.sqrt(F.col(na).cast("double")) * F.sqrt(F.col(nb).cast("double")))


def _side(v: DataFrame, id_col: str, suffix: str) -> DataFrame:
    """One join side of a quantized frame: (id_col, q<suffix>, n<suffix>)."""
    return v.select(
        F.col("vec_id").alias(id_col),
        F.col("q").alias(f"q{suffix}"),
        F.col("nq").alias(f"n{suffix}"),
    )


def quantized_cosine_joined(
    v: DataFrame, cand: DataFrame, a_col: str = "vec_a", b_col: str = "vec_b"
) -> DataFrame:
    """cand's columns plus ``cosine`` for candidate id pairs (a_col,
    b_col) against a quantized (vec_id, q, nq) frame — the single
    exact-cosine verify shared by every pair emitter and by its auditor
    (ext.dedup.estimate_lost_hyperplane_pairs). The audit's validity
    rests on verifying with bit-identical semantics to the emitter it
    prices; sharing removes the silent-divergence risk a copy carries
    (same class as ext.dedup._simhash_hamming_joined)."""
    return (
        cand.join(_side(v, a_col, "a"), a_col)
        .join(_side(v, b_col, "b"), b_col)
        .select(*cand.columns, quantized_cosine().alias("cosine"))
    )


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, cosine rounded to 9 places): the ``k``
    best neighbors per query, ties to the lower neighbor id."""
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("cosine", 9).alias("cosine"))
    )


def _score(cand: DataFrame, corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, cosine) for candidate (query_id,
    neighbor_id) pairs; the (small) query side is broadcast."""
    return (
        cand.join(F.broadcast(_side(queries, "query_id", "a")), "query_id")
        .join(_side(corpus, "neighbor_id", "b"), "neighbor_id")
        .select("query_id", "neighbor_id", quantized_cosine().alias("cosine"))
    )


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k of each query vector over the corpus, both
    quantized (vec_id, q, nq) frames; a vector never neighbors itself.
    The (small) query side is broadcast against one corpus scan with a
    per-query top-k (row_number): no global sort, no corpus x corpus
    product. Returns (query_id, neighbor_id, cosine) — the recall
    baseline for the approximate paths below."""
    pairs = (
        F.broadcast(_side(queries, "query_id", "a"))
        .join(_side(corpus, "neighbor_id", "b"), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", quantized_cosine().alias("cosine"))
    )
    return _top_k(pairs, k)


# ---------------------------------------------------------------- IVF ----
# Inverted-file ANN: coarse-quantize the corpus into cells, then score each
# query only against the vectors in its n_probe nearest cells.


def ivf_centroids(v: DataFrame, n_centroids: int = 16) -> DataFrame:
    """(cid, cq, cnq): the IVF coarse quantizer's centroids — a FIXED-size
    deterministic sample of the quantized frame ``v`` (the bottom
    ``n_centroids`` vec_ids by md5, a TakeOrdered, so selection is a
    map-side top-K with no full shuffle and K does not grow with the
    corpus). cid is the sampled vector's id. Checkpointed (BOUNDED: K
    rows) so callers that broadcast it twice — cell assignment plus query
    probes — build it once (r5 plan audit: 2x TakeOrderedAndProject
    without this)."""
    sample = (
        v.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(n_centroids)
        .select(F.col("vec_id").alias("cid"), F.col("q").alias("cq"), F.col("nq").alias("cnq"))
    )
    return checkpoint_shared(sample, size_class=BOUNDED)


def _cell_cosines(v: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cid, cos): exact cosine of every vector to every centroid
    — an n x K broadcast cross join, map-side, linear in n."""
    return v.join(F.broadcast(cent), how="cross").select(
        "vec_id", "cid", quantized_cosine("q", "nq", "cq", "cnq").alias("cos")
    )


def ivf_assign(v: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, cid): every vector's nearest centroid of ``cent`` (cid,
    cq, cnq), ties to the lowest cid. max_by over (cos, -cid) partially
    aggregates map-side, so one row per vector reaches the shuffle
    instead of all n x K scored rows."""
    return (
        _cell_cosines(v, cent)
        .groupBy("vec_id")
        .agg(F.max_by("cid", F.struct(F.col("cos"), (-F.col("cid")).alias("nc"))).alias("cid"))
    )


def ivf_probes(queries: DataFrame, cent: DataFrame, n_probe: int) -> DataFrame:
    """(query_id, cid): each query's ``n_probe`` nearest centroids, ties
    to the lowest cid."""
    if n_probe < 1:
        raise ValueError(
            "n_probe must be >= 1 (r15 review: 0 silently assigned "
            "nothing instead of raising like every sibling knob)"
        )
    w = W.partitionBy("vec_id").orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        _cell_cosines(queries, cent)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_probe)
        .select(F.col("vec_id").alias("query_id"), "cid")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    n_centroids: int = 16,
) -> DataFrame:
    """IVF approximate top-k over quantized (vec_id, q, nq) frames: corpus
    vectors live in their nearest-centroid cell (ivf_assign); each query
    scores only the cells of its ``n_probe`` nearest centroids, so pairs
    scored shrink by ~n_centroids/n_probe vs brute force. Returns
    (query_id, neighbor_id, cosine) with up to ``k`` rows per query
    (fewer when the probed cells hold fewer than k other vectors). The
    probe-to-cell candidate join and the query side of the cosine join
    are broadcast; the non-broadcast shuffles are the per-vector
    assignment aggregate, the corpus-side join keyed on neighbor_id, and
    the ranking window."""
    cent = ivf_centroids(corpus, n_centroids)
    cand = (
        F.broadcast(ivf_probes(queries, cent, n_probe))
        .join(ivf_assign(corpus, cent), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    return _top_k(_score(cand, corpus, queries), k)


# ------------------------------------------- banded hyperplane LSH ----
# The registry entry queries/similarity.similarity_lsh_hyperplane_pairs
# pins the banding constants (2 bands x 8 bits) because its DuckDB oracle
# must reproduce them bit-for-bit; the r10 ninth scale probe showed what
# that costs at volume: with a FIXED bucket count (2 x 256), bucket
# occupancy grows linearly with the corpus, so in-bucket candidate pairs
# grow ~n^2 (measured: 10,183x output at 100x volume). The builders below
# take the banding shape as ARGUMENTS so production callers scale
# signature bits with corpus size — buckets ~ n holds expected occupancy
# (and therefore per-bucket pair volume) constant, keeping total
# candidates linear in n. Sizing rule: band_bits =
# ceil(log2(n / target_rows_per_bucket)) — see scaled_band_bits and
# RECIPES.md ("Scale LSH signature bits with the corpus").


def hyperplane_signs(plane: int, dim: int = 64) -> list[int]:
    """Deterministic pseudo-random +-1 hyperplane components: sign of the
    top bit of md5("plane:i"), i 1-based — the one hyperplane family,
    baked into both the Spark plans and the DuckDB oracle SQL
    (queries/similarity.py) as literals, so every banding shape and the
    JL projection audit draw from it."""
    import hashlib

    return [
        1 if hashlib.md5(f"{plane}:{i}".encode()).hexdigest()[0] >= "8" else -1
        for i in range(1, dim + 1)
    ]


def hyperplane_projection_sql(plane: int, dim: int, q_col: str = "q") -> str:
    """Spark-SQL text of the exact integer projection of a quantized
    BIGINT array column onto hyperplane ``plane`` of hyperplane_signs."""
    # Backtick-escape the interpolated column name (ADVICE r15): every
    # current caller passes a safe internal name, but a name containing a
    # backtick would otherwise produce malformed/injected SQL.
    q_ident = q_col.replace("`", "``")
    arr = "array(" + ",".join(str(s) for s in hyperplane_signs(plane, dim)) + ")"
    return (
        f"aggregate(zip_with(`{q_ident}`, {arr}, (x, s) -> x * CAST(s AS BIGINT)), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def band_value_sql(b: int, band_bits: int, dim: int, q_col: str = "q") -> str:
    """Spark-SQL text of hyperplane band b's value over a quantized BIGINT
    array column — semantically identical to the unrolled Column build
    (same zip_with/aggregate/CASE tree after parsing), but ONE F.expr
    parse instead of band_bits x dim py4j literal round-trips. r15
    optimization: profiling showed the banded queries spent ~60% of their
    wall in Python-side plan CONSTRUCTION (~0.7 s per 8x64 sign-array
    batch of F.lit calls), not execution; the SQL-string form builds in
    ~1 ms. Value parity with the old build is pinned by the unchanged
    DuckDB oracles and tests/test_simhash_banding.py."""
    bits = []
    for k in range(band_bits):
        proj = hyperplane_projection_sql(b * band_bits + k, dim, q_col)
        bits.append(f"(CASE WHEN {proj} > 0 THEN {1 << k} ELSE 0 END)")
    return " + ".join(bits)


def banded_signatures(
    qdf: DataFrame,
    n_bands: int = 2,
    band_bits: int = 8,
    dim: int = 64,
    q_col: str = "q",
) -> DataFrame:
    """(vec_id, bidx, bv): the band values of an (n_bands * band_bits)-bit
    random-hyperplane signature, one row per vector per band. Band b uses
    planes [b*band_bits, (b+1)*band_bits) of the shared hyperplane family,
    so (n_bands=2, band_bits=8) reproduces the registry entry's signature
    frame exactly. Pure column expressions over the quantized array — the
    whole signature stays in codegen; only (vec_id, bidx, bv) triples reach
    the candidate shuffle. band_bits caps at 63 like the simhash twin:
    bit k is set via a 1 << k LongType literal and 1 << 63 overflows
    (ADVICE r11 applied to BOTH twins; scaled_band_bits clamps at 28 but
    an explicit band_bits bypasses it)."""
    if not 1 <= band_bits <= 63:
        raise ValueError("band_bits must be in [1, 63] (bit 63 would overflow LongType)")
    band_cols = [
        F.expr(band_value_sql(b, band_bits, dim, q_col)).alias(f"band{b}")
        for b in range(n_bands)
    ]
    return qdf.select(
        "vec_id", F.posexplode(F.array(*band_cols)).alias("bidx", "bv")
    )


def band_join(
    sig: DataFrame, other: DataFrame | None = None, keys: tuple[str, ...] = ("bidx", "bv")
) -> DataFrame:
    """(vec_a, vec_b) distinct pairs of vectors that share a band bucket
    of a banded_signatures frame. With one frame this is the self-join,
    canonicalized vec_a < vec_b; with ``other`` it is the cross-side join
    (vec_a from sig, vec_b from other, no ordering) — e.g. a training set
    against a held-out reference set, never set x set. ``keys`` may add
    columns both frames carry (a coarse cell id) to the bucket key. The
    join is keyed, so the shuffle is O(vectors x bands), never
    O(vectors^2)."""
    a = sig.select(F.col("vec_id").alias("vec_a"), *keys)
    b = (sig if other is None else other).select(F.col("vec_id").alias("vec_b"), *keys)
    pairs = a.join(b, list(keys))
    if other is None:
        pairs = pairs.filter(F.col("vec_a") < F.col("vec_b"))
    return pairs.select("vec_a", "vec_b").distinct()


def verified_pairs(v: DataFrame, cand: DataFrame, threshold: float) -> DataFrame:
    """(vec_a, vec_b, cosine rounded to 9 places) for the candidate pairs
    whose exact quantized cosine is >= threshold."""
    return (
        quantized_cosine_joined(v, cand)
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", F.round("cosine", 9).alias("cosine"))
    )


def scaled_band_bits(
    n_rows: int,
    target_rows_per_bucket: int = 32,
    min_bits: int = 8,
    max_bits: int = 28,
) -> int:
    """Signature bits PER BAND so expected bucket occupancy stays constant
    as the corpus grows: band_bits = ceil(log2(n / target)), i.e. bucket
    count 2^bits ~ n/target. Occupancy n/2^bits then lands in
    (target/2, target] for every n, so expected in-bucket pairs per vector
    — and total candidate volume — grow LINEARLY in n instead of
    quadratically (the r10 ninth-probe finding). min_bits keeps toy corpora
    at the oracle-pinned shape; max_bits caps plan width (28 bits = 268M
    buckets — beyond that, shard the corpus)."""
    if n_rows <= 0:
        return min_bits
    bits = math.ceil(math.log2(max(n_rows / target_rows_per_bucket, 1.0)))
    return max(min_bits, min(max_bits, bits))


def auto_bucket_cap(n_rows: int, band_bits: int, factor: int = 8) -> int:
    """Occupancy-derived hot-bucket cap: factor * ceil(n / 2^band_bits) —
    the RECIPES.md guidance ("choose the cap as 2–8x the banding target
    occupancy") made executable (VERDICT r12 item 3). n / 2^band_bits is
    the EXPECTED bucket occupancy under the banding in use; on a
    linear-density corpus actual bucket sizes concentrate near it (hash
    bits spread mass uniformly), so a cap factor x above it is a no-op by
    construction there and engages only on adversarial concentration
    (identical / boilerplate signatures piling thousands of docs into one
    bucket — the quadratic-candidate mass). With band_bits from
    scaled_band_bits in its UNCLAMPED range, occupancy is held in
    (16, 32] and the default factor lands the cap in (128, 264]; at the
    min_bits clamp (small corpora) occupancy — and so the cap — is
    smaller, and past the max_bits clamp the cap grows with n. In every
    regime the cap stays factor x the actual expected occupancy, which is
    the property the no-op-on-honest-buckets contract rests on. Applies
    to occupancy-targeted banding only (simhash /
    hyperplane emitters); hash-space minhash banding has no occupancy
    target — see ext.dedup.minhash_banded_candidate_pairs."""
    if not 1 <= band_bits <= 63:
        raise ValueError("band_bits must be in [1, 63]")
    if factor < 1:
        raise ValueError("factor must be >= 1")
    if n_rows <= 0:
        return factor
    return factor * math.ceil(n_rows / (1 << band_bits))


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bands: int = 4,
    band_bits: int = 10,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k over quantized (vec_id, q, nq) frames: queries
    meet corpus vectors only through shared band buckets (band_join
    cross-side, keyed on band index and value), exact cosine scores the
    candidates, and the best k per query are kept. More bands raise
    recall; more bits per band cut candidates. Scores are exact, so every
    returned row agrees with brute_force_topk. Returns (query_id,
    neighbor_id, cosine). Validates vector length against ``dim`` up
    front (one cheap job per side: a mismatch would silently collapse
    every vector into one bucket)."""
    qsig = banded_signatures(queries, n_bands=n_bands, band_bits=band_bits, dim=dim)
    csig = banded_signatures(corpus, n_bands=n_bands, band_bits=band_bits, dim=dim)
    assert_vector_dim(corpus, "q", dim)
    assert_vector_dim(queries, "q", dim)
    cand = (
        band_join(qsig, csig)
        .filter(F.col("vec_a") != F.col("vec_b"))
        .select(F.col("vec_a").alias("query_id"), F.col("vec_b").alias("neighbor_id"))
    )
    return _top_k(_score(cand, corpus, queries), k)


def lsh_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = 2,
    band_bits: int | None = None,
    dim: int = 64,
    n_rows: int | None = None,
    max_bucket_size: int | str | None = None,
    top_k_partners: int | None = None,
    top_k_symmetric: bool = False,
    cap_metrics: dict | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs (vec_a, vec_b, cosine >= threshold)
    via banded random-hyperplane LSH with a PARAMETERIZED banding shape —
    the production form of the registry entry
    similarity_lsh_hyperplane_pairs (which pins n_bands=2, band_bits=8 for
    its oracle). band_bits=None sizes the bands from the corpus:
    scaled_band_bits(n_rows or df.count()) — pass n_rows when the count is
    already known to avoid the extra scan. Candidates come from ONE
    self-join keyed on (band index, band value); verification is the exact
    quantized cosine, so the emitted pairs are deterministic on any
    partitioning. Raising band_bits with log2(n) holds candidate volume
    linear in n; raising n_bands trades recall for candidates.

    Bounded-output knobs (default OFF; see ext.dedup.drop_hot_buckets —
    when the corpus's true pair density is quadratic, only a cap bounds
    the emitted stream): max_bucket_size drops over-occupied band buckets
    before the self-join (candidates linear in n by construction) —
    ``'auto'`` derives the cap from expected occupancy via
    auto_bucket_cap(n, band_bits), a no-op on linear-density corpora;
    top_k_partners keeps the k highest-cosine partners per vec_a after
    verification (rows <= k * n; per canonical LEFT id — see
    ext.dedup.keep_top_k_partners for the vec_b asymmetry;
    top_k_symmetric=True routes to keep_top_k_partners_symmetric so EVERY
    vector keeps its k best partners — union semantics, still <= k * n
    rows, 2x the window input). cap_metrics:
    optional dict recording the dropped mass per engaged lever
    (hot_buckets / dropped_band_rows / dropped_verified_pairs /
    max_bucket_size_resolved) at one eager job each — the "no silent
    caps" audit path."""
    if top_k_partners is None and top_k_symmetric:
        raise ValueError(
            "top_k_symmetric=True needs top_k_partners=<k> — without the "
            "knob there is no bound to symmetrize (refusing to silently "
            "return the unbounded pair stream)"
        )
    # Contract check FIRST (r15 review): a misspelled 'Auto', a stringly
    # '32', or an int < 1 previously survived to drop_hot_buckets — AFTER
    # two eager full-corpus checkpoints — and a bad string died there
    # with an opaque TypeError. An input error must not cost a
    # production scan.
    if max_bucket_size is not None and max_bucket_size != "auto" and (
        isinstance(max_bucket_size, bool)
        or not isinstance(max_bucket_size, int)
        or max_bucket_size < 1
    ):
        raise ValueError(
            f"max_bucket_size must be an int >= 1, the literal 'auto', or "
            f"None — got {max_bucket_size!r}"
        )
    if band_bits is None or max_bucket_size == "auto":
        n = n_rows if n_rows is not None else df.count()
    if band_bits is None:
        band_bits = scaled_band_bits(n)
    if max_bucket_size == "auto":
        max_bucket_size = auto_bucket_cap(n, band_bits)
        if cap_metrics is not None:
            cap_metrics["max_bucket_size_resolved"] = max_bucket_size
    # One quantization pass, three consumers (signatures + both verify-join
    # sides) — checkpoint so the lineage doesn't re-execute per consumer
    # (ADVICE r11; the simhash twin already did this).
    v = checkpoint_shared(quantize_embeddings(df, id_col, vec_col), size_class=DATA_SIZED)
    # Aggregates the already-materialized checkpoint — near-free, and it
    # catches the silent all-in-one-bucket collapse a dim mismatch causes
    # (r15 review; see assert_vector_dim).
    assert_vector_dim(v, "q", dim)
    sig = banded_signatures(v, n_bands=n_bands, band_bits=band_bits, dim=dim)
    if max_bucket_size is not None:
        from glue_etl_framework_spark.ext.dedup import drop_hot_buckets

        # The cap adds two more consumers of the signature frame (bucket
        # count + cold join) on top of the self-join's two sides —
        # materialize the projection once instead of re-running it 5x.
        sig = drop_hot_buckets(
            checkpoint_shared(sig, size_class=DATA_SIZED), max_bucket_size, ["bidx", "bv"],
            metrics=cap_metrics,
        )
    out = verified_pairs(v, band_join(sig), threshold)
    if top_k_partners is not None:
        from glue_etl_framework_spark.ext.dedup import (
            keep_top_k_partners,
            keep_top_k_partners_symmetric,
        )

        if top_k_symmetric:
            out = keep_top_k_partners_symmetric(
                out,
                top_k_partners,
                "vec_a",
                "vec_b",
                [F.col("cosine").desc(), F.col("_other").asc()],
                metrics=cap_metrics,
            )
        else:
            out = keep_top_k_partners(
                out,
                top_k_partners,
                "vec_a",
                [F.col("cosine").desc(), F.col("vec_b").asc()],
                metrics=cap_metrics,
            )
    return out
