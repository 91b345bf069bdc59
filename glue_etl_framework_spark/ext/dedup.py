"""Near-duplicate text dedup at scale: the one banded-MinHash
implementation in the package, connected-component clustering, banded
SimHash, and the bounded-output levers (bucket caps, top-k partners,
lost-pair estimators).

Banded MinHash: word n-gram shingles -> N_MINHASH md5 string-min
signatures per doc -> N_MINHASH // BAND_SIZE bands keyed on xxhash64 ->
an equi-join on (band, band key), so only same-bucket docs meet (never
all-pairs) -> optionally exact Jaccard over xxhash64 shingle tokens. The
registry entries (queries.dedup, queries.curation, queries.llmops) are
fixed-parameter calls into these pieces, certified by their DuckDB oracle
twins; minhash_banded_candidate_pairs is the user-facing form.

Clustering: min-id label propagation over the pair graph, falling back to
large-star/small-star contraction when the graph's diameter exceeds the
round budget — a bounded number of self-joins, each a shuffle on the id,
no driver-side graph.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from glue_etl_framework_spark.ckpt import DATA_SIZED, checkpoint_shared

N_MINHASH = 8     # signature length
BAND_SIZE = 2     # rows per LSH band -> 4 bands


def shingle_array(text_col: str = "text", n: int = 3) -> Column:
    """Overlapping word n-grams of ``text_col`` as an array column, in
    token order (repeats kept). One regex pass — a token-start lookbehind
    plus a lookahead capture of n tokens — measured 3.6x faster at sf0.1
    than split + sequence + slice + array_join, which allocates four
    intermediate arrays per row. The anchor is ^ or just after a space:
    EXACTLY the token positions of the split-on-space formulation the
    DuckDB oracles keep (RE2 has no lookaround), for any token content —
    an earlier \\b-anchored variant silently diverged on
    punctuation-leading tokens (pinned by
    tests/test_text_properties.py::test_shingle_regex_matches_split_semantics)."""
    return F.expr(
        rf"regexp_extract_all({text_col}, '(?<=^| )(?=((\\S+ ){{{n - 1}}}\\S+))', 1)"
    )


def shingle_rows(df: DataFrame, *keep: str) -> DataFrame:
    """(*keep, shingle): the distinct word-3-gram shingles of each row's
    ``text``."""
    return df.select(*keep, F.explode(shingle_array()).alias("shingle")).distinct()


def shingle_tokens(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Add a ``shingles`` array column of distinct word n-grams; rows with
    fewer than n tokens are dropped."""
    return df.withColumn(
        "shingles", F.array_distinct(shingle_array(text_col, n))
    ).filter(F.size("shingles") > 0)


def minhash_signature_aggs() -> list[Column]:
    """The N_MINHASH signature aggregates s0..s7 over a ``shingle``
    column, for a groupBy on the doc id. Each is the string-min of a
    32-bit md5 chunk — a random-permutation proxy that is bit-identical in
    DuckDB (queries.dedup._minhash_sig_sql). Two md5 digests per shingle,
    each split into four 8-hex-char chunks: 4x fewer digests than one per
    signature (measured 33% faster end to end)."""
    h1 = F.md5("shingle")
    h2 = F.md5(F.concat(F.lit("x:"), F.col("shingle")))
    return [
        F.min(F.substring(h1 if i < 4 else h2, 1 + 8 * (i % 4), 8)).alias(f"s{i}")
        for i in range(N_MINHASH)
    ]


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, s0..s7) from a (doc_id, shingle) frame."""
    return sh.groupBy("doc_id").agg(*minhash_signature_aggs())


def minhash_bands(
    sig: DataFrame,
    *keep: str,
    max_bucket_size: int | None = None,
    cap_metrics: dict | None = None,
) -> DataFrame:
    """(doc_id, *keep, band, bh): one row per (doc, band) from a signature
    frame (extra columns ignored). The bucket key bh is xxhash64 of the
    band's signature pair — an 8-byte long — where the oracle keys on
    md5(s_2b || s_2b+1), a 32-char string. Both are injective in practice
    over the SAME md5-exact signature pair, so the bucket partitions and
    the output pair set match the oracle's unless two distinct signature
    pairs collide in 64 bits within one band (p ~ n_docs^2/2^65 per band,
    certified end to end by the oracle hash match). The self-join shuffle
    moves ~4x less key volume and skips 4 md5 digests per doc.

    max_bucket_size=None builds the fully lazy uncapped frame. With a cap,
    the bands are checkpointed and hot (band, bh) buckets dropped
    (drop_hot_buckets; cap_metrics records what it dropped): the cap adds
    a bucket-count aggregate and a cold join on top of the band join's two
    sides, so the signature -> bands lineage is materialized once instead
    of re-run per consumer."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(F.concat(F.col(f"s{2*b}"), F.col(f"s{2*b+1}"))).alias("bh"),
            )
            for b in range(N_MINHASH // BAND_SIZE)
        ]
    )
    bands = sig.select("doc_id", *keep, F.explode(band_structs).alias("x")).select(
        "doc_id", *keep, F.col("x.band").alias("band"), F.col("x.bh").alias("bh")
    )
    if max_bucket_size is not None:
        bands = drop_hot_buckets(
            bands.localCheckpoint(eager=True), max_bucket_size, ["band", "bh"],
            metrics=cap_metrics,
        )
    return bands


def band_join(bands: DataFrame, other: DataFrame | None = None) -> DataFrame:
    """(doc_a, doc_b) for every (band, bh) bucket two docs share — a pair
    sharing k bands appears k times, so callers distinct what they
    project. With one band frame this is the self-join, canonicalized
    doc_a < doc_b; with ``other`` it is the cross-side join (doc_a from
    bands, doc_b from other, no ordering) — e.g. a new batch against a
    reference corpus, never new x new. The join key is (band, bh), so the
    shuffle is O(docs x bands), never O(docs^2)."""
    a = bands.alias("a")
    b = (bands if other is None else other).alias("b")
    on = (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh"))
    if other is None:
        on = on & (F.col("a.doc_id") < F.col("b.doc_id"))
    return a.join(b, on).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )


def minhash_candidates(
    sig: DataFrame,
    max_bucket_size: int | None = None,
    cap_metrics: dict | None = None,
) -> DataFrame:
    """(doc_a, doc_b) distinct banded-MinHash candidate pairs, doc_a <
    doc_b, from a signature frame (doc_id, s0..s7, extra columns ignored);
    the optional cap is minhash_bands'."""
    return band_join(
        minhash_bands(sig, max_bucket_size=max_bucket_size, cap_metrics=cap_metrics)
    ).distinct()


def jaccard_verify(
    sh: DataFrame, cand: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for the candidate pairs whose exact shingle
    Jaccard is >= threshold, rounded to 6 places. ``sh`` is the (doc_id,
    shingle) frame the candidates came from, ``sizes`` a (doc_id, n) frame
    of per-doc shingle counts. Cost is O(candidates x shingles per doc),
    decoupled from corpus size. Both verify sides shuffle xxhash64 tokens
    (8-byte longs) instead of ~30-byte shingle strings: the intersection
    needs only counts, and two distinct shingles of one pair collide in 64
    bits with p ~ s^2/2^65 (s = shingles per doc); the string-exact oracle
    certifies the equivalence."""
    sh_tok = sh.select("doc_id", F.xxhash64("shingle").alias("tok"))
    a = sh_tok.select(F.col("doc_id").alias("doc_a"), F.col("tok").alias("tok_a"))
    b = sh_tok.select(F.col("doc_id").alias("b_id"), F.col("tok").alias("tok_b"))
    inter = (
        cand.join(a, "doc_a")
        .join(b, (F.col("doc_b") == F.col("b_id")) & (F.col("tok_a") == F.col("tok_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_common").cast("double") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def minhash_banded_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    max_bucket_size: int | None = None,
    cap_metrics: dict | None = None,
) -> DataFrame:
    """(doc_a, doc_b) banded-MinHash candidate pairs over an arbitrary
    frame — the production form of the registry entry dedup_minhash_lsh
    (which pins its corpus and shape for the DuckDB oracle), completing
    the bounded-output contract across all three emitter families
    (MinHash / SimHash / hyperplane). md5 string-min signatures, 4 bands x
    2 rows, xxhash64 band keys: at shingle_n=3 on the documents table the
    uncapped output matches the oracle-attested entry bit-for-bit
    (tests/test_simhash_banding.py). max_bucket_size drops hot (band,
    band_hash) buckets before the self-join (see minhash_bands): on
    boilerplate-heavy corpora identical shingle sets produce identical
    band signatures, and those buckets are exactly the quadratic-candidate
    mass (run exact dedup first — the round-12 ordering rule — and the cap
    only engages on the true adversarial residue). cap_metrics: optional
    dict recording hot_buckets / dropped_band_rows when the cap engages
    (see drop_hot_buckets).

    max_bucket_size='auto' is NOT supported here (unlike the simhash /
    hyperplane emitters): minhash bands key on xxhash64 of the band
    signature — a 2^64 key space with no occupancy target, where bucket
    mass comes only from genuinely matching signatures, so an
    occupancy-derived cap would degenerate to the bare factor and drop
    real near-dup groups. Choose an explicit cap from the corpus's
    duplicate-group size distribution instead."""
    if max_bucket_size == "auto":
        raise ValueError(
            "max_bucket_size='auto' is occupancy-derived and does not apply "
            "to hash-space minhash banding — pass an explicit cap (see "
            "docstring)"
        )
    sh = (
        shingle_tokens(
            df.select(F.col(id_col).alias("doc_id"), text_col), text_col, shingle_n
        )
        .select("doc_id", F.explode("shingles").alias("shingle"))
        .distinct()
    )
    return minhash_candidates(minhash_signatures(sh), max_bucket_size, cap_metrics)


def connected_component_labels(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 50,
    metrics: dict | None = None,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """(node, label) per input node: label = min id in the node's connected
    component of the pair graph. Min-id label propagation: each round joins
    current labels across edges and takes the min — converges in
    O(component diameter) rounds. A round is one join and one aggregate,
    run as ONE eager-checkpoint Spark execution that also counts the labels
    it changed, so nothing reaches the driver and the plan stays flat over
    many rounds. Duplicate clusters from pairwise similarity are
    near-cliques, so few rounds suffice in practice — the fixture graph
    converges in 3 — but the r11 10x-realistic probe measured a dup graph
    whose diameter EXCEEDS 10 (planted-partner chains), where the old
    default budget returned non-final labels; the default is sized so
    early convergence still exits in O(actual rounds) while chain-shaped
    graphs converge instead of truncating.

    When the round budget runs out WITHOUT convergence (labels would then
    not be final component minima — silently wrong components, the r11
    twelfth-probe failure mode), it warns, then recomputes via
    connected_component_labels_twophase — O(log^2 n) rounds regardless of
    graph diameter, so the returned labels are always final. The warning
    survives so callers learn their graph shape defeats propagation
    (two-phase was also measured FASTER once diameter bites: 7.3 s vs
    12.3 s at 10x — probes/cc_twophase_compare_r11.txt).

    A run that converges within the budget never warns and never falls
    back (the oracle-attested registry entry dedup_connected_components
    converges in 3 rounds).

    metrics: optional dict — records ``cc_rounds`` (propagation rounds
    executed), ``cc_converged``, and ``cc_fallback`` for the funnel audit
    (VERDICT r13 item 3). These are driver-side loop counters the
    algorithm already pays for: recording them adds ZERO Spark jobs and
    leaves the plan untouched."""
    labels = _graph_labels(pairs, max_iterations, metrics, a_col, b_col)
    return _label_all_nodes(nodes, id_col, labels)


def _label_all_nodes(nodes: DataFrame, id_col: str, labels: DataFrame) -> DataFrame:
    """(node, label) per distinct id of ``nodes``: graph labels joined
    back, every node outside the graph labelling itself."""
    all_nodes = nodes.select(F.col(id_col).alias("node")).distinct()
    return all_nodes.join(labels, "node", "left").select(
        "node", F.coalesce("label", F.col("node")).alias("label")
    )


def _graph_labels(
    pairs: DataFrame, max_iterations: int, metrics: dict | None, a_col: str, b_col: str
) -> DataFrame:
    """(node, label) for the pair graph's nodes only: isolated nodes never
    change label, so per-round state is O(|dup graph|), not O(|corpus|)."""
    # Materialize the edge list ONCE: its lineage (often a full MinHash/LSH
    # candidate pipeline) would otherwise re-execute inside EVERY round's
    # join — measured 5x end-to-end on the minhash graph at sf0.1. Lazy:
    # round 1 is its single, sequential first consumer. A null endpoint
    # never joins a label, so its edge is dropped here rather than give a
    # null node a label that could change after every real node settled.
    edges = checkpoint_shared(
        _symmetrize(
            pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst")).dropna()
        ).distinct(),
        size_class=DATA_SIZED,
        eager=False,
    )
    labels = None
    converged = False
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        if labels is None:
            # From identity labels, round 1 is one aggregate over the edges.
            step = edges.groupBy(F.col("src").alias("node")).agg(
                F.least(F.col("src"), F.min("dst")).alias("label")
            ).withColumn("old", F.col("node"))
        else:
            # Each node's own label (as ``old``) plus its neighbours' labels.
            own = labels.withColumn("old", F.col("label"))
            nbr = edges.join(labels.withColumnRenamed("node", "dst"), "dst").select(
                F.col("src").alias("node"),
                "label",
                F.lit(None).cast(labels.schema["label"].dataType).alias("old"),
            )
            step = own.unionByName(nbr).groupBy("node").agg(
                F.min("label").alias("label"), F.max("old").alias("old")
            )
        # Labels only DECREASE, so the round converged iff none dropped; the
        # count rides on the round's checkpoint job. It observes the TOP of
        # the frame: AQE's empty-relation rewrite drops CollectMetrics
        # nodes inside an empty subtree (see io.writers.delete).
        changed = Observation()
        labels = checkpoint_shared(
            step.observe(changed, F.count_if(F.col("label") < F.col("old")).alias("n")),
            size_class=DATA_SIZED,
        ).select("node", "label")
        if changed.get["n"] == 0:
            converged = True
            break
    if metrics is not None:
        metrics["cc_rounds"] = rounds
        metrics["cc_converged"] = converged
        metrics["cc_fallback"] = not converged
    if converged:
        return labels
    # Propagation needs O(component diameter) rounds; exhausting the
    # budget means some labels are NOT yet the component minimum —
    # returning them silently would hand the caller wrong components
    # (r11). Warn loudly, then fall back.
    import warnings

    warnings.warn(
        f"connected_component_labels exhausted max_iterations="
        f"{max_iterations} before converging — propagation's labels are "
        f"NOT final component minima (the graph's diameter exceeds the "
        f"round budget); falling back to connected_component_labels_twophase "
        f"(O(log^2 n) rounds regardless of diameter; it warns separately "
        f"if its own round budget were ever to run out).",
        UserWarning,
        stacklevel=3,
    )
    # Hand twophase the already-materialized edge set, NOT the raw pairs
    # frame (its lineage is often a full MinHash/LSH candidate pipeline),
    # SEEDED with the partially-propagated labels as extra edges (ADVICE
    # r12): (n, label(n)) joins nodes already in one component, so the
    # partition is unchanged, but star contraction starts from the graph
    # the exhausted rounds already partially collapsed.
    if labels is not None:
        edges = edges.union(
            labels.filter(F.col("node") != F.col("label")).toDF("src", "dst")
        )
    return _star_labels(edges, 20, "src", "dst")


def dedup_keep_representative(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 50,
    metrics: dict | None = None,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """Drop near-duplicates, keeping one representative (min id) per
    connected component of the pair graph (see
    connected_component_labels: labels are always final component minima,
    so no document is dropped on a non-final label; metrics passes
    through, so a funnel audit reads the CC round count from the same dict
    the emitter levers wrote their dropped mass into). Rows with a null id
    are dropped; duplicate rows are kept. One anti-join against the graph's
    non-minimum nodes, so ``df``'s lineage runs once."""
    labels = _graph_labels(pairs, max_iterations, metrics, a_col, b_col)
    losers = labels.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias(id_col)
    )
    return df.filter(F.col(id_col).isNotNull()).join(losers, id_col, "left_anti")


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star operation (Kiveris et al., "Connected Components in
    MapReduce and Beyond"): every node connects its strictly-LARGER
    neighbors to the minimum of its closed neighborhood. One groupBy + one
    join per application; strictly decreases large-neighbor potential."""
    sym = _symmetrize(edges)
    m = sym.groupBy("src").agg(F.least(F.first("src"), F.min("dst")).alias("m"))
    return (
        sym.filter(F.col("dst") > F.col("src"))
        .join(m, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star operation: key every edge on its LARGER endpoint; each
    node connects its smaller-or-equal neighbors (and itself) to the
    minimum among them."""
    directed = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    m = directed.groupBy("src").agg(F.min("dst").alias("m"))
    nbr = (
        directed.join(m, "src")
        .filter(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_edge = m.select("src", F.col("m").alias("dst"))
    return nbr.union(self_edge).distinct()


def connected_component_labels_twophase(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
    a_col: str = "id_a",
    b_col: str = "id_b",
) -> DataFrame:
    """(node, label) via alternating large-star/small-star (Kiveris et al.
    2014) — the diameter-proof alternative to connected_component_labels:
    min-id propagation needs O(component diameter) rounds, which is fine
    for near-dup clusters (near-cliques, diameter ~2) but degenerates on
    chain-shaped graphs; star contraction converges in O(log^2 n) rounds
    REGARDLESS of diameter, so this is the variant to reach for when the
    dup graph's shape is unknown at 100 TB. Same contract as
    connected_component_labels: label = min id in the node's component,
    isolated nodes label themselves. Each round is two groupBy+join
    passes over the (dup-graph-only) edge set with lineage truncated per
    round; convergence is detected on a one-row (count, xxhash64-XOR)
    fingerprint of the canonical edge set — no driver-side graph. XOR (not
    SUM) because the edge set is distinct, XOR is order-independent, and
    it cannot overflow under ANSI arithmetic."""
    labels = _star_labels(pairs, max_iterations, a_col, b_col)
    return _label_all_nodes(nodes, id_col, labels)


def _star_labels(
    pairs: DataFrame, max_iterations: int, a_col: str, b_col: str
) -> DataFrame:
    """(node, label) for the nodes of the pair graph only, by star
    contraction (connected_component_labels_twophase)."""
    edges = checkpoint_shared(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        size_class=DATA_SIZED,
    )
    graph_nodes = checkpoint_shared(
        _symmetrize(edges).select(F.col("src").alias("node")).distinct(),
        size_class=DATA_SIZED,
    )

    def fingerprint(e: DataFrame):
        canon = e.select(
            F.greatest("src", "dst").alias("a"), F.least("src", "dst").alias("b")
        ).distinct()
        row = canon.select(F.xxhash64("a", "b").alias("x")).agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(x)").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    fp = fingerprint(edges)
    converged = False
    for _ in range(max_iterations):
        edges = checkpoint_shared(
            _small_star(_large_star(edges)), size_class=DATA_SIZED
        )
        new_fp = fingerprint(edges)
        if new_fp == fp:
            converged = True
            break
        fp = new_fp
    if not converged:
        # Star contraction converges in O(log^2 n) alternations, so an
        # exhausted budget means max_iterations was set far below that —
        # the projected edge set is then not yet a star per component and
        # labels may not be final minima. Warn (same policy as the
        # propagation variant, ADVICE r11); the min-aggregate below still
        # guarantees ONE row per node, never conflicting labels.
        import warnings

        warnings.warn(
            f"connected_component_labels_twophase exhausted max_iterations="
            f"{max_iterations} before the edge-set fingerprint stabilized — "
            f"returned labels may not be final component minima; raise "
            f"max_iterations (O(log^2 n) alternations suffice for any graph).",
            UserWarning,
            stacklevel=3,
        )
    # Converged edge set is a star per component: (node, root) with
    # root < node. Roots label themselves. The min aggregate (not
    # distinct) keeps the one-row-per-node contract even on a truncated,
    # not-yet-star edge set; on a converged star it is the identical frame.
    star = edges.select(
        F.greatest("src", "dst").alias("node"), F.least("src", "dst").alias("label")
    ).groupBy("node").agg(F.min("label").alias("label"))
    return graph_nodes.join(star, "node", "left").select(
        "node", F.coalesce("label", F.col("node")).alias("label")
    )


# ------------------------------------------- banded SimHash (parameterized)
# Same structural fix as ext.similarity's banded hyperplane LSH (RECIPES.md
# "Scale LSH signature bits with the corpus"): the registry entry
# dedup_simhash_pairs bands on the top 16 bits of a 32-bit signature — a
# FIXED bucket count, so in-bucket candidate pairs grow ~n^2 (the r10 ninth
# probe measured its output growing 2683x at 100x volume). These builders
# take the banding shape as arguments. Bands are WORD-ALIGNED independent
# mini-signatures (band b's bits come from digests salted by (b, chunk)),
# which gives two properties fixed top-bits banding lacks:
#   - full recall by pigeonhole: two docs within Hamming distance d over
#     the concatenated signature agree exactly on >= 1 of n_bands bands
#     whenever n_bands > d (default n_bands = hamming_max + 1);
#   - unbounded scaling: total signature bits = n_bands * band_bits can
#     grow past 64 (array-of-longs representation), so band_bits can keep
#     tracking log2(corpus) at any volume.


def simhash_band_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 7,
    band_bits: int = 16,
) -> DataFrame:
    """(id, sig): sig is an array of n_bands longs, word b holding band
    b's band_bits-bit simhash. Bit k of band b votes +-1 per DISTINCT
    token by a hex digit of md5("b:chunk:" || token) (chunk = k div 32:
    one digest yields 32 bits, so a band costs ceil(band_bits/32) digests
    per token). Pure column expressions — one groupBy(id) aggregate, no
    UDFs. band_bits caps at 63: bit k is set via a 1 << k LongType literal,
    and 1 << 63 exceeds LongType max (ADVICE r11) — at 63 bits per band a
    band already addresses 9.2e18 buckets, far past any corpus."""
    if not 1 <= band_bits <= 63:
        raise ValueError("band_bits must be in [1, 63] (bit 63 would overflow LongType)")
    toks = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .distinct()
    )
    votes = []
    for b in range(n_bands):
        for k in range(band_bits):
            chunk, pos = divmod(k, 32)
            digit = F.substring(F.md5(F.concat(F.lit(f"{b}:{chunk}:"), F.col("token"))), pos + 1, 1)
            votes.append(
                F.sum(F.when(digit >= "8", 1).otherwise(-1)).alias(f"v_{b}_{k}")
            )
    sums = toks.groupBy("doc_id").agg(*votes)
    words = []
    for b in range(n_bands):
        word = F.lit(0).cast("long")
        for k in range(band_bits):
            word = word + F.when(
                F.col(f"v_{b}_{k}") > 0, F.lit(1 << k).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        words.append(word)
    return sums.select("doc_id", F.array(*words).alias("sig"))


def drop_hot_buckets(
    bands: DataFrame,
    max_bucket_size: int,
    keys: list[str],
    metrics: dict | None = None,
) -> DataFrame:
    """Remove every row belonging to a bucket with more than
    max_bucket_size members — the bounded-output lever for banded LSH
    emitters. A bucket of size m emits m*(m-1)/2 in-bucket candidates, so
    without a cap the candidate stream is quadratic in the hottest
    bucket's occupancy NO MATTER how the banding is sized: the r11
    eleventh probe's 100x simhash run died filling 252 GB of shuffle
    spill because semantically homogeneous replicas concentrated ~5,000
    docs per bucket (SCALING.md). With the cap, per-bucket emission is
    <= cap*(cap-1)/2 and total candidates <= n_bucket_rows * cap / 2 —
    LINEAR in corpus size by construction. Cost: one map-side-combinable
    count per bucket key + one keyed join; recall: a pair survives iff it
    shares >= 1 band whose bucket is under the cap (hot buckets are the
    least discriminative — near-stopword signatures — but on adversarial
    corpora the loss is real: measure it, probes/capped_simhash_r12.txt).

    metrics: optional dict — the "no silent caps" rule applied to the cap
    itself (VERDICT r12 item 2). When passed, records what the cap
    discarded so a production run can audit its recall exposure without
    re-running uncapped:

    - ``metrics['hot_buckets']``: number of (keys) buckets over the cap;
    - ``metrics['dropped_band_rows']``: total band rows in those buckets
      (a doc row may still survive via its other, colder bands — this is
      the discarded BANDING mass, the upper bound on lost connectivity).

    Recording costs ONE eager Spark job (the per-bucket counts are lazily
    localCheckpoint-ed so the cold-side filter reuses the materialized
    counts instead of re-aggregating); metrics=None keeps today's fully
    lazy, byte-identical plan."""
    if max_bucket_size < 1:
        raise ValueError("max_bucket_size must be >= 1")
    counts = bands.groupBy(*keys).agg(F.count("*").alias("_bucket_n"))
    if metrics is not None:
        counts = counts.localCheckpoint(eager=False)
        hot = counts.filter(F.col("_bucket_n") > max_bucket_size).agg(
            F.count("*").alias("hb"),
            F.coalesce(F.sum("_bucket_n"), F.lit(0)).alias("dr"),
        ).first()
        metrics["hot_buckets"] = hot["hb"]
        metrics["dropped_band_rows"] = hot["dr"]
    cold = counts.filter(F.col("_bucket_n") <= max_bucket_size).select(*keys)
    return bands.join(cold, keys)


def keep_top_k_partners(
    pairs: DataFrame,
    k: int,
    id_col: str,
    order: list,
    metrics: dict | None = None,
) -> DataFrame:
    """Bound verified pair output to the k best partners per left-side
    doc: total emitted rows <= k * n_docs regardless of semantic pair
    density — the post-verify output cap complementing drop_hot_buckets'
    pre-join candidate cap. Deterministic: order must be a total order
    (include a tiebreaker column).

    Asymmetry (ADVICE r12): the bound is per LEFT-side id. The emitters
    canonicalize pairs as doc_a < doc_b BEFORE capping, so the cap reads
    "k best partners among the pairs where this doc is the smaller id" —
    a high-id doc can still appear in up to n rows as doc_b, and its own
    k best partners are not what is kept for it. The global bound
    (rows <= k * n_left) holds regardless; if a true per-doc bound is
    needed, use keep_top_k_partners_symmetric below (symmetrize -> cap ->
    re-canonicalize, at 2x the window input).

    metrics: optional dict — when passed, records
    ``metrics['dropped_verified_pairs']`` (rows the cap removed) at the
    cost of ONE eager count over the ranked frame (lazily
    localCheckpoint-ed so the kept-side filter reuses the materialized
    ranking instead of re-running the pair lineage); metrics=None keeps
    the fully lazy plan."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError("top_k_partners must be >= 1")
    w = Window.partitionBy(id_col).orderBy(*order)
    ranked = pairs.withColumn("_rn", F.row_number().over(w))
    if metrics is not None:
        ranked = ranked.localCheckpoint(eager=False)
        metrics["dropped_verified_pairs"] = ranked.filter(F.col("_rn") > k).count()
    return ranked.filter(F.col("_rn") <= k).drop("_rn")


def keep_top_k_partners_symmetric(
    pairs: DataFrame,
    k: int,
    id_a: str,
    id_b: str,
    order: list,
    metrics: dict | None = None,
) -> DataFrame:
    """The TRUE per-doc bound keep_top_k_partners' docstring describes:
    every document — not just the smaller id of each canonical pair —
    keeps its k best partners. Symmetrize the canonical pairs (2x window
    input), rank per endpoint, keep rank <= k, then re-canonicalize and
    distinct: a pair survives iff EITHER endpoint ranks it among its own
    k best (union semantics), so each doc's k best partners are all
    present and total rows stay <= k * n_docs (each doc contributes at
    most k directed keeps, each mapping to one canonical pair).

    ``order`` is evaluated on the non-id columns (hamming, cosine, ...),
    which are symmetric pair properties, plus the ``_other`` endpoint
    column available as a deterministic tiebreaker — pass e.g.
    [F.col('hamming').asc(), F.col('_other').asc()].

    metrics: optional dict — records
    ``metrics['dropped_verified_pairs']`` (canonical pairs removed) at
    the cost of TWO eager jobs (r15 review — the doc previously claimed
    one): a count of the lazily-checkpointed input, and a count of the
    kept set that also materializes the symmetrize + window + distinct
    lineage the returned frame would otherwise run lazily. Costs 2x the window input of the
    canonical-left variant — reach for this when per-doc coverage
    matters (e.g. every doc needs near-dup partners for clustering),
    and the cheaper keep_top_k_partners when only the global k*n bound
    does."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError("top_k_partners must be >= 1")
    rest = [c for c in pairs.columns if c not in (id_a, id_b)]
    if metrics is not None:
        pairs = pairs.localCheckpoint(eager=False)
        n_pairs = pairs.count()
    fwd = pairs.select(
        F.col(id_a).alias("_self"), F.col(id_b).alias("_other"), *rest
    )
    rev = pairs.select(
        F.col(id_b).alias("_self"), F.col(id_a).alias("_other"), *rest
    )
    w = Window.partitionBy("_self").orderBy(*order)
    kept = (
        fwd.union(rev)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            F.least("_self", "_other").alias(id_a),
            F.greatest("_self", "_other").alias(id_b),
            *rest,
        )
        .distinct()
    )
    if metrics is not None:
        kept = kept.localCheckpoint(eager=False)
        metrics["dropped_verified_pairs"] = n_pairs - kept.count()
    return kept


def _simhash_hamming_joined(sig: DataFrame, cand: DataFrame) -> DataFrame:
    """(doc_a, doc_b, hamming) for candidate pairs against a sliced
    (doc_id, sig) signature frame — the single Hamming-verify
    construction shared by the emitter (simhash_neardup_pairs) and the
    audit estimator (estimate_lost_simhash_pairs). The estimator's
    validity rests on verifying with bit-identical semantics to the
    emitter it audits; sharing the construction removes the silent-
    divergence risk a copy carries (r15 review — same class as
    ext.similarity.quantized_cosine_joined)."""
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    hamming = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", hamming.alias("hamming"))
    )


def simhash_neardup_pairs(
    df: DataFrame,
    hamming_max: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int | None = None,
    band_bits: int | None = None,
    max_bucket_size: int | str | None = None,
    top_k_partners: int | None = None,
    top_k_symmetric: bool = False,
    signatures: DataFrame | None = None,
    cap_metrics: dict | None = None,
) -> DataFrame:
    """(doc_a, doc_b, hamming) — candidate pairs from per-band equi-joins,
    verified by exact Hamming distance over the concatenated signature of
    the n_bands bands this call uses. n_bands defaults to hamming_max + 1,
    which by pigeonhole makes candidate recall EXACT (every pair within
    the Hamming budget shares at least one full band). band_bits=None
    defaults to 16 when building signatures here; scale it with
    log2(corpus) (ext.similarity.scaled_band_bits) to hold bucket
    occupancy — and so candidate volume — linear in n; total signature
    bits grow as (hamming_max + 1) * band_bits with no 64-bit ceiling.

    Bounded-output knobs (both default OFF, preserving the exact-recall
    contract; see SCALING.md: when the corpus itself has quadratic pair
    density, no banding parameter bounds the output — only a cap does):

    - max_bucket_size: drop band buckets with more members before the
      candidate self-join (drop_hot_buckets) — candidates become linear in
      n by construction; pairs connected ONLY through hot buckets are lost.
      ``'auto'`` derives the cap from expected bucket occupancy:
      ext.similarity.auto_bucket_cap(n_docs, band_bits) — a no-op on
      corpora whose bucket sizes sit near the occupancy the banding was
      sized for, engaging only on adversarial mass. With ``signatures=``
      the band_bits ARGUMENT feeds the formula (the per-band width is not
      recoverable from the frame), so that combination REQUIRES an
      explicit band_bits matching the passed build — a defaulted width
      would silently mis-size the cap (e.g. deriving a cap of 16 where
      honest occupancy is ~390, dropping nearly every honest bucket) and
      the call raises instead.
    - top_k_partners: after Hamming verification, keep the k closest
      partners per doc_a (ties broken by doc_b) — emitted rows <= k * n.
      The bound is per canonical LEFT id; see keep_top_k_partners for the
      doc_b asymmetry. top_k_symmetric=True routes to
      keep_top_k_partners_symmetric instead: EVERY doc keeps its k closest
      partners (union semantics, still <= k * n rows) at 2x the window
      input — reach for it when per-doc coverage matters (clustering);
      it is exactly symmetrize -> cap -> re-canonicalize (tested).

    cap_metrics: optional dict — when passed, the levers record their
    dropped mass (``hot_buckets`` / ``dropped_band_rows`` /
    ``dropped_verified_pairs``, plus ``max_bucket_size_resolved`` when
    'auto') at the cost of one eager job per engaged lever — the "no
    silent caps" audit path (VERDICT r12 item 2).

    signatures: pass a precomputed (doc_id, sig) frame (the output of
    simhash_band_signatures at the SAME band_bits, with AT LEAST n_bands
    bands) to reuse one signature build across several hamming/cap
    settings — the build is the shared linear-in-n cost; everything
    downstream is per-setting. Band b's hash depends only on (b, chunk),
    so the first n_bands words of a wider signature ARE the n_bands
    signature: both banding and Hamming verification slice to that
    prefix, making the reuse path bit-identical to a direct call at any
    hamming_max within the built band budget (ADVICE r12 — previously the
    Hamming filter ran over ALL passed bands, a strictly tighter
    criterion). Validation runs ONE eager Spark job (min(size(sig)) — every
    row checked, not an arbitrary first row) on a defensive lazy
    localCheckpoint of the passed frame, so the job doubles as the
    materialization and the 3+ downstream consumers read the checkpoint
    instead of re-executing the caller's lineage; a caller that already
    checkpointed pays one extra cached copy, never a recompute."""
    if top_k_partners is None and top_k_symmetric:
        raise ValueError(
            "top_k_symmetric=True needs top_k_partners=<k> — without the "
            "knob there is no bound to symmetrize (refusing to silently "
            "return the unbounded pair stream)"
        )
    # Contract check FIRST (r15 review, same as the cosine twin): a bad
    # cap must not survive to drop_hot_buckets AFTER the eager signature
    # checkpoint — an input error must not cost a production scan.
    if max_bucket_size is not None and max_bucket_size != "auto" and (
        isinstance(max_bucket_size, bool)
        or not isinstance(max_bucket_size, int)
        or max_bucket_size < 1
    ):
        raise ValueError(
            f"max_bucket_size must be an int >= 1, the literal 'auto', or "
            f"None — got {max_bucket_size!r}"
        )
    if n_bands is None:
        n_bands = hamming_max + 1
    n_docs: int | None = None
    if signatures is not None:
        if max_bucket_size == "auto" and band_bits is None:
            raise ValueError(
                "max_bucket_size='auto' with signatures= needs an EXPLICIT "
                "band_bits matching the passed build — the per-band width is "
                "not recoverable from the frame, and a defaulted width would "
                "silently mis-size the occupancy-derived cap"
            )
        # Contract check (ADVICE r13): the reuse path consumes a
        # (doc_id, sig) frame. simhash_band_signatures always emits
        # 'doc_id' whatever id_col it was given, but a caller keying a
        # hand-built frame by its own id column used to hit an opaque
        # AnalysisException deep in the band join — honor id_col by
        # renaming, and name the contract when neither column exists.
        if "doc_id" not in signatures.columns:
            if id_col in signatures.columns:
                signatures = signatures.withColumnRenamed(id_col, "doc_id")
            else:
                raise ValueError(
                    "signatures= must be a (doc_id, sig) frame — the output "
                    "of simhash_band_signatures — or key its ids by this "
                    f"call's id_col; got columns {signatures.columns} with "
                    f"neither 'doc_id' nor id_col={id_col!r}"
                )
        if "sig" not in signatures.columns:
            raise ValueError(
                "signatures= must carry a 'sig' array<long> column (the "
                "output of simhash_band_signatures); got columns "
                f"{signatures.columns}"
            )
        checked = signatures.localCheckpoint(eager=False)
        # One aggregate validates every row AND (for 'auto') captures the
        # doc count — a second full scan for sig.count() would double the
        # eager cost on a large signature frame.
        row = checked.agg(
            F.min(F.size("sig")).alias("nb"), F.count("*").alias("n")
        ).first()
        if row is not None and row["nb"] is not None and row["nb"] < n_bands:
            raise ValueError(
                f"signatures frame has a row with {row['nb']} bands but this "
                f"call needs n_bands={n_bands} (hamming_max + 1 for exact "
                f"recall) — rebuild with simhash_band_signatures(n_bands="
                f"{n_bands})"
            )
        n_docs = row["n"] if row is not None else 0
        sig = checked.select("doc_id", F.slice("sig", 1, n_bands).alias("sig"))
    else:
        if band_bits is None:
            band_bits = 16
        sig = simhash_band_signatures(df, id_col, text_col, n_bands, band_bits)
        sig = sig.localCheckpoint(eager=True)  # one signature build, three consumers
    if max_bucket_size == "auto":
        from glue_etl_framework_spark.ext.similarity import auto_bucket_cap

        if n_docs is None:
            n_docs = sig.count()  # cheap: counts the eager checkpoint
        max_bucket_size = auto_bucket_cap(n_docs, band_bits)
        if cap_metrics is not None:
            cap_metrics["max_bucket_size_resolved"] = max_bucket_size
    bands = sig.select("doc_id", F.posexplode("sig").alias("bidx", "bv"))
    if max_bucket_size is not None:
        bands = drop_hot_buckets(
            bands, max_bucket_size, ["bidx", "bv"], metrics=cap_metrics
        )
    cand = (
        bands.select(F.col("doc_id").alias("doc_a"), "bidx", "bv")
        .join(bands.select(F.col("doc_id").alias("doc_b"), "bidx", "bv"), ["bidx", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    out = _simhash_hamming_joined(sig, cand).filter(F.col("hamming") <= hamming_max)
    if top_k_partners is not None:
        if top_k_symmetric:
            out = keep_top_k_partners_symmetric(
                out,
                top_k_partners,
                "doc_a",
                "doc_b",
                [F.col("hamming").asc(), F.col("_other").asc()],
                metrics=cap_metrics,
            )
        else:
            out = keep_top_k_partners(
                out,
                top_k_partners,
                "doc_a",
                [F.col("hamming").asc(), F.col("doc_b").asc()],
                metrics=cap_metrics,
            )
    return out


def estimate_lost_simhash_pairs(
    signatures: DataFrame,
    hamming_max: int,
    max_bucket_size: int,
    n_bands: int | None = None,
    sample_buckets: int = 16,
    max_members_per_bucket: int = 256,
) -> dict:
    """Turn ``dropped_band_rows`` (an upper BOUND on the recall a bucket
    cap costs) into a measured estimate with a confidence interval
    (VERDICT r13 item 4), for one bounded extra job — run it only when
    ``cap_metrics`` reported the cap engaged.

    Inputs mirror the capped ``simhash_neardup_pairs`` call being audited:
    the SAME ``signatures`` frame (``simhash_band_signatures`` output —
    or a wider build; it is sliced to ``n_bands = hamming_max + 1`` words
    exactly like the emitter), the same ``hamming_max``, and the RESOLVED
    integer cap (read ``cap_metrics['max_bucket_size_resolved']`` after an
    ``'auto'`` run).

    Estimator — Horvitz-Thompson over a two-level deterministic sample:

    1. Hot buckets (size > cap) are sampled STRATIFIED by size: the
       floor(K/2) largest enter with certainty (take-all stratum — hot
       pair mass is heavy-tailed, so the big buckets carry most of it
       and contribute at pi = 1 with zero variance; uniform cluster
       sampling here measured +-30-40% single-draw error at 10x), and
       the remaining draws are md5-uniform over the tail — at least one
       whenever K < H, so no bucket's inclusion probability is ever 0.
    2. Inside each sampled bucket, members are ordered by md5 of
       (bucket, doc_id); the first ``max_members_per_bucket`` (M) are
       kept, so the verify work per bucket is <= M(M-1)/2 no matter how
       adversarial the bucket (a 5,000-doc bucket holds 12.5M pairs;
       at 100 TB an uncapped per-bucket verify would be the same
       quadratic blowup the bucket cap exists to prevent).
    3. Candidate pairs within sampled buckets are deduped GLOBALLY, then
       Hamming-verified against the full sliced signature. A verified
       pair is LOST only if NONE of its agreeing bands is a cold
       (size <= cap) bucket — a pair with any cold agreeing band still
       comes out of the capped emitter, so counting it would overstate
       the cost (this is checked exactly, per pair, against the bucket
       counts).
    4. Each observed lost pair is weighted by 1/pi, where pi is the
       DESIGN's marginal probability of observing it (r14 review fix —
       weighting by the realized sample indicator under-estimated
       systematically): one miss factor per stratum — (1 - q_b) per
       take-all bucket (0 when the pair fits one whole), an exact
       hypergeometric over its fully-coverable TAIL buckets (the chance
       K_rest-of-H_rest draws miss all h of them,
       prod_{j<h}(H_rest-K_rest-j)/(H_rest-j) — at most n_bands
       factors), and independence terms (1 - p_rest * q_b) for
       member-capped tail buckets; q_b = M(M-1)/(m_b(m_b-1)) is the
       chance both endpoints land in bucket b's M-member prefix.

    Returns a dict: ``hot_buckets`` / ``hot_pair_mass`` (the old upper
    bound, for comparison) / ``sampled_buckets`` /
    ``observed_lost_pairs`` / ``est_lost_pairs`` / ``ci95`` (+-, normal
    approximation over sum (1-pi)/pi^2) / ``ci95_design`` + ``ci_method``
    (the design-based interval, below) / ``exact`` (True when every hot
    bucket was sampled whole: the estimate then EQUALS the true lost-pair
    count and both CIs are 0, pinned by test and by the probes —
    exhaustive runs reproduced the recorded truths exactly at BOTH 1x
    (2,196,041 pairs, 20.3s vs the 66.1s uncapped emit) and 10x
    (6,995,840)).

    Two intervals (r15, VERDICT r14 item 4): ``ci95`` treats observed
    pairs as independent, but tail-bucket sampling is CLUSTER sampling —
    all pairs of one bucket enter together — so it understates the real
    single-draw error (measured in probes/recall_estimator_r14.txt).
    ``ci95_design`` is the honest one: a delete-one jackknife over the
    uniform tail draws (each replicate re-weights under the K-1-draw
    design and drops pairs only that bucket caught), with finite-
    population correction, plus a conditional-on-draw member-cap term
    for EVERY observed pair (sum (1 - pi_mem)/pi^2, pi_mem = the pair's
    catch probability given the realized bucket draw) — pairs the
    jackknife sees as constants (take-all catches, >= 2 tail catches)
    still carry member-cap Bernoulli randomness, measured as an
    up-to-2x sd understatement on capped-agreement fixtures before this
    term (r15 second review). ``ci_method`` says how it was computed:
    ``jackknife`` (>= 2 tail draws), ``nominal`` (< 2 tail draws —
    nothing to jackknife over, falls back to ci95), or ``exact``.
    Prefer ci95_design; sizing guidance stands: cover at least half the
    reported ``hot_buckets`` (whole, not member-capped) or run
    exhaustive when hot_buckets is small.

    Cost: the signature checkpoint, two count-style aggregates, one
    verify join bounded by sample_buckets * M^2 / 2 candidates — never
    the uncapped emit — and (non-exact runs) two bounded aggregates over
    the checkpointed observed-pair frame for the jackknife.

    The cosine twin is estimate_lost_hyperplane_pairs; both are thin
    wrappers over the same _estimate_lost_pairs_core (the estimator is
    emitter-family-agnostic: it needs only the band frame and a verify
    predicate)."""
    if n_bands is None:
        n_bands = hamming_max + 1
    if "doc_id" not in signatures.columns or "sig" not in signatures.columns:
        raise ValueError(
            "signatures must be a (doc_id, sig) frame — the output of "
            f"simhash_band_signatures; got columns {signatures.columns}"
        )
    sig = signatures.select(
        "doc_id", F.slice("sig", 1, n_bands).alias("sig")
    ).localCheckpoint(eager=True)
    # Same width contract as the emitter (r14 review): slicing a
    # too-narrow frame would silently verify over fewer bands — a WRONG
    # measurement, not an error. One cheap aggregate on the checkpoint.
    nb = sig.agg(F.min(F.size("sig")).alias("nb")).first()["nb"]
    if nb is not None and nb < n_bands:
        raise ValueError(
            f"signatures frame has a row with {nb} bands but this audit "
            f"needs n_bands={n_bands} (hamming_max + 1) — rebuild with "
            f"simhash_band_signatures(n_bands={n_bands})"
        )
    bands = sig.select("doc_id", F.posexplode("sig").alias("bidx", "bv"))

    def verify(cand: DataFrame) -> DataFrame:
        return (
            _simhash_hamming_joined(sig, cand)
            .filter(F.col("hamming") <= hamming_max)
            .select("doc_a", "doc_b")
        )

    return _estimate_lost_pairs_core(
        bands, verify, max_bucket_size, sample_buckets, max_members_per_bucket
    )


def estimate_lost_hyperplane_pairs(
    df: DataFrame,
    threshold: float,
    max_bucket_size: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bands: int = 2,
    band_bits: int | None = None,
    dim: int = 64,
    n_rows: int | None = None,
    sample_buckets: int = 16,
    max_members_per_bucket: int = 256,
) -> dict:
    """The cosine twin of estimate_lost_simhash_pairs: measure what an
    engaged bucket cap cost a capped ``lsh_neardup_pairs`` run. Inputs
    mirror the emitter call being audited (same banding parameters, same
    quantized-cosine verify, same scaled_band_bits default), with the
    RESOLVED integer cap. Semantics, sampling design, output keys, and
    the CI caveat are exactly the shared core's — see
    estimate_lost_simhash_pairs."""
    from glue_etl_framework_spark.ext.similarity import (
        assert_vector_dim,
        banded_signatures,
        quantize_embeddings,
        quantized_cosine_joined,
        scaled_band_bits,
    )

    if band_bits is None:
        n = n_rows if n_rows is not None else df.count()
        band_bits = scaled_band_bits(n)
    v = quantize_embeddings(df, id_col, vec_col).localCheckpoint(eager=True)
    # Near-free aggregate on the checkpoint; same silent-collapse guard
    # as the emitter (r15 review).
    assert_vector_dim(v, "q", dim)
    # The banding projection (n_bands * band_bits hyperplane dot products
    # per row) feeds the core's bucket counts, member join, and BOTH sides
    # of the agree join — materialize it once, as the emitter itself does.
    bands = (
        banded_signatures(v, n_bands=n_bands, band_bits=band_bits, dim=dim)
        .select(F.col("vec_id").alias("doc_id"), "bidx", "bv")
        .localCheckpoint(eager=True)
    )

    def verify(cand: DataFrame) -> DataFrame:
        # Shared with the emitter (quantized_cosine_joined) so the audit
        # verifies with bit-identical cosine semantics (r15 review).
        return (
            quantized_cosine_joined(v, cand, "doc_a", "doc_b")
            .filter(F.col("cosine") >= threshold)
            .select("doc_a", "doc_b")
        )

    return _estimate_lost_pairs_core(
        bands, verify, max_bucket_size, sample_buckets, max_members_per_bucket
    )


def _estimate_lost_pairs_core(
    bands: DataFrame,
    verify,
    max_bucket_size: int,
    sample_buckets: int,
    max_members_per_bucket: int,
) -> dict:
    """Shared Horvitz-Thompson machinery behind the two estimate_lost_*
    wrappers. ``bands`` is the (doc_id, bidx, bv) band frame the capped
    emitter bucketed on (its lineage should end at a checkpoint — both
    wrappers guarantee that); ``verify`` maps a candidate (doc_a, doc_b)
    frame to its verified subset. Agreeing bands per verified pair come
    from joining the band frame on both endpoints — emitter-agnostic,
    and identical to the signature-array formulation for simhash (a band
    agrees iff both docs share its (bidx, bv) bucket)."""
    if max_bucket_size < 1:
        raise ValueError("max_bucket_size must be a resolved integer cap >= 1")
    if sample_buckets < 1 or max_members_per_bucket < 2:
        raise ValueError("need sample_buckets >= 1 and max_members_per_bucket >= 2")
    from pyspark.sql import Window

    counts = bands.groupBy("bidx", "bv").agg(F.count("*").alias("m")).localCheckpoint(
        eager=False
    )
    hot = counts.filter(F.col("m") > max_bucket_size)
    hot_stats = hot.agg(
        F.count("*").alias("h"),
        F.coalesce(F.sum(F.col("m") * (F.col("m") - 1) / 2), F.lit(0.0)).alias("w"),
    ).first()
    n_hot, hot_pair_mass = hot_stats["h"], float(hot_stats["w"])
    out = {
        "hot_buckets": n_hot,
        "hot_pair_mass": hot_pair_mass,
        "sampled_buckets": min(sample_buckets, n_hot),
        "observed_lost_pairs": 0,
        "est_lost_pairs": 0.0,
        "ci95": 0.0,
        "ci95_design": 0.0,
        "ci_method": "exact",
        "exact": True,
    }
    if n_hot == 0:
        return out
    # Deterministic STRATIFIED bucket sample (metadata-sized collects):
    # hot-bucket pair mass is heavy-tailed (sum m^2-shaped), so uniform
    # cluster sampling swings wildly — measured +-30-40% at 10x with
    # K=H/8..H/2 (probes/recall_estimator_r14.txt). Take-all stratum T =
    # the floor(K/2) LARGEST buckets (certainty units: they carry most
    # of the mass, so most lost pairs get pi = 1 and contribute zero
    # variance); the remaining draws are md5-uniform over the tail.
    # floor, not ceil (r14 second review): whenever K < H the tail
    # stratum keeps >= 1 uniform draw, so no unsampled bucket ever has
    # inclusion probability zero — at K=1 the design degenerates to one
    # unbiased uniform draw rather than silently dropping the whole tail
    # with a zero CI. With K >= H every bucket is a certainty unit and
    # the design degenerates to the exact mode.
    t_size = n_hot if sample_buckets >= n_hot else sample_buckets // 2
    take_all = hot.orderBy(F.col("m").desc(), "bidx", "bv").limit(t_size)
    t_keys = [(r["bidx"], r["bv"], r["m"]) for r in take_all.collect()]
    t_df = F.broadcast(
        bands.sparkSession.createDataFrame(t_keys, ["bidx", "bv", "m"])
        if t_keys
        else bands.sparkSession.createDataFrame([], "bidx int, bv long, m long")
    )
    rest_k = min(sample_buckets, n_hot) - len(t_keys)
    rest_keys: list = []
    if rest_k > 0:
        rest = (
            hot.join(t_df.select("bidx", "bv"), ["bidx", "bv"], "left_anti")
            .orderBy(F.md5(F.concat_ws(":", "bidx", "bv")), "bidx", "bv")
            .limit(rest_k)
        )
        rest_keys = [(r["bidx"], r["bv"], r["m"]) for r in rest.collect()]
    n_rest_hot = n_hot - len(t_keys)  # tail population the uniform draws see
    p_rest = (len(rest_keys) / n_rest_hot) if n_rest_hot > 0 else 0.0
    sampled_keys = t_keys + rest_keys
    sampled_df = F.broadcast(
        bands.sparkSession.createDataFrame(sampled_keys, ["bidx", "bv", "m"])
    )
    mw = Window.partitionBy("bidx", "bv").orderBy(
        F.md5(F.concat_ws(":", "bidx", "bv", "doc_id")), "doc_id"
    )
    members = (
        bands.join(sampled_df.select("bidx", "bv"), ["bidx", "bv"])
        .withColumn("_mr", F.row_number().over(mw))
        .filter(F.col("_mr") <= max_members_per_bucket)
        .select("bidx", "bv", "doc_id")
    )
    cand = (
        members.select(F.col("doc_id").alias("doc_a"), "bidx", "bv")
        .join(members.select(F.col("doc_id").alias("doc_b"), "bidx", "bv"), ["bidx", "bv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    verified = verify(cand)
    # Agreeing bands per verified pair, classified hot/cold + sampled
    # against the SAME counts the cap used: a band agrees iff both docs
    # share its (bidx, bv) bucket, so joining the band frame on both
    # endpoints enumerates them without any signature-format knowledge.
    agree = verified.join(
        bands.select(F.col("doc_id").alias("doc_a"), "bidx", "bv"), "doc_a"
    ).join(
        bands.select(F.col("doc_id").alias("doc_b"), "bidx", "bv"),
        ["doc_b", "bidx", "bv"],
    )
    q_b = F.when(
        F.col("m") <= max_members_per_bucket, F.lit(1.0)
    ).otherwise(
        F.lit(float(max_members_per_bucket * (max_members_per_bucket - 1)))
        / (F.col("m").cast("double") * (F.col("m") - 1))
    )
    classified = (
        agree.join(counts, ["bidx", "bv"])
        .join(
            t_df.select("bidx", "bv", F.lit(True).alias("_in_t")),
            ["bidx", "bv"],
            "left",
        )
        .join(
            sampled_df.select("bidx", "bv", F.lit(True).alias("_in_s")),
            ["bidx", "bv"],
            "left",
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("m") <= max_bucket_size).alias("cold"),
            F.coalesce("_in_t", F.lit(False)).alias("in_t"),
            F.coalesce("_in_s", F.lit(False)).alias("in_s"),
            q_b.alias("q"),
        )
    )
    # pi per pair = the DESIGN's marginal probability of observing it, NOT
    # the realized sample indicator (r14 review: weighting by I[b in S]
    # gave weight 1 to any pair caught in a sampled whole bucket even when
    # its true inclusion probability was K/H — a systematically LOW
    # estimate reported with a zero CI). pi composes one miss-probability
    # factor per design stratum; a pair is observed iff ANY of its hot
    # agreeing buckets catches it:
    #
    # - take-all stratum T (the largest buckets, drawn with certainty):
    #   bucket b misses the pair only through the member cap, prob
    #   (1 - q_b); any T bucket the pair fits in whole catches it
    #   surely -> pi = 1, zero variance — the mass-dominant case;
    # - uniform tail: the chance NO tail draw of K_rest from H_rest hits
    #   any of the pair's h fully-coverable tail buckets is exactly
    #   hypergeometric, C(H_rest-h,K_rest)/C(H_rest,K_rest) =
    #   prod_{j<h}(H_rest-K_rest-j)/(H_rest-j) — at most n_bands factors;
    #   member-capped tail buckets each contribute (1 - p_rest * q_b),
    #   taken independent (the honest approximation layer).
    #
    # With K >= H every bucket is in T, so exact mode degenerates to
    # pi = 1 for any pair with a fully-coverable hot bucket.
    n_rest_k = len(rest_keys)
    max_sampled_m = max((m for _, _, m in sampled_keys), default=0)
    exact_mode = (
        n_hot <= len(sampled_keys) and max_sampled_m <= max_members_per_bucket
    )
    # The jackknife needs >= 2 tail draws and a non-exact design; known
    # BEFORE the verify pass, so the replicate-weight columns (an extra
    # sequence-allocating hypergeometric per observed pair) are built
    # only when they will actually be read — exhaustive mode keeps the
    # r14 single-pass shape.
    will_jackknife = not exact_mode and n_rest_k >= 2
    # p under the delete-one-jackknife replicate design: the K_rest - 1
    # surviving tail draws are SRSWOR(K_rest - 1, H_rest) — used only when
    # K_rest >= 2, so pi_jk is bounded away from 0 for any observed pair.
    p_rest_jk = ((n_rest_k - 1) / n_rest_hot) if (n_rest_hot > 0 and n_rest_k >= 1) else 0.0
    agg_cols = [
        F.max(F.col("cold")).alias("survives"),
        F.max((~F.col("cold")) & F.col("in_t") & (F.col("q") >= 1.0)).alias("t_full"),
        F.sum(
            F.when(
                (~F.col("cold")) & F.col("in_t") & (F.col("q") < 1.0),
                F.log(1.0 - F.col("q")),
            ).otherwise(F.lit(0.0))
        ).alias("logterm_t"),
        F.sum(
            F.when((~F.col("cold")) & (~F.col("in_t")) & (F.col("q") >= 1.0), 1).otherwise(0)
        ).alias("h_rest"),
        F.sum(
            F.when(
                (~F.col("cold")) & (~F.col("in_t")) & (F.col("q") < 1.0),
                F.log(1.0 - p_rest * F.col("q")),
            ).otherwise(F.lit(0.0))
        ).alias("logterm_rest"),
    ]
    if will_jackknife:
        agg_cols.append(
            F.sum(
                F.when(
                    (~F.col("cold")) & (~F.col("in_t")) & (F.col("q") < 1.0),
                    F.log(1.0 - p_rest_jk * F.col("q")),
                ).otherwise(F.lit(0.0))
            ).alias("logterm_rest_jk")
        )
        # pi_mem inputs: the pair's catch probability GIVEN the realized
        # draw (all sampled agreeing hot buckets, take-all AND drawn
        # tail). A sampled fully-coverable agreeing bucket catches with
        # certainty; member-capped ones miss with prob (1 - q_b) each.
        agg_cols += [
            F.max(
                (~F.col("cold")) & F.col("in_s") & (F.col("q") >= 1.0)
            ).alias("mem_certain"),
            F.sum(
                F.when(
                    (~F.col("cold")) & F.col("in_s") & (F.col("q") < 1.0),
                    F.log(1.0 - F.col("q")),
                ).otherwise(F.lit(0.0))
            ).alias("logterm_mem"),
        ]
    per_pair = classified.groupBy("doc_a", "doc_b").agg(*agg_cols)
    h = F.col("h_rest")

    def _hyper(k_draws: int):
        """P(no tail draw hits any of the pair's h fully-coverable tail
        buckets) for a SRSWOR of k_draws from the H_rest tail."""
        return (
            F.when(h <= 0, F.lit(1.0))
            .when(h > n_rest_hot - k_draws, F.lit(0.0))
            .otherwise(
                F.aggregate(
                    F.sequence(F.lit(0), h - 1),
                    F.lit(1.0),
                    lambda acc, j: acc
                    * (F.lit(float(n_rest_hot - k_draws)) - j)
                    / (F.lit(float(n_rest_hot)) - j),
                )
            )
        )

    miss_t = F.when(F.col("t_full"), F.lit(0.0)).otherwise(F.exp(F.col("logterm_t")))
    pi = 1.0 - miss_t * _hyper(n_rest_k) * F.exp(F.col("logterm_rest"))
    sel_cols = [
        F.col("doc_a"),
        F.col("doc_b"),
        pi.alias("pi"),
    ]
    if will_jackknife:
        pi_jk = 1.0 - miss_t * _hyper(n_rest_k - 1) * F.exp(F.col("logterm_rest_jk"))
        sel_cols.append(F.greatest(pi_jk, F.lit(1e-300)).alias("pi_jk"))
        # pi_mem: P(pair caught | realized bucket draw) — Bernoulli
        # member-cap randomness the delete-one jackknife cannot see for
        # pairs that survive every replicate (take-all catches or >= 2
        # tail catches; measured understatement on capped-agreement
        # fixtures, r15 second review). 1 when any sampled agreeing
        # bucket is fully coverable (certain catch given the draw), so
        # fully-covered designs keep a zero member term.
        pi_mem = F.when(F.col("mem_certain"), F.lit(1.0)).otherwise(
            1.0 - F.exp(F.col("logterm_mem"))
        )
        sel_cols.append(pi_mem.alias("pi_mem"))
    lost = per_pair.filter(~F.col("survives")).select(*sel_cols)
    if will_jackknife:
        # The jackknife makes a second pass over the observed pairs —
        # materialize once. Exact/fallback runs keep the old single-pass
        # streaming aggregate (exhaustive mode's observed frame is the
        # whole lost set; holding it in the block manager buys nothing).
        lost = lost.localCheckpoint(eager=True)
    est_cols = [
        F.count("*").alias("n_obs"),
        F.coalesce(F.sum(1.0 / F.col("pi")), F.lit(0.0)).alias("est"),
        F.coalesce(
            F.sum((1.0 - F.col("pi")) / (F.col("pi") * F.col("pi"))), F.lit(0.0)
        ).alias("var"),
    ]
    if will_jackknife:
        est_cols += [
            F.coalesce(F.sum(1.0 / F.col("pi_jk")), F.lit(0.0)).alias("s_jk"),
            # Conditional-on-draw member-cap variance, estimated from the
            # observed sample (observed w.p. pi_mem given the draw):
            # sum (1 - pi_mem) / pi^2. Reduces to the classic HT term
            # (1 - pi)/pi^2 for pure take-all pairs (pi_mem = pi there)
            # and to 0 for pairs certain given the draw.
            F.coalesce(
                F.sum(
                    (1.0 - F.col("pi_mem")) / (F.col("pi") * F.col("pi"))
                ),
                F.lit(0.0),
            ).alias("var_mem"),
        ]
    est = lost.agg(*est_cols).first()
    out["observed_lost_pairs"] = est["n_obs"]
    out["est_lost_pairs"] = round(float(est["est"]), 2)
    out["ci95"] = round(1.96 * float(est["var"]) ** 0.5, 2)
    out["exact"] = exact_mode
    # Design-based CI (VERDICT r14 item 4): the nominal ci95 treats
    # observed pairs as independent, but tail-bucket sampling is CLUSTER
    # sampling — all of one bucket's pairs enter together — and the probe
    # file measured the understatement directly. Delete-one jackknife over
    # the K_rest uniform tail draws: replicate j re-weights every pair
    # under the (K_rest - 1)-draw design (pi_jk) and drops the pairs whose
    # ONLY realized catches were bucket j (pairs with a take-all catch or
    # >= 2 tail catches survive every replicate). var_jack =
    # (K-1)/K * sum_j (est_-j - mean)^2 * (1 - K/H) [fpc], the textbook
    # SRSWOR cluster-total jackknife when pairs live in single buckets.
    # Pairs that survive every replicate (a take-all catch or >= 2 tail
    # catches) contribute no jackknife spread, yet their member-cap
    # Bernoulli randomness is real — measured as a up-to-2x sd
    # understatement on capped-agreement fixtures (r15 second review,
    # probes/recall_adversarial_r15.txt). The var_mem term closes it by
    # the law of total variance: var_jack estimates the between-draw
    # component, var_mem the within-draw member-cap component
    # (sum (1 - pi_mem)/pi^2 over observed pairs, pi_mem = catch prob
    # GIVEN the realized draw — the pure-take-all term is its special
    # case, and fully-covered designs keep var_mem = 0). Single-catch
    # capped-tail pairs appear in both terms; the overlap over-counts,
    # i.e. errs conservative. With K_rest < 2 no design variance is
    # estimable from one draw — fall back to the nominal CI, labeled.
    if out["exact"]:
        out["ci95_design"] = 0.0
        out["ci_method"] = "exact"
    elif will_jackknife:
        mem_a = members.select(F.col("doc_id").alias("doc_a"), "bidx", "bv")
        mem_b = members.select(F.col("doc_id").alias("doc_b"), "bidx", "bv")
        catches = (
            lost.select("doc_a", "doc_b")
            .join(mem_a, "doc_a")
            .join(mem_b, ["doc_b", "bidx", "bv"])
            .join(
                t_df.select("bidx", "bv", F.lit(True).alias("_ct")),
                ["bidx", "bv"],
                "left",
            )
            .select(
                "doc_a",
                "doc_b",
                F.coalesce("_ct", F.lit(False)).alias("in_t"),
                F.concat_ws(":", "bidx", "bv").alias("bkey"),
            )
        )
        catch_shape = catches.groupBy("doc_a", "doc_b").agg(
            F.max("in_t").alias("caught_t"),
            F.count_distinct(
                F.when(~F.col("in_t"), F.col("bkey"))
            ).alias("n_tail_catch"),
            F.min(F.when(~F.col("in_t"), F.col("bkey"))).alias("tail_key"),
        )
        d_rows = (
            lost.join(catch_shape, ["doc_a", "doc_b"])
            .filter((~F.col("caught_t")) & (F.col("n_tail_catch") == 1))
            .groupBy("tail_key")
            .agg(F.sum(1.0 / F.col("pi_jk")).alias("d"))
            .collect()
        )
        d_map = {r["tail_key"]: float(r["d"]) for r in d_rows}
        s_jk = float(est["s_jk"])
        reps = [s_jk - d_map.get(f"{bi}:{bv}", 0.0) for bi, bv, _m in rest_keys]
        mean_rep = sum(reps) / len(reps)
        fpc = max(0.0, 1.0 - n_rest_k / n_rest_hot) if n_rest_hot > 0 else 0.0
        var_jack = (
            (n_rest_k - 1) / n_rest_k
            * sum((r - mean_rep) ** 2 for r in reps)
            * fpc
        )
        out["ci95_design"] = round(
            1.96 * (var_jack + float(est["var_mem"])) ** 0.5, 2
        )
        out["ci_method"] = "jackknife"
    else:
        out["ci95_design"] = out["ci95"]
        out["ci_method"] = "nominal"
    return out
