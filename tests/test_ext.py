"""Property/metamorphic tests for the EXT operators (SURVEY.md §5):
dedup idempotence, planted near-duplicates recovered, LSH recall vs the
exact baseline, multimodal plumbing with the fake decoder."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from glue_etl_framework_spark.ext import dedup as D
from glue_etl_framework_spark.ext import multimodal as M
from glue_etl_framework_spark.ext import similarity as S
from glue_etl_framework_spark.ext import text as X
from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_SMOKE}/documents.parquet")


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


@pytest.fixture(scope="module")
def quantized(embeddings):
    return S.quantize_embeddings(embeddings)


# ------------------------------------------------------------------ dedup --

def test_minhash_finds_planted_duplicates(spark, docs):
    base = docs.limit(50)
    # plant: copy of doc with ids shifted by 10_000 — exact dup (J=1.0)
    planted = base.withColumn("doc_id", F.col("doc_id") + 10_000)
    corpus = base.unionByName(planted)
    pairs = D.minhash_banded_candidate_pairs(corpus)
    found = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    expected = {(r.doc_id, r.doc_id + 10_000) for r in base.collect()}
    recall = len(found & expected) / len(expected)
    assert recall >= 0.9, f"planted-dup recall {recall}"


def test_dedup_idempotent(spark, docs):
    base = docs.limit(40)
    planted = base.withColumn("doc_id", F.col("doc_id") + 10_000)
    corpus = base.unionByName(planted)
    pairs = D.minhash_banded_candidate_pairs(corpus)
    once = D.dedup_keep_representative(corpus, pairs, a_col="doc_a", b_col="doc_b")
    pairs2 = D.minhash_banded_candidate_pairs(once)
    twice = D.dedup_keep_representative(once, pairs2, a_col="doc_a", b_col="doc_b")
    assert once.count() == twice.count()  # dedup(dedup(X)) == dedup(X)
    assert once.count() <= base.count()  # all planted dups collapsed
    # representatives are the original (min) ids
    assert once.filter(F.col("doc_id") >= 10_000).count() == 0


def test_connected_components_transitivity(spark):
    df = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    # chain 0-1-2 and pair 4-5: components {0,1,2}, {3}, {4,5}
    pairs = spark.createDataFrame([(0, 1), (1, 2), (4, 5)], "id_a long, id_b long")
    kept = D.dedup_keep_representative(df, pairs)
    assert sorted(r.doc_id for r in kept.collect()) == [0, 3, 4]


def test_connected_components_string_ids(spark):
    """r15 review: the old sum(label) convergence probe cast string ids
    to NULL, so None == None declared false convergence after ONE round
    and a 3-chain got inconsistent labels (z labeled y, y labeled x)
    with cc_converged=True. The xxhash64-XOR fingerprint is
    type-agnostic; the chain must fully collapse to its min id."""
    df = spark.createDataFrame([("x",), ("y",), ("z",), ("lone",)], "doc_id string")
    pairs = spark.createDataFrame([("x", "y"), ("y", "z")], "id_a string, id_b string")
    m: dict = {}
    labels = D.connected_component_labels(df, pairs, metrics=m)
    got = {r["node"]: r["label"] for r in labels.collect()}
    assert got == {"x": "x", "y": "x", "z": "x", "lone": "lone"}
    assert m["cc_converged"] is True and m["cc_rounds"] >= 2
    kept = D.dedup_keep_representative(df, pairs)
    assert sorted(r.doc_id for r in kept.collect()) == ["lone", "x"]


def test_connected_components_hash_magnitude_ids(spark):
    """r15 review: under Spark 4 ANSI arithmetic the old sum probe
    overflowed on xxhash64-magnitude long ids at the very first
    aggregate; the fingerprint probe must handle them."""
    big = 9_200_000_000_000_000_000
    ids = [big, big - 1, big - 2]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    pairs = spark.createDataFrame(
        [(ids[0], ids[1]), (ids[1], ids[2])], "id_a long, id_b long"
    )
    labels = D.connected_component_labels(df, pairs)
    assert {r["label"] for r in labels.collect()} == {big - 2}


def test_connected_components_accept_emitter_pair_columns(spark):
    """r15 review: every production emitter in the module emits
    doc_a/doc_b while the CC entry points hard-coded id_a/id_b, so the
    module's own documented composition (emitter -> cluster pick)
    needed a manual rename at every call site. a_col/b_col close it."""
    df = spark.createDataFrame([(i,) for i in range(4)], "doc_id long")
    pairs = spark.createDataFrame([(0, 1), (2, 3)], "doc_a long, doc_b long")
    kept = D.dedup_keep_representative(df, pairs, a_col="doc_a", b_col="doc_b")
    assert sorted(r.doc_id for r in kept.collect()) == [0, 2]
    two = D.connected_component_labels_twophase(
        df, pairs, a_col="doc_a", b_col="doc_b"
    )
    assert {r["node"]: r["label"] for r in two.collect()} == {0: 0, 1: 0, 2: 2, 3: 2}


# ------------------------------------------------------------- similarity --

def test_lsh_input_guards(spark, embeddings, quantized):
    """r15 review guards: (a) a dim mismatch must raise a clear error
    instead of silently zeroing every signature (one bucket, O(n^2)
    candidates with bit-correct results); (b) a bad cap must fail at
    entry, before the eager full-corpus checkpoints; (c) out-of-range
    knobs raise like their siblings."""
    short = embeddings.select(
        "vec_id", F.slice("embedding", 1, 32).alias("embedding")
    )
    short_q = S.quantize_embeddings(short)
    with pytest.raises(ValueError, match="dim=64"):
        S.ann_topk_lsh(short_q, short_q.limit(2))
    with pytest.raises(ValueError, match="dim=64"):
        S.lsh_neardup_pairs(short, band_bits=8)
    for bad in ("Auto", "32", 0, -1, True):
        with pytest.raises(ValueError, match="max_bucket_size"):
            S.lsh_neardup_pairs(embeddings, band_bits=8, max_bucket_size=bad)
        with pytest.raises(ValueError, match="max_bucket_size"):
            D.simhash_neardup_pairs(
                spark.createDataFrame([(1, "a b c")], ["doc_id", "text"]),
                max_bucket_size=bad,
            )
    with pytest.raises(ValueError, match="n_probe"):
        S.ivf_topk(quantized, quantized.limit(1), n_probe=0)
    with pytest.raises(ValueError, match="band_bits"):
        S.ann_topk_lsh(quantized, quantized.limit(2), band_bits=64)


def test_ann_lsh_recall_vs_bruteforce(spark, quantized):
    queries = quantized.filter(F.col("vec_id") < 15)
    exact = S.brute_force_topk(quantized, queries, k=5)
    # few bits per band + many bands: the fixture embeddings are weakly
    # clustered (top-5 neighbor cosine ~0.3-0.5), so per-plane collision
    # ~0.6 needs short bands for usable recall
    approx = S.ann_topk_lsh(quantized, queries, k=5, n_bands=8, band_bits=4)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"ANN recall vs exact top-5: {recall}"


def test_ann_candidates_subset_semantics(spark, quantized):
    # every ANN result's cosine must equal the exact cosine (scores are
    # exact; only the candidate set is approximate)
    queries = quantized.filter(F.col("vec_id") < 5)
    approx = S.ann_topk_lsh(quantized, queries, k=3, n_bands=3, band_bits=8)
    exact = S.brute_force_topk(quantized, queries, k=quantized.count())
    ex = {(r.query_id, r.neighbor_id): r.cosine for r in exact.collect()}
    rows = approx.collect()
    assert rows
    for r in rows:
        assert abs(ex[(r.query_id, r.neighbor_id)] - r.cosine) < 1e-9


def test_brp_lsh_similarity_join(spark, embeddings):
    """Planted identical vectors are found by the banded-hyperplane pair
    emitter (the pyspark.ml BucketedRandomProjectionLSH path this test
    once covered is gone; identical vectors share every band)."""
    small = embeddings.limit(100)
    planted = small.withColumn("vec_id", F.col("vec_id") + 10_000)
    corpus = small.unionByName(planted)
    pairs = S.lsh_neardup_pairs(corpus, threshold=0.99, band_bits=8)
    found = {(r.vec_a, r.vec_b) for r in pairs.collect()}
    expected = {(r.vec_id, r.vec_id + 10_000) for r in small.collect()}
    recall = len(found & expected) / len(expected)
    assert recall >= 0.9, f"identical-vector recall {recall}"


# ------------------------------------------------------------------- text --

def test_quality_features_ranges(spark, docs):
    out = X.quality_features(docs).limit(200).collect()
    for r in out:
        assert 0 <= r.stopword_ratio <= 1
        assert 0 <= r.punct_ratio <= 1
        assert 0 < r.lexical_diversity <= 1
        assert r.est_bpe_tokens >= r.n_words_q  # BPE estimate >= word count


def test_quality_features_empty_stopwords_counts_none(spark):
    df = spark.createDataFrame([(1, "the cat")], "doc_id long, text string")
    assert X.quality_features(df).first().stopword_ratio == 0.5
    assert X.quality_features(df, stopwords=[]).first().stopword_ratio == 0.0


def test_language_scores_lexicon_arguments(spark):
    df = spark.createDataFrame(
        [(1, "the cat"), (2, "zzz"), (3, None)], "doc_id long, text string"
    )
    out = X.language_scores(df, lexicons={"en": ["the", "a"]}).orderBy("doc_id").collect()
    assert [(r.score_en, r.lang_predicted) for r in out] == [
        (1, "en"), (0, "unknown"), (None, "unknown"),
    ]
    with pytest.raises(ValueError, match="lexicons"):
        X.language_scores(df, lexicons={})
    with pytest.raises(ValueError, match="lexicons"):
        X.predict_language(F.split("text", " "), {})


def test_language_scores_argmax(spark):
    import duckdb

    from glue_etl_framework_spark.queries.llmops import _predict_case_sql
    from glue_etl_framework_spark.queries.text import LEXICONS, lexicon_hits_sql

    rows = [
        (1, "the cat is in the house and it is big"),
        (2, "el gato que vive en la casa"),
        (3, "zzz qqq xxx"),
        (4, None),
        (5, ""),
        (6, "la de que"),  # es/fr tie: the earlier lexicon wins
        (7, "the el"),  # en/es tie
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.lang_predicted for r in X.language_scores(df).collect()}
    assert out == {1: "en", 2: "es", 3: "unknown", 4: "unknown", 5: "unknown",
                   6: "es", 7: "en"}

    # The registry's argmax (pinned lexicons over single-space tokens)
    # equals the oracle's CASE chain row for row, nulls and ties included.
    words = F.split("text", " ")
    got = sorted(
        tuple(r)
        for r in df.select(
            "doc_id",
            X.predict_language(words, LEXICONS),
            X.lexicon_hits(words, LEXICONS["en"]),
        ).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(
        con.execute(
            f"SELECT doc_id, {_predict_case_sql()}, {lexicon_hits_sql(LEXICONS['en'])} "
            "FROM documents"
        ).fetchall()
    )
    assert got == want
    by_id = {r[0]: r[1:] for r in got}
    assert by_id[4] == ("unknown", None) and by_id[5] == ("unknown", 0)
    assert by_id[6][0] == "es" and by_id[7][0] == "en"


def test_rolling_fingerprints_copy_detection(spark, docs):
    a = docs.limit(20)
    b = a.withColumn("doc_id", F.col("doc_id") + 10_000)  # verbatim copies
    fps = X.rolling_fingerprints(a.unionByName(b))
    # verbatim copies share every fingerprint -> join on fingerprint links them
    links = (
        fps.alias("x").join(fps.alias("y"), "fingerprint")
        .filter(F.col("x.doc_id") + 10_000 == F.col("y.doc_id"))
        .select("x.doc_id").distinct().count()
    )
    assert links == 20


def test_tokenize_strips_punct(spark):
    df = spark.createDataFrame([(1, "Hello, World!  foo-bar")], "id int, text string")
    toks = X.tokenize(df).first().tokens
    assert toks == ["hello", "world", "foo", "bar"]


# ------------------------------------------------------------- multimodal --

def test_multimodal_pipeline_fake_decoder(spark, docs):
    blobs = M.attach_binary_payload(docs.limit(30))
    meta = M.binary_metadata(blobs)
    assert meta.filter(F.col("byte_len") > 0).count() == 30
    assert meta.first().sha256 is not None
    feats = M.extract_image_features(blobs, decoder=M.fake_image_decoder, partitions=2)
    rows = feats.collect()
    assert len(rows) == 30
    for r in rows:
        assert r.width >= 16 and r.height >= 16 and 0 <= r.mean_luma <= 1


def test_multimodal_default_decoder_is_stub(spark, docs):
    blobs = M.attach_binary_payload(docs.limit(1))
    with pytest.raises(Exception) as ei:
        M.extract_image_features(blobs).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(ei.value, NotImplementedError)


def test_frame_sampling(spark, docs):
    blobs = M.attach_binary_payload(docs.limit(5))
    frames = M.sample_frames(blobs, every_nth=2, frame_size=16)
    got = frames.groupBy("doc_id").agg(F.count("*").alias("n"), F.min("frame_index").alias("lo")).collect()
    for r in got:
        assert r.n >= 1 and r.lo == 0
    # frame indices are the sampled (even) positions
    idx = sorted(r.frame_index for r in frames.filter(F.col("doc_id") == got[0].doc_id).collect())
    assert all(i % 2 == 0 for i in idx)


def test_ivf_topk_recall_vs_bruteforce(spark, quantized):
    queries = quantized.filter(F.col("vec_id") < 8)
    # default shape = the registry's (16 md5-sampled centroids, 4 probes)
    approx = S.ivf_topk(quantized, queries, k=5)
    exact = S.brute_force_topk(quantized, queries, k=5)
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    assert len(a) == 8 * 5
    recall = len(a & e) / len(e)
    assert recall >= 0.4, f"IVF recall too low: {recall}"


def test_ivf_assign_partitions_whole_corpus(spark, quantized):
    assign = S.ivf_assign(quantized, S.ivf_centroids(quantized, 10))
    assert assign.count() == quantized.count()
    assert assign.select("vec_id").distinct().count() == quantized.count()


def test_pack_sequences_bin_budget_invariant(spark):
    """Every packed bin holds <= budget tokens plus at most ONE overflowing
    document (first-fit-streaming semantics), and no document is lost."""
    from glue_etl_framework_spark.queries.curation import PACK_BUDGET, text_pack_sequences
    from tests.conftest import SF_ORACLE

    rows = text_pack_sequences(spark, SF_ORACLE).collect()
    by_bin = {}
    for r in rows:
        by_bin.setdefault(r["bin_id"], []).append(r["n_tokens"])
    assert rows, "packing produced no assignments"
    for bin_id, sizes in by_bin.items():
        total = sum(sizes)
        # overflow bounded by one doc: total - largest doc must fit in budget
        assert total - max(sizes) < PACK_BUDGET, (bin_id, total, sizes)
    # every document <= budget got packed exactly once
    docs = [r["doc_id"] for r in rows]
    assert len(docs) == len(set(docs))


def test_sessionize_gap_invariants(spark):
    """Within a session no consecutive gap exceeds the threshold; the next
    session of the same user starts more than the threshold later."""
    from pyspark.sql import functions as F

    from glue_etl_framework_spark.queries.events import SESSION_GAP_MIN, events_sessionize_gap
    from glue_etl_framework_spark.queries import t as load_t
    from tests.conftest import SF_ORACLE

    sessions = events_sessionize_gap(spark, SF_ORACLE)
    e = load_t(spark, SF_ORACLE, "events").select(
        "user_id", F.unix_micros("ts").alias("tus")
    )
    gap_us = SESSION_GAP_MIN * 60 * 1_000_000

    # reconstruct per-event session assignment the same way and check gaps
    rows = e.orderBy("user_id", "tus").collect()
    from collections import defaultdict

    per_user = defaultdict(list)
    for r in rows:
        per_user[r["user_id"]].append(r["tus"])
    expect_sessions = 0
    for times in per_user.values():
        expect_sessions += 1 + sum(
            1 for a, b in zip(times, times[1:]) if b - a > gap_us
        )
    assert sessions.count() == expect_sessions
    # durations must never exceed what the event span allows
    bad = sessions.filter(F.col("duration_s") < 0).count()
    assert bad == 0


def test_pq_adc_planted_duplicate_recovery(spark, embeddings, tmp_path):
    """similarity_pq_adc_topk must surface an exact copy of each query
    vector in its ADC top-k: a copy shares all PQ codewords with its
    query, so its ADC distance equals the query's own quantization SSE —
    the floor for that code cell. (Rank recall vs exact L2 on cluster-free
    random vectors is chance-level by construction, so identity recovery
    is the meaningful PQ invariant.)"""
    from glue_etl_framework_spark.queries import load_registry

    reg = load_registry()
    n_q = 10
    planted = (
        embeddings.filter(F.col("vec_id") < n_q)
        .select((F.col("vec_id") + 1000).alias("vec_id"), "embedding", "label")
    )
    d = tmp_path / "sf_planted"
    embeddings.unionByName(planted).coalesce(1).write.parquet(
        str(d / "embeddings.parquet")
    )
    got = reg["similarity_pq_adc_topk"].fn(spark, str(d)).collect()
    by_query = {}
    for r in got:
        by_query.setdefault(r.query_id, set()).add(r.neighbor_id)
    found = sum(1 for i in range(n_q) if 1000 + i in by_query.get(i, set()))
    assert found >= 9, f"planted PQ duplicates recovered: {found}/10"
    # per-query ADC floor: the planted copy's distance is the cell minimum
    dist = {(r.query_id, r.neighbor_id): r.adc_dist for r in got}
    for i in range(n_q):
        if (i, 1000 + i) in dist:
            assert dist[(i, 1000 + i)] == min(
                v for (qid, _), v in dist.items() if qid == i
            )
