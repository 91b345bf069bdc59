"""Property tests for the one-pass shingle regex: its shingle set must equal
the oracle's split-on-space formulation for ANY token content — including
punctuation-leading and pure-punctuation tokens, where the earlier
\\b-anchored variant silently diverged (ADVICE r01)."""

from __future__ import annotations

import duckdb
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from glue_etl_framework_spark.ext.dedup import shingle_array, shingle_tokens

# Tokens drawn to stress the anchor: punctuation-leading, pure punctuation,
# quotes/brackets, unicode, digits. Single-space separated (the split
# semantics both engines implement).
TOKEN = st.text(
    alphabet="ab!?.,;:'\"()[]#-é9",
    min_size=1,
    max_size=6,
)
TEXT = st.lists(TOKEN, min_size=0, max_size=8).map(" ".join)


def _split_shingles(text: str) -> set[str]:
    w = text.split(" ")
    return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(TEXT, min_size=1, max_size=6))
def test_shingle_regex_matches_split_semantics(spark, texts):
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(texts)], "doc_id int, text string"
    )
    got = {
        (r.doc_id, r.s)
        for r in df.select(
            "doc_id", F.explode(shingle_array()).alias("s")
        ).collect()
    }
    want = {(i, sh) for i, s in enumerate(texts) for sh in _split_shingles(s)}
    # regexp_extract_all keeps duplicates; compare as sets like the DISTINCT
    # the dedup pipeline applies
    assert got == want


def test_shingle_regex_matches_duckdb_split_on_punctuation_corpus(spark, tmp_path):
    """Cross-engine pin on a deliberately nasty fixture corpus."""
    texts = [
        "(hello) world, !foo bar.",
        "...leading punct tokens here",
        "--- ### !!! ??? end",
        "mix 'quoted' (paren) [brack] end",
        "don't stop won't quit can't lose",
        "a b c d e",
        "x y",
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(texts)], "doc_id int, text string"
    )
    path = str(tmp_path / "docs.parquet")
    df.write.parquet(path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    want = {
        (r[0], r[1])
        for r in con.execute(
            """
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, length(w) - 1),
                                         i -> array_to_string(w[i:i+2], ' '))) AS shingle
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
            WHERE length(w) >= 3
            """
        ).fetchall()
    }
    got = {
        (r.doc_id, r.s)
        for r in df.select("doc_id", F.explode(shingle_array()).alias("s"))
        .distinct()
        .collect()
    }
    assert got == want


def test_ext_shingle_tokens_punctuation(spark):
    df = spark.createDataFrame(
        [(0, "!a ?b #c $d"), (1, "one two")], "doc_id int, text string"
    )
    out = {r.doc_id: sorted(r.shingles) for r in shingle_tokens(df).collect()}
    assert out == {0: ["!a ?b #c", "?b #c $d"]}  # doc 1 too short -> filtered


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(TEXT, min_size=1, max_size=6))
def test_bigram_regex_matches_split_semantics(spark, texts):
    """ext.dedup.shingle_array(n=2) must produce exactly the split-on-space
    consecutive pairs for ANY token content (multiset equality — repetition
    counting depends on duplicates, unlike the DISTINCT shingle path)."""
    from collections import Counter

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(texts)], "doc_id int, text string"
    )
    got = Counter(
        (r.doc_id, r.s)
        for r in df.select(
            "doc_id", F.explode(shingle_array(n=2)).alias("s")
        ).collect()
    )
    want = Counter()
    for i, s in enumerate(texts):
        w = s.split(" ")
        for j in range(len(w) - 1):
            want[(i, f"{w[j]} {w[j+1]}")] += 1
    assert got == want


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(TEXT, min_size=1, max_size=6))
def test_trigram_regex_matches_split_semantics(spark, texts):
    """ext.dedup.shingle_array(n=3) must produce exactly the split-on-space
    consecutive triples for ANY token content (multiset equality), pinning
    the Spark regex side of dedup_ngram_contamination to the oracle's
    list-slice formulation."""
    from collections import Counter

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(texts)], "doc_id int, text string"
    )
    got = Counter(
        (r.doc_id, r.s)
        for r in df.select(
            "doc_id", F.explode(shingle_array(n=3)).alias("s")
        ).collect()
    )
    want = Counter()
    for i, s in enumerate(texts):
        w = s.split(" ")
        for j in range(len(w) - 2):
            want[(i, f"{w[j]} {w[j+1]} {w[j+2]}")] += 1
    assert got == want


# ------------------------------------------------------------- PII scrub --

PII_DOCS = [
    "contact a.b@x.co or admin@sub.domain.org today",
    "server 10.0.0.1 and 192.168.255.12 but not 1.2.3.4567",
    "call 555-123-4567 or 555-000-1111 x99",
    "mixed a@b.io at 8.8.8.8 dial 123-456-7890",
    "no pii here at all",
    "edge-case trailing email x@y.zz",
    "punct (j.doe@corp.net), [127.0.0.1]; <555-999-8888>",
]


def test_pii_scrub_matches_duckdb_on_planted_pii(spark, tmp_path):
    """The sf0.01 corpus contains no PII, so the oracle gate exercises only
    the zero-hit path; this plants emails/IPs/phones (boundary cases
    included) and re-checks exact parity through the registered op."""
    import duckdb

    from glue_etl_framework_spark.queries import load_registry

    reg = load_registry()
    rows = [(i, s, "en", "src0", len(s)) for i, s in enumerate(PII_DOCS)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = tmp_path / "sf_pii"
    df.coalesce(1).write.parquet(str(d / "documents.parquet"))
    got = {
        r.doc_id: (r.n_emails, r.n_ips, r.n_phones, r.redacted_fp)
        for r in reg["text_pii_scrub"].fn(spark, str(d)).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(reg["text_pii_scrub"].oracle).fetchall()
    }
    assert got == want
    # sanity on the planted values themselves, not just cross-engine accord
    assert got[0][0] == 2 and got[1][1] == 2 and got[2][2] == 2
    assert got[3][:3] == (1, 1, 1) and got[4][:3] == (0, 0, 0)


# ----------------------------------------------------- z-order / chunking --


def test_zvalue_formula_matches_python_bit_interleave(spark):
    """The portable arithmetic z-value must equal true Morton interleaving
    for random 16-bit key pairs."""
    import random

    from glue_etl_framework_spark.queries.llmops import _zvalue_expr

    rnd = random.Random(7)
    rows = [(rnd.randrange(1 << 16), rnd.randrange(1 << 16)) for _ in range(200)]

    def morton(x, y):
        z = 0
        for b in range(16):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    df = spark.createDataFrame(rows, "l_partkey long, l_suppkey long")
    got = [
        r.z
        for r in df.selectExpr(f"({_zvalue_expr('div')}) AS z").collect()
    ]
    want = [morton(x, y) for x, y in rows]
    assert got == want


def test_chunk_windows_cover_and_reassemble(spark):
    """Every chunking invariant on random texts: chunks cover all tokens,
    consecutive chunks overlap by CHUNK_TOKENS - CHUNK_STRIDE, and
    stitching stride-aligned prefixes reproduces the document."""
    import random

    from glue_etl_framework_spark.queries import load_registry
    from glue_etl_framework_spark.queries.llmops import CHUNK_STRIDE, CHUNK_TOKENS

    rnd = random.Random(11)
    texts = [
        " ".join(f"w{rnd.randrange(50)}" for _ in range(rnd.randrange(1, 90)))
        for _ in range(25)
    ]
    rows = [(i, s, "en", "src0", len(s)) for i, s in enumerate(texts)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.parquet(f"{d}/documents.parquet")
        out = load_registry()["text_chunk_windows"].fn(spark, d).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, text in enumerate(texts):
        toks = text.split(" ")
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_idx)
        # stitch: full first chunk + the non-overlapping tail of the rest
        stitched = chunks[0].chunk_text.split(" ")
        for c in chunks[1:]:
            stitched += c.chunk_text.split(" ")[CHUNK_TOKENS - CHUNK_STRIDE:]
        assert stitched == toks, f"doc {i} stitches wrong"
        assert all(c.n_chunk_tokens == len(c.chunk_text.split(" ")) for c in chunks)


def test_shingle_df_cap_noop_at_fixture_scale_and_live_when_lowered(spark, monkeypatch):
    """The SHINGLE_DF_CAP hot-key guard (r02 hardening): at fixture scale the
    cap sits far above the max shingle document frequency, so capped results
    are IDENTICAL to the uncapped formulation; lowering the cap to 1 must
    actually drop all shared shingles (the filter is live, not decorative)."""
    import glue_etl_framework_spark.queries.dedup as dd
    import glue_etl_framework_spark.queries.llmops as lo
    from tests.conftest import SF_SMOKE

    max_df = (
        dd._shingles(spark, SF_SMOKE)
        .groupBy("shingle")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert max_df < dd.SHINGLE_DF_CAP, (
        f"fixture max shingle DF {max_df} >= cap {dd.SHINGLE_DF_CAP}: "
        "capped fixture results would diverge from the uncapped oracle claim"
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    capped_jac = rows(dd.dedup_ngram_jaccard(spark, SF_SMOKE))
    capped_con = rows(lo.dedup_containment_pairs(spark, SF_SMOKE))
    monkeypatch.setattr(dd, "SHINGLE_DF_CAP", 10**9)
    monkeypatch.setattr(lo, "SHINGLE_DF_CAP", 10**9)
    assert rows(dd.dedup_ngram_jaccard(spark, SF_SMOKE)) == capped_jac
    assert rows(lo.dedup_containment_pairs(spark, SF_SMOKE)) == capped_con
    # cap=1 keeps only single-document shingles -> no candidate pairs at all
    monkeypatch.setattr(dd, "SHINGLE_DF_CAP", 1)
    monkeypatch.setattr(lo, "SHINGLE_DF_CAP", 1)
    assert dd.dedup_ngram_jaccard(spark, SF_SMOKE).count() == 0
    assert lo.dedup_containment_pairs(spark, SF_SMOKE).count() == 0


def test_binned_gini_lower_bounds_and_tracks_exact_gini(spark):
    """events_user_gini computes the GROUPED (64-log2-bin) Gini so no global
    window ever runs over the per-user frame (VERDICT r02). Grouping only
    removes within-bin inequality, so binned G <= exact G; with integer-exact
    bin terms the gap at fixture scale stays small."""
    from pyspark.sql import Window as W

    from glue_etl_framework_spark.queries import t
    from glue_etl_framework_spark.queries.llmops import events_user_gini
    from tests.conftest import SF_SMOKE

    binned = events_user_gini(spark, SF_SMOKE).collect()[0]

    per_user = (
        t(spark, SF_SMOKE, "events").groupBy("user_id").agg(F.count("*").alias("x"))
    )
    ranked = per_user.select(
        "x", F.row_number().over(W.orderBy("x", "user_id")).alias("i")
    )
    agg = ranked.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum((2 * F.col("i") - 1) * F.col("x")).alias("swx"),
    ).collect()[0]
    exact = agg["swx"] / (agg["n"] * agg["sx"]) - (agg["n"] + 1) / agg["n"]

    assert binned["n_users"] == agg["n"]
    assert binned["n_events"] == agg["sx"]
    binned_g = binned["gini_fp"] / 1_000_000
    assert binned_g <= exact + 1e-6
    assert exact - binned_g < 0.15, (binned_g, exact)


def test_bpe_parity_on_messy_text(spark, tmp_path):
    """Empty words (consecutive/leading spaces, empty docs) must not
    diverge between engines: DuckDB's array_to_string over an empty char
    list is NULL (silent row loss) while Spark emitted ' </w>' — both
    sides now exclude empty words (review-probe regression)."""
    import os

    import duckdb

    from glue_etl_framework_spark.queries import load_registry
    from tests.oracle_harness import compare_query, duckdb_connection

    d = str(tmp_path)
    src = "/root/testdata/sf0.001"
    for tbl in ["region", "nation", "customer", "supplier", "part",
                "orders", "lineitem", "events", "embeddings"]:
        os.symlink(f"{src}/{tbl}.parquet", f"{d}/{tbl}.parquet")
    duckdb.sql(
        f"""
        COPY (SELECT * FROM (VALUES
          (1,'a  b','en','s0',4),(2,'','en','s0',0),
          (3,' a b c','en','s0',6),(4,'aa b  ','en','s0',6))
          v(doc_id, text, lang, source, n_chars))
        TO '{d}/documents.parquet' (FORMAT PARQUET)
        """
    )
    reg = load_registry()
    con = duckdb_connection(d)
    try:
        for name in ["text_bpe_learn_merges", "text_bpe_apply_compression"]:
            res = compare_query(reg[name], spark, con, d)
            assert res.ok, f"{name}: {res.mismatches}"
    finally:
        con.close()
