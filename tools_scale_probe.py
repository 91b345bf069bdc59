#!/usr/bin/env python
"""Scale probe: replicate the sf0.1 volume tables Nx with shifted keys and
time heavy queries against the inflated copy (SCALING.md method, committed
as a tool — round 2 ran this ad-hoc).

Replication semantics (realistic fact growth, not 10-way exact dupes):
- orders/lineitem: orderkey offset per replica (custkey/partkey/suppkey kept
  — dimension joins stay realistic).
- events: event_id AND user_id offset (user population grows with volume —
  required to probe per-user aggregates like events_user_gini honestly).
- documents: doc_id offset, text prefixed per replica (shingle sets shift;
  replicas remain honest near-dups of each other, which inflates
  pair-emitting dedup OUTPUT on purpose — see SCALING.md discussion).
- embeddings: vec_id offset, one coordinate perturbed per replica.
- part: partkey offset, retail price nudged per replica (part IS sf-scaled
  in TPC-H; fixed in the round-2 probe, replicated since round 3 so
  part-dimension operators — e.g. the two-level skyline — are probed on a
  GROWING input).
- region/nation/customer/supplier: fixed.

Usage: python tools_scale_probe.py [N_REPLICAS] [query ...]
Writes the inflated tables to /tmp/scale_probe_<N>x (reused if present).

REALISTIC MODE (VERDICT r07 item 3): `--realistic` builds a documents-only
corpus with a ~1% planted near-dup rate instead of the 100% replica-sibling
rate above. The replica construction makes every doc a TRUE near-dup of its
n-1 siblings — honest for output-driven operators at 10x, but at 100x it
hands a pair-emitting operator a ~5,000x output blow-up no real corpus has
(SCALING.md, r7 DNF analysis). Realistic replicas instead:
- overwrite every word at position i = r (mod 3) with a replica-tagged
  filler token, which destroys EVERY original word-3-gram (any 3
  consecutive positions hit one overwritten slot), so cross-replica
  Jaccard is ~0 — replicas are fresh documents, not dups;
- the shared filler keeps within-replica shingle document frequencies
  heavy (boilerplate-like `(a, zzN, b)` trigrams), so prefix-filter
  candidate buckets still grow with the corpus — the actual 100 TB
  stressor;
- ~1% of each replica's docs are planted near-dups of an in-replica
  partner (partner text + a short tail, Jaccard ~ m/(m+7) >> tau=0.5),
  so TRUE pairs grow linearly with volume: a constant dup RATE, the way a
  real scraped corpus grows.
`documents.parquet` and (since round 10) `embeddings.parquet` are built
(plus untouched passthroughs of the small fixed tables), so realistic
probes accept document- and embedding-only queries. Realistic embeddings
use a per-replica orthogonal sign-flip: within-replica cosines are
preserved bit-exactly (constant true-pair rate, linear growth) while
cross-replica cosines scramble to ~0 (see build_realistic_embeddings).
"""

from __future__ import annotations

import os
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F

from bench import time_query
from glue_etl_framework_spark import get_spark
from glue_etl_framework_spark.queries import load_registry, t

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

KEY_OFFSET = 1_000_000_000  # far above any fixture key

DEFAULT_QUERIES = [
    "dedup_containment_pairs",
    "dedup_ngram_jaccard",
    "text_source_drift_kl",
    "part_pareto_skyline",
    "events_user_gini",
    "quality_fk_coverage_summary",
]


def build(spark, n: int, out_dir: str) -> None:
    fixed = ["region", "nation", "customer", "supplier"]
    for name in fixed:
        t(spark, SRC, name).write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")

    def replicate(name, shift_fn):
        base = t(spark, SRC, name)
        reps = [shift_fn(base, r) for r in range(n)]
        out = reps[0]
        for rep in reps[1:]:
            out = out.unionByName(rep)
        out.write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")

    replicate(
        "orders",
        lambda df, r: df.withColumn("o_orderkey", F.col("o_orderkey") + r * KEY_OFFSET),
    )
    replicate(
        "lineitem",
        lambda df, r: df.withColumn("l_orderkey", F.col("l_orderkey") + r * KEY_OFFSET),
    )
    replicate(
        "events",
        lambda df, r: df.withColumn("event_id", F.col("event_id") + r * KEY_OFFSET)
        .withColumn("user_id", F.col("user_id") + r * KEY_OFFSET),
    )
    replicate(
        "documents",
        lambda df, r: df.withColumn("doc_id", F.col("doc_id") + r * KEY_OFFSET)
        .withColumn("text", F.concat(F.lit(f"rep{r} marker "), F.col("text"))),
    )
    replicate(
        "embeddings",
        lambda df, r: df.withColumn("vec_id", F.col("vec_id") + r * KEY_OFFSET)
        .withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x, i: x + F.when(i == 0, F.lit(r * 1e-3)).otherwise(F.lit(0.0)),
            ),
        ),
    )
    replicate(
        "part",
        lambda df, r: df.withColumn("p_partkey", F.col("p_partkey") + r * KEY_OFFSET)
        .withColumn("p_retailprice", F.col("p_retailprice") + F.lit(r * 0.01)),
    )


def build_realistic(spark, n: int, out_dir: str) -> None:
    """Documents-only corpus at n x volume with a ~1% planted near-dup
    rate (module docstring, REALISTIC MODE). Deterministic end to end:
    the filler token, planting condition, and partner choice are pure
    functions of (doc_id, replica)."""
    from pyspark.sql import Window as W

    for name in ("region", "nation"):
        t(spark, SRC, name).write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")

    base = t(spark, SRC, "documents")
    reps = []
    for r in range(n):
        if r == 0:
            reps.append(base)
            continue
        rep = base.withColumn("doc_id", F.col("doc_id") + r * KEY_OFFSET)
        # Overwrite every word at position i = r (mod 3) with the replica
        # filler: no original 3-gram survives (every window of 3 positions
        # contains one overwritten slot), and two replicas never share a
        # filler-bearing shingle (different tag or different alignment).
        rep = rep.withColumn(
            "text",
            F.array_join(
                F.expr(
                    f"transform(split(text, ' '), (w, i) -> "
                    f"IF(i % 3 = {r % 3}, 'zz{r}', w))"
                ),
                " ",
            ),
        )
        # Plant ~1% near-dups WITHIN the replica: partner = the previous
        # doc in a hash-bucket scan order; planted text = partner text +
        # a short tail (appending never destroys existing 3-grams, so the
        # planted doc's shingle set is a superset: J = m/(m+~7) >> 0.5).
        # Cluster size is 2 and partners are replica-local, so true pairs
        # grow LINEARLY with corpus volume — a constant ~1% dup rate.
        w = W.partitionBy(F.pmod(F.col("doc_id"), F.lit(97))).orderBy("doc_id")
        partner = F.lag("text").over(w)
        planted = (F.pmod(F.col("doc_id"), F.lit(100)) == 1) & partner.isNotNull()
        rep = rep.withColumn(
            "text",
            F.when(
                planted, F.concat(partner, F.lit(f" planted tail qq{r} ww ee"))
            ).otherwise(F.col("text")),
        )
        reps.append(rep)
    out = reps[0]
    for rep in reps[1:]:
        out = out.unionByName(rep)
    out.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")


def build_realistic_embeddings(spark, n: int, out_dir: str) -> None:
    """Realistic n x embeddings: each replica r>0 applies a deterministic
    per-(replica, coordinate) +-1 sign pattern — an orthogonal reflection —
    so WITHIN-replica cosines are preserved bit-exactly (float negation is
    exact; the base corpus's true near-dup pairs replicate at a constant
    RATE, linear true-pair growth) while CROSS-replica cosines scramble to
    ~0 (~half the coordinate products flip sign), so replicas are fresh
    vectors, not dups of each other — the embedding-space analogue of the
    filler-token documents corpus above."""
    base = t(spark, SRC, "embeddings")
    reps = []
    for r in range(n):
        if r == 0:
            reps.append(base)
            continue
        def make_flipper(rep_idx):
            # closure (not a default arg: F.transform counts parameters,
            # and a 3-parameter lambda is rejected for arrays)
            def flipper(x, i):
                sign_src = F.format_string(f"%d:{rep_idx}", i)
                return F.when(
                    F.pmod(F.xxhash64(sign_src), F.lit(2)) == 0, -x
                ).otherwise(x)

            return flipper

        flip = F.transform("embedding", make_flipper(r))
        reps.append(
            base.withColumn("vec_id", F.col("vec_id") + r * KEY_OFFSET)
            .withColumn("embedding", flip)
        )
    out = reps[0]
    for rep in reps[1:]:
        out = out.unionByName(rep)
    out.write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")


def main() -> None:
    argv = [a for a in sys.argv[1:] if a != "--realistic"]
    realistic = "--realistic" in sys.argv[1:]
    n = int(argv[0]) if argv else 10
    queries = argv[1:] or (
        ["dedup_prefix_filter_jaccard"] if realistic else DEFAULT_QUERIES
    )
    out_dir = f"/tmp/scale_probe_{n}x_realistic" if realistic else f"/tmp/scale_probe_{n}x"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8)
    spark = get_spark(app_name="scale_probe", shuffle_partitions=cpus)
    reg = load_registry()
    done_marker = f"{out_dir}/_BUILD_COMPLETE"
    if not os.path.exists(done_marker):
        print(f"building {n}x tables in {out_dir} ...", flush=True)
        (build_realistic if realistic else build)(spark, n, out_dir)
        Path(done_marker).touch()
    if realistic and not os.path.exists(f"{out_dir}/embeddings.parquet"):
        # embeddings were added to realistic mode in round 10; backfill
        # into corpora built before that without a full rebuild
        print(f"building {n}x realistic embeddings in {out_dir} ...", flush=True)
        build_realistic_embeddings(spark, n, out_dir)

    import math

    from glue_etl_framework_spark.queries import PAIR_EMITTING_QUERIES
    from glue_etl_framework_spark.session import (
        warn_if_below_pair_emitter_floor,
        warn_if_low_disk,
    )

    for name in queries:
        fn = reg[name].fn
        if name in PAIR_EMITTING_QUERIES:
            for msg in (
                warn_if_below_pair_emitter_floor(spark, name),
                warn_if_low_disk(spark, name),
            ):
                if msg:
                    print(f"WARNING: {msg}", flush=True)
        b = statistics.median(time_query(spark, fn, 3, SRC))
        g = statistics.median(time_query(spark, fn, 3, out_dir))
        line = f"{name}: sf0.1 {b:.2f}s  {n}x {g:.2f}s  ratio {g / b:.1f}"
        if realistic:
            # SCALING.md's exponent convention: wall ~ volume^e.
            exp = math.log(g / b) / math.log(n)
            rows_base = fn(spark, SRC).count()
            rows_big = fn(spark, out_dir).count()
            line += (
                f"  exponent {exp:.2f}  output {rows_base} -> {rows_big} "
                f"({rows_big / max(rows_base, 1):.0f}x)"
            )
        print(line, flush=True)


if __name__ == "__main__":
    main()
