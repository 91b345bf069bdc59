#!/usr/bin/env python
"""Query-timing runner: times registry queries at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 fixtures, SF_DIR) on local[$SPARK_GRAFT_CPUS] and prints ONE
compact JSON line, {"metric", "value": total_sec, "unit", "queries",
"sf", "n_queries"}, kept under SUMMARY_LINE_BUDGET because the driver's
tail capture is ~2000 chars (r5's combined line overflowed it and
recorded parsed:null).

Usage:
    python bench.py [name ...]      # default: the HEADLINE queries

Each query is fully materialized through the noop sink (measures scan +
compute + shuffle, not driver collection). Median of $BENCH_RUNS (default
5) warm runs per query; one untimed warm-up first (JVM/codegen warmup).
Whether a change made a query slower is decided by tools_opt_abx.py,
which times both trees with this module's ``time_query``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_RUNS = int(os.environ.get("BENCH_RUNS", "5"))  # median of 5: box noise is ±15%
# Longest final stdout line (newline included) that survives whole in a
# 2000-char stdout tail capture, with a little margin.
SUMMARY_LINE_BUDGET = 1990

# Headline queries: one per major operator family, weighted toward the
# shapes that dominate real pipelines (join+agg, window, dedup, similarity).
HEADLINE = [
    "flagship_revenue_by_region",   # 5-table join + grouped sum
    "agg_pricing_summary",          # wide hash aggregate
    "agg_distinct",                 # distinct aggregates (expand)
    "topk_per_group",               # window rank + filter
    "window_running_sum",           # running frame aggregate
    "orderby_limit",                # global top-k
    "explode_unnest",               # explode + agg (token counts)
    "json_struct_parse",            # from_json + agg
    "tumbling_window_agg",          # time window
    "session_window_agg",           # session window
    "dedup_exact",                  # hash dedup
    "dedup_minhash_lsh",            # shingle -> minhash -> band join
    "text_quality_score",           # text scoring expressions
    "similarity_topk_bruteforce",   # broadcast query x corpus cosine top-k
    "similarity_ann_ivf",           # IVF coarse-quantized ANN (scale path)
    "join_asof",                    # as-of time-series enrichment join
    "multimodal_chunk_manifest",    # blob chunking via explode
    "unpivot_melt",                 # wide-to-long Expand
    "text_tfidf_top_terms",         # tf/df shuffles + broadcast N + top-k
    "pipeline_training_data_curation",  # full curation composite
    "dedup_minhash_verified",       # LSH candidates + exact-Jaccard verify
    "dedup_connected_components",   # iterative min-label propagation
    "similarity_lsh_hyperplane_pairs",  # banded hyperplane LSH (ANN scale path)
    "events_transition_matrix",     # event-type Markov transition counts
    "curation_decontaminate",       # benchmark n-gram anti-overlap
    "text_bigram_logprob",          # bigram LM scoring (keyed freq joins)
    "text_repetition_ratio",        # Gopher-style repetition filter
    "dedup_ngram_contamination",    # duplicate-trigram fraction (3 keyed shuffles)
    "dedup_minhash_against_corpus", # incremental banded near-dup vs reference corpus
    "similarity_pq_adc_topk",       # PQ code assignment + broadcast-LUT ADC search
    "dedup_substring_windows",      # exact-substring windows (hash equi-join)
    "tpch_q5_local_supplier_volume",  # TPC-H 6-way join + grouped sum
    "tpch_q18_large_volume_customer", # TPC-H semi-join on self-agg + top-k
    "tpch_q1_pricing_summary",        # TPC-H scan-heavy 8-aggregate summary
    "dedup_containment_pairs",        # asymmetric shingle containment join
    "sample_importance_dsir",         # hashed-bucket importance weighting
    "text_source_drift_kl",           # per-source KL vs corpus (unhinted vocab join)
    "part_pareto_skyline",            # two-level (bucketed) Pareto skyline
    "events_user_gini",               # 64-bin histogram Gini (bounded window)
    "dedup_semdedup",                 # semantic dedup: IVF cells + hyperplane bands
    "similarity_ivf_pq_topk",         # combined IVF cell pruning + PQ ADC scoring
    "pipeline_incremental_ingest",    # quality -> bloom prefilter -> gated exact verify
    "dedup_prefix_filter_jaccard",    # PPJoin-style prefix-filtered similarity join
    "agg_countmin_sketch",            # fixed-grid mergeable frequency sketch
    "join_bloom_semijoin_reduction",  # runtime bloom filter before the fact shuffle
    "text_bpe_learn_merges",          # BPE trainer loop over the weighted vocab frame
    "graph_link_prediction_jaccard",  # seed-batched two-hop neighborhood scoring
    "agg_exact_median_twopass",       # exact quantiles via bounded histogram passes
    "agg_bitmap_distinct_users",      # exact mergeable bitmap distinct counts
    "text_bpe_learn_merges_batched",  # batched top-m symbol-disjoint BPE passes
    "multimodal_bmp_decode_stats",    # real BMP encode+decode via mapInPandas kernel
    "multimodal_wav_decode_stats",    # real WAV encode+decode via mapInPandas kernel
    "multimodal_image_resize_stats",  # decode -> stride-2 resize -> re-encode cycle
    "multimodal_jpeg_decode_stats",   # real baseline-JPEG encode+decode (T.81 kernel)
    "multimodal_png_decode_stats",    # real PNG encode+decode (zlib INFLATE + unfilter)
    "multimodal_gif_decode_stats",    # real GIF encode+decode (full LZW w/ resets)
    "join_salted_skew_mitigation",    # (key,salt) join with S-way build replication
    # graph_triangle_copurchase is deliberately NOT benched: the wedge
    # join is inherently Theta(sum outdeg^2) — ~25s at sf0.1 on this box —
    # and its cost tracks graph density, not fixture scale (SCALING.md
    # shows a 0.8 ratio at 10x because the co-purchase graph saturates).
    # graph_pagerank_transactions is deliberately NOT benched: at fixture
    # scale its 12 serial jobs are pure stage-scheduling latency (~9s for
    # ~1600 rank rows), which would read as operator cost; SCALING.md
    # records its near-flat 10x ratio (1.4) instead.
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def time_query(spark, fn, n_runs: int = N_RUNS, sf_dir: str = SF_DIR) -> list[float]:
    """One untimed warm-up, then ``n_runs`` timed noop writes (seconds)."""
    materialize(fn(spark, sf_dir))
    runs = []
    for _ in range(n_runs):
        t0 = time.perf_counter()
        materialize(fn(spark, sf_dir))
        runs.append(time.perf_counter() - t0)
    return runs


def median_times(names: list[str], n_runs: int = N_RUNS) -> dict[str, float]:
    """Median seconds per named query, all timed in one fresh session.

    Shuffle partitions follow the actual parallelism: at sf0.1 on a
    32-core local box, 200 (Spark's default) means tiny tasks and 6x the
    scheduling/checkpoint overhead on the iterative ops (A/B: CC 4.0s ->
    3.0s, minhash_verified 2.8s -> 2.0s). At cluster scale the same knob
    is sized to data volume instead — see session.py docstring."""
    from glue_etl_framework_spark import get_spark
    from glue_etl_framework_spark.queries import load_registry

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 8)
    spark = get_spark(app_name="bench", shuffle_partitions=cpus)
    registry = load_registry()
    return {
        n: round(statistics.median(time_query(spark, registry[n].fn, n_runs)), 4)
        for n in names
    }


def main(names: list[str]) -> None:
    timings = median_times(names or HEADLINE)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    print(final_summary_line(timings, sf_val))


def final_summary_line(timings: dict[str, float], sf_val) -> str:
    """The contract line: ONE JSON object whose LAST-line position and
    length both matter. The driver's stdout tail capture is 2000 chars
    (measured: BENCH_r15.json's recorded tail is exactly 2000), and its
    per-query comparator went blind in r14/r15 (`PERF per_query: {}`)
    when the queries dict lived only in an earlier, longer line whose
    FRONT the tail truncated mid-JSON. So the per-query dict is IN the
    final line, at 2-decimal precision with compact separators. When
    4-digit per-query seconds would push the line (plus its newline) past
    SUMMARY_LINE_BUDGET, the per-query values drop to 1 decimal, then to
    whole seconds (tests/test_bench_guard.py pins the fit at 9999.99 s)."""
    for ndigits in (2, 1, None):
        line = json.dumps(
            {
                "metric": "headline_query_wall_seconds",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "queries": {n: round(s, ndigits) for n, s in timings.items()},
                "sf": sf_val,
                "n_queries": len(timings),
            },
            separators=(",", ":"),
        )
        if len(line) + 1 < SUMMARY_LINE_BUDGET:
            break
    return line


if __name__ == "__main__":
    main(sys.argv[1:])
