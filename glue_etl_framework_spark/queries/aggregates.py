"""Aggregations (SURVEY.md §2.4): hash aggregate, DISTINCT aggs, approx,
collection aggs, ROLLUP/CUBE/GROUPING SETS, HAVING, pivot, percentiles.

IMPLICIT-SQL in the reference (single call site glue_etl_framework.py:60).
Spark plans each as partial (map-side) -> shuffle on group keys -> final
aggregate; at 100 TB the partial agg is what keeps shuffle volume ~ |groups|
not |rows|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from glue_etl_framework_spark.queries import register, t


@register(
    "agg_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_base_price,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_disc_price,
           SUM(l_quantity) / COUNT(*) AS avg_qty,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    category="aggregate",
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary. l_quantity is integer-valued so its
    double sum is exact in any order; money columns use the cents trick."""
    l = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp")
    )
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        (F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")) / 100.0).alias("sum_base_price"),
        (F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")) / 100.0).alias("sum_disc_price"),
        (F.sum("l_quantity") / F.count("*")).alias("avg_qty"),
        F.count("*").alias("count_order"),
    )


@register(
    "agg_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           SUM(DISTINCT l_quantity) AS sum_distinct_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    category="aggregate",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.sum_distinct(F.col("l_quantity")).alias("sum_distinct_qty"),
    )


@register(
    "agg_minmax",
    oracle="""
    SELECT o_orderstatus,
           MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
           MIN(o_orderdate) AS first_order, MAX(o_orderdate) AS last_order,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
    category="aggregate",
)
def agg_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "orders").groupBy("o_orderstatus").agg(
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("n_orders"),
    )


@register(
    "agg_having",
    oracle="""
    SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM part GROUP BY p_brand
    HAVING COUNT(*) > 5
    """,
    category="aggregate",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "part")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n_parts"))
        .filter(F.col("n_parts") > 5)
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT r.r_name, n.n_name, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
    category="aggregate",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, n, r = t(spark, sf_dir, "customer"), t(spark, sf_dir, "nation"), t(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(F.count("*").alias("n_customers"))


@register(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           SUM(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    category="aggregate",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "lineitem").cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items"), F.sum("l_quantity").alias("sum_qty")
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    category="aggregate",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "orders").createOrReplaceTempView("__gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "agg_collect_set",
    oracle="""
    SELECT n.n_regionkey AS regionkey,
           array_to_string(list_sort(list(DISTINCT n.n_name)), ',') AS nations
    FROM nation n GROUP BY n.n_regionkey
    """,
    category="aggregate",
)
def agg_collect_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set made deterministic by sorting and joining to one string."""
    return t(spark, sf_dir, "nation").groupBy(F.col("n_regionkey").alias("regionkey")).agg(
        F.array_join(F.sort_array(F.collect_set("n_name")), ",").alias("nations")
    )


@register(
    "agg_percentile",
    oracle="""
    SELECT o_orderstatus,
           quantile_cont(o_totalprice, 0.5) AS median_price,
           quantile_cont(o_totalprice, 0.9) AS p90_price
    FROM orders GROUP BY o_orderstatus
    """,
    category="aggregate",
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (continuous) percentile — matches DuckDB quantile_cont. The
    approximate variant (percentile_approx / HLL sketches) is benchmarked
    separately since sketch internals differ across engines."""
    return t(spark, sf_dir, "orders").groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("median_price"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90_price"),
    )


@register(
    "agg_approx_count_distinct",
    oracle="""
    SELECT CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS approx_flags,
           CAST(COUNT(DISTINCT l_linestatus) AS BIGINT) AS approx_status
    FROM lineitem
    """,
    category="aggregate",
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++). Oracle uses exact COUNT(DISTINCT):
    at these cardinalities (3 and 2) the HLL sparse path is exact, so the
    values coincide; the high-cardinality behavior is covered by pytest
    (relative-error bound), not the oracle."""
    return t(spark, sf_dir, "lineitem").agg(
        F.approx_count_distinct("l_returnflag").alias("approx_flags"),
        F.approx_count_distinct("l_linestatus").alias("approx_status"),
    )


@register(
    "agg_pivot",
    oracle="""
    SELECT l_returnflag,
           SUM(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS F,
           SUM(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS O
    FROM lineitem GROUP BY l_returnflag
    """,
    category="aggregate",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum("l_quantity"))
    )


@register(
    "agg_conditional",
    oracle="""
    SELECT e.event_type,
           CAST(COUNT(*) FILTER (WHERE e.value > 100) AS BIGINT) AS n_big,
           CAST(SUM(CASE WHEN e.user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_even_users,
           CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) FILTER (WHERE e.value > 100) AS BIGINT) / 100.0 AS big_value
    FROM events e GROUP BY e.event_type
    """,
    category="aggregate",
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered/conditional aggregation (COUNT/SUM ... FILTER)."""
    e = t(spark, sf_dir, "events")
    big = F.col("value") > 100
    return e.groupBy("event_type").agg(
        F.count(F.when(big, 1)).alias("n_big"),
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)).alias("n_even_users"),
        (F.sum(F.when(big, F.round(F.col("value") * 100).cast("long"))) / 100.0).alias("big_value"),
    )


@register(
    "agg_stats_moments",
    oracle="""
    WITH q AS (
      SELECT l_returnflag,
             CAST(ROUND(l_extendedprice) AS BIGINT) AS x,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    s AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM q GROUP BY l_returnflag
    )
    SELECT l_returnflag, n, sx, sy, sxx, syy, sxy,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 9)
             AS corr_price_discount,
           round(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                 / CAST(n AS DOUBLE), 9) AS stddev_pop_price
    FROM s
    """,
    category="aggregate",
)
def agg_stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (corr, population stddev) computed from exact
    integer co-moments: inputs quantized per row, the five sums are
    order-independent BIGINTs (one partial+final hash aggregate — the same
    single shuffle as any SUM), and the float math happens once per group on
    exact integers. Unlike streaming corr/stddev implementations this is
    bit-reproducible at any parallelism — the property that matters when a
    100 TB job must be re-run and diffed. Built-in F.corr/F.stddev remain
    available where last-ULP reproducibility doesn't matter."""
    li = t(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_extendedprice")).cast("long")
    y = F.round(F.col("l_discount") * 100).cast("long")
    s = (
        li.select("l_returnflag", x.alias("x"), y.alias("y"))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"), F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxxd, syyd, sxyd = (F.col(c).cast("double") for c in ("sxx", "syy", "sxy"))
    var_x = nd * sxxd - sxd * sxd
    var_y = nd * syyd - syd * syd
    return s.select(
        "l_returnflag", "n", "sx", "sy", "sxx", "syy", "sxy",
        F.round((nd * sxyd - sxd * syd) / (F.sqrt(var_x) * F.sqrt(var_y)), 9).alias("corr_price_discount"),
        F.round(F.sqrt(var_x) / nd, 9).alias("stddev_pop_price"),
    )


@register(
    "agg_salted_twophase",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    category="aggregate",
)
def agg_salted_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant aggregation: 3 hot keys (l_returnflag) would hash 600M
    rows/key onto 3 reducers at 100 TB, so phase 1 groups by (key, salt)
    — 16-way fan-out, map-side partials stay effective — and phase 2 merges
    the 48 partials. Identical result to the direct groupBy (the oracle IS
    the direct groupBy); the salt (l_orderkey % 16) is deterministic.
    Spark's AQE skew handling covers sort-merge joins, not single-key agg
    hotspots — this is the manual pattern for those."""
    li = t(spark, sf_dir, "lineitem")
    partial = (
        li.withColumn("salt", (F.col("l_orderkey") % 16).cast("int"))
        .groupBy("l_returnflag", "salt")
        .agg(
            F.count("*").alias("pn"),
            F.sum(F.col("l_quantity").cast("long")).alias("pq"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("pp"),
        )
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("pn").alias("n_rows"),
        F.sum("pq").alias("sum_qty"),
        (F.sum("pp") / 100.0).alias("sum_price"),
    )


BUCKET_WIDTH = 50


@register(
    "agg_value_histogram",
    oracle=f"""
    SELECT CAST(FLOOR(value / {BUCKET_WIDTH}) AS BIGINT) * {BUCKET_WIDTH} AS bucket_lo,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS bucket_value
    FROM events
    GROUP BY 1
    """,
    category="aggregate",
)
def agg_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via floor-bucketing — the distributed
    histogram shape: one hash aggregate on the bucket key (a few hundred
    groups however large the input), map-side partials doing ~all the
    work. Portable floor() bucketing instead of width_bucket (whose edge
    semantics differ across engines)."""
    e = t(spark, sf_dir, "events")
    bucket = (F.floor(F.col("value") / BUCKET_WIDTH) * BUCKET_WIDTH).cast("long")
    return e.groupBy(bucket.alias("bucket_lo")).agg(
        F.count("*").alias("n"),
        (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("bucket_value"),
    )


@register(
    "agg_min_max_by",
    oracle="""
    SELECT o_orderstatus,
           CAST(max_by(o_orderkey, o_totalprice) AS BIGINT) AS priciest_order,
           CAST(min_by(o_orderkey, o_totalprice) AS BIGINT) AS cheapest_order,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    category="aggregate",
)
def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax/argmin) aggregates — single-pass partial+final,
    no window needed for 'row with the extreme value per group'.
    Deterministic here because o_totalprice values are unique per status
    group in the fixture; for tied keys prefer the window+row_number
    formulation (topk_per_group) which has an explicit tie-break."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("priciest_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("cheapest_order"),
        F.max("o_totalprice").alias("max_price"),
    )


@register(
    "agg_median_mode",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, round(median(l_quantity), 6) AS median_qty
      FROM lineitem GROUP BY l_returnflag
    ),
    cnt AS (
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n
      FROM lineitem GROUP BY l_returnflag, l_linestatus
    ),
    md AS (
      SELECT l_returnflag, l_linestatus AS mode_status,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY n DESC, l_linestatus) AS rn
      FROM cnt
    )
    SELECT m.l_returnflag, m.median_qty, md.mode_status
    FROM med m JOIN md ON md.l_returnflag = m.l_returnflag AND md.rn = 1
    """,
    category="aggregate",
)
def agg_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median (interpolated percentile 0.5 — identical semantics in
    Spark F.median and DuckDB median) plus a DETERMINISTIC mode: built-in
    mode() leaves ties engine-defined, so the mode is computed as
    count-desc/value-asc row_number over the (group, value) counts — two
    shuffles, both on small post-aggregation data. Exact median at 100 TB
    requires a full sort per group; swap in percentile_approx when a
    bounded-error estimate is acceptable (agg_percentile)."""
    li = t(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(F.round(F.median("l_quantity"), 6).alias("median_qty"))
    cnt = li.groupBy("l_returnflag", "l_linestatus").agg(F.count("*").alias("n"))
    w = W.partitionBy("l_returnflag").orderBy(F.col("n").desc(), F.col("l_linestatus"))
    md = (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_returnflag", F.col("l_linestatus").alias("mode_status"))
    )
    return med.join(md, "l_returnflag").select("l_returnflag", "median_qty", "mode_status")


@register(
    "agg_weighted_avg",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
           CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             / CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) / 100.0 AS wavg_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    category="aggregate",
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted average price: both the weight sum and the weighted
    value sum are exact integers (quantities are integral, prices rounded
    to cents per row), so the aggregate is order-independent and the single
    final division is the only float op — the pattern for any exact
    weighted mean at scale. One partial+final hash aggregate."""
    li = t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("long")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return li.groupBy("l_returnflag").agg(
        F.sum(qty).alias("total_qty"),
        (F.sum(qty * cents) / F.sum(qty) / 100.0).alias("wavg_price"),
    )


HLL_TOL = 0.05  # sketch estimate must sit within 5% of exact (lgK default 12)


@register(
    "agg_hll_mergeable_sketches",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY day
    ),
    total AS (
      SELECT CAST(NULL AS TIMESTAMP) AS day,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events
    )
    SELECT day, n_exact, 1 AS hll_ok FROM daily
    UNION ALL
    SELECT day, n_exact, 1 AS hll_ok FROM total
    """,
    category="aggregate",
)
def agg_hll_mergeable_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches (Apache DataSketches HLL via
    Spark's hll_sketch_agg / hll_union_agg) — the production pattern a
    plain approx_count_distinct cannot express: build one small sketch
    per day partition, then answer ANY coarser rollup (here: the whole
    corpus) by unioning sketches WITHOUT rescanning the raw data — the
    foundation of pre-aggregated distinct-count serving at 100 TB (store
    per-partition sketches, merge at query time). The driver-checked
    output carries the exact counts (oracle-reproducible) plus a flag
    asserting the sketch estimate landed within {HLL_TOL:.0%} of exact at
    BOTH levels — the oracle pins the flag to 1, so estimator drift or a
    broken merge hash-mismatches. Per-day sketch state is a few KB
    regardless of row count; the merge is a single 1-row aggregate over
    #days sketches."""
    e = t(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("n_exact"),
    )
    ok = (
        F.abs(F.hll_sketch_estimate("sk") - F.col("n_exact"))
        <= F.col("n_exact") * HLL_TOL
    )
    per_day = daily.select(
        "day", "n_exact", F.when(ok, 1).otherwise(0).alias("hll_ok")
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
    ).crossJoin(
        F.broadcast(e.agg(F.countDistinct("user_id").alias("n_exact")))
    )
    # coalesce: a union over ZERO sketches yields a null estimate, which
    # must read as 0 so the empty-corpus flag still pins to 1 (|0-0| <= 0)
    total_ok = (
        F.abs(F.coalesce(F.col("est"), F.lit(0)) - F.col("n_exact"))
        <= F.col("n_exact") * HLL_TOL
    )
    total = merged.select(
        F.lit(None).cast("timestamp").alias("day"),
        "n_exact",
        F.when(total_ok, 1).otherwise(0).alias("hll_ok"),
    )
    return per_day.unionByName(total)


CM_DEPTH = 4     # d: independent hash rows
CM_WIDTH = 256   # w: counters per row -> 1024 cells total, ~8 KiB sketch
CM_PROBES = 16   # audit probe set: top-k tokens by true frequency


def _cm_col_sql(r: str, tok: str) -> str:
    """DuckDB: row-r count-min column for a token (md5 byte-slice)."""
    return (
        f"CAST(('0x' || substr(md5('cm' || CAST({r} AS VARCHAR) || ':' || {tok}), 1, 8))"
        f"::UBIGINT % {CM_WIDTH} AS BIGINT)"
    )


def cm_col(r: int, tok_col):
    """Spark twin of _cm_col_sql — the row-r count-min column. Shared with
    tests/test_sketch_properties.py so operator and properties can never
    validate different hash schemes."""
    return (
        F.conv(F.substring(F.md5(F.concat(F.lit(f"cm{r}:"), tok_col)), 1, 8), 16, 10)
        .cast("long") % CM_WIDTH
    )


def cm_rc_array(tok_col):
    """Array of (row, column) structs — one per hash row — for a token."""
    return F.array(
        *[
            F.struct(F.lit(r).alias("r"), cm_col(r, tok_col).alias("c"))
            for r in range(CM_DEPTH)
        ]
    )


def cm_cells(toks: DataFrame) -> DataFrame:
    """The count-min cell table for a (tok) frame: groupBy over the fixed
    (row, column) grid with map-side partial aggregation."""
    return (
        toks.select(F.explode(cm_rc_array(F.col("tok"))).alias("rc"))
        .groupBy(F.col("rc.r").alias("r"), F.col("rc.c").alias("c"))
        .agg(F.count("*").alias("cell"))
    )


@register(
    "agg_countmin_sketch",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    rs AS (SELECT unnest(range({CM_DEPTH})) AS r),
    cells AS (
      SELECT rs.r AS r, {_cm_col_sql("rs.r", "tok")} AS c, COUNT(*) AS cell
      FROM toks CROSS JOIN rs GROUP BY 1, 2
    ),
    counts AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok),
    probes AS (SELECT tok, n FROM counts ORDER BY n DESC, tok LIMIT {CM_PROBES}),
    lookups AS (
      SELECT p.tok, p.n, ce.cell
      FROM probes p CROSS JOIN rs
      JOIN cells ce ON ce.r = rs.r AND ce.c = {_cm_col_sql("rs.r", "p.tok")}
    )
    SELECT tok, CAST(n AS BIGINT) AS true_n,
           CAST(MIN(cell) AS BIGINT) AS cm_est,
           CAST(MIN(cell) - n AS BIGINT) AS overshoot
    FROM lookups GROUP BY tok, n
    """,
    category="aggregate",
)
def agg_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan) built distributed, then
    audited against exact counts: every token occurrence increments one
    counter in each of 4 (CM_DEPTH) hash rows of width 256 (CM_WIDTH); a point
    query reads the MIN across rows, which can only OVERestimate (each
    cell holds the token's count plus non-negative collision mass) — the
    driver hash-match pins the estimates AND the overshoot column, and
    overshoot >= 0 everywhere is the sketch's defining one-sided
    guarantee (property-pinned in tests/test_sketch_properties.py).

    100 TB design: the sketch is the scale path for frequency queries —
    the groupBy key space is the FIXED (row, column) grid, so map-side
    partial aggregation reduces every partition to <= 1024
    cells before the shuffle; the shuffle carries O(partitions x cells),
    never O(distinct tokens). Sketches are mergeable by cell-wise sum
    (exactly what the partial->final aggregate does), so per-day or
    per-shard sketches union for free — same pattern as the HLL operator
    (agg_hll_mergeable_sketches). The exact `counts` branch exists only to
    measure sketch error at test scale; a production frequency service
    ships the 8 KiB cell table alone. All hashing is md5 byte-slices, so
    the full sketch — not just the verdict — is cross-engine identical."""
    # The token stream feeds the sketch build AND the exact-count audit;
    # the shared subtree has no exchange, so nothing is reusable and the
    # scan+split+explode ran twice. Eager checkpoint = one pass (r15,
    # probes/abx_r15opt_ckpt3.txt). DATA_SIZED (r16, VERDICT item 3): the
    # exploded token stream is input-proportional, so its storage class is
    # audited and its level parameterized — see ckpt policy.
    from glue_etl_framework_spark.ckpt import DATA_SIZED, checkpoint_shared

    toks = checkpoint_shared(
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok")),
        size_class=DATA_SIZED,
    )
    cells = cm_cells(toks)
    counts = toks.groupBy("tok").agg(F.count("*").alias("n"))
    probes = counts.orderBy(F.col("n").desc(), F.col("tok").asc()).limit(CM_PROBES)
    lookups = probes.select(
        "tok", "n", F.explode(cm_rc_array(F.col("tok"))).alias("rc")
    ).join(F.broadcast(cells), (F.col("rc.r") == F.col("r")) & (F.col("rc.c") == F.col("c")))
    return lookups.groupBy("tok", "n").agg(F.min("cell").alias("cm_est")).select(
        "tok",
        F.col("n").alias("true_n"),
        "cm_est",
        (F.col("cm_est") - F.col("n")).alias("overshoot"),
    )


MEDIAN_BINS = 4096  # pass-1 histogram resolution for the two-pass quantile


def _quantile_pass2(vals, cum, kname, keys=()):
    """Second pass for one quantile rank column `kname` (carried through
    the histogram): locate the target bin in the bounded cumulative
    histogram, then resolve the exact rank within that single bin — per
    group when `keys` is non-empty (every window partitions by the
    keys), globally otherwise (bounded frames, plan-audit allowlisted).
    Returns one row per key combination (a single NULL-quantile row on
    empty global input). Shared by agg_exact_median_twopass and
    agg_group_median_twopass so the selection machinery exists once."""
    keys = list(keys)
    rk = F.row_number().over(W.partitionBy(*keys).orderBy("bin"))
    target = (
        cum.filter(F.col("cum") >= F.col(kname))
        .withColumn("__rk", rk)
        .filter(F.col("__rk") == 1)
        .select(
            *keys,
            F.col("bin").alias("tbin"),
            (F.col("cum") - F.col("n_bin")).alias("cum_before"),
            F.col("width").alias("twidth"),
            F.col(kname).alias("tk"),
        )
    )
    joined = (
        vals.join(target, keys) if keys else vals.crossJoin(F.broadcast(target))
    )
    within = (
        joined.filter(F.expr("c div twidth") == F.col("tbin"))
        .groupBy(*keys, "c", "cum_before", "tk")
        .agg(F.count("*").alias("cnt"))
        .withColumn("cumv", F.sum("cnt").over(W.partitionBy(*keys).orderBy("c")))
    )
    return (
        within.filter(F.col("cumv") >= F.col("tk") - F.col("cum_before"))
        .groupBy(*keys)
        .agg(F.min("c").alias("q"))
    )


@register(
    "agg_exact_median_twopass",
    oracle="""
    WITH v AS (
      SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(quantile_disc(c, 0.5) AS BIGINT) AS median_cents,
           CAST(quantile_disc(c, 0.9) AS BIGINT) AS p90_cents
    FROM v
    """,
    category="aggregate",
)
def agg_exact_median_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed median + p90 with NO global sort — the two-pass
    histogram selection method: pass 1 bins every value into a fixed
    4096-cell histogram (map-side partial agg -> <= 4096 rows cross the
    shuffle) and a bounded cumulative sum locates the bin holding rank
    k = ceil(q*n); pass 2 re-scans ONLY that bin's values and resolves
    the exact rank among its distinct values. Contrast the two standard
    alternatives at 100 TB: a global sort-by-value (orderBy +
    row_number) is a full-data range shuffle, and approx_percentile
    gives no exactness guarantee — this plan's shuffles are O(bins) and
    O(one bin's distinct values), both bounded, and the answer is exact
    (hash-matched against DuckDB's quantile_disc, whose discrete rank
    ceil(q*n) both k columns reproduce in pure integer arithmetic:
    kmed = (n+1) div 2, k90 = (9n+9) div 10). A pathological bin (all
    mass in one cell) degrades pass 2 to that bin's distinct-value
    count; the production hardening is recursing the same two passes on
    the bin. Rank within the bin is order-independent (per-value counts,
    not row_number), so partitioning never changes the result.
    NULL/empty input yields (0, NULL, NULL) — same as the oracle. The
    unpartitioned windows run over the 4096-bin histogram and one bin's
    distinct values — both bounded (plan-audit allowlisted)."""
    li = t(spark, sf_dir, "lineitem")
    # `vals` feeds four consumers (stats, the binning pass, and both
    # pass-2 bin re-scans); the shared subtree is scan+project with no
    # exchange, so each consumer re-scanned the table. One eager
    # checkpoint of the single 8-byte column = one scan (r15,
    # probes/abx_r15opt_ckpt3.txt); pass 2 stays a block re-read of only
    # the target bin's values. DATA_SIZED (r16): one long per input row is
    # still input-proportional — level parameterized, evictable default (ckpt policy).
    from glue_etl_framework_spark.ckpt import DATA_SIZED, checkpoint_shared

    vals = checkpoint_shared(
        li.select(F.round(F.col("l_extendedprice") * 100).cast("long").alias("c")),
        size_class=DATA_SIZED,
    )
    s = (
        vals.agg(F.count("*").alias("n"), F.max("c").alias("maxc"))
        .withColumn("kmed", F.expr("(n + 1) div 2"))
        .withColumn("k90", F.expr("(9 * n + 9) div 10"))
    )
    binned = (
        vals.crossJoin(F.broadcast(s))
        .withColumn("width", F.expr(f"maxc div {MEDIAN_BINS} + 1"))
        .withColumn("bin", F.expr("c div width"))
    )
    hist = binned.groupBy("bin").agg(
        F.count("*").alias("n_bin"),
        F.max("width").alias("width"),
        F.max("kmed").alias("kmed"),
        F.max("k90").alias("k90"),
    )
    cum = hist.withColumn("cum", F.sum("n_bin").over(W.orderBy("bin")))
    med = _quantile_pass2(vals, cum, "kmed").select(F.col("q").alias("median_cents"))
    p90 = _quantile_pass2(vals, cum, "k90").select(F.col("q").alias("p90_cents"))
    return (
        s.select("n")
        .crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(p90))
        .select("n", "median_cents", "p90_cents")
    )


KMV_K = 64  # k-minimum-values sketch size


@register(
    "agg_kmv_sketch_setops",
    oracle=f"""
    WITH sh AS (
      SELECT source,
             md5(unnest(list_transform(range(1, length(w) - 1),
                        i -> array_to_string(w[i:i+2], ' ')))) AS h
      FROM (SELECT source, string_split(text, ' ') AS w FROM documents
            WHERE source IN ('src0', 'src1'))
      WHERE length(w) >= 3
    ),
    d AS (SELECT DISTINCT source, h FROM sh),
    ka AS (SELECT h FROM d WHERE source = 'src0' ORDER BY h LIMIT {KMV_K}),
    kb AS (SELECT h FROM d WHERE source = 'src1' ORDER BY h LIMIT {KMV_K}),
    ku AS (
      SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) u
      ORDER BY h LIMIT {KMV_K}
    ),
    stats AS (
      SELECT MAX(ku.h) AS t,
             CAST(COUNT(*) AS BIGINT) AS n_ku,
             CAST(SUM(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_both
      FROM ku
      LEFT JOIN ka a ON a.h = ku.h
      LEFT JOIN kb b ON b.h = ku.h
    ),
    exact AS (
      SELECT CAST(COUNT(DISTINCT CASE WHEN source = 'src0' THEN h END) AS BIGINT) AS n_a,
             CAST(COUNT(DISTINCT CASE WHEN source = 'src1' THEN h END) AS BIGINT) AS n_b,
             CAST(COUNT(DISTINCT h) AS BIGINT) AS n_union
      FROM d
    ),
    inter AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_inter FROM (
        SELECT h FROM d WHERE source = 'src0'
        INTERSECT SELECT h FROM d WHERE source = 'src1'
      )
    )
    SELECT e.n_a, e.n_b, e.n_union, i.n_inter,
           CASE WHEN s.n_ku < {KMV_K} THEN s.n_ku
                ELSE CAST(round(({KMV_K} - 1)
                      / (CAST(('0x' || substr(s.t, 1, 8))::UBIGINT AS DOUBLE) / 4294967296.0))
                AS BIGINT) END AS union_est,
           CASE WHEN s.n_ku < {KMV_K} THEN s.n_both
                ELSE CAST(round(CAST(s.n_both AS DOUBLE) / {KMV_K}
                      * (({KMV_K} - 1)
                         / (CAST(('0x' || substr(s.t, 1, 8))::UBIGINT AS DOUBLE) / 4294967296.0)))
                AS BIGINT) END AS inter_est
    FROM exact e CROSS JOIN inter i CROSS JOIN stats s
    """,
    category="aggregate",
)
def agg_kmv_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) sketch with INTERSECTION
    estimation (Beyer et al. 2007) — the set-operation capability HLL
    lacks (agg_hll_mergeable_sketches can only union): each set keeps
    its 64 smallest md5 values; sketches merge by re-taking the bottom
    k; the k-th smallest value t estimates |U| ~ (k-1)/t (t as a
    fraction of hash space), and the fraction of merged-sketch members
    present in BOTH input sketches scales that to an intersection
    estimate. Compared against exact distinct counts in the same row,
    so the driver hash-match pins the estimates AND their targets.

    Scale shape: a bottom-k per set is a WindowGroupLimit (map-side
    top-k, no full sort); the sketch is k hashes — bytes, mergeable,
    composable across shards/days exactly like the HLL and count-min
    entries (the three sketches cover distinct-count, frequency, and
    set-overlap — the standard trio of a data-quality service). The
    exact branch exists to measure estimator error at test scale; at
    100 TB only the sketches ship. md5-ordered bottom-k is
    engine-portable, so the full sketch contents are oracle-checked."""
    from glue_etl_framework_spark.ext.dedup import shingle_array

    d = t(spark, sf_dir, "documents")
    sh = (
        d.filter(F.col("source").isin("src0", "src1"))
        .select("source", F.explode(shingle_array()).alias("shingle"))
        .select("source", F.md5("shingle").alias("h"))
        .distinct()
    )
    # pin each sketch (k hashes — bytes at ANY corpus size): without the
    # checkpoint, ku and the stats joins replay the corpus-wide shingle
    # distinct once per consumer (r5 plan audit: 5 TakeOrderedAndProject,
    # 7 corpus scans in one plan). The exact/intersect branch below still
    # scans the corpus by design — it is the test-scale error probe; at
    # 100 TB only these pinned sketches ship.
    ka = (
        sh.filter(F.col("source") == "src0").select("h").orderBy("h").limit(KMV_K)
        .localCheckpoint(eager=True)
    )
    kb = (
        sh.filter(F.col("source") == "src1").select("h").orderBy("h").limit(KMV_K)
        .localCheckpoint(eager=True)
    )
    ku = ka.union(kb).distinct().orderBy("h").limit(KMV_K)
    stats = (
        ku.join(ka.withColumnRenamed("h", "ha"), ku.h == F.col("ha"), "left")
        .join(kb.withColumnRenamed("h", "hb"), ku.h == F.col("hb"), "left")
        .agg(
            F.max(ku.h).alias("t"),
            F.count("*").alias("n_ku"),
            F.sum(
                F.when(F.col("ha").isNotNull() & F.col("hb").isNotNull(), 1).otherwise(0)
            ).alias("n_both"),
        )
    )
    exact = sh.agg(
        F.count_distinct(F.when(F.col("source") == "src0", F.col("h"))).alias("n_a"),
        F.count_distinct(F.when(F.col("source") == "src1", F.col("h"))).alias("n_b"),
        F.count_distinct("h").alias("n_union"),
    )
    inter = (
        sh.filter(F.col("source") == "src0")
        .select("h")
        .intersect(sh.filter(F.col("source") == "src1").select("h"))
        .agg(F.count("*").alias("n_inter"))
    )
    frac = F.conv(F.substring("t", 1, 8), 16, 10).cast("double") / F.lit(4294967296.0)
    # An UNSATURATED sketch (fewer than k values survived the merge) IS the
    # exact union set — the (k-1)/t estimator is only defined at capacity.
    saturated = F.col("n_ku") >= KMV_K
    union_est = F.when(
        saturated, F.round((KMV_K - 1) / frac).cast("long")
    ).otherwise(F.col("n_ku"))
    inter_est = F.when(
        saturated,
        F.round(F.col("n_both").cast("double") / KMV_K * ((KMV_K - 1) / frac)).cast("long"),
    ).otherwise(F.col("n_both"))
    return (
        exact.crossJoin(F.broadcast(inter))
        .crossJoin(F.broadcast(stats))
        .select(
            "n_a", "n_b", "n_union", "n_inter",
            union_est.alias("union_est"),
            inter_est.alias("inter_est"),
        )
    )


@register(
    "agg_group_median_twopass",
    oracle="""
    WITH v AS (
      SELECT l_returnflag AS g, CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c
      FROM lineitem
    )
    SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(quantile_disc(c, 0.5) AS BIGINT) AS median_cents
    FROM v GROUP BY g
    """,
    category="aggregate",
)
def agg_group_median_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP exact median with no per-group sort — the grouped form
    of agg_exact_median_twopass, showing the histogram-selection method
    composes with keys: every window and aggregate partitions by the
    group, so there is no single-task stage at ALL (the global variant
    needs its bounded-frame allowlist; this one doesn't). Pass 1 builds
    a per-group 4096-bin histogram (shuffle keyed on (group, bin),
    map-side combined) and a group-partitioned cumulative locates each
    group's rank-k bin; pass 2 resolves the exact rank among that bin's
    distinct values per group. Matches DuckDB's quantile_disc rank
    ceil(n/2) = (n+1) div 2 in integer arithmetic. This is the shape a
    'median per tenant/day/source' dashboard needs at 100 TB — the
    global variant can't partition, this one is embarrassingly
    key-parallel."""
    li = t(spark, sf_dir, "lineitem")
    vals = li.select(
        F.col("l_returnflag").alias("g"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("c"),
    )
    st = (
        vals.groupBy("g")
        .agg(F.count("*").alias("n"), F.max("c").alias("maxc"))
        .withColumn("kmed", F.expr("(n + 1) div 2"))
        .withColumn("width", F.expr(f"maxc div {MEDIAN_BINS} + 1"))
    )
    binned = vals.join(st, "g").withColumn("bin", F.expr("c div width"))
    hist = binned.groupBy("g", "bin").agg(
        F.count("*").alias("n_bin"),
        F.max("width").alias("width"),
        F.max("kmed").alias("kmed"),
    )
    cum = hist.withColumn("cum", F.sum("n_bin").over(W.partitionBy("g").orderBy("bin")))
    med = _quantile_pass2(vals, cum, "kmed", keys=("g",))
    return (
        st.select("g", "n")
        .join(med, "g")
        .select("g", "n", F.col("q").alias("median_cents"))
    )


BITMAP_WORD = 63  # bits per BIGINT word (sign bit avoided: DuckDB 1<<63 overflows)


@register(
    "agg_bitmap_distinct_users",
    oracle=f"""
    WITH words AS (
      SELECT event_type, user_id // {BITMAP_WORD} AS w,
             bit_or(CAST(1 AS BIGINT) << CAST(user_id % {BITMAP_WORD} AS INTEGER)) AS bits
      FROM (SELECT DISTINCT event_type, user_id FROM events WHERE user_id >= 0)
      GROUP BY event_type, user_id // {BITMAP_WORD}
    )
    SELECT event_type,
           CAST(SUM(bit_count(bits)) AS BIGINT) AS n_users_bitmap,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           md5(string_agg(lpad(CAST(w AS VARCHAR), 12, '0') || ':' || CAST(bits AS VARCHAR),
                          ',' ORDER BY w)) AS bitmap_md5
    FROM words GROUP BY event_type
    """,
    category="aggregate",
)
def agg_bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counts via bitmap words — the
    roaring-bitmap family (Lemire et al.; Druid/ClickHouse
    groupBitmap): each (event_type, 63-id block) packs its present user
    ids into one BIGINT via bit_or (63 bits per word — DuckDB's BIGINT
    shift refuses the sign bit, the same guard as the bloom's 32-bit
    words), and the distinct count is the popcount sum. Where HLL
    (agg_hll_mergeable_sketches) trades error for constant size,
    bitmaps are EXACT and still mergeable by word-wise OR — the right
    choice when the id space is dense, bounded, and NON-NEGATIVE (the
    filter enforces the contract explicitly: floor-vs-truncation
    division and shift semantics diverge between engines on negative
    ids, so they are excluded rather than silently mis-bucketed).
    bit_or is idempotent, so no pre-distinct is needed — the single
    shuffle is the (event_type, word) aggregate whose map-side partial
    bit_or sends one word per 63-id block. The full bitmap — word
    assignment and bit placement, not just counts — is pinned by
    bitmap_md5 (the order-canonical word-list digest), so a bucketing
    bug cannot hide behind an intact popcount."""
    e = t(spark, sf_dir, "events")
    words = (
        e.filter(F.col("user_id") >= 0)
        .select("event_type", "user_id")
        .groupBy(
            "event_type", F.expr(f"user_id div {BITMAP_WORD}").alias("w")
        )
        .agg(
            F.expr(
                f"bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % {BITMAP_WORD} AS INT)))"
            ).alias("bits")
        )
    )
    token = F.concat_ws(
        ":", F.lpad(F.col("w").cast("string"), 12, "0"), F.col("bits").cast("string")
    )
    return words.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).alias("n_users_bitmap"),
        F.count("*").alias("n_words"),
        F.md5(F.concat_ws(",", F.array_sort(F.collect_list(token)))).alias("bitmap_md5"),
    )
