"""Driver-verifiable IO round-trips — SURVEY §2.1 as registry queries.

Every operator here EXERCISES a real sink/source path (write through the
engine's writers, read back through its readers) and returns a DataFrame
that is a pure function of the fixture tables — so the driver's DuckDB
oracle (which sees only the fixture parquet) hash-checks the round-trip:
any value/type corruption in the write -> read cycle breaks the match.
This closes the §2.1 visibility gap from VERDICT r02 (file sink, format
dispatch, partitioned write, upsert, transactional write, SCD2, and the
offline avro codec previously had pytest evidence only — no driver rows).

Mechanics: each entry materializes its table(s) into one per-process temp
dir per (operator, sf_dir) — rebuilt on first call, reused within a sweep,
removed at interpreter exit (same lifecycle as queries/streaming_live's
stream sources). Read-backs always pass an explicit schema so zero-row
inputs (the empty-input sweep) stay readable. Side-effects happen at
BUILD time, like the streaming drains; the returned DataFrame is lazy.

Reference surface covered: create_dynamic_frame format dispatch + sink
(/root/reference/glue/glue_etl_framework.py:81-102,215-231), repartition/
coalesce (:196-202), partition_keys (:204-207), upsert claim (README
:68), plus the engine's own staged transactional commit and SCD2 MERGE.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from glue_etl_framework_spark.queries import register, t

_WORKDIRS: dict[tuple[str, str], str] = {}


def _cleanup_workdirs() -> None:
    for d in _WORKDIRS.values():
        shutil.rmtree(d, ignore_errors=True)
    _WORKDIRS.clear()


atexit.register(_cleanup_workdirs)


def _dir_tag(sf_dir: str) -> str:
    """Catalog-safe suffix derived from the fixture dir: catalog TABLE
    names are process-global while workdirs are per-(op, sf_dir), so any
    operator caching a catalog table must bake the fixture into the name
    or a later call for fixture A can read fixture B's table (review
    finding)."""
    import hashlib

    return hashlib.md5(sf_dir.encode()).hexdigest()[:8]


def _workdir(tag: str, sf_dir: str) -> tuple[str, bool]:
    """(dir, fresh): one cached dir per (operator, fixture dir) per process."""
    key = (tag, sf_dir)
    if key in _WORKDIRS:
        return _WORKDIRS[key], False
    d = tempfile.mkdtemp(prefix=f"ioop_{tag}_")
    _WORKDIRS[key] = d
    return d, True


# --- parquet partitioned write + pruned read-back --------------------------

_PARQ_ORACLE = """
    SELECT l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem WHERE l_returnflag = 'R'
    GROUP BY l_linestatus
"""


@register("io_roundtrip_parquet_partitioned", oracle=_PARQ_ORACLE, category="io")
def io_roundtrip_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned file sink round-trip: lineitem written hive-partitioned
    by l_returnflag (write_table: partition_keys + refresh full), read back
    through the file reader, filtered to ONE partition, aggregated. The
    oracle aggregates the fixture directly, so a wrong partition layout,
    dropped rows, or type corruption all hash-mismatch. The read-back
    filter prunes to a single hive partition (pruning plan-asserted in
    tests/test_partitioning.py); quantities are integer-valued doubles so
    sums are exact."""
    from glue_etl_framework_spark.io.readers import read_table
    from glue_etl_framework_spark.io.writers import write_table

    d, fresh = _workdir("parq", sf_dir)
    loc = f"{d}/lineitem_part"
    if fresh:
        li = t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_linestatus", "l_returnflag"
        )
        write_table(
            li,
            {
                "target": "file",
                "location": loc,
                "format": "parquet",
                "partition_keys": "l_returnflag",
                "refresh": "full",
            },
        )
    back = read_table(
        spark,
        {
            "name": "li",
            "source": "file",
            "location": loc,
            "format": "parquet",
            # partition discovery needs the recursive-lookup default OFF
            "format_options": {"recursiveFileLookup": False},
            "schema": "l_orderkey long, l_linenumber int, l_quantity double, "
            "l_linestatus string, l_returnflag string",
        },
    )
    return (
        back.filter(F.col("l_returnflag") == "R")
        .groupBy("l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
    )


# --- csv with Glue-style format_options ------------------------------------

_CSV_ORACLE = """
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
           CAST(SUM(c_nationkey) AS BIGINT) AS nation_sum
    FROM customer GROUP BY c_mktsegment
"""


@register("io_roundtrip_csv_options", oracle=_CSV_ORACLE, category="io")
def io_roundtrip_csv_options(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV format dispatch round-trip with the reference's Glue-style
    format_options (withHeader + separator '|', translated to Spark's
    header/sep — readers._GLUE_OPTION_ALIASES): customer written as csv,
    read back with an explicit schema, aggregated per segment. Integer and
    string columns only — text round-tripping of floats is deliberately
    NOT part of the csv contract here (parquet/orc/avro carry doubles
    losslessly; csv is the interchange format)."""
    from glue_etl_framework_spark.io.readers import read_table
    from glue_etl_framework_spark.io.writers import write_table

    d, fresh = _workdir("csv", sf_dir)
    loc = f"{d}/customer_csv"
    if fresh:
        c = t(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
        )
        write_table(
            c,
            {
                "target": "file",
                "location": loc,
                "format": "csv",
                "format_options": {"withHeader": True, "separator": "|"},
                "refresh": "full",
            },
        )
    back = read_table(
        spark,
        {
            "name": "c",
            "source": "file",
            "location": loc,
            "format": "csv",
            "format_options": {"withHeader": True, "separator": "|"},
            "schema": "c_custkey long, c_name string, c_nationkey int, c_mktsegment string",
        },
    )
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_cust"),
        F.sum("c_custkey").alias("key_sum"),
        F.sum(F.col("c_nationkey").cast("long")).alias("nation_sum"),
    )


# --- json with timestamps ---------------------------------------------------

_JSON_ORACLE = """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           MAX(o_orderdate) AS max_date,
           MIN(o_orderdate) AS min_date
    FROM orders GROUP BY o_orderstatus
"""


@register("io_roundtrip_json_timestamps", oracle=_JSON_ORACLE, category="io")
def io_roundtrip_json_timestamps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON format dispatch round-trip carrying TIMESTAMP values (ISO-8601
    text in flight, parsed back via explicit schema): per-status order
    counts and min/max order dates must survive the text encoding exactly
    (UTC session; micros precision)."""
    from glue_etl_framework_spark.io.readers import read_table
    from glue_etl_framework_spark.io.writers import write_table

    d, fresh = _workdir("json", sf_dir)
    loc = f"{d}/orders_json"
    if fresh:
        o = t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_orderdate"
        )
        write_table(
            o,
            {"target": "file", "location": loc, "format": "json", "refresh": "full"},
        )
    back = read_table(
        spark,
        {
            "name": "o",
            "source": "file",
            "location": loc,
            "format": "json",
            "schema": "o_orderkey long, o_orderstatus string, o_orderdate timestamp",
        },
    )
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.max("o_orderdate").alias("max_date"),
        F.min("o_orderdate").alias("min_date"),
    )


# --- orc full-fidelity doubles ----------------------------------------------

_ORC_ORACLE = """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem GROUP BY l_returnflag
"""


@register("io_roundtrip_orc_doubles", oracle=_ORC_ORACLE, category="io")
def io_roundtrip_orc_doubles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC format dispatch round-trip carrying DOUBLE columns losslessly
    (binary IEEE in the file, unlike csv): the pricing-summary shape over
    the read-back must produce the identical integer-cents sums as the
    fixture itself."""
    from glue_etl_framework_spark.io.readers import read_table
    from glue_etl_framework_spark.io.writers import write_table

    d, fresh = _workdir("orc", sf_dir)
    loc = f"{d}/lineitem_orc"
    if fresh:
        li = t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag"
        )
        write_table(
            li,
            {"target": "file", "location": loc, "format": "orc", "refresh": "full"},
        )
    back = read_table(
        spark,
        {
            "name": "li",
            "source": "file",
            "location": loc,
            "format": "orc",
            "schema": "l_orderkey long, l_quantity double, l_extendedprice double, "
            "l_returnflag string",
        },
    )
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("price_cents"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
    )


# --- avro via the offline pure-Python codec ---------------------------------

_AVRO_ORACLE = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
           MAX(o_orderdate) AS max_date
    FROM orders GROUP BY o_orderpriority
"""


@register("io_roundtrip_avro_codec", oracle=_AVRO_ORACLE, category="io")
def io_roundtrip_avro_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro round-trip through the jar-less pure-Python container codec
    (io/avro_py.py; write_table/read_table fall back to it automatically
    when the spark-avro datasource is absent): longs, strings, IEEE
    doubles, and timestamp-micros must all survive the spec binary
    encoding bit-exactly — the driver hash against the parquet fixture is
    the cross-format fidelity proof (the Java avro-core cross-read lives
    in tests/test_avro_py.py)."""
    from glue_etl_framework_spark.io.readers import read_table
    from glue_etl_framework_spark.io.writers import write_table

    d, fresh = _workdir("avro", sf_dir)
    loc = f"{d}/orders_avro"
    if fresh:
        o = t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"
        )
        write_table(
            o,
            {"target": "file", "location": loc, "format": "avro", "refresh": "full"},
        )
    back = read_table(
        spark,
        {"name": "o", "source": "file", "location": loc, "format": "avro"},
    )
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
        F.max("o_orderdate").alias("max_date"),
    )


# --- upsert (key-level MERGE) ----------------------------------------------

_UPSERT_ORACLE = """
    WITH seed AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 3 <> 0
    ),
    upd AS (
      SELECT o_orderkey, 'U' AS o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) + 100 AS cents
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    merged AS (
      SELECT * FROM upd
      UNION ALL
      SELECT s.* FROM seed s ANTI JOIN upd u ON s.o_orderkey = u.o_orderkey
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM merged GROUP BY o_orderstatus
"""


@register("io_upsert_by_key_merge", oracle=_UPSERT_ORACLE, category="io")
def io_upsert_by_key_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-level MERGE round-trip (README.md:68's UPSERT done on plain
    files): a seed table (orderkeys not divisible by 3) upserted with a
    deterministic update batch (even orderkeys: status 'U', price +1.00 —
    existing keys replaced, unseen keys inserted), read back, aggregated.
    The oracle expresses the same last-writer-wins merge relationally
    (updates UNION ALL seed-anti-updates), so replaced-row leakage, lost
    inserts, or double-application all hash-mismatch. The engine path is
    upsert_by_key's staged anti-join rewrite (writers.py)."""
    from glue_etl_framework_spark.io.writers import staged_write, upsert_by_key

    d, fresh = _workdir("upsert", sf_dir)
    loc = f"{d}/orders_upsert"
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    if fresh:
        o = t(spark, sf_dir, "orders")
        seed = o.filter(F.col("o_orderkey") % 3 != 0).select(
            "o_orderkey", "o_orderstatus", cents.alias("cents")
        )
        staged_write(seed, {"location": loc, "format": "parquet"})
        updates = o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey",
            F.lit("U").alias("o_orderstatus"),
            (cents + 100).alias("cents"),
        )
        upsert_by_key(spark, updates, loc, keys=["o_orderkey"])
    back = spark.read.schema("o_orderkey long, o_orderstatus string, cents long").parquet(loc)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_rows"), F.sum("cents").alias("sum_cents")
    )


# --- transactional (staged) write survives a failing plan -------------------

_STAGED_ORACLE = """
    SELECT n_nationkey, n_name, n_regionkey FROM nation
"""


@register("io_staged_write_crash_intact", oracle=_STAGED_ORACLE, category="io")
def io_staged_write_crash_intact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transactional-write guarantee, driver-checked: after a good staged
    write of nation, a SECOND staged write whose plan fails mid-job
    (assert_true(false) raises during materialization) must leave the
    table byte-identical to the good copy — the oracle is the fixture
    nation itself, so any partial/destroyed state hash-mismatches. This is
    the stage-dir + atomic-rename commit of writers.staged_write
    (crash-injection variants in tests/test_pipeline.py)."""
    from glue_etl_framework_spark.io.writers import staged_write

    d, fresh = _workdir("staged", sf_dir)
    loc = f"{d}/nation_staged"
    if fresh:
        n = t(spark, sf_dir, "nation")
        staged_write(n, {"location": loc, "format": "parquet"})
        poisoned = n.withColumn(
            "boom", F.assert_true(F.lit(False), F.lit("injected failure"))
        )
        try:
            staged_write(poisoned, {"location": loc, "format": "parquet"})
        except Exception:
            pass  # expected: the failed stage must not touch the live table
    return spark.read.schema("n_nationkey int, n_name string, n_regionkey int").parquet(loc)


# --- SCD2 history -----------------------------------------------------------

_SCD2_ORACLE = """
    WITH ranked AS (
      SELECT o_custkey, o_orderpriority, o_orderdate,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    b1 AS (
      SELECT o_custkey, o_orderpriority AS prio, o_orderdate AS ts
      FROM ranked WHERE rn = 1
    ),
    changed AS (SELECT * FROM b1 WHERE o_custkey % 2 = 0),
    unchanged AS (SELECT * FROM b1 WHERE o_custkey % 2 <> 0)
    SELECT o_custkey, prio, ts AS valid_from,
           ts + INTERVAL 30 DAY AS valid_to, FALSE AS is_current
    FROM changed
    UNION ALL
    SELECT o_custkey, 'CHANGED' AS prio, ts + INTERVAL 30 DAY AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
    FROM changed
    UNION ALL
    SELECT o_custkey, prio, ts AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
    FROM unchanged
"""


@register("io_scd2_history", oracle=_SCD2_ORACLE, category="io")
def io_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 MERGE round-trip: batch 1 seeds one dimension row per customer
    (their first even-keyed order's priority), batch 2 updates EVEN
    custkeys 30 days later with a changed attribute. The expected history
    — closed row + new open row for changed keys, untouched open row for
    the rest — is spelled out relationally in the oracle, so wrong
    valid_from/valid_to stitching, lost history, or spurious closes all
    hash-mismatch. Engine path: writers.scd2_merge twice (init + merge),
    the single-pass branch-explode MERGE."""
    from pyspark.sql import Window as W

    from glue_etl_framework_spark.io.writers import scd2_merge

    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 2 == 0)
    w = W.partitionBy("o_custkey").orderBy("o_orderkey")
    b1 = (
        o.select(
            "o_custkey", "o_orderpriority", "o_orderdate",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderpriority").alias("prio"),
            F.col("o_orderdate").alias("ts"),
        )
    )
    h1 = scd2_merge(None, b1, keys=["o_custkey"], ts_col="ts")
    b2 = (
        b1.filter(F.col("o_custkey") % 2 == 0)
        .select(
            "o_custkey",
            F.lit("CHANGED").alias("prio"),
            (F.col("ts") + F.expr("INTERVAL 30 DAY")).alias("ts"),
        )
    )
    h2 = scd2_merge(h1, b2, keys=["o_custkey"], ts_col="ts")
    return h2.select(
        "o_custkey", "prio",
        F.col("valid_from"), F.col("valid_to"), F.col("is_current"),
    )


# --- compaction + repartition files-out -------------------------------------

_COMPACT_ORACLE = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
    FROM lineitem
"""


@register("io_compact_small_files", oracle=_COMPACT_ORACLE, category="io")
def io_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction round-trip: lineitem deliberately written as
    16 files (write_table repartition=16 — the reference's files-out knob,
    glue_etl_framework.py:196-202), compacted by io.compaction.compact_table
    (size-planned rewrite through the same staged commit), read back and
    totaled. Value preservation is the driver check here; the file-count
    math is pinned separately in tests/test_compaction.py."""
    from glue_etl_framework_spark.io.compaction import compact_table
    from glue_etl_framework_spark.io.writers import write_table

    d, fresh = _workdir("compact", sf_dir)
    loc = f"{d}/lineitem_small"
    if fresh:
        li = t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )
        write_table(
            li,
            {
                "target": "file",
                "location": loc,
                "format": "parquet",
                "repartition": 16,
                "refresh": "full",
            },
        )
        compact_table(spark, loc)
    back = spark.read.schema("l_orderkey long, l_extendedprice double").parquet(loc)
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("price_cents"),
    )


# --- DISTRIBUTE BY / SORT WITHIN PARTITIONS invariant ------------------------

_DISTSORT_ORACLE = """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
           CAST(0 AS BIGINT) AS sort_violations,
           CAST(0 AS BIGINT) AS placement_violations
    FROM lineitem GROUP BY l_returnflag
"""


@register("layout_distribute_sort_invariant", oracle=_DISTSORT_ORACLE, category="io")
def layout_distribute_sort_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTE BY + SORT BY (SURVEY §2.6), driver-checked through its
    INVARIANTS rather than its (partition-boundary-dependent, hence not
    SQL-expressible) physical layout: after ``repartition(l_returnflag)``
    + ``sortWithinPartitions(l_returnflag, l_orderkey)``, (a) every
    partition must be non-decreasing in the sort key — counted via a lag
    over (partition_id)-partitioned windows, (b) no key may straddle two
    partitions — distinct (key, partition_id) pairs per key must be 1, and
    (c) content must be preserved (per-key counts + key sums). The oracle
    states the expected zero violation counts plus the content aggregates
    from the fixture, so a broken exchange, lost rows, or unsorted output
    all hash-mismatch. The violation windows partition by
    spark_partition_id — bounded per-task frames at any scale."""
    from pyspark.sql import Window as W

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    laid = li.repartition("l_returnflag").sortWithinPartitions(
        "l_returnflag", "l_orderkey"
    )
    tagged = laid.select(
        "l_orderkey", "l_returnflag", F.spark_partition_id().alias("pid")
    )
    w = W.partitionBy("pid").orderBy("l_returnflag", "l_orderkey")
    prev_key = F.lag("l_orderkey").over(w)
    prev_flag = F.lag("l_returnflag").over(w)
    sort_bad = F.when(
        prev_flag.isNotNull()
        & (prev_flag == F.col("l_returnflag"))
        & (prev_key > F.col("l_orderkey")),
        1,
    ).otherwise(0)
    placement = tagged.groupBy("l_returnflag").agg(
        (F.countDistinct("pid") - 1).alias("extra_pids")
    )
    checked = tagged.withColumn("sort_bad", sort_bad)
    return (
        checked.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum("l_orderkey").alias("key_sum"),
            F.sum("sort_bad").alias("sort_violations"),
        )
        .join(placement, "l_returnflag")
        .select(
            "l_returnflag", "n_rows", "key_sum", "sort_violations",
            F.col("extra_pids").cast("long").alias("placement_violations"),
        )
    )


# --- GlueTransform verb pipeline --------------------------------------------

_VERBS_ORACLE = """
    WITH mapped AS (
      SELECT o_orderkey AS order_id,
             CAST(o_custkey AS INTEGER) AS cust_id,
             o_orderpriority AS priority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    filtered AS (SELECT * FROM mapped WHERE cents > 1000000)
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(SUM(cust_id) AS BIGINT) AS cust_sum
    FROM filtered GROUP BY priority
"""


@register("glue_verbs_pipeline", oracle=_VERBS_ORACLE, category="transforms")
def glue_verbs_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GlueTransform verb layer (SURVEY §2.10: ApplyMapping,
    ResolveChoice/cast, Filter, SelectFields, DropFields, RenameField —
    transforms/verbs.py, mirroring the reference's DynamicFrame verbs)
    composed into one driver-checked pipeline over orders: rename+cast via
    apply_mapping, narrow, filter on a computed column, aggregate. The
    oracle re-expresses the verb chain relationally, so a verb that drops,
    retypes, or mis-renames a column breaks the hash. Verbs are thin
    declarative wrappers — the whole chain stays one Catalyst plan (no
    materialization between verbs)."""
    from glue_etl_framework_spark.transforms import verbs

    o = t(spark, sf_dir, "orders")
    mapped = verbs.apply_mapping(
        o,
        [
            ("o_orderkey", "order_id", "bigint"),
            ("o_custkey", "cust_id", "int"),
            ("o_orderpriority", "priority", "string"),
            ("o_totalprice", "price", "double"),
        ],
    )
    with_cents = mapped.withColumn(
        "cents", F.round(F.col("price") * 100).cast("long")
    )
    filtered = verbs.filter_rows(with_cents, F.col("cents") > 1_000_000)
    narrowed = verbs.select_fields(
        verbs.rename_field(filtered, "cust_id", "cust"), 
        ["priority", "cents", "cust"],
    )
    return narrowed.groupBy("priority").agg(
        F.count("*").alias("n_orders"),
        F.sum("cents").alias("sum_cents"),
        F.sum(F.col("cust").cast("long")).alias("cust_sum"),
    )


_STREAM_UPSERT_ORACLE = """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events GROUP BY event_type
"""


@register(
    "io_stream_upsert_sink_roundtrip",
    oracle=_STREAM_UPSERT_ORACLE,
    category="io",
)
def io_stream_upsert_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming -> batch-table bridge, driver-verified end to end: the
    events fixture is streamed (file source, availableNow) THROUGH
    foreachBatch into a key-upserted parquet table (streaming.upsert_sink
    -> writers.upsert_by_key, staged atomic commit per micro-batch), then
    read back and aggregated. The stream is poisoned with one DECOY row
    per event (same event_id, value shifted by +1000, ts an hour earlier):
    a sink that appends instead of merging doubles the counts, and a merge
    whose order_by tie-break is broken keeps the decoy cents — either way
    the hash vs the clean-fixture oracle mismatches. So the driver row
    proves exactly-once-per-key delivery AND deterministic intra-batch
    winner selection (greatest ts wins), not just that bytes landed. At
    scale each micro-batch pays one anti-join against the table (AQE
    strategy, no hints) — the documented production bridge when no
    lakehouse format is available."""
    from glue_etl_framework_spark.streaming import read_file_stream
    from glue_etl_framework_spark.streaming.joins import upsert_sink

    d, fresh = _workdir("stream_upsert", sf_dir)
    src, tbl, ckpt = f"{d}/src", f"{d}/tbl", f"{d}/ckpt"
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    if fresh:
        base = t(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        decoys = base.select(
            "event_id",
            (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("ts"),
            "user_id",
            "event_type",
            (F.col("value") + 1000).alias("value"),
        )
        # materialize real+decoy into ONE source dir, repartitioned by
        # event_id so each event's pair shares a FILE: order_by resolves
        # duplicate keys only WITHIN a micro-batch, and file-stream
        # batching is file-granular — co-located rows can never be split
        # across batches, so the greatest-ts guarantee holds under ANY
        # maxFilesPerTrigger setting, not just the single-batch drain
        base.unionByName(decoys).repartition(4, "event_id").write.mode(
            "overwrite"
        ).parquet(src)
        stream = read_file_stream(spark, src, schema)
        q = upsert_sink(stream, tbl, ["event_id"], ckpt, order_by="ts")
        q.awaitTermination()
    import os as _os

    if _os.path.exists(tbl):
        back = spark.read.schema(schema).parquet(tbl)
    else:
        # zero-row source: foreachBatch saw only empty batches, so the
        # upsert sink (correctly) never materialized a table — aggregate
        # over an empty frame with the declared schema instead of failing
        back = spark.createDataFrame([], schema)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
    )


_SCHEMA_EVO_ORACLE = """
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN c_custkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_balance,
           CAST(SUM(CASE WHEN c_custkey % 2 = 1
                         THEN CAST(round(c_acctbal * 100) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS balance_cents
    FROM customer GROUP BY c_mktsegment
"""


@register(
    "io_schema_evolution_roundtrip",
    oracle=_SCHEMA_EVO_ORACLE,
    category="io",
)
def io_schema_evolution_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift round-trip — the messy-ingestion tolerance SURVEY §7.4
    flags (DynamicFrame's raison d'etre in the reference): a table written
    in TWO generations — v1 rows without, v2 rows WITH a later-added
    column — read back through the engine reader with mergeSchema, where
    v1 rows surface the new column as NULL instead of failing or being
    silently dropped. The driver oracle reconstructs the expected merged
    result from the fixture alone (even custkeys = v1, odd = v2), so a
    reader that drops a generation, mis-aligns columns by position, or
    defaults the missing column to anything but NULL hash-mismatches.
    recursiveFileLookup is overridden off: Spark's recursive listing and
    per-file schema merging interact per partition-directory, and the
    reference's recurse default is a scan option, not a merge semantic.
    At scale this is the standard additive-column evolution path on plain
    parquet (renames/retypes need the resolve verb or a table format)."""
    from glue_etl_framework_spark.io.readers import read_table
    from glue_etl_framework_spark.io.writers import write_table

    d, fresh = _workdir("schema_evo", sf_dir)
    tbl = f"{d}/tbl"
    c = t(spark, sf_dir, "customer")
    if fresh:
        v1 = c.filter(F.col("c_custkey") % 2 == 0).select(
            "c_custkey", "c_name", "c_mktsegment"
        )
        v2 = c.filter(F.col("c_custkey") % 2 == 1).select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("balance_cents"),
        )
        write_table(v1, {"target": "file", "location": tbl, "refresh": "full"})
        write_table(v2, {"target": "file", "location": tbl, "refresh": "incremental"})
    back = read_table(
        spark,
        {
            "name": "evolved",
            "source": "file",
            "location": tbl,
            "format": "parquet",
            "format_options": {"mergeSchema": True, "recursiveFileLookup": False},
        },
    )
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("balance_cents").isNotNull(), 1).otherwise(0)).alias(
            "n_with_balance"
        ),
        F.sum(F.coalesce(F.col("balance_cents"), F.lit(0))).alias("balance_cents"),
    )


_CSV_BADROWS_ORACLE = """
    SELECT CAST(SUM(CASE WHEN c_custkey % 5 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_good,
           CAST(SUM(CASE WHEN c_custkey % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_corrupt,
           CAST(SUM(CASE WHEN c_custkey % 5 <> 0 THEN c_custkey ELSE 0 END) AS BIGINT)
             AS good_key_sum
    FROM customer
"""


@register(
    "io_csv_permissive_badrecords",
    oracle=_CSV_BADROWS_ORACLE,
    category="io",
)
def io_csv_permissive_badrecords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Messy-CSV ingestion tolerance (SURVEY §7.4's DynamicFrame
    choice-type concern, driver-verified): a CSV is materialized with
    every 5th row deliberately CORRUPTED (non-numeric key), then read
    back through the engine reader in PERMISSIVE mode with a
    columnNameOfCorruptRecord — corrupt rows must surface as quarantined
    raw lines (not crash the job, not silently vanish, not coerce to
    nulls that masquerade as data). The oracle reconstructs good/corrupt
    counts and the good-row key sum from the fixture, so a reader that
    drops, double-counts, or mis-quarantines rows hash-mismatches. This
    is the land-everything-then-quarantine posture a 100 TB ingest needs:
    FAILFAST on petabyte feeds turns one vendor typo into a dead
    pipeline, while DROPMALFORMED silently loses data — PERMISSIVE +
    quarantine column is the auditable middle."""
    from glue_etl_framework_spark.io.readers import read_table

    d, fresh = _workdir("csv_bad", sf_dir)
    loc = f"{d}/raw"
    c = t(spark, sf_dir, "customer")
    if fresh:
        line = F.when(
            F.col("c_custkey") % 5 == 0,
            F.concat(F.lit("K"), F.col("c_custkey").cast("string"), F.lit(","),
                     F.col("c_mktsegment")),
        ).otherwise(
            F.concat(F.col("c_custkey").cast("string"), F.lit(","),
                     F.col("c_mktsegment"))
        )
        c.select(line.alias("value")).write.mode("overwrite").text(loc)
    back = read_table(
        spark,
        {
            "name": "quarantined",
            "source": "file",
            "location": loc,
            "format": "csv",
            "schema": "c_custkey long, c_mktsegment string, _bad string",
            "format_options": {
                "mode": "PERMISSIVE",
                "columnNameOfCorruptRecord": "_bad",
            },
        },
    )
    # In permissive CSV parsing a row is quarantined (raw line in _bad)
    # when a field violates the declared type; otherwise _bad is NULL.
    return back.agg(
        F.sum(F.when(F.col("_bad").isNull(), 1).otherwise(0)).alias("n_good"),
        F.sum(F.when(F.col("_bad").isNotNull(), 1).otherwise(0)).alias("n_corrupt"),
        F.sum(
            F.when(F.col("_bad").isNull(), F.col("c_custkey")).otherwise(0)
        ).alias("good_key_sum"),
    )


# --- dynamic partition pruning through the file sink -----------------------

DPP_QTY_CUT = 1000  # dim-side selective filter (far below any real flag total)

_DPP_ORACLE = f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem
    WHERE l_returnflag IN (
      SELECT l_returnflag FROM lineitem
      GROUP BY l_returnflag
      HAVING SUM(CAST(l_quantity AS BIGINT)) > {DPP_QTY_CUT}
    )
    GROUP BY l_returnflag
"""


@register("io_dpp_partition_pruned_join", oracle=_DPP_ORACLE, category="io")
def io_dpp_partition_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning (DPP) — the star-schema scale feature
    static pruning can't give: the fact table is written hive-partitioned
    on the join key (l_returnflag), the dimension side is filtered on a
    DATA-derived column (per-flag quantity totals > cut) that Catalyst
    cannot propagate statically, and Spark injects a
    dynamicpruningexpression into the fact scan so pruned partitions are
    never listed or read. At 100 TB this is the difference between
    scanning a date-partitioned fact for 3 days vs 3 years when the
    filter lives on the dimension. Two traps this operator pins down
    (found while building it): a dim filter on the JOIN KEY itself is
    constraint-propagated into a STATIC partition filter (no DPP needed
    — don't mistake that for this feature), and the dim-side predicate
    must be a real Filter node Spark's PartitionPruning rule considers
    selective (a TakeOrdered/limit doesn't qualify). The plan is
    asserted to contain the dynamic-pruning subquery in
    tests/test_partitioning.py::test_dpp_plan_prunes_fact_scan; the
    oracle reduces the dim semi-join to an IN-subquery over the fixture,
    so the driver hash-check certifies the pruned read loses no rows."""
    from glue_etl_framework_spark.io.readers import read_table
    from glue_etl_framework_spark.io.writers import write_table

    d, fresh = _workdir("dpp", sf_dir)
    loc = f"{d}/lineitem_dpp"
    if fresh:
        li = t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity", "l_returnflag"
        )
        write_table(
            li,
            {
                "target": "file",
                "location": loc,
                "format": "parquet",
                "partition_keys": "l_returnflag",
                "refresh": "full",
            },
        )
    back = read_table(
        spark,
        {
            "name": "li_dpp",
            "source": "file",
            "location": loc,
            "format": "parquet",
            "format_options": {"recursiveFileLookup": False},
            "schema": "l_orderkey long, l_quantity double, l_returnflag string",
        },
    )
    dim = (
        t(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_returnflag").alias("flag"))
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("tq"))
        .filter(F.col("tq") > DPP_QTY_CUT)
        .select("flag")
    )
    return (
        back.join(dim, back.l_returnflag == dim.flag)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
    )


# --- session-catalog sink round-trip ---------------------------------------

_CATALOG_ORACLE = """
    SELECT s_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_supp,
           CAST(SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
    FROM supplier GROUP BY s_nationkey
"""


@register("io_catalog_table_roundtrip", oracle=_CATALOG_ORACLE, category="io")
def io_catalog_table_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog sink + catalog scan round-trip (SURVEY §2.1 'Catalog scan' /
    'Catalog sink' rows — the reference's Glue Data Catalog surface,
    glue_etl_framework.py:105-116 and :233-258, mapped to the Spark
    session catalog): supplier is written through write_table with
    target=catalog (CREATE DATABASE IF NOT EXISTS + saveAsTable at an
    explicit location, so a vanilla driver session needs no warehouse
    config), read back through read_table's catalog source
    (spark.table), and aggregated. Money columns round-trip as exact
    cents, so any column-order, type, or metadata corruption in the
    catalog path hash-mismatches against the fixture-side oracle."""
    from glue_etl_framework_spark.io.readers import read_table
    from glue_etl_framework_spark.io.writers import write_table

    d, fresh = _workdir("cat", sf_dir)
    db, tbl = "ioop_cat_db", f"supplier_rt_{_dir_tag(sf_dir)}"
    if fresh or not spark.catalog.tableExists(f"{db}.{tbl}"):
        sup = t(spark, sf_dir, "supplier").select(
            "s_suppkey", "s_nationkey", "s_acctbal"
        )
        write_table(
            sup,
            {
                "target": "catalog",
                "database": db,
                "table_name": tbl,
                "format": "parquet",
                "location": f"{d}/supplier_rt",
                "refresh": "full",
            },
        )
    back = read_table(
        spark, {"name": "sup", "source": "catalog", "database": db, "table_name": tbl}
    )
    return back.groupBy("s_nationkey").agg(
        F.count("*").alias("n_supp"),
        F.sum(F.round(F.col("s_acctbal") * 100).cast("long")).alias("acctbal_cents"),
    )


# --- compression-codec matrix round-trip -----------------------------------

_CODECS = ["snappy", "zstd", "gzip"]

_CODEC_ORACLE = f"""
    WITH a AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
             CAST(SUM(CAST(ROUND(p_retailprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
      FROM part
    )
    SELECT codec, n_parts, price_cents
    FROM (SELECT unnest(['{"', '".join(_CODECS)}']) AS codec) CROSS JOIN a
"""


@register("io_codec_roundtrip_matrix", oracle=_CODEC_ORACLE, category="io")
def io_codec_roundtrip_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet compression-codec matrix (snappy — the splittable default;
    zstd — the modern size/speed frontier Spark 3.2+ recommends for cold
    data; gzip — the legacy ratio choice): the part table is written once
    per codec through write_table's options passthrough and read back
    through the standard reader, proving codec round-trip fidelity — the
    per-codec aggregates must all equal the fixture-side truth, so a
    codec-dependent corruption or a silently ignored option
    hash-mismatches. Codec choice changes FILE layout only, never values
    — exactly what the identical per-codec rows certify. At 100 TB codec
    selection is a real lever (zstd ~30% smaller than snappy at similar
    scan cost, decompression parallelism unchanged since parquet
    compresses per-page); sizes are environment facts, not data, so they
    stay out of the hashed result (the pytest side asserts
    size(gzip|zstd) < size(snappy) on the same write)."""
    from glue_etl_framework_spark.io.readers import read_table
    from glue_etl_framework_spark.io.writers import write_table

    d, fresh = _workdir("codec", sf_dir)
    src = t(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    out = None
    for codec in _CODECS:
        loc = f"{d}/part_{codec}"
        if fresh:
            write_table(
                src,
                {
                    "target": "file",
                    "location": loc,
                    "format": "parquet",
                    "refresh": "full",
                    "options": {"compression": codec},
                },
            )
        back = read_table(
            spark,
            {
                "name": f"part_{codec}",
                "source": "file",
                "location": loc,
                "format": "parquet",
                "schema": "p_partkey long, p_retailprice double",
            },
        )
        agg = back.agg(
            F.count("*").alias("n_parts"),
            F.sum(F.round(F.col("p_retailprice") * 100).cast("long")).alias("price_cents"),
        ).select(F.lit(codec).alias("codec"), "n_parts", "price_cents")
        out = agg if out is None else out.unionByName(agg)
    return out


# --- the YAML pipeline layer, driver-checked end to end --------------------

_SQLJOB_ORACLE = """
    SELECT c.c_mktsegment,
           'segment ''BUILDING'' report' AS label,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY c.c_mktsegment
"""


@register("pipeline_sql_file_job", oracle=_SQLJOB_ORACLE, category="io")
def pipeline_sql_file_job(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's PRIMARY surface, driver-checked end to end: a YAML
    config (input_tables -> temp views -> sql_file -> output_table,
    glue_etl_framework.py:135-276) with {seg}/{sf}/{out} variable
    interpolation in the locations AND inside the SQL text itself
    (reference :178), the SELECT fetched from a separate .sql file
    (:144-163), and the result written through the file sink, then read
    back. The SQL deliberately contains an APOSTROPHE inside a string
    literal — the reference's quote-rewrite corrupts exactly this
    (:175, SURVEY §5 bug 4); our tokenizer-free design just runs it, and
    the driver hash-match proves the literal survives the whole
    config -> SQL -> sink -> scan cycle byte-exact."""
    from glue_etl_framework_spark.io.readers import read_table
    from glue_etl_framework_spark.pipeline import run_pipeline

    d, fresh = _workdir("sqljob", sf_dir)
    out_loc = f"{d}/seg_report"
    if fresh:
        with open(f"{d}/query.sql", "w") as f:
            f.write(
                "SELECT c.c_mktsegment,\n"
                "       'segment ''{seg}'' report' AS label,\n"
                "       COUNT(*) AS n_orders,\n"
                "       SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS total_cents\n"
                "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey\n"
                "WHERE c.c_mktsegment = '{seg}'\n"
                "GROUP BY c.c_mktsegment\n"
            )
        with open(f"{d}/config.yaml", "w") as f:
            f.write(
                "job:\n"
                "  type: spark-sql\n"
                "variables:\n"
                "  demo:\n"
                "    seg: BUILDING\n"
                "input_tables:\n"
                "  - name: orders\n"
                "    source: file\n"
                "    format: parquet\n"
                "    location: '{sf}/orders.parquet'\n"
                "  - name: customer\n"
                "    source: file\n"
                "    format: parquet\n"
                "    location: '{sf}/customer.parquet'\n"
                "sql_file: query.sql\n"
                "output_table:\n"
                "  name: seg_report\n"
                "  target: file\n"
                "  format: parquet\n"
                "  location: '{out}'\n"
                "  refresh: full\n"
            )
        run_pipeline(
            spark,
            f"{d}/config.yaml",
            "demo",
            variable_overrides={"sf": sf_dir, "out": out_loc},
        )
    back = read_table(
        spark,
        {
            "name": "seg_report",
            "source": "file",
            "location": out_loc,
            "format": "parquet",
            "schema": "c_mktsegment string, label string, n_orders long, total_cents long",
        },
    )
    return back


_PYJOB_ORACLE = """
    SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM nation GROUP BY n_regionkey
"""


@register("pipeline_python_script_job", oracle=_PYJOB_ORACLE, category="io")
def pipeline_python_script_job(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's python-script job type, driver-checked: a user .py
    file executed inside the live session (reference exec at
    glue_etl_framework.py:305; here fenced runpy with an explicit
    namespace — runner.py documents the trusted-code contract) with
    `spark` and the pipeline `variables` in scope. The script reads a
    fixture table, aggregates, and writes parquet through the session;
    the operator reads that output back, so the driver verifies the
    script actually RAN with a working session — not merely that the
    file existed."""
    from glue_etl_framework_spark.io.readers import read_table
    from glue_etl_framework_spark.pipeline import run_pipeline

    d, fresh = _workdir("pyjob", sf_dir)
    out_loc = f"{d}/nation_agg"
    if fresh:
        with open(f"{d}/job.py", "w") as f:
            f.write(
                "df = spark.read.parquet(variables['sf'] + '/nation.parquet')\n"
                "agg = df.groupBy('n_regionkey').count()"
                ".withColumnRenamed('count', 'n_nations')\n"
                "agg.write.mode('overwrite').parquet(variables['out'])\n"
            )
        with open(f"{d}/config.yaml", "w") as f:
            f.write(
                "job:\n"
                "  type: python-script\n"
                "variables:\n"
                "  demo:\n"
                "    unused: x\n"
                "python_file: job.py\n"
            )
        run_pipeline(
            spark,
            f"{d}/config.yaml",
            "demo",
            variable_overrides={"sf": sf_dir, "out": out_loc},
        )
    back = read_table(
        spark,
        {
            "name": "nation_agg",
            "source": "file",
            "location": out_loc,
            "format": "parquet",
            "schema": "n_regionkey long, n_nations long",
        },
    )
    return back


# --- bucketed co-located join round-trip -----------------------------------

_BUCKET_ORACLE = """
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
"""


@register("io_bucketed_join_roundtrip", oracle=_BUCKET_ORACLE, category="io")
def io_bucketed_join_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located fact-fact join — the write-once,
    shuffle-never-again layout (io.bucketing): lineitem and orders are
    written as catalog tables bucketed 8 ways on the order key, and the
    join runs as an Exchange-free sort-merge join (the bucketed scan
    reports a compatible HashPartitioning, so neither side shuffles —
    asserted in tests/test_pipeline.py's assert_no_shuffle probe and visible
    in this plan). At 100 TB this converts every recurring join/agg on
    the bucket key from a both-sides shuffle into a local merge — THE
    amortization lever for star-schema fact joins the reference's plain
    parquet sink can't express. The driver hash-check verifies the
    bucketed write -> catalog scan -> join cycle loses nothing vs the
    fixture-side plain join."""
    from glue_etl_framework_spark.io.bucketing import bucketed_join, write_bucketed

    d, fresh = _workdir("buck", sf_dir)
    tag = _dir_tag(sf_dir)
    lt, ot = f"ioop_buck_lineitem_{tag}", f"ioop_buck_orders_{tag}"
    # gate on BOTH tables so a partially-failed prior write is repaired
    if fresh or not (spark.catalog.tableExists(lt) and spark.catalog.tableExists(ot)):
        li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        od = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
        write_bucketed(li, lt, ["l_orderkey"], 8, location=f"{d}/{lt}")
        write_bucketed(od, ot, ["o_orderkey"], 8, location=f"{d}/{ot}")
    joined = bucketed_join(
        spark, lt, ot, on=[spark.table(lt).l_orderkey == spark.table(ot).o_orderkey]
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
    )


# --- soft-delete tombstones (logical delete without rewrite) ---------------

_TOMB_ORACLE = """
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_live,
           CAST(SUM(c_custkey) AS BIGINT) AS key_sum
    FROM customer
    WHERE c_custkey % 10 <> 3
    GROUP BY c_mktsegment
"""


@register("io_soft_delete_tombstones", oracle=_TOMB_ORACLE, category="io")
def io_soft_delete_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deletes via an append-only tombstone log — the lakehouse
    delete pattern that makes removal O(deleted keys) instead of a table
    rewrite: the base table's data files are IMMUTABLE; a delete appends
    (key, batch) rows to a tombstone side-table, and the READ PATH
    anti-joins the log (Delta/Iceberg's merge-on-read deletion vectors
    are the same contract, file-positional instead of key-keyed).
    Contrast io.writers.delete_by_keys, this engine's copy-on-write
    path: that rewrites the table eagerly (reads pay nothing); this
    defers cost to readers until a compaction folds the log in. The
    operator writes base + two tombstone batches through the real sink,
    reads both back through the real reader, and aggregates the
    anti-joined survivors — so the driver hash-check certifies the whole
    logical-delete read path against the fixture-side WHERE. The
    anti-join is keyed on c_custkey (broadcastable while the log is
    small — exactly why logs get compacted)."""
    from glue_etl_framework_spark.io.readers import read_table
    from glue_etl_framework_spark.io.writers import write_table

    d, fresh = _workdir("tomb", sf_dir)
    base_loc, log_loc = f"{d}/cust_base", f"{d}/cust_tombstones"
    if fresh:
        c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        write_table(c, {"target": "file", "location": base_loc, "format": "parquet", "refresh": "full"})
        doomed = c.filter(F.col("c_custkey") % 10 == 3).select("c_custkey")
        # two append batches — the log is append-only by contract
        for i, half in enumerate([doomed.filter(F.col("c_custkey") % 20 == 3),
                                  doomed.filter(F.col("c_custkey") % 20 == 13)]):
            write_table(
                half.withColumn("batch", F.lit(i)),
                {"target": "file", "location": log_loc, "format": "parquet",
                 "refresh": "full" if i == 0 else "incremental"},
            )
    base = read_table(spark, {
        "name": "cust_base", "source": "file", "location": base_loc,
        "format": "parquet", "schema": "c_custkey long, c_mktsegment string",
    })
    log = read_table(spark, {
        "name": "cust_tomb", "source": "file", "location": log_loc,
        "format": "parquet", "schema": "c_custkey long, batch int",
    })
    live = base.join(log.select("c_custkey").distinct(), "c_custkey", "left_anti")
    return live.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_live"), F.sum("c_custkey").alias("key_sum")
    )


# --- xml format dispatch (native in Spark 4) --------------------------------

_XML_ORACLE = """
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
    FROM customer GROUP BY c_mktsegment
"""


@register("io_roundtrip_xml_records", oracle=_XML_ORACLE, category="io")
def io_roundtrip_xml_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML format dispatch round-trip (spark-xml became a NATIVE Spark 4
    datasource, so ``format: xml`` needs no extra jar — the sixth file
    format behind the reference's dispatch surface): customers are
    written as <row> records under a root tag and read back with an
    explicit schema; per-segment counts and integer-cent balance sums
    must survive the text encoding exactly. rowTag rides the same
    Glue-style format_options passthrough as csv's separator."""
    from glue_etl_framework_spark.io.readers import read_table
    from glue_etl_framework_spark.io.writers import write_table

    d, fresh = _workdir("xml", sf_dir)
    loc = f"{d}/customer_xml"
    if fresh:
        c = t(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment", "c_acctbal"
        )
        write_table(
            c,
            {
                "target": "file",
                "location": loc,
                "format": "xml",
                "format_options": {"rowTag": "customer", "rootTag": "customers"},
                "refresh": "full",
            },
        )
    back = read_table(
        spark,
        {
            "name": "c",
            "source": "file",
            "location": loc,
            "format": "xml",
            "format_options": {"rowTag": "customer"},
            "schema": "c_custkey long, c_mktsegment string, c_acctbal double",
        },
    )
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_cust"),
        F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias("acctbal_cents"),
    )


# --- text format dispatch ---------------------------------------------------

_TEXT_ORACLE = """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(doc_id) AS BIGINT) AS id_sum
    FROM documents GROUP BY lang
"""


@register("io_roundtrip_text_lines", oracle=_TEXT_ORACLE, category="io")
def io_roundtrip_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented ``text`` format dispatch round-trip (the log-file /
    raw-corpus ingestion shape): one delimited line per document written
    through the sink, read back as raw ``value`` lines and re-parsed with
    split(). Per-language line counts and id sums must match the fixture
    exactly — certifying no line loss, reordering-insensitive."""
    from glue_etl_framework_spark.io.readers import read_table
    from glue_etl_framework_spark.io.writers import write_table

    d, fresh = _workdir("textfmt", sf_dir)
    loc = f"{d}/doc_lines"
    if fresh:
        lines = t(spark, sf_dir, "documents").select(
            F.concat_ws("|", F.col("doc_id").cast("string"), "lang").alias("value")
        )
        write_table(
            lines,
            {"target": "file", "location": loc, "format": "text", "refresh": "full"},
        )
    back = read_table(
        spark, {"name": "l", "source": "file", "location": loc, "format": "text"}
    )
    parsed = back.select(
        F.split("value", r"\|").getItem(0).cast("long").alias("doc_id"),
        F.split("value", r"\|").getItem(1).alias("lang"),
    )
    return parsed.groupBy("lang").agg(
        F.count("*").alias("n_lines"),
        F.sum("doc_id").alias("id_sum"),
    )


# --- JDBC round-trip against embedded Derby ---------------------------------

_JDBC_ORACLE = """
    SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           MIN(o_orderdate) AS first_dt,
           CAST(MAX(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS max_price_cents
    FROM orders
    GROUP BY 1
"""


@register("io_jdbc_roundtrip", oracle=_JDBC_ORACLE, category="io")
def io_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC sink + JDBC scan round-trip (SURVEY §2.1 'JDBC scan' — the
    reference's two-line placeholder, glue_etl_framework.py:119-120,
    mapped to a REAL reader/writer): per-month order stats are written
    through write_table with target=jdbc into an EMBEDDED Derby database
    (pyspark bundles derby-10.16 jars, so a vanilla driver session needs
    no extra classpath), read back through read_table's jdbc source, and
    returned as-is — so the driver hash certifies Spark's full JDBC
    stack (dialect DDL, type mapping for VARCHAR/BIGINT/DATE, save mode)
    against the fixture-side oracle. Aggregating BEFORE the sink keeps
    the Derby table at ~80 rows: the round-trip exercises the path, not
    bulk throughput (a real deployment points the same config at a
    warehouse-grade endpoint).

    Scale note: JDBC sources don't scale like parquet scans — a single
    unpartitioned read is one executor task. For big tables the reader
    accepts Spark's partitionColumn/lowerBound/upperBound/numPartitions
    options via the same config surface (io/readers.py)."""
    from glue_etl_framework_spark.io.readers import read_table
    from glue_etl_framework_spark.io.writers import write_table

    d, fresh = _workdir("jdbc", sf_dir)
    url = f"jdbc:derby:{d}/derbydb;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    # UPPERCASE table name: Spark quotes identifiers on CREATE, and Derby
    # upcases unquoted references, so lowercase names would not resolve.
    tbl = "ORDERS_MONTHLY"
    if fresh:
        monthly = (
            t(spark, sf_dir, "orders")
            .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("o_month"))
            .agg(
                F.count("*").alias("n_orders"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                .alias("total_cents"),
                F.min("o_orderdate").alias("first_dt"),
                F.max(F.round(F.col("o_totalprice") * 100).cast("long"))
                .alias("max_price_cents"),
            )
            .coalesce(1)  # embedded Derby: serialize the tiny insert
        )
        write_table(
            monthly,
            {"target": "jdbc", "url": url, "dbtable": tbl,
             "driver": driver, "refresh": "full"},
        )
    return read_table(
        spark,
        {"name": "m", "source": "jdbc", "url": url,
         "dbtable": tbl, "driver": driver},
    )


# --- JDBC partitioned (parallel) scan against embedded Derby ----------------

_JDBC_PART_ORACLE = """
    SELECT CAST(o_custkey % 16 AS BIGINT) AS bucket,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(SUM(n_orders) AS BIGINT) AS n_orders,
           CAST(SUM(total_cents) AS BIGINT) AS total_cents,
           CAST(MIN(o_custkey) AS BIGINT) AS min_custkey,
           CAST(MAX(o_custkey) AS BIGINT) AS max_custkey
    FROM (
        SELECT o_custkey,
               COUNT(*) AS n_orders,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS total_cents
        FROM orders
        GROUP BY o_custkey
    )
    GROUP BY 1
"""


@register("io_jdbc_partitioned_read", oracle=_JDBC_PART_ORACLE, category="io")
def io_jdbc_partitioned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JDBC PARTITIONED scan certification (SURVEY §2.1; VERDICT r06 item 5):
    the scale path io_jdbc_roundtrip only documents — Spark's
    partitionColumn/lowerBound/upperBound/numPartitions splitting — is
    exercised for real against embedded Derby and hash-certified. Per-customer
    order stats are written through write_table (target=jdbc), then read back
    through read_table with a 4-way partitioned scan on the key column: Spark
    generates one stride-bounded WHERE clause per partition, so a bug in the
    stride arithmetic (dropped boundary row, double-read overlap) would break
    the value hash, not just slow things down. The post-read aggregate is
    computed Spark-side FROM the partitioned scan, so every row must arrive
    exactly once.

    The reference's JDBC surface is a 2-line placeholder
    (glue/glue_etl_framework.py:119-120); this maps its intent onto Spark's
    real parallel-read contract. Scale note: on a warehouse-grade endpoint the
    same four options fan the scan across executors — numPartitions bounds
    the connection count, and the partition column should be indexed and
    near-uniform (else stride skew serializes the tail; salt via a MOD
    expression pushed into ``dbtable`` as a subquery when it isn't).

    Derby quirks: Spark quotes identifiers in the DDL it generates, and Derby
    upcases UNQUOTED references, so the table and the partition column are
    spelled UPPERCASE end-to-end (partitionColumn is embedded unquoted into
    each per-partition WHERE clause)."""
    from glue_etl_framework_spark.io.readers import read_table
    from glue_etl_framework_spark.io.writers import write_table

    d, fresh = _workdir("jdbc_part", sf_dir)
    url = f"jdbc:derby:{d}/derbydb;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    tbl = "CUST_ORDERS"
    if fresh:
        per_cust = (
            t(spark, sf_dir, "orders")
            .groupBy(F.col("o_custkey").alias("C_KEY"))
            .agg(
                F.count("*").alias("N_ORDERS"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                .alias("TOTAL_CENTS"),
            )
            .coalesce(1)  # embedded Derby: serialize the small insert
        )
        write_table(
            per_cust,
            {"target": "jdbc", "url": url, "dbtable": tbl,
             "driver": driver, "refresh": "full"},
        )
    bounds = (
        t(spark, sf_dir, "orders")
        .agg(F.min("o_custkey"), F.max("o_custkey"))
        .first()
    )  # 1-row scalar bounds — metadata-sized, the JDBC-read contract needs them
    lo = 0 if bounds[0] is None else int(bounds[0])  # empty source: any stride
    hi = lo + 1 if bounds[1] is None else int(bounds[1]) + 1  # upper exclusive
    back = read_table(
        spark,
        {"name": "co", "source": "jdbc", "url": url, "dbtable": tbl,
         "driver": driver,
         "options": {
             "partitionColumn": "C_KEY",
             "lowerBound": lo,
             "upperBound": hi,
             "numPartitions": 4,
         }},
    )
    return (
        back.groupBy((F.col("C_KEY") % 16).alias("bucket"))
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("N_ORDERS").alias("n_orders"),
            F.sum("TOTAL_CENTS").alias("total_cents"),
            F.min("C_KEY").alias("min_custkey"),
            F.max("C_KEY").alias("max_custkey"),
        )
    )
