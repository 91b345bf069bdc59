"""JDBC end-to-end round-trip against embedded Derby.

The reference stubs JDBC entirely (two placeholder lines at
/root/reference/glue/glue_etl_framework.py:119-120); this repo ships a real
reader (`io/readers.py` `source: jdbc`) and writer (`io/writers.py`
`target: jdbc`). Until now they were only option-validation-tested because
the sandbox has no external database — but pyspark bundles the embedded
Derby engine (pyspark/jars/derby-10.16.*.jar, also the Hive-metastore
backend), so a same-JVM `jdbc:derby:` URL exercises the full Spark JDBC
stack (dialect, DDL, type mapping, save modes) with zero network.

Notes that cost debugging time:
- Embedded Derby allows ONE booting JVM per database directory; driver and
  executors share the JVM in local mode, so this is safe here.
- Spark quotes identifiers when creating tables, so lowercase dbtable
  names would be created case-sensitive while unquoted reads upcase —
  use UPPERCASE table names throughout.
- Write with one partition: concurrent executor inserts into embedded
  Derby serialize on table locks anyway.
"""

from __future__ import annotations

import pytest

from glue_etl_framework_spark.io.readers import read_table
from glue_etl_framework_spark.io.writers import write_table
from glue_etl_framework_spark.pipeline import run_pipeline

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _url(tmp_path) -> str:
    return f"jdbc:derby:{tmp_path}/derbydb;create=true"


def _seed_df(spark):
    return spark.createDataFrame(
        [
            (1, "alpha", 10.5, 100),
            (2, "beta", -3.25, 200),
            (3, "gamma", 0.0, 300),
            (4, "delta", 99.75, 400),
        ],
        "id int, label string, score double, qty bigint",
    ).coalesce(1)


def test_jdbc_write_read_roundtrip(tmp_path, spark):
    url = _url(tmp_path)
    df = _seed_df(spark)
    write_table(
        df,
        {"target": "jdbc", "url": url, "dbtable": "SEED_T",
         "driver": DERBY_DRIVER, "refresh": "full"},
    )
    back = read_table(
        spark,
        {"name": "seed", "source": "jdbc", "url": url,
         "dbtable": "SEED_T", "driver": DERBY_DRIVER},
    )
    got = sorted(back.collect(), key=lambda r: r.id)
    want = sorted(df.collect(), key=lambda r: r.id)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_jdbc_refresh_modes(tmp_path, spark):
    url = _url(tmp_path)
    df = _seed_df(spark)
    out = {"target": "jdbc", "url": url, "dbtable": "MODES_T",
           "driver": DERBY_DRIVER, "refresh": "full"}
    write_table(df, out)
    write_table(df, out)  # full refresh: second write replaces, not doubles
    src = {"name": "m", "source": "jdbc", "url": url,
           "dbtable": "MODES_T", "driver": DERBY_DRIVER}
    assert read_table(spark, src).count() == 4
    write_table(df, {**out, "refresh": "incremental"})  # append
    assert read_table(spark, src).count() == 8


def test_jdbc_query_pushdown_source(tmp_path, spark):
    """`query:` variant — Spark wraps it as a subquery pushed to Derby.

    Column names must be quoted: Spark's JDBC writer creates columns
    case-sensitively ("label"), so an unquoted reference upcases to
    LABEL and fails — the query text is Derby SQL, not Spark SQL."""
    url = _url(tmp_path)
    write_table(
        _seed_df(spark),
        {"target": "jdbc", "url": url, "dbtable": "PUSH_T",
         "driver": DERBY_DRIVER, "refresh": "full"},
    )
    back = read_table(
        spark,
        {"name": "p", "source": "jdbc", "url": url, "driver": DERBY_DRIVER,
         "query": 'SELECT "label", "qty" FROM PUSH_T WHERE "score" > 0'},
    )
    assert sorted(r.label for r in back.collect()) == ["alpha", "delta"]


def test_jdbc_pipeline_config_end_to_end(tmp_path, spark):
    """Config-driven `source: jdbc` -> SQL -> `target: jdbc`, the mapping of
    the reference's JDBC placeholder onto the YAML pipeline surface."""
    url = _url(tmp_path)
    write_table(
        _seed_df(spark),
        {"target": "jdbc", "url": url, "dbtable": "IN_T",
         "driver": DERBY_DRIVER, "refresh": "full"},
    )
    (tmp_path / "q.sql").write_text(
        "SELECT label, CAST(qty * 2 AS BIGINT) AS qty2 "
        "FROM in_t WHERE id <= {max_id}"
    )
    (tmp_path / "config.yaml").write_text(
        f"""
job:
  type: spark-sql
  name: jdbc_roundtrip
variables:
  demo:
    max_id: 3
input_tables:
  - name: in_t
    source: jdbc
    url: {url}
    dbtable: IN_T
    driver: {DERBY_DRIVER}
sql_file: q.sql
output_table:
  target: jdbc
  url: {url}
  dbtable: OUT_T
  driver: {DERBY_DRIVER}
  refresh: full
"""
    )
    run_pipeline(spark, str(tmp_path / "config.yaml"), "demo")
    out = read_table(
        spark,
        {"name": "o", "source": "jdbc", "url": url,
         "dbtable": "OUT_T", "driver": DERBY_DRIVER},
    )
    rows = {r.label: r.qty2 for r in out.collect()}
    assert rows == {"alpha": 200, "beta": 400, "gamma": 600}


def test_jdbc_partitioned_read_splits_and_matches(tmp_path, spark):
    """partitionColumn/lowerBound/upperBound/numPartitions through
    read_table: the scan really fans out to numPartitions input partitions,
    and the union of the per-partition stride reads is exactly the table —
    no boundary row dropped, none double-read (VERDICT r06 item 5)."""
    url = _url(tmp_path)
    src = spark.range(1, 201).selectExpr(
        "id AS K", "id * 7 AS V"
    ).coalesce(1)
    write_table(
        src,
        {"target": "jdbc", "url": url, "dbtable": "PARTED",
         "driver": DERBY_DRIVER, "refresh": "full"},
    )
    base = {"name": "p", "source": "jdbc", "url": url,
            "dbtable": "PARTED", "driver": DERBY_DRIVER}
    whole = read_table(spark, base)
    parted = read_table(
        spark,
        {**base, "options": {"partitionColumn": "K", "lowerBound": 1,
                             "upperBound": 201, "numPartitions": 5}},
    )
    assert parted.rdd.getNumPartitions() == 5
    assert sorted(map(tuple, parted.collect())) == sorted(map(tuple, whole.collect()))
    assert parted.count() == 200


def test_jdbc_partitioned_entry_queues_behind_attestation_backlog():
    """The r7 sanctioned entry must sort AFTER every never-driver-checked
    backlog entry in the driver window (a LATE_ADDITIONS member), so it
    cannot displace the attestation rotation (VERDICT r06 items 1+5)."""
    from __spark_entry__ import LATE_ADDITIONS, _driver_history, driver_order

    names = list(driver_order())
    passed, failed, _last_pass = _driver_history()
    never = [n for n in names if n not in passed and n not in failed]
    assert "io_jdbc_partitioned_read" in never or "io_jdbc_partitioned_read" in passed
    if "io_jdbc_partitioned_read" in never:
        assert never[-1] == "io_jdbc_partitioned_read"
    assert "io_jdbc_partitioned_read" in LATE_ADDITIONS
