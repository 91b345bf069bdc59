"""Pure-Python Avro codec tests (io/avro_py.py).

Three independent checks of spec compliance:
1. byte-level round-trip through our own encoder/decoder,
2. Spark-level round-trip of every fixture table (write_avro -> read_avro
   preserves values and Spark schema),
3. CROSS-IMPLEMENTATION: files we write are read back record-for-record by
   the official Java Avro library (org.apache.avro avro-core ships inside
   pyspark's jars — only the spark-avro DATASOURCE module is absent), so
   our container layout and binary encoding are validated against the
   reference implementation, not just against ourselves.
"""

from __future__ import annotations

import datetime
import math

import pytest

from glue_etl_framework_spark.io.avro_py import (
    avro_schema_of,
    decode_container,
    encode_container,
    read_avro,
    spark_type_of,
    write_avro,
)
from tests.conftest import SF_SMOKE

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _records_eq(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=0, abs_tol=0) or (
            math.isnan(a) and math.isnan(b)
        )
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_records_eq(x, y) for x, y in zip(a, b))
    return a == b


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_container_byte_roundtrip(codec):
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": ["null", "string"]},
            {"name": "score", "type": "double"},
            {"name": "flag", "type": "boolean"},
            {"name": "blob", "type": ["null", "bytes"]},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "kv", "type": {"type": "map", "values": "long"}},
            {"name": "d", "type": {"type": "int", "logicalType": "date"}},
            {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
        ],
    }
    records = [
        {
            "id": i,
            "name": None if i % 3 == 0 else f"n{i}",
            "score": i * 0.25,
            "flag": i % 2 == 0,
            "blob": None if i % 2 else bytes([i % 256, 255]),
            "tags": [f"t{j}" for j in range(i % 4)],
            "kv": {f"k{j}": j * i for j in range(i % 3)},
            "d": datetime.date(2020, 1, 1) + datetime.timedelta(days=i),
            "ts": datetime.datetime(2021, 6, 1, 12, 0, 0) + datetime.timedelta(seconds=i, microseconds=i),
        }
        for i in range(100)
    ]
    blob = encode_container(schema, records, codec=codec, block_records=16)
    got_schema, got = decode_container(blob)
    assert got_schema == schema
    assert len(got) == len(records)
    for x, y in zip(records, got):
        for k in x:
            assert _records_eq(x[k], y[k]), (k, x[k], y[k])


@pytest.mark.parametrize("table", TABLES)
def test_spark_roundtrip_fixture_table(spark, tmp_path, table):
    from glue_etl_framework_spark.queries import t

    src = t(spark, SF_SMOKE, table)
    out = str(tmp_path / f"{table}_avro")
    n_files = write_avro(src, out)
    assert n_files >= 1
    back = read_avro(spark, out)
    assert [f.name for f in back.schema.fields] == [f.name for f in src.schema.fields]
    a = sorted(map(tuple, src.collect()))
    b = sorted(map(tuple, back.collect()))
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        assert all(_records_eq(x, y) for x, y in zip(ra, rb)), (ra, rb)


def test_nullable_long_column_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "id long, v long"
    )
    out = str(tmp_path / "nulls")
    write_avro(df, out)
    got = {tuple(r) for r in read_avro(spark, out).collect()}
    assert got == {(1, 10), (2, None), (3, 30)}


def test_written_files_readable_by_official_java_avro(spark, tmp_path):
    """Cross-implementation check: decode OUR container with the reference
    Java library (DataFileReader + GenericDatumReader from avro-core)."""
    from glue_etl_framework_spark.queries import t

    src = t(spark, SF_SMOKE, "orders").limit(50).coalesce(1)
    out = str(tmp_path / "orders_java")
    write_avro(src, out)
    import glob

    fname = glob.glob(f"{out}/*.avro")[0]
    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(fname), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    java_schema = reader.getSchema()
    assert java_schema.getType().toString() == "RECORD"
    assert [f.name() for f in java_schema.getFields()] == src.columns
    n = 0
    first = None
    while reader.hasNext():
        rec = reader.next()
        if first is None:
            first = rec
        n += 1
    reader.close()
    assert n == 50
    # spot-check a value decoded by Java against Spark's row
    want = {r["o_orderkey"] for r in src.select("o_orderkey").collect()}
    assert first.get("o_orderkey") in want


def test_schema_mapping_is_inverse(spark):
    """avro_schema_of then spark_type_of returns the original field names
    and types (modulo TIMESTAMP_NTZ -> TIMESTAMP, which avro's
    timestamp-micros logical type cannot distinguish)."""
    from glue_etl_framework_spark.queries import t

    for table in ("orders", "events", "embeddings"):
        st = t(spark, SF_SMOKE, table).schema
        mapped = spark_type_of(avro_schema_of(st))
        assert [f.name for f in mapped.fields] == [f.name for f in st.fields]
        for got, want in zip(mapped.fields, st.fields):
            want_t = want.dataType.simpleString().replace("timestamp_ntz", "timestamp")
            assert got.dataType.simpleString() == want_t, (table, got.name)


def test_pipeline_reader_and_writer_fall_back_to_python_codec(spark, tmp_path):
    """read_table/write_table with format: avro work end-to-end without the
    spark-avro jar (the documented environment gate is now a soft fallback)."""
    from glue_etl_framework_spark.io.readers import read_table
    from glue_etl_framework_spark.io.writers import write_table
    from glue_etl_framework_spark.queries import t

    src = t(spark, SF_SMOKE, "nation")
    loc = str(tmp_path / "nation_avro")
    write_table(src, {"target": "file", "location": loc, "format": "avro"})
    back = read_table(
        spark, {"name": "nation", "source": "file", "location": loc, "format": "avro"}
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))
    # full refresh replaces, not accumulates
    write_table(src, {"target": "file", "location": loc, "format": "avro"})
    again = read_table(
        spark, {"name": "nation", "source": "file", "location": loc, "format": "avro"}
    )
    assert again.count() == src.count()


def _hostile_container(schema_json: str) -> bytes:
    """Hand-build a container header around an arbitrary schema string
    (encode_container would itself recurse over a hostile schema)."""
    from glue_etl_framework_spark.io.avro_py import MAGIC, _write_bytes, _write_long

    out = bytearray()
    out.extend(MAGIC)
    meta = {
        "avro.schema": schema_json.encode("utf-8"),
        "avro.codec": b"null",
    }
    _write_long(out, len(meta))
    for key, value in meta.items():
        _write_bytes(out, key.encode("utf-8"))
        _write_bytes(out, value)
    _write_long(out, 0)  # end of metadata map
    out.extend(b"\x00" * 16)  # sync marker
    return bytes(out)


def test_hostile_deeply_nested_schema_normalized_to_value_error():
    """A 100k-deep nested-record schema in an untrusted container header
    must surface as the documented ValueError('corrupt avro container...'),
    not a raw RecursionError escaping _make_decoder / json.loads
    (ADVICE r06)."""
    # Record r0 wraps "long" and r99999 is outermost; joined in one pass,
    # since wrapping 100k times by concatenation is quadratic in the length.
    nested = (
        "".join(
            '{"type":"record","name":"r%d","fields":[{"name":"f","type":' % i
            for i in reversed(range(100_000))
        )
        + '"long"'
        + "}]}" * 100_000
    )
    blob = _hostile_container(nested)
    with pytest.raises(ValueError, match="corrupt avro"):
        decode_container(blob)


def test_memory_error_propagates_raw(monkeypatch):
    """A genuine MemoryError during block decompression is NOT corruption
    and must not be relabeled 'corrupt avro container' (ADVICE r06)."""
    import zlib

    from glue_etl_framework_spark.io import avro_py

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "x", "type": "long"}],
    }
    blob = encode_container(schema, [{"x": 1}], codec="deflate")

    def boom(*a, **k):
        raise MemoryError("simulated OOM")

    monkeypatch.setattr(avro_py.zlib, "decompress", boom)
    with pytest.raises(MemoryError):
        decode_container(blob)
