"""Focused pins for the r16 optimization-round internals changes.

1. ckpt.checkpoint_shared — the shared materialization policy helper
   (VERDICT r15 item 3): size classes route to the documented storage
   levels, results are unchanged, and the env override validates.
2. ext.similarity float-plane SQL-string builders (VERDICT r15 item 5):
   float literals must reconstruct BIT-exactly and the parsed signature
   expression must be value- and dtype-identical to the unrolled Column
   build it replaced (kept below as the reference semantics).
3. bench.py's final summary line is pinned in tests/test_bench_guard.py
   (tail-window budget + per-query dict).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from glue_etl_framework_spark import ckpt
from glue_etl_framework_spark.ext.similarity import (
    _hyperplane,
    float_array_sql,
    hyperplane_signatures,
    table_sig_sql,
)


def _unrolled_signatures(df, vec_col, dim, n_planes, n_tables):
    """The pre-r16 hyperplane_signatures construction — reference
    semantics for the SQL-string parity pin."""
    out = df
    for t in range(n_tables):
        sig = F.lit(0).cast("long")
        for p in range(n_planes):
            plane = _hyperplane(dim, p, t)
            dot = F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.array(*[F.lit(c) for c in plane]),
                    lambda x, c: x.cast("double") * c,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            sig = sig + F.when(dot > 0, F.lit(1 << p).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        out = out.withColumn(f"sig_{t}", sig)
    return out


def test_float_array_sql_roundtrips_bit_exactly(spark):
    vals = [
        0.1, -0.1, 1.0, -1.0, 1e-5, -1e-5, 1e300, 5e-324, -5e-324,
        math.pi, -math.pi / 7, 2**-52, 1 + 2**-52, 0.0,
    ] + [_hyperplane(64, p, 0)[i] for p in range(3) for i in (0, 31, 63)]
    row = spark.sql(f"SELECT {float_array_sql(vals)} AS a").first()
    got = row["a"]
    assert len(got) == len(vals)
    for v, g in zip(vals, got):
        assert math.copysign(1, v) == math.copysign(1, g)
        assert v == g and (v.hex() == g.hex()), (v, g, v.hex(), g.hex())


def test_table_sig_sql_matches_unrolled_build(spark):
    import random

    rnd = random.Random(42)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    new = hyperplane_signatures(df, "embedding", dim=16, n_planes=10, n_tables=3)
    old = _unrolled_signatures(df, "embedding", dim=16, n_planes=10, n_tables=3)
    assert new.schema == old.schema  # dtype parity (sig_* must stay long)
    sig_cols = ["vec_id", "sig_0", "sig_1", "sig_2"]
    got = {r["vec_id"]: tuple(r[c] for c in sig_cols[1:]) for r in new.select(sig_cols).collect()}
    want = {r["vec_id"]: tuple(r[c] for c in sig_cols[1:]) for r in old.select(sig_cols).collect()}
    assert got == want


def test_table_sig_sql_escapes_backticked_column(spark):
    df = spark.createDataFrame(
        [(1, [0.5, -0.5])], "vec_id: long, `we``ird`: array<double>"
    )
    sql = table_sig_sql(0, 2, 3, "we`ird")
    out = df.select(F.expr(sql).alias("sig")).first()
    assert isinstance(out["sig"], int)


def test_checkpoint_shared_rejects_unknown_size_class(spark):
    df = spark.range(3)
    with pytest.raises(ValueError, match="size_class"):
        ckpt.checkpoint_shared(df, size_class="huge")


def test_checkpoint_shared_preserves_rows_both_classes(spark):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k"), F.md5(F.col("id").cast("string")).alias("h")
    )
    expected = sorted(tuple(r) for r in df.collect())
    for size_class in (ckpt.BOUNDED, ckpt.DATA_SIZED):
        out = ckpt.checkpoint_shared(df, size_class=size_class)
        assert sorted(tuple(r) for r in out.collect()) == expected
        assert out.schema == df.schema


def _new_block_level(spark, make):
    """Storage-level description of the RDD blocks a checkpoint call
    registers (df.rdd would wrap a NEW conversion RDD whose level is
    always NONE — the real level lives on the JVM-side checkpointed RDD,
    visible through getRDDStorageInfo)."""
    sc = spark.sparkContext._jsc.sc()
    before = {i.id() for i in sc.getRDDStorageInfo()}
    out = make()
    out.count()  # ensure materialized
    new = [i for i in sc.getRDDStorageInfo() if i.id() not in before]
    assert new, "checkpoint registered no new persisted RDD"
    return [i.storageLevel().description() for i in new], out


def test_data_sized_default_is_memory_and_disk(spark):
    """The MEASURED default (r16 A/B): Spark's own localCheckpoint level
    (MEMORY_AND_DISK, deserialized) — DISK_ONLY paid a deserialize on
    every consumer pass and ran uniformly 1.2-1.7x slower on the
    2-5x-re-read frames this helper guards (see ckpt module docstring);
    eviction already bounds memory."""
    assert ckpt._data_sized_level() is None  # env unset -> Spark default
    descs, _ = _new_block_level(
        spark,
        lambda: ckpt.checkpoint_shared(
            spark.range(1000).select(F.col("id"), (F.col("id") * 3).alias("v")),
            size_class=ckpt.DATA_SIZED,
        ),
    )
    assert any("Disk Memory Deserialized" in d for d in descs), descs


def test_data_sized_env_override_reaches_blocks(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CKPT_DATA_SIZED_LEVEL", "DISK_ONLY")
    descs, _ = _new_block_level(
        spark,
        lambda: ckpt.checkpoint_shared(
            spark.range(500).selectExpr("id * 7 AS x"), size_class=ckpt.DATA_SIZED
        ),
    )
    assert any(d.startswith("Disk Serialized") for d in descs), descs


def test_bounded_blocks_keep_default_level(spark):
    descs, _ = _new_block_level(
        spark,
        lambda: ckpt.checkpoint_shared(
            spark.range(200).selectExpr("id + 1 AS y"), size_class=ckpt.BOUNDED
        ),
    )
    assert any("Disk Memory Deserialized" in d for d in descs), descs


def test_data_sized_level_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CKPT_DATA_SIZED_LEVEL", "MEMORY_AND_DISK")
    assert ckpt._data_sized_level() == StorageLevel.MEMORY_AND_DISK
    monkeypatch.setenv("SPARK_GRAFT_CKPT_DATA_SIZED_LEVEL", "NOT_A_LEVEL")
    with pytest.raises(ValueError, match="NOT_A_LEVEL"):
        ckpt._data_sized_level()


def test_no_persist_in_registry_query_paths():
    """persist()/cache() must never appear in a registry builder path:
    CacheManager matches canonicalized plans, so a second invocation of
    the same builder would silently reuse the first invocation's cached
    blocks — cross-invocation result reuse the bench and oracle contract
    forbids (see ckpt module docstring). No exception is allowed; shared
    frames go through ckpt.checkpoint_shared."""
    from pathlib import Path

    qdir = Path(__file__).resolve().parents[1] / "glue_etl_framework_spark" / "queries"
    for path in sorted(qdir.glob("*.py")):
        for i, line in enumerate(path.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            assert ".persist(" not in code and ".cache(" not in code, (
                f"{path.name}:{i} uses persist/cache in a registry query "
                "path — CacheManager plan matching would reuse results "
                "across invocations"
            )
