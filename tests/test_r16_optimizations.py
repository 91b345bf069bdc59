"""Focused pins for the r16 optimization-round internals changes.

1. ckpt.checkpoint_shared — the shared materialization policy helper
   (VERDICT r15 item 3): size classes route to the documented storage
   levels, results are unchanged, and the env override validates.
2. bench.py's final summary line is pinned in tests/test_bench_guard.py
   (tail-window budget + per-query dict).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from glue_etl_framework_spark import ckpt


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
