"""Pins the mechanical pair-emitter memory-floor check (VERDICT r09 item
7): the r9 100x ngram-Jaccard probe OOM'd at 0.5 GiB/core and completed at
2 GiB/core (SCALING.md sixth probe); the check turns that prose finding
into a warning emitted before a pair-emitting query runs on a below-floor
local JVM."""

from __future__ import annotations

import warnings

import pytest

from glue_etl_framework_spark.session import (
    PAIR_EMITTER_FLOOR_GIB_PER_CORE,
    local_core_count,
    pair_emitter_memory_warning,
    parse_memory_gib,
    warn_if_below_pair_emitter_floor,
)


@pytest.mark.parametrize(
    ("mem", "gib"),
    [("16g", 16.0), ("65536m", 64.0), ("2t", 2048.0), ("512m", 0.5),
     ("1048576k", 1.0), (str(2**30), 1.0),
     # Spark's JavaUtils accepts an optional trailing 'b' and 'p'
     # (ADVICE r10: '16gb' used to raise and abort the probe's advisory)
     ("16gb", 16.0), ("1024mb", 1.0), ("1tb", 1024.0), ("1p", 1024.0**2),
     (f"{2**30}b", 1.0), ("16GB", 16.0)],
)
def test_parse_memory_gib(mem, gib):
    assert parse_memory_gib(mem) == pytest.approx(gib)


def test_unparseable_memory_is_advisory_not_fatal():
    """pair_emitter_memory_warning is an advisory path: a memory string it
    can't parse returns None (no warning) instead of raising (ADVICE r10)."""
    assert pair_emitter_memory_warning("local[32]", "lots", "q") is None
    with pytest.raises(ValueError):
        parse_memory_gib("lots")


@pytest.mark.parametrize("mem", ["b", "kb", "g", "", "  ", "mb"])
def test_degenerate_memory_strings_raise_cleanly(mem):
    """A bare suffix with no number must raise ValueError with the input
    named, not reduce to float('') (ADVICE r11)."""
    with pytest.raises(ValueError):
        parse_memory_gib(mem)


@pytest.mark.parametrize(
    ("master", "cores"),
    [("local[32]", 32), ("local[4]", 4), ("local", 1),
     ("local[4,2]", 4), ("yarn", None), ("spark://host:7077", None),
     ("k8s://https://host", None)],
)
def test_local_core_count(master, cores):
    assert local_core_count(master) == cores


def test_below_floor_warns():
    msg = pair_emitter_memory_warning("local[32]", "16g", "dedup_ngram_jaccard")
    assert msg is not None
    assert "dedup_ngram_jaccard" in msg
    assert "0.50 GiB/core" in msg


def test_at_floor_is_silent():
    gib = int(PAIR_EMITTER_FLOOR_GIB_PER_CORE * 32)
    assert pair_emitter_memory_warning("local[32]", f"{gib}g", "q") is None


def test_cluster_master_is_exempt():
    """On a real cluster the driver heap doesn't host task threads —
    executors own their memory and the knob is inert (SCALING.md)."""
    assert pair_emitter_memory_warning("yarn", "1g", "q") is None


def test_live_session_warning_path(spark):
    """warn_if_below_pair_emitter_floor reads the running session's actual
    master/heap; the shared test session is local[N] at 16g = below floor,
    so the warning path must fire — as UserWarning, which default filters
    actually display (ResourceWarning is silenced by default; ADVICE r10)."""
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        msg = warn_if_below_pair_emitter_floor(spark, "dedup_ngram_jaccard")
    master = spark.conf.get("spark.master")
    cores = local_core_count(master)
    per_core = parse_memory_gib(spark.conf.get("spark.driver.memory", "1g")) / cores
    if per_core < PAIR_EMITTER_FLOOR_GIB_PER_CORE:
        assert msg is not None
        assert any(issubclass(w.category, UserWarning) for w in caught)
    else:
        assert msg is None and not caught


def test_pair_emitting_registry_names_exist():
    """Every name in PAIR_EMITTING_QUERIES must be a real registry entry —
    a rename would silently drop the query from the probe-tool warning."""
    from glue_etl_framework_spark.queries import (
        PAIR_EMITTING_QUERIES,
        REGISTRY,
        load_registry,
    )

    load_registry()
    missing = PAIR_EMITTING_QUERIES - set(REGISTRY)
    assert not missing, f"not registry entries: {sorted(missing)}"


def test_disk_headroom_warning():
    """Advisory spill-headroom floor (SCALING.md eleventh probe: a
    quadratic-output emitter's transient shuffle spill filled the disk).
    Never raises; trips only below the floor; unstatable paths are None."""
    from glue_etl_framework_spark.session import disk_headroom_warning

    assert disk_headroom_warning("q", min_free_gib=0.0) is None
    msg = disk_headroom_warning("q", min_free_gib=float(10**9))
    assert msg is not None and "GiB free" in msg and "q" in msg
    assert disk_headroom_warning("q", path="/nonexistent-dir") is None


def test_disk_headroom_live_session(spark, monkeypatch):
    """The live-session check reads the session's spill directory and is
    silent above the floor, warning (naming that directory) below it —
    whatever the free space of the host running the test."""
    import shutil
    from types import SimpleNamespace

    from glue_etl_framework_spark.session import (
        PAIR_EMITTER_MIN_FREE_DISK_GIB,
        warn_if_low_disk,
    )

    local_dir = (spark.conf.get("spark.local.dir", None) or "/tmp").split(",")[0]
    statted = []

    def fake_disk_usage(free_gib):
        def disk_usage(path):
            statted.append(path)
            return SimpleNamespace(free=int(free_gib * 1024**3))

        return disk_usage

    monkeypatch.setattr(
        shutil, "disk_usage", fake_disk_usage(PAIR_EMITTER_MIN_FREE_DISK_GIB + 1)
    )
    assert warn_if_low_disk(spark, "q") is None
    monkeypatch.setattr(
        shutil, "disk_usage", fake_disk_usage(PAIR_EMITTER_MIN_FREE_DISK_GIB / 2)
    )
    with pytest.warns(UserWarning, match="GiB free") as caught:
        msg = warn_if_low_disk(spark, "q")
    assert msg is not None and local_dir in msg and "'q'" in msg
    assert str(caught[0].message) == msg
    assert statted == [local_dir, local_dir]
