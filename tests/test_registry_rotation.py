"""Pins the driver-window rotation: the driver records CORRECTNESS for the
FIRST ~50 entries of ``queries()`` each round, so ``__spark_entry__``'s
ordering IS the attestation schedule. These tests run against the repo's
real CORRECTNESS_r*.json history."""

from __future__ import annotations

import json
from pathlib import Path

import __spark_entry__ as entry
from __spark_entry__ import LATE_ADDITIONS, _driver_history, driver_order
from glue_etl_framework_spark.queries import REGISTRY, load_registry

REPO = Path(__file__).resolve().parents[1]


def test_failed_rows_outrank_everything():
    """An entry whose latest driver row was red must re-enter the next
    window ahead of never-checked entries — a fix that never gets its
    green row stays red forever."""
    passed, failed, _last_pass = _driver_history()
    if not failed:
        return  # nothing red on record; nothing to order
    names = list(driver_order())
    n_failed = len(failed)
    assert set(names[:n_failed]) == failed, (
        f"previously-failed entries {sorted(failed)} must occupy the first "
        f"{n_failed} positions, got {names[:n_failed]}"
    )


def test_never_checked_precede_green():
    passed, failed, _last_pass = _driver_history()
    names = list(driver_order())
    tiers = [0 if n in failed else 2 if n in passed else 1 for n in names]
    assert tiers == sorted(tiers), "ordering must be failed < never-checked < green"


def test_correctness_history_names_still_exist():
    """Every name the driver ever recorded must still be a registry entry:
    a rename would silently restart its attestation and strand the old
    row as an orphan the rotation can never clear."""
    load_registry()
    recorded: set[str] = set()
    for f in sorted(REPO.glob("CORRECTNESS_r*.json")):
        data = json.loads(f.read_text())
        if isinstance(data, dict):
            recorded.update(data.keys())
    missing = recorded - set(REGISTRY)
    assert not missing, f"driver-recorded names no longer in registry: {sorted(missing)}"


def test_window_is_deterministic():
    """Two loads produce the identical order (the driver and our
    pre-verification sweeps must see the same window)."""
    assert list(driver_order()) == list(driver_order())


def test_green_tier_orders_stalest_attestation_first():
    """Once green, entries rotate through the window oldest-attestation
    first (round 9): among green entries that are not late additions, last-pass rounds must be
    non-decreasing in registry order, so every entry's driver row stays at
    most ~ceil(|green|/window) rounds old instead of the window freezing
    on the first modules forever."""
    passed, failed, last_pass = _driver_history()
    names = list(driver_order())
    green_rounds = [
        last_pass[n]
        for n in names
        if n in passed and n not in LATE_ADDITIONS
    ]
    assert green_rounds == sorted(green_rounds), (
        "green tier must be ordered stalest-first by last green round"
    )


def test_staleness_rotation_synthetic(monkeypatch):
    """An entry last green in round 2 must enter the window before one
    last green in round 7, regardless of module order."""
    load_registry()
    names = list(REGISTRY)
    regular = [n for n in names if n not in LATE_ADDITIONS]
    stale, fresh = regular[-1], regular[0]  # reversed module order on purpose
    last = dict.fromkeys(names, 5)
    last[stale], last[fresh] = 2, 7
    monkeypatch.setattr(entry, "_driver_history", lambda: (set(names), set(), last))
    ordered = list(driver_order())
    assert ordered.index(stale) < ordered.index(fresh)


def test_failed_entry_with_window_rank_still_leads(monkeypatch):
    """LATE_ADDITIONS queue behind the never-checked backlog and green
    late additions keep the tail — but that must NOT delay a FAILED
    entry's re-entry (ADVICE r07): simulate the late JDBC entry going red
    and assert it sorts to position 0."""
    load_registry()
    ranked_name = "io_jdbc_partitioned_read"
    assert ranked_name in LATE_ADDITIONS  # the premise
    others = set(REGISTRY) - {ranked_name}
    monkeypatch.setattr(
        entry, "_driver_history", lambda: (others, {ranked_name}, dict.fromkeys(others, 1))
    )
    assert list(driver_order())[0] == ranked_name


def test_green_entry_with_window_rank_stays_at_tail(monkeypatch):
    """Once green and RECENTLY attested, a late addition keeps the registry
    tail so it never displaces the staleness-refresh window."""
    load_registry()
    ranked_name = "io_jdbc_partitioned_read"
    monkeypatch.setattr(
        entry,
        "_driver_history",
        lambda: (set(REGISTRY), set(), dict.fromkeys(REGISTRY, 1)),
    )
    assert list(driver_order())[-1] == ranked_name


def test_stale_green_ranked_entry_reenters_refresh(monkeypatch):
    """ADVICE r09: a green late addition must NOT be excluded from the
    staleness refresh forever. Once its attestation is STALE_OVERRIDE_AGE
    rounds old, it sorts by staleness like any
    other green entry — here it is the stalest, so it must lead the
    green tier (position 0, no failed/never-checked entries)."""
    load_registry()
    ranked_name = "io_jdbc_partitioned_read"
    assert ranked_name in LATE_ADDITIONS  # the premise
    latest = 20
    last = dict.fromkeys(REGISTRY, latest)
    last[ranked_name] = latest - entry.STALE_OVERRIDE_AGE
    monkeypatch.setattr(
        entry, "_driver_history", lambda: (set(REGISTRY), set(), last)
    )
    assert list(driver_order())[0] == ranked_name


def test_ranked_entry_rotates_at_ceiling_not_after(monkeypatch):
    """r15 fix: the on-disk history at round N covers only rounds ≤ N-1,
    so a late addition with on-disk age STALE_OVERRIDE_AGE - 1 has TRUE
    staleness exactly the ceiling at the upcoming check. It must rotate
    into the window NOW — triggering one round later would let its
    attestation reach ceiling+1 (the r7-green JDBC late addition at r15)."""
    load_registry()
    ranked_name = "io_jdbc_partitioned_read"
    assert ranked_name in LATE_ADDITIONS  # the premise
    latest = 20
    last = dict.fromkeys(REGISTRY, latest)
    last[ranked_name] = latest - (entry.STALE_OVERRIDE_AGE - 1)
    monkeypatch.setattr(
        entry, "_driver_history", lambda: (set(REGISTRY), set(), last)
    )
    assert list(driver_order())[0] == ranked_name


def test_recently_green_ranked_entry_below_boundary_keeps_tail(monkeypatch):
    """The boundary's other side: on-disk age STALE_OVERRIDE_AGE - 2
    (true staleness ceiling-1 at the upcoming check) keeps it late —
    the entry stays at the tail and does not displace staler entries."""
    load_registry()
    ranked_name = "io_jdbc_partitioned_read"
    latest = 20
    last = dict.fromkeys(REGISTRY, latest)
    last[ranked_name] = latest - (entry.STALE_OVERRIDE_AGE - 2)
    monkeypatch.setattr(
        entry, "_driver_history", lambda: (set(REGISTRY), set(), last)
    )
    assert list(driver_order())[-1] == ranked_name


def test_round_numbers_sort_numerically(tmp_path, monkeypatch):
    """ADVICE r09: round order must come from the extracted round number,
    not filename lexicographic order — r100 sorts between r10 and r11
    lexicographically, which would let a stale r10 row overwrite the
    r100 verdict in latest-wins."""
    import json

    green = {"x": {"err": None, "rows_match": True, "hash_match": True}}
    red = {"x": {"err": "boom"}}
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps(red))
    (tmp_path / "CORRECTNESS_r100.json").write_text(json.dumps(green))

    import pathlib

    real_glob = pathlib.Path.glob

    def fake_glob(self, pattern):
        if pattern == "CORRECTNESS_r*.json":
            return real_glob(tmp_path, pattern)
        return real_glob(self, pattern)

    monkeypatch.setattr(pathlib.Path, "glob", fake_glob)
    passed, failed, last_pass = entry._driver_history()
    assert "x" in passed and "x" not in failed, (
        "r100 (the true latest round) must win over r10"
    )
    assert last_pass["x"] == 100


def test_rows_only_streaming_row_counts_as_green(tmp_path, monkeypatch):
    """A successful rows-only check (err == 'no_oracle' with a recorded
    spark_rows) is the documented contract for live streaming drains, not
    a failure — counting it as failed pinned the 8 streaming entries to
    the window head every round. A no_oracle row WITHOUT a row count (the
    drain itself errored) must still count as failed. The gate is
    restricted (ADVICE r10): only entries REGISTERED with
    category='streaming' qualify — an oracle-less entry in any other
    category, an unregistered name, or a bool masquerading as a row count
    must NOT rotate out on a bare row count."""
    import json
    import pathlib

    import glue_etl_framework_spark.queries as q

    def spec(name, category):
        return q.QuerySpec(name, lambda s, d: None, None, category)

    for nm, cat in [("stream_ok", "streaming"), ("stream_broken", "streaming"),
                    ("batch_no_oracle", "dedup"), ("stream_bool_rows", "streaming")]:
        monkeypatch.setitem(q.REGISTRY, nm, spec(nm, cat))

    data = {
        "stream_ok": {"rows_match": None, "hash_match": None,
                      "spark_rows": 3375, "err": "no_oracle"},
        "stream_broken": {"rows_match": None, "hash_match": None,
                          "spark_rows": None, "err": "no_oracle"},
        # non-streaming category: rows-only must NOT count as green
        "batch_no_oracle": {"rows_match": None, "hash_match": None,
                            "spark_rows": 42, "err": "no_oracle"},
        # never recorded in the registry at all
        "unregistered_stream": {"rows_match": None, "hash_match": None,
                                "spark_rows": 7, "err": "no_oracle"},
        # bool subclasses int — must not satisfy the row-count check
        "stream_bool_rows": {"rows_match": None, "hash_match": None,
                             "spark_rows": True, "err": "no_oracle"},
    }
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(data))
    real_glob = pathlib.Path.glob

    def fake_glob(self, pattern):
        if pattern == "CORRECTNESS_r*.json":
            return real_glob(tmp_path, pattern)
        return real_glob(self, pattern)

    monkeypatch.setattr(pathlib.Path, "glob", fake_glob)
    passed, failed, last_pass = entry._driver_history()
    assert "stream_ok" in passed and "stream_ok" not in failed
    assert last_pass["stream_ok"] == 1
    assert "stream_broken" in failed
    assert "batch_no_oracle" in failed
    assert "unregistered_stream" in failed
    assert "stream_bool_rows" in failed
