"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in ``glue_etl_framework_spark.queries`` — one named,
oracle-paired builder per operator of SURVEY.md §2 (plus the EXT
dedup/similarity/text operators). The package registry is in module
order; the order the driver sees is set here (``driver_order``), because
the driver checks only the first ~50 entries of ``queries()`` per round.
"""

from __future__ import annotations

import json
import re
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

from glue_etl_framework_spark.queries import QuerySpec, load_registry  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"

# One full staleness rotation is ~ceil(322 green entries / 42-slot window)
# ≈ 8 rounds. A green late addition older than this re-enters the
# staleness refresh like any other entry (see driver_order).
STALE_OVERRIDE_AGE = 8

# Entries added while an attestation backlog existed: they queue BEHIND
# the never-checked backlog in the driver window and can never displace
# it (VERDICT r06 item 5). Once green they stay at the tail only while
# RECENTLY attested: when the green row's on-disk age reaches
# STALE_OVERRIDE_AGE - 1 (true staleness at the upcoming check = the
# ceiling) they re-enter the staleness refresh (ADVICE r09). Ignored for
# FAILED entries — a failure re-enters the very next window (ADVICE r07).
LATE_ADDITIONS = frozenset({"io_jdbc_partitioned_read"})


def _driver_history() -> tuple[set[str], set[str], dict[str, int]]:
    """(passed, failed, last_pass_round) from past driver CORRECTNESS rounds.

    The driver's correctness window is the first ~50 entries of ``queries()``
    per round, so rotation is the only way every operator eventually gets a
    driver row. Reading past CORRECTNESS_r*.json makes the rotation
    self-maintaining. An entry whose LATEST driver row was red (hash/rows/
    schema mismatch or an error) counts as FAILED, not checked — it must
    re-enter the very next window so the fix gets its green row.

    ``last_pass_round`` maps each passed name to the (1-based) index of the
    most recent round whose row for it was green — the green tier sorts by
    it ascending (STALEST first), so once the whole registry is green the
    window keeps rotating as a staleness refresh instead of freezing on the
    first modules forever (round-9 change; before it, an all-green registry
    re-attested the same tpch/io head every round and the tail never got a
    fresh row).
    """
    # The rows-only gate below consults each entry's category.
    registry = load_registry()
    latest: dict[str, bool] = {}
    last_pass: dict[str, int] = {}
    # Sort and number rounds by the EXTRACTED round number, not filename
    # lexicographic order — zero-padded names break at r100 (r100 would sort
    # between r10 and r11), mis-ordering both latest-wins and the staleness
    # ranking (ADVICE r09). Rounds may be missing (r08 never ran): last_pass
    # stores the true round number, so staleness gaps are measured honestly.
    rounds = sorted(
        (int(m.group(1)), f)
        for f in REPO.glob("CORRECTNESS_r*.json")
        if (m := re.search(r"_r(\d+)\.json$", f.name))
    )
    for rnd, f in rounds:
        try:
            data = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                latest[name] = True
                last_pass[name] = rnd
                continue
            # err == "no_oracle" with a recorded row count is the
            # documented rows-only contract SUCCEEDING for a live
            # streaming drain (its value certification is the hash-green
            # _parity twin), not a failure: counting it as failed pinned
            # all 8 streaming entries to the window head every round
            # (r07, r09), spending 8 of 50 slots re-running checks that
            # can never get stronger. Green rows rotate by staleness.
            err = row.get("err")
            # Restricted to registered streaming entries — the only
            # category whose rows-only contract is value-certified by a
            # hash-green *_parity twin. A future oracle-less entry in any
            # other category must NOT rotate out on a bare row count
            # (ADVICE r10). bool is excluded explicitly: it subclasses int.
            sr = row.get("spark_rows")
            spec = registry.get(name)
            rows_only_ok = (
                err == "no_oracle"
                and spec is not None
                and spec.category == "streaming"
                and isinstance(sr, int)
                and not isinstance(sr, bool)
                and sr >= 0
            )
            ok = (err is None or rows_only_ok) and not any(
                row.get(k) is False
                for k in ("rows_match", "schema_match", "hash_match")
            )
            latest[name] = ok
            if ok:
                last_pass[name] = rnd
    passed = {n for n, ok in latest.items() if ok}
    failed = {n for n, ok in latest.items() if not ok}
    return passed, failed, last_pass


def driver_order() -> dict[str, QuerySpec]:
    """The registry ordered for the driver's windowed correctness check:
    previously-FAILED entries first (their fix needs a green row
    immediately), then never-checked entries (module order), then
    everything already green ordered STALEST-ATTESTATION-FIRST (so the
    window rotates through the whole registry as a staleness refresh once
    everything is green) — see _driver_history."""
    registry = load_registry()
    passed, failed, last_pass = _driver_history()
    latest_round = max(last_pass.values(), default=0)

    def tier(name: str) -> int:
        if name in failed:
            return 0
        if name in passed:
            return 2
        return 1

    def late(name: str, tr: int) -> bool:
        # LATE_ADDITIONS queue behind the attestation backlog
        # (never-checked tier) and keep a RECENTLY-green late addition at
        # the registry tail — but that must not exclude an entry from the
        # staleness refresh forever. Two overrides:
        # - a FAILED entry re-enters the very next window regardless
        #   (ADVICE r07);
        # - a GREEN entry nearing the staleness ceiling sorts by staleness
        #   (ADVICE r09). The trigger is STALE_OVERRIDE_AGE - 1 on the
        #   ON-DISK age: when the driver loads the registry during round N,
        #   CORRECTNESS files exist only through round N-1, so an entry
        #   last green at round P has on-disk age N-1-P but TRUE staleness
        #   N-P at the upcoming check. Triggering at on-disk age >= ceiling
        #   would admit the entry one round late (r15 fix: the JDBC late
        #   addition, last green r7, must re-attest at r15 — exactly the
        #   ceiling — not r16).
        if tr == 0 or name not in LATE_ADDITIONS:
            return False
        return not (
            tr == 2
            and latest_round - last_pass.get(name, latest_round) >= STALE_OVERRIDE_AGE - 1
        )

    # sorted() is stable, so module order breaks the remaining ties.
    ranked = sorted(
        registry,
        key=lambda n: (
            tier(n),
            late(n, tier(n)),
            # Staleness: green entries with the OLDEST last green row come
            # first, so every entry's driver attestation stays at most
            # ~ceil(322/42) rounds old. 0 for non-green tiers (no effect).
            last_pass.get(n, 0) if tier(n) == 2 else 0,
        ),
    )
    return {n: registry[n] for n in ranked}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (revenue by region: lineitem⋈orders⋈customer⋈nation⋈
    region + grouped sum — the README Example-1 analogue) on sf0.001."""
    registry = load_registry()
    return registry["flagship_revenue_by_region"].fn(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.fn for name, spec in driver_order().items()}


def oracle_sql() -> dict[str, str]:
    """Equivalent ANSI SQL per query, runnable by DuckDB on the same parquet
    tables. Queries without an oracle (non-SQL-expressible) are omitted."""
    return {
        name: spec.oracle
        for name, spec in driver_order().items()
        if spec.oracle is not None
    }
