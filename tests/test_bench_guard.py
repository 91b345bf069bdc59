"""The performance-regression rule and bench.py's contract line.

Whether a change made a query slower is decided by one rule,
``tools_opt_abx.slower``: over alternating bursts of the parent tree and
the change, a query is flagged when the change's first quartile of burst
medians is above the parent's third quartile. ``verdicts`` applies it to
every query and to the per-burst TOTAL. The tests below feed it
synthetic burst medians (10 bursts, parent and change timed in the same
burst, as tools_opt_abx.py runs them).
"""

from __future__ import annotations

import json
import random

from tools_opt_abx import TOTAL, burst_order, verdicts

BURSTS = 10


def _flagged(meds: dict[str, dict[str, list[float]]]) -> set[str]:
    return {n for n, slow in verdicts(meds).items() if slow}


def _jittered(base: float, seed: int, spread: float = 0.05) -> list[float]:
    """``BURSTS`` readings of a query whose true time is ``base``, each
    off by up to ±``spread`` (relative)."""
    rnd = random.Random(seed)
    return [base * (1 + rnd.uniform(-spread, spread)) for _ in range(BURSTS)]


def _ab(before: dict[str, list[float]], after: dict[str, list[float]]):
    return {n: {"before": before[n], "after": after[n]} for n in before}


def test_burst_order_puts_every_query_first_equally_often():
    """Over len(names) bursts each query leads exactly once, and every
    burst runs each query exactly once."""
    names = ["q0", "q1", "q2", "q3", "q4"]
    orders = [burst_order(names, i) for i in range(2 * len(names))]
    assert all(sorted(o) == names for o in orders)
    firsts = [o[0] for o in orders]
    assert all(firsts.count(n) == 2 for n in names)
    assert orders[: len(names)] == orders[len(names):]
    assert burst_order(["only"], 3) == ["only"]


def test_gate_fails_uniform_regression_at_equal_calibration():
    """A uniform 1.5x slowdown on a steady host flags every query and the
    total."""
    before = {f"q{i}": _jittered(1.0 + i / 10, seed=i) for i in range(10)}
    after = {f"q{i}": _jittered(1.5 * (1.0 + i / 10), seed=100 + i) for i in range(10)}
    assert _flagged(_ab(before, after)) == set(before) | {TOTAL}


def test_gate_tolerates_measured_host_drift():
    """The host slows from 1.0x to 1.5x across the bursts, and both trees
    of a burst see the same speed: the change is not slower, so nothing
    is flagged."""
    drift = [1.0 + 0.5 * b / (BURSTS - 1) for b in range(BURSTS)]
    base = {f"q{i}": 1.0 + i / 10 for i in range(10)}
    meds = {
        q: {
            "before": [sec * d * j for d, j in zip(drift, _jittered(1.0, seed=i))],
            "after": [sec * d * j for d, j in zip(drift, _jittered(1.0, seed=50 + i))],
        }
        for i, (q, sec) in enumerate(base.items())
    }
    assert _flagged(meds) == set()


def test_gate_catches_localized_regression_despite_drift():
    """One query 4x slower while the host drifts 1.0x -> 1.5x: of the
    queries only that one is flagged. The total is flagged too, because
    one query at 4x of ten equal ones really does add 30% to it."""
    drift = [1.0 + 0.5 * b / (BURSTS - 1) for b in range(BURSTS)]
    before = {f"q{i}": [d * j for d, j in zip(drift, _jittered(1.0, seed=i))] for i in range(10)}
    after = {f"q{i}": [d * j for d, j in zip(drift, _jittered(1.0, seed=50 + i))] for i in range(10)}
    after["q3"] = [4 * x for x in after["q3"]]
    assert _flagged(_ab(before, after)) == {"q3", TOTAL}


def test_gate_faster_box_never_loosens():
    """The rule compares the two trees within the same bursts, so a host
    that runs everything at twice the speed cannot hide a 2.5x
    regression."""
    before = {f"q{i}": [0.5 * x for x in _jittered(1.0, seed=i)] for i in range(10)}
    after = {f"q{i}": [0.5 * 2.5 * x for x in _jittered(1.0, seed=50 + i)] for i in range(10)}
    assert _flagged(_ab(before, after)) == set(before) | {TOTAL}


def test_subfloor_cluster_of_regressions_trips_gate():
    """Ten small queries each go from 0.15 s to 0.19 s while jittering
    ±50% from burst to burst. Each stays inside its own spread, so none
    is flagged alone; the jitter is not shared across queries, so it
    cancels in the per-burst total, and the total is flagged."""
    offsets = [-0.5 + b / (BURSTS - 1) for b in range(BURSTS)]

    def rotated(base: float, i: int, step: int) -> list[float]:
        return [base * (1 + offsets[(step * b + i) % BURSTS]) for b in range(BURSTS)]

    before = {f"tiny{i}": rotated(0.15, i, 1) for i in range(10)}
    after = {f"tiny{i}": rotated(0.19, i, 3) for i in range(10)}
    assert _flagged(_ab(before, after)) == {TOTAL}


def test_subfloor_symmetric_jitter_does_not_trip():
    """Both trees jitter the same way around the same 0.15 s: nothing is
    flagged, neither a query nor the total."""
    before = {f"tiny{i}": _jittered(0.15, seed=i, spread=0.5) for i in range(10)}
    after = {f"tiny{i}": _jittered(0.15, seed=100 + i, spread=0.5) for i in range(10)}
    assert _flagged(_ab(before, after)) == set()


def test_subfloor_single_jitter_spike_does_not_trip():
    """A spike in one burst, of any size, moves neither quartile far
    enough: a query that reads 0.59 s, or 20x its time, once in ten
    bursts is not flagged, nor is the total."""
    before = {f"tiny{i}": _jittered(0.15, seed=i) for i in range(10)}
    for spike in (0.59, 3.0):
        after = {f"tiny{i}": _jittered(0.15, seed=100 + i) for i in range(10)}
        after["tiny0"][4] = spike
        assert _flagged(_ab(before, after)) == set(), spike


def test_retry_outvotes_session_transient_of_any_size():
    """A transient that mis-times the change in two of ten bursts is
    outvoted by the clean bursts, however large it is: a 2.4x, 4x or 20x
    reading in bursts 2 and 7 flags nothing, neither the query nor the
    total."""
    before = {f"q{i}": _jittered(1.0, seed=i) for i in range(5)}
    for transient in (2.4, 4.0, 20.0):
        after = {f"q{i}": _jittered(1.0, seed=50 + i) for i in range(5)}
        for b in (2, 7):
            after["q0"][b] *= transient
        assert _flagged(_ab(before, after)) == set(), transient


def test_retry_keeps_real_regression_flagged():
    """Slow in every burst but one is a real regression: the one clean
    burst cannot launder it, and the query and the total stay flagged."""
    before = {f"q{i}": _jittered(1.0, seed=i) for i in range(5)}
    after = {f"q{i}": _jittered(1.0, seed=50 + i) for i in range(5)}
    after["q0"] = [2.3 * x for x in after["q0"]]
    after["q0"][5] = 0.95
    assert _flagged(_ab(before, after)) == {"q0", TOTAL}


def test_gate_floors_sub_noise_anchors():
    """A 0.21 s query with a third of a second of scheduling drift in some
    bursts, on both trees alike, is not flagged; when the change costs
    real time in every burst (0.21 s -> 0.75 s) it is flagged."""
    drifted_before, drifted_after = (1, 4, 8), (0, 5, 9)

    def tiny(seed: int, base: float, drifted: tuple[int, ...]) -> list[float]:
        return [x + (0.33 if b in drifted else 0.0)
                for b, x in enumerate(_jittered(base, seed=seed))]

    before = {"q_tiny": tiny(1, 0.21, drifted_before), "q_big": _jittered(1.0, seed=2)}
    ok = {"q_tiny": tiny(3, 0.21, drifted_after), "q_big": _jittered(1.0, seed=4)}
    assert _flagged(_ab(before, ok)) == set()
    bad = {"q_tiny": _jittered(0.75, seed=3), "q_big": _jittered(1.0, seed=4)}
    assert _flagged(_ab(before, bad)) == {"q_tiny", TOTAL}


# ---- bench.py's contract line ------------------------------------------------
# The driver's stdout tail capture is 2000 chars; r14/r15's per-query
# comparator went blind when the queries dict lived only in an earlier,
# longer line whose FRONT the tail truncated mid-JSON. These tests pin that
# the final line fits the tail window even at worst-case digit widths and
# that the driver can parse per-query values straight from it.


def test_final_summary_line_carries_queries_and_fits_tail_window():
    from bench import HEADLINE, final_summary_line

    worst = dict.fromkeys(HEADLINE, 9999.99)
    line = final_summary_line(worst, 0.1)
    assert len(line) + 1 < 1990, (
        f"final bench line is {len(line)} chars at worst-case widths — the "
        "driver tail capture is 2000 chars and the line must survive whole "
        "(trim keys or precision before adding headline queries)"
    )
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_query_wall_seconds"
    assert parsed["unit"] == "sec"
    assert parsed["sf"] == 0.1
    assert set(parsed["queries"]) == set(HEADLINE)
    assert parsed["n_queries"] == len(HEADLINE)


def test_final_summary_line_values_match_timings_at_2dp():
    from bench import final_summary_line

    timings = {"q_a": 1.2345, "q_b": 0.0467}
    parsed = json.loads(final_summary_line(timings, 0.1))
    assert parsed["queries"] == {"q_a": 1.23, "q_b": 0.05}
    assert parsed["value"] == round(1.2345 + 0.0467, 4)  # full-precision total
