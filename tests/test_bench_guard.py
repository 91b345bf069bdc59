"""Mechanical performance-regression gate (VERDICT r02 item 7).

`BASELINE_BENCH.json` freezes the per-query median seconds of the first two
benchmark rounds (local[32], sf0.1). This test diffs the LATEST recorded
`BENCH_r*.json` against the frozen numbers and fails on any per-query
regression > 2x — the driver's "within 2x of BASELINE" gate made executable
against a real anchor instead of the reference's (nonexistent) numbers.

Refreezing after a deliberate perf change: `python tools_refreeze_baseline.py`
— the ONE sanctioned path (VERDICT r06 item 4). It refuses when the
contributing run's box calibration deviates >25% from the anchor's recorded
`box_cal_sec_at_refreeze`, and when any query would be anchored from a
single sample (never only from the round under judgment). The rule is
written in BASELINE.md and unit-tested below.
"""

from __future__ import annotations

import json
import statistics
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]

# Absolute noise floor: sub-0.3s queries are dominated by stage-scheduling
# jitter on a busy box; a 0.15s -> 0.35s drift is not a plan regression.
NOISE_FLOOR_SEC = 0.3
MAX_RATIO = 2.0


def _latest_bench() -> tuple[str, dict[str, float], float | None, float | None] | None:
    """(name, per-query seconds, box_cal_sec, jvm_cal_sec of the run) for
    the newest recorded bench. For r5+ summary-format rounds the per-query
    numbers AND the calibrations all come from BENCH_DETAIL.json so they
    describe the same run (BENCH_r*.json stays frozen while a later local
    bench may rewrite the detail file). jvm_cal_sec is None for pre-r14
    rounds (the signal was added in r14)."""

    from tools_refreeze_baseline import round_num

    benches = sorted(REPO.glob("BENCH_r*.json"), key=lambda p: round_num(p.name))
    if not benches:
        return None
    latest = benches[-1]
    data = json.loads(latest.read_text())
    parsed = data.get("parsed") or {}
    queries = parsed.get("queries") or data.get("queries")
    if not queries:
        # r6+: bench.py's final line is a compact summary (the combined
        # line outgrew the driver's tail capture in r5); per-query medians
        # live in BENCH_DETAIL.json, rewritten by every bench run.
        detail = REPO / "BENCH_DETAIL.json"
        if detail.exists():
            d = json.loads(detail.read_text())
            if d.get("detail_queries"):
                return (
                    f"{latest.name} (+BENCH_DETAIL.json)",
                    d["detail_queries"],
                    d.get("box_cal_sec"),
                    d.get("jvm_cal_sec"),
                )
        return None
    return latest.name, queries, parsed.get("box_cal_sec"), parsed.get("jvm_cal_sec")


# The VM hosting these runs swings 20-40% between sessions (measured r6:
# the same commit benched 0.91x, 1.28x, and 1.21x of anchor on different
# days). Cohort-median normalization (r6-r7) removed the false alarms but
# left a documented blind spot: a UNIFORM plan regression looks identical
# to host drift and rode free up to 1.8x. Now that every bench run records
# box_cal_sec (a pure-Python kernel timed on the same box) and the anchor
# records box_cal_sec_at_refreeze, the gate normalizes by the MEASURED
# calibration ratio instead of inferring drift from the queries themselves
# (VERDICT r07 item 2): host drift moves the calibration kernel; a plan
# regression cannot. The residual backstop tightens 1.8 -> 1.4: a uniform
# suite-wide slowdown beyond 1.4x at equal calibration now fails.
BOX_DRIFT_RESIDUAL_MAX = 1.4


def evaluate_bench_gate(
    baseline: dict[str, float],
    current: dict[str, float],
    cal_ratio: float,
) -> tuple[float, float, list[str]]:
    """Pure calibration-normalized gate (unit-tested below).

    cal_ratio = current run's box_cal_sec / anchor's
    box_cal_sec_at_refreeze, clamped to >= 1.0: a slower box raises the
    per-query threshold; a faster box never loosens it (a regression
    masked by faster hardware is still caught by the absolute 2x gate).
    Returns (residual_median, per_query_threshold, regressions).

    The noise floor applies to BOTH sides of every ratio (r13): a query
    ANCHORED under 0.3s is itself scheduling-jitter-dominated, so its
    ratio is computed against max(base, floor) — 0.21s -> 0.54s is 0.33s
    of absolute drift, the exact class the floor exists for, not a 2.6x
    plan regression (the r12-watch pair agg_bitmap_distinct_users /
    agg_exact_median_twopass reads ~2x on builder-family boxes purely
    from this effect while driver-family boxes read 0.9x). A real
    regression of a sub-floor query still trips once it costs real time:
    0.21s -> 0.7s reads 0.7/0.3 = 2.3x.

    Sub-floor CLUSTER backstop (ADVICE r13): flooring exempts each tiny
    query individually, so a cluster of real small-query regressions
    (e.g. ten 0.15s queries all reading 0.59s) could ride free and feed
    the next refreeze. The NET drift over sub-floor-anchored queries —
    positive and negative deltas cancel, so symmetric scheduling jitter
    nets ~0 while an all-positive regression cluster sums intact — is
    bounded by one floor per floored query PLUS one floor of headroom
    (x norm): the headroom keeps a single floored query's jitter strictly
    the per-query floor rule's business (a lone 0.21s -> 0.55s drift must
    not trip here when it doesn't trip there), while a genuine cluster
    blows through it. Past the budget the cluster is reported as a
    regression entry (bench.py applies the same rule to pick
    fresh-context retry suspects: subfloor_cluster_drift).
    """
    norm = max(1.0, cal_ratio)
    ratios = sorted(
        cur / max(baseline[q], NOISE_FLOOR_SEC)
        for q, cur in current.items()
        if q in baseline and cur > NOISE_FLOOR_SEC
    )
    if not ratios:
        raise ValueError("no super-noise-floor queries shared with the baseline")
    residual = statistics.median(ratios) / norm
    threshold = MAX_RATIO * norm
    regressions = []
    for q, base_sec in baseline.items():
        cur = current.get(q)
        if cur is None:
            continue  # query rotated out of the headline set
        if cur <= NOISE_FLOOR_SEC:
            continue
        eff_base = max(base_sec, NOISE_FLOOR_SEC)
        if cur > eff_base * threshold:
            regressions.append(f"{q}: {base_sec:.2f}s -> {cur:.2f}s ({cur / eff_base:.2f}x)")
    # ONE implementation of the cluster rule — bench.py's (the same
    # function that picks the fresh-context retry suspects), with the
    # gate's calibration norm applied to its budget.
    from bench import subfloor_cluster_drift

    net_drift, budget, drifted = subfloor_cluster_drift(current, baseline)
    if net_drift > budget * norm:
        members = ", ".join(
            f"{q} {baseline[q]:.2f}s->{current[q]:.2f}s" for q in drifted
        )
        regressions.append(
            f"sub-floor cluster: floor-exempt queries drifted "
            f"+{net_drift:.2f}s net (budget {budget * norm:.2f}s): {members}"
        )
    return residual, threshold, regressions


def test_latest_bench_within_2x_of_frozen_baseline():
    baseline_path = REPO / "BASELINE_BENCH.json"
    assert baseline_path.exists(), "BASELINE_BENCH.json missing — run the refreeze snippet"
    anchor = json.loads(baseline_path.read_text())
    baseline = anchor["queries"]

    latest = _latest_bench()
    if latest is None:
        pytest.skip("no BENCH_r*.json recorded yet")
    name, current, box_cal, jvm_cal = latest

    anchor_cal = anchor.get("box_cal_sec_at_refreeze")
    anchor_jvm = anchor.get("jvm_cal_sec_at_refreeze")
    if jvm_cal and anchor_jvm:
        # The suite wall is mostly JVM (shuffle/codegen/scheduler), and the
        # two signals measurably decouple on this VM family (r13: kernel
        # 18% faster while plan-identical walls ran 12-40% slower) — when
        # both sides recorded the JVM calibration, it IS the drift measure.
        cal_ratio = jvm_cal / anchor_jvm
        basis = f"measured JVM calibration ratio {cal_ratio:.2f}x"
    elif box_cal and anchor_cal:
        cal_ratio = box_cal / anchor_cal
        basis = f"measured calibration ratio {cal_ratio:.2f}x"
    else:
        # Legacy pre-r5 bench format without a recorded calibration: fall
        # back to cohort-median drift inference (the r6-r7 gate).
        ratios = sorted(
            cur / baseline[q]
            for q, cur in current.items()
            if q in baseline and cur > NOISE_FLOOR_SEC
        )
        assert ratios, f"{name} shares no super-noise-floor queries with the baseline"
        cal_ratio = statistics.median(ratios)
        basis = f"cohort-median drift estimate {cal_ratio:.2f}x (no calibration recorded)"

    residual, threshold, regressions = evaluate_bench_gate(baseline, current, cal_ratio)
    assert residual <= BOX_DRIFT_RESIDUAL_MAX, (
        f"{name}: suite median is {residual:.2f}x the frozen baseline AFTER "
        f"normalizing by {basis} — a uniform residual this size is a global "
        "regression, not host drift; investigate before trusting the gate"
    )
    assert not regressions, (
        f"{name} regressed >{threshold:.2f}x (2x gate x {basis}) "
        f"vs frozen baseline: {regressions}"
    )


def test_gate_fails_uniform_regression_at_equal_calibration():
    """The blind spot the calibration-normalized gate exists to close
    (VERDICT r07 item 2): a synthetic uniform 1.5x slowdown with the box
    calibration UNCHANGED must fail the residual backstop — under
    cohort-median normalization it rode free (1.5 < 1.8 and every
    per-query ratio equals the inferred 'drift')."""
    baseline = {f"q{i}": 1.0 + i / 10 for i in range(10)}
    slowed = {q: sec * 1.5 for q, sec in baseline.items()}
    residual, _, regressions = evaluate_bench_gate(baseline, slowed, cal_ratio=1.0)
    assert residual > BOX_DRIFT_RESIDUAL_MAX  # backstop catches it
    assert not regressions  # per-query 2x gate alone would NOT have


def test_gate_tolerates_measured_host_drift():
    """The same uniform 1.5x, but the calibration kernel also measured
    1.5x — host placement, not a regression: gate stays green."""
    baseline = {f"q{i}": 1.0 + i / 10 for i in range(10)}
    slowed = {q: sec * 1.5 for q, sec in baseline.items()}
    residual, _, regressions = evaluate_bench_gate(baseline, slowed, cal_ratio=1.5)
    assert residual <= BOX_DRIFT_RESIDUAL_MAX
    assert not regressions


def test_gate_catches_localized_regression_despite_drift():
    """A single query 4x slower on a box measured 1.2x slower: the
    per-query gate (2x x 1.2) fires on that query alone."""
    baseline = {f"q{i}": 1.0 for i in range(10)}
    current = {q: sec * 1.2 for q, sec in baseline.items()}
    current["q3"] = 4.0
    residual, threshold, regressions = evaluate_bench_gate(baseline, current, cal_ratio=1.2)
    assert residual <= BOX_DRIFT_RESIDUAL_MAX
    assert len(regressions) == 1 and regressions[0].startswith("q3:")


def test_gate_faster_box_never_loosens():
    """cal_ratio < 1 clamps to 1.0 — a faster box must not raise the
    per-query threshold or deflate the residual."""
    baseline = {f"q{i}": 1.0 for i in range(10)}
    current = {q: 2.5 for q in baseline}
    residual, threshold, regressions = evaluate_bench_gate(baseline, current, cal_ratio=0.5)
    assert threshold == MAX_RATIO
    assert residual == 2.5
    assert len(regressions) == 10

# ---- refreeze-rule codification (VERDICT r06 item 4) ----------------------
# The r6 drift saga as a mechanical rule: BASELINE_BENCH.json must carry the
# calibration of the box that produced its newest samples, and the only
# sanctioned refreeze path (tools_refreeze_baseline.py) refuses when the new
# run's calibration deviates >25% from it or when any query's anchor would
# come from a single sample.


def test_baseline_records_refreeze_calibration():
    baseline = json.loads((REPO / "BASELINE_BENCH.json").read_text())
    cal = baseline.get("box_cal_sec_at_refreeze")
    assert isinstance(cal, float) and cal > 0, (
        "BASELINE_BENCH.json must record box_cal_sec_at_refreeze — the box "
        "calibration of the run contributing its newest samples; refreeze "
        "via tools_refreeze_baseline.py"
    )


def _guard_fixture():
    sources = {
        "BENCH_rA.json": {"q1": 1.0, "q2": 2.0},
        "BENCH_rB.json": {"q1": 1.2, "q2": 1.8},
    }
    prior = {
        "queries": {"q1": 1.1, "q2": 2.2},
        "box_cal_sec_at_refreeze": 0.10,
    }
    return sources, prior


def test_refreeze_refuses_calibration_drift():
    from tools_refreeze_baseline import MAX_CAL_DRIFT, RefreezeRefused, build_refreeze

    sources, prior = _guard_fixture()
    with pytest.raises(RefreezeRefused, match="deviates"):
        build_refreeze(sources, prior, 0.10 * (1 + MAX_CAL_DRIFT) * 1.05)
    with pytest.raises(RefreezeRefused, match="deviates"):
        build_refreeze(sources, prior, 0.10 * (1 - MAX_CAL_DRIFT) * 0.95)


def test_refreeze_refuses_uncalibrated_prior_anchor():
    from tools_refreeze_baseline import RefreezeRefused, build_refreeze

    sources, prior = _guard_fixture()
    del prior["box_cal_sec_at_refreeze"]
    with pytest.raises(RefreezeRefused, match="box_cal_sec_at_refreeze"):
        build_refreeze(sources, prior, 0.10)


def test_refreeze_refuses_single_sample_queries():
    from tools_refreeze_baseline import RefreezeRefused, build_refreeze

    sources, prior = _guard_fixture()
    sources["BENCH_rB.json"]["q_new_this_round"] = 5.0  # only source for it
    with pytest.raises(RefreezeRefused, match="single sample"):
        build_refreeze(sources, prior, 0.10)


def test_refreeze_carries_forward_prior_anchor_only_queries():
    """A query that exists only in the prior anchor (every parsable bench
    source lost it — e.g. summary-format rounds) is carried forward
    unchanged rather than refused: keeping an existing anchor value cannot
    be influenced by the round under judgment (ADVICE r07)."""
    from tools_refreeze_baseline import build_refreeze

    sources, prior = _guard_fixture()
    prior["queries"]["q_legacy"] = 7.7
    anchor = build_refreeze(sources, prior, 0.10)
    assert anchor["queries"]["q_legacy"] == 7.7
    assert anchor["carried_forward"] == ["q_legacy"]


def test_refreeze_medianizes_and_records_provenance():
    from tools_refreeze_baseline import build_refreeze

    sources, prior = _guard_fixture()
    anchor = build_refreeze(sources, prior, 0.11)
    assert anchor["queries"] == {"q1": 1.1, "q2": 2.0}  # medians incl. prior
    assert anchor["box_cal_sec_at_refreeze"] == 0.11
    assert "prior_anchor" in anchor["frozen_from"]
    assert anchor["total"] == round(sum(anchor["queries"].values()), 4)


# ---- fresh-session retry protocol (VERDICT r11 item 6) --------------------
# A long bench session can mis-time a single query >2x with a zero-line
# diff (r11: agg_exact_median_twopass read 2.38x in-session, 0.99x fresh).
# bench.py re-times any gate-tripping query on a fresh SparkContext and
# records the median of ALL timed runs; these tests pin the pure logic.


def test_retry_suspects_are_gate_trips_only():
    from bench import gate_trip_suspects

    anchor = {"q_slow": 1.0, "q_ok": 1.0, "q_zero": 0.0}
    timings = {
        "q_slow": 2.5,        # past the 2x gate -> suspect
        "q_ok": 1.9,          # under the gate
        "q_zero": 99.0,       # zero anchor: nothing to trip against
        "q_new": 50.0,        # not in the anchor (new this round)
    }
    assert gate_trip_suspects(timings, anchor) == ["q_slow"]


def test_retry_outvotes_session_transient_of_any_size():
    """A session transient is outvoted by the fresh-context median no
    matter how large: min-of-medians resolution. (The earlier combined-
    runs median failed this for transients above ~3x — a 4x mis-time
    merged with a clean retry landed at 2.5x and still tripped the gate
    on a zero-line diff.)"""
    from bench import gate_trip_suspects, retry_resolved_value

    for transient in (2.4, 4.0, 20.0):
        resolved = retry_resolved_value([transient] * 5, [1.0, 1.1, 1.0, 0.9, 1.0])
        assert resolved <= 1.0, transient
        assert gate_trip_suspects({"q": resolved}, {"q": 1.0}) == []


def test_retry_keeps_real_regression_flagged():
    """Slow in BOTH sessions = a real regression: the minimum of the two
    medians stays past the gate, so the retry protocol cannot launder it."""
    from bench import gate_trip_suspects, retry_resolved_value

    resolved = retry_resolved_value([2.4] * 5, [2.3] * 5)
    assert resolved > 2.0
    assert gate_trip_suspects({"q": resolved}, {"q": 1.0}) == ["q"]


def test_retry_is_recorded_in_detail_json():
    """The retry must be auditable: bench.py writes the suspect list AND
    both session medians to BENCH_DETAIL.json (grep the source so the
    field names cannot silently drift from this pin)."""
    src = (REPO / "bench.py").read_text()
    assert "retried_in_fresh_session" in src
    assert "retry_medians" in src
    assert "retry_resolved_value" in src and "gate_trip_suspects" in src


# ---- tail recovery + recent-window source selection (VERDICT r12 item 1) --
# r05+ driver rounds store per-query detail only in the front-truncated
# stdout tail; the refreeze tool recovers it (rule 4) and pools medians over
# the newest rounds only (rule 5), deduping the round that IS the detail run.


def test_tail_recovery_restricted_to_known_names():
    from tools_refreeze_baseline import recover_round_queries

    tail = (
        '.4765, "orderby_limit": 0.143, "json_struct_parse": 0.489, '
        '"not_a_query": 9.9}, "sf": 0.1, "box_cal_sec": 0.1396}\n'
        '{"metric": "headline_query_wall_seconds", "value": 47.6598, '
        '"unit": "sec", "sf": 0.1, "n_queries": 57, "box_cal_sec": 0.1396}\n'
    )
    known = {"orderby_limit", "json_struct_parse", "dedup_exact"}
    queries, cal = recover_round_queries(tail, known)
    # the front-truncated ".4765" fragment and unknown names are skipped;
    # summary-line fields (value, sf, n_queries) never collide with known
    assert queries == {"orderby_limit": 0.143, "json_struct_parse": 0.489}
    assert cal == 0.1396


def test_tail_recovery_first_occurrence_wins_over_retry_lists():
    """retry_medians values are JSON lists — the name:float regex cannot
    match them, and a detail value earlier in the tail wins regardless."""
    from tools_refreeze_baseline import recover_round_queries

    tail = (
        '{"detail_queries": {"q_a": 1.5}, "sf": 0.1, "box_cal_sec": 0.09, '
        '"retried_in_fresh_session": ["q_a"], '
        '"retry_medians": {"q_a": [2.4, 1.5]}}\n'
    )
    queries, cal = recover_round_queries(tail, {"q_a"})
    assert queries == {"q_a": 1.5}
    assert cal == 0.09


def test_same_run_dedupe_matches_only_identical_runs():
    from tools_refreeze_baseline import is_same_run

    detail = {"q1": 1.0, "q2": 2.0}
    assert is_same_run({"q1": 1.0, "q2": 2.0}, 0.12, detail, 0.12)
    # partial tail recovery of the same run still dedupes
    assert is_same_run({"q2": 2.0}, 0.12, detail, 0.12)
    # different calibration or any differing shared value = different run
    assert not is_same_run({"q1": 1.0, "q2": 2.0}, 0.13, detail, 0.12)
    assert not is_same_run({"q1": 1.0, "q2": 2.01}, 0.12, detail, 0.12)
    # nothing shared / no calibration recorded: never dedupe on a guess
    assert not is_same_run({"q9": 5.0}, 0.12, detail, 0.12)
    assert not is_same_run({"q1": 1.0}, None, detail, 0.12)


def test_gate_floors_sub_noise_anchors():
    """A query ANCHORED below the noise floor must be judged against the
    floor, not its jitter-scale anchor (r13: agg_bitmap_distinct_users
    anchored at 0.21s read 0.54s on a builder-family box — 0.33s of
    scheduling drift, not a 2.6x regression) — while a drift that costs
    real time still trips."""
    from bench import gate_trip_suspects

    baseline = {"q_tiny": 0.21, "q_big": 1.0}
    ok = {"q_tiny": 0.55, "q_big": 1.1}
    residual, _, regressions = evaluate_bench_gate(baseline, ok, cal_ratio=1.0)
    assert not regressions
    assert gate_trip_suspects(ok, baseline) == []
    bad = {"q_tiny": 0.75, "q_big": 1.1}  # 0.75 > 2 * max(0.21, 0.3)
    _, _, regressions = evaluate_bench_gate(baseline, bad, cal_ratio=1.0)
    assert regressions and regressions[0].startswith("q_tiny")
    assert gate_trip_suspects(bad, baseline) == ["q_tiny"]


def test_refreeze_window_selected_before_dedupe():
    """Rule-5 ordering: the recent window is chosen BEFORE the same-run
    dedupe, so the detail run occupies the slot of the round it
    duplicates. The first r13 implementation deduped first and the window
    slid back to an older (slower-implementation) round, inflating the
    refrozen anchor ~1.5s — this pins the fix."""
    from tools_refreeze_baseline import select_sources

    detail = {"q1": 1.0}
    recovered = {
        "BENCH_r01.json": {"q1": 9.0},   # ancient, slow implementation
        "BENCH_r02.json": {"q1": 1.2},
        "BENCH_r03.json": {"q1": 1.1},
        "BENCH_r04.json": {"q1": 1.0},   # same run as the detail file
    }
    cals = {"BENCH_r04.json": 0.12}
    sources, excluded, deduped = select_sources(recovered, cals, detail, 0.12, recent=3)
    # window = r02..r04; r04 deduped INSIDE it; r01 must NOT slide in
    assert excluded == ["BENCH_r01.json"]
    assert deduped == ["BENCH_r04.json"]
    assert set(sources) == {"BENCH_r02.json", "BENCH_r03.json", "BENCH_DETAIL.json"}


def test_refreeze_window_no_dedupe_when_detail_is_fresh():
    """A fresh local detail run (different calibration) dedupes nothing:
    all window rounds vote and the detail run adds one more."""
    from tools_refreeze_baseline import select_sources

    detail = {"q1": 1.0}
    recovered = {
        "BENCH_r03.json": {"q1": 1.1},
        "BENCH_r04.json": {"q1": 1.0},
    }
    cals = {"BENCH_r04.json": 0.14}
    sources, excluded, deduped = select_sources(recovered, cals, detail, 0.12, recent=4)
    assert excluded == [] and deduped == []
    assert set(sources) == {"BENCH_r03.json", "BENCH_r04.json", "BENCH_DETAIL.json"}


# ---- JVM-side calibration fence (VERDICT r13 item 1) -----------------------
# r13 measured the pure-Python kernel and the JVM decoupling on this VM
# family (cal 18% faster, plan-identical walls 12-40% slower). bench.py now
# records jvm_cal_sec (a fixed 10M-row Spark agg+shuffle, warm, median-of-5)
# next to box_cal_sec, and the refreeze fence requires BOTH within drift
# bounds once the anchor carries the JVM signal.


def test_refreeze_jvm_fence_refuses_drift():
    from tools_refreeze_baseline import MAX_CAL_DRIFT, RefreezeRefused, build_refreeze

    sources, prior = _guard_fixture()
    prior["jvm_cal_sec_at_refreeze"] = 0.50
    with pytest.raises(RefreezeRefused, match="jvm_cal_sec .* deviates"):
        build_refreeze(sources, prior, 0.10, new_jvm_cal_sec=0.50 * (1 + MAX_CAL_DRIFT) * 1.05)
    with pytest.raises(RefreezeRefused, match="jvm_cal_sec .* deviates"):
        build_refreeze(sources, prior, 0.10, new_jvm_cal_sec=0.50 * (1 - MAX_CAL_DRIFT) * 0.95)
    # kernel passable + JVM passable = allowed, and the new JVM cal is recorded
    anchor = build_refreeze(sources, prior, 0.10, new_jvm_cal_sec=0.52)
    assert anchor["jvm_cal_sec_at_refreeze"] == 0.52


def test_refreeze_jvm_fence_requires_signal_once_established():
    """A jvm-calibrated anchor refuses a contributing run WITHOUT the
    signal — that run could be exactly the kernel-fast/JVM-slow session
    the dual fence exists for."""
    from tools_refreeze_baseline import RefreezeRefused, build_refreeze

    sources, prior = _guard_fixture()
    prior["jvm_cal_sec_at_refreeze"] = 0.50
    with pytest.raises(RefreezeRefused, match="lacks jvm_cal_sec"):
        build_refreeze(sources, prior, 0.10)


def test_refreeze_establishes_jvm_signal_forward():
    """Backward compatibility: a pre-r14 anchor (no JVM signal) accepts a
    run without one, and the FIRST jvm-calibrated contributing run
    establishes the signal for every refreeze after it."""
    from tools_refreeze_baseline import build_refreeze

    sources, prior = _guard_fixture()
    legacy = build_refreeze(sources, prior, 0.10)
    assert "jvm_cal_sec_at_refreeze" not in legacy
    established = build_refreeze(sources, prior, 0.10, new_jvm_cal_sec=0.48)
    assert established["jvm_cal_sec_at_refreeze"] == 0.48


def test_bench_records_jvm_calibration():
    """bench.py must record jvm_cal_sec in BOTH the detail file and the
    compact summary line (grep the source so the field cannot silently
    drift from this pin; the value itself needs a live SparkSession)."""
    src = (REPO / "bench.py").read_text()
    assert "jvm_calibration_sec" in src
    assert src.count('"jvm_cal_sec"') >= 2  # detail dict + summary line


def test_refreeze_jvm_fence_covers_retry_session():
    """ADVICE r14: a fresh-context retry session contributes recorded
    medians, so its own jvm_cal_sec must pass the SAME drift bound —
    an initial-session pass must not vouch for a retry session the
    fence never measured."""
    from tools_refreeze_baseline import MAX_CAL_DRIFT, RefreezeRefused, build_refreeze

    sources, prior = _guard_fixture()
    prior["jvm_cal_sec_at_refreeze"] = 0.50
    # initial session passable, retry session out of bounds -> refused
    with pytest.raises(RefreezeRefused, match="retry session's jvm_cal_sec"):
        build_refreeze(
            sources, prior, 0.10,
            new_jvm_cal_sec=0.52,
            new_jvm_cal_sec_retry=0.50 * (1 + MAX_CAL_DRIFT) * 1.05,
        )
    # both sessions within bounds -> allowed; the anchor records the
    # INITIAL session's calibration (it timed the suite)
    anchor = build_refreeze(
        sources, prior, 0.10, new_jvm_cal_sec=0.52, new_jvm_cal_sec_retry=0.49
    )
    assert anchor["jvm_cal_sec_at_refreeze"] == 0.52


def test_establishing_refreeze_bounds_retry_against_initial_session():
    """r15 review: on the ESTABLISHING refreeze (prior anchor has no
    jvm_cal_sec_at_refreeze) the retry fence previously sat inside the
    prior_jvm branch, so retry-contributed medians could enter the new
    anchor from a JVM nothing vouched for. Without an anchor JVM the
    bound is internal: the run's two sessions must agree."""
    from tools_refreeze_baseline import MAX_CAL_DRIFT, RefreezeRefused, build_refreeze

    sources, prior = _guard_fixture()
    assert "jvm_cal_sec_at_refreeze" not in prior
    # divergent retry JVM -> refused even though there is no prior signal
    with pytest.raises(RefreezeRefused, match="establishing refreeze"):
        build_refreeze(
            sources, prior, 0.10,
            new_jvm_cal_sec=0.50,
            new_jvm_cal_sec_retry=0.50 * (1 + MAX_CAL_DRIFT) * 1.05,
        )
    # retry present but initial calibration missing -> cannot vouch
    with pytest.raises(RefreezeRefused, match="no jvm_cal_sec"):
        build_refreeze(
            sources, prior, 0.10,
            new_jvm_cal_sec=None, new_jvm_cal_sec_retry=0.50,
        )
    # agreeing sessions establish the signal from the initial session
    anchor = build_refreeze(
        sources, prior, 0.10, new_jvm_cal_sec=0.50, new_jvm_cal_sec_retry=0.52
    )
    assert anchor["jvm_cal_sec_at_refreeze"] == 0.50


def test_bench_calibrates_retry_session_and_recomputes_cluster_drift():
    """ADVICE r14 source pins: (a) the retry session's JVM calibration is
    measured and recorded (jvm_cal_sec_retry), and main() forwards it to
    the fence; (b) the sub-floor cluster drift written under the headline
    key is RECOMPUTED on post-retry timings, with the pre-retry trigger
    value under its own key."""
    src = (REPO / "bench.py").read_text()
    assert '"jvm_cal_sec_retry"' in src
    assert '"subfloor_cluster_drift_trigger_sec"' in src
    assert '"subfloor_cluster_drift_sec"' in src
    refreeze_src = (REPO / "tools_refreeze_baseline.py").read_text()
    assert 'detail.get("jvm_cal_sec_retry")' in refreeze_src


def test_refreeze_window_sorts_rounds_numerically():
    """ADVICE r13: lexicographic filename sort puts BENCH_r100.json before
    BENCH_r99.json — at round 100 the newest rounds would silently fall
    out of the median pool. The window must select by numeric round."""
    from tools_refreeze_baseline import select_sources

    detail = {"q1": 1.0}
    recovered = {
        "BENCH_r98.json": {"q1": 1.3},
        "BENCH_r99.json": {"q1": 1.2},
        "BENCH_r100.json": {"q1": 1.1},
        "BENCH_r101.json": {"q1": 1.0},
    }
    sources, excluded, _ = select_sources(recovered, {}, detail, 0.12, recent=3)
    assert excluded == ["BENCH_r98.json"], (
        "numeric round sort must evict the OLDEST round, not the "
        "lexicographically-smallest"
    )
    assert set(sources) == {
        "BENCH_r99.json", "BENCH_r100.json", "BENCH_r101.json", "BENCH_DETAIL.json",
    }


# ---- final summary line: per-query dict within the tail window (r16) ------
# VERDICT r15 item 6: the driver's per-query comparator (PERF per_query) went
# blind in r14/r15 because the queries dict lived only in the detail line,
# whose FRONT the 2000-char stdout tail truncated mid-JSON. bench.py's final
# line now carries the dict itself (the driver contract always specified it);
# these tests pin that it fits the tail window even at worst-case digit
# widths and that the driver can parse per-query values straight from it.


def test_final_summary_line_carries_queries_and_fits_tail_window():
    from bench import HEADLINE, final_summary_line

    # worst case: every query at 4-digit seconds, calibrations likewise
    worst = dict.fromkeys(HEADLINE, 9999.99)
    line = final_summary_line(worst, 0.1, 99.9999, 99.9999)
    assert len(line) + 1 < 1990, (
        f"final bench line is {len(line)} chars at worst-case widths — the "
        "driver tail capture is 2000 chars and the line must survive whole "
        "(trim keys or precision before adding headline queries)"
    )
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_query_wall_seconds"
    assert parsed["unit"] == "sec"
    assert set(parsed["queries"]) == set(HEADLINE)
    assert parsed["n_queries"] == len(HEADLINE)


def test_final_summary_line_values_match_timings_at_2dp():
    from bench import final_summary_line

    timings = {"q_a": 1.2345, "q_b": 0.0467}
    parsed = json.loads(final_summary_line(timings, 0.1, 0.1, 0.5))
    assert parsed["queries"] == {"q_a": 1.23, "q_b": 0.05}
    assert parsed["value"] == round(1.2345 + 0.0467, 4)  # full-precision total


# ---- sub-floor cluster backstop (ADVICE r13 + VERDICT r13 item 7) ----------


def test_subfloor_cluster_of_regressions_trips_gate():
    """Ten floor-exempt queries all regressing 0.15s -> 0.59s (each
    individually under 2 x floor) must trip the aggregate backstop."""
    baseline = {f"tiny{i}": 0.15 for i in range(10)} | {"big": 5.0}
    current = {f"tiny{i}": 0.59 for i in range(10)} | {"big": 5.1}
    _, _, regressions = evaluate_bench_gate(baseline, current, cal_ratio=1.0)
    assert len(regressions) == 1 and regressions[0].startswith("sub-floor cluster")


def test_subfloor_symmetric_jitter_does_not_trip():
    """Symmetric scheduling jitter (half the floored queries up, half
    down) nets ~0 and stays under the budget — no false alarm."""
    baseline = {f"tiny{i}": 0.15 for i in range(10)} | {"big": 5.0}
    current = {
        f"tiny{i}": 0.15 + (0.2 if i % 2 else -0.1) for i in range(10)
    } | {"big": 5.1}
    _, _, regressions = evaluate_bench_gate(baseline, current, cal_ratio=1.0)
    assert regressions == []


def test_subfloor_single_jitter_spike_does_not_trip():
    """One jittery query (0.15 -> 0.59, the exact ADVICE scenario) among
    stable floored peers is within the cluster budget: the floor still
    does its job for isolated drift."""
    baseline = {f"tiny{i}": 0.15 for i in range(10)}
    current = dict.fromkeys(baseline, 0.16) | {"tiny0": 0.59}
    _, _, regressions = evaluate_bench_gate(baseline, current, cal_ratio=1.0)
    assert regressions == []


def test_subfloor_cluster_feeds_retry_suspects():
    """bench.py applies the same rule at runtime: when the cluster budget
    is exceeded, the positive-drift floored queries join the fresh-context
    retry suspects so an inflated reading cannot feed the next refreeze
    unchallenged (ADVICE r13)."""
    from bench import subfloor_cluster_drift

    anchor = {f"tiny{i}": 0.15 for i in range(10)} | {"big": 5.0}
    timings = {f"tiny{i}": 0.59 for i in range(10)} | {"big": 5.1}
    drift, budget, names = subfloor_cluster_drift(timings, anchor)
    assert drift > budget
    assert names == sorted(f"tiny{i}" for i in range(10))  # big is not floored
    # under the budget: nothing to retry
    calm = {f"tiny{i}": 0.18 for i in range(10)} | {"big": 5.1}
    drift, budget, _ = subfloor_cluster_drift(calm, anchor)
    assert drift <= budget
