#!/usr/bin/env python
"""Interleaved cross-tree A/B, and the one rule that decides whether a
change made a query slower.

It alternates fresh-session bursts of the named queries on the BEFORE tree
(a copy of the parent commit, e.g. a `git archive` export) and on this
tree. A burst is one subprocess per tree: the tree under test goes first
on sys.path and the queries are timed by THIS tree's
``bench.median_times``/``time_query``, so the parent and the change are
timed by the same code. The tree that goes first alternates from burst to
burst, so slow host drift and first-mover effects fall evenly on both
sides. The query order rotates from burst to burst too (``burst_order``),
so no query always runs after the same neighbour. Repeated interleaved
bursts are the noise model (Blink Twice, SIGMOD 2025), so no host-speed
calibration is needed.

The rule (``slower``): a query is flagged when the change's first quartile
of burst medians is above the parent's third quartile. The per-burst total
over the named queries is judged the same way (``verdicts``), so a cluster
of small slowdowns, each inside its own spread, is flagged as a total.
The exit status is 1 when anything is flagged.

Usage:
    python tools_opt_abx.py q1,q2 --before DIR [--bursts 10] [--runs 3]

SPARK_GRAFT_CPUS (the local[N] core count) defaults to the cores this
process may run on; SPARK_GRAFT_SF_DIR picks the fixtures (see bench.py).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
TOTAL = "TOTAL"

# One burst's child process: the package comes from the tree under test,
# the timing code from this tree's bench.py (loaded by path, because the
# tree under test has a bench.py of its own).
_BURST = """
import importlib.util, json, sys
tree, bench_py, names, runs = sys.argv[1:]
sys.path.insert(0, tree)
spec = importlib.util.spec_from_file_location("bench", bench_py)
bench = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bench)
print("BURST " + json.dumps(bench.median_times(names.split(","), int(runs))))
"""


def burst(tree: Path, names: list[str], runs: int) -> dict[str, float]:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    out = subprocess.run(
        [sys.executable, "-c", _BURST, str(tree), str(HERE / "bench.py"),
         ",".join(names), str(runs)],
        cwd=tree, capture_output=True, text=True,
        env={**os.environ, "SPARK_GRAFT_CPUS": cpus},
    )
    for line in out.stdout.splitlines():
        if line.startswith("BURST "):
            return json.loads(line[len("BURST "):])
    raise RuntimeError(f"burst failed in {tree}:\n{out.stdout[-2000:]}\n{out.stderr[-3000:]}")


def burst_order(names: list[str], i: int) -> list[str]:
    """The query order of burst ``i``: ``names`` rotated left by ``i``, so
    over ``len(names)`` bursts every query goes first equally often and a
    heavy query's warm-up carry-over falls on each neighbour in turn. Both
    trees of one burst run the same order."""
    k = i % len(names)
    return names[k:] + names[:k]


def quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def slower(before: list[float], after: list[float]) -> bool:
    """True when the change's first quartile of burst medians is above
    the parent's third quartile: the two middle halves do not overlap."""
    return quartiles(after)[0] > quartiles(before)[1]


def with_total(meds: dict[str, dict[str, list[float]]]) -> dict[str, dict[str, list[float]]]:
    """``meds`` (each name's "before" and "after" burst medians, in burst
    order) plus TOTAL: per burst, the sum over every query."""
    sides = ("before", "after")
    return {**meds, TOTAL: {s: [sum(b) for b in zip(*(m[s] for m in meds.values()))] for s in sides}}


def verdicts(meds: dict[str, dict[str, list[float]]]) -> dict[str, bool]:
    """``slower`` for each query and for TOTAL."""
    return {n: slower(m["before"], m["after"]) for n, m in with_total(meds).items()}


def summarize(before: list[float], after: list[float]) -> dict:
    b_med, a_med = statistics.median(before), statistics.median(after)
    b_q1, b_q3 = quartiles(before)
    a_q1, a_q3 = quartiles(after)
    return {
        "before_median": b_med, "before_q1": b_q1, "before_q3": b_q3,
        "after_median": a_med, "after_q1": a_q1, "after_q3": a_q3,
        "ratio": round(a_med / b_med, 3) if b_med else None,
        "after_wins": sum(a < b for b, a in zip(before, after)),
        "pairs": len(before),
        "before_meds": before, "after_meds": after,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names")
    ap.add_argument("--before", required=True, help="parent-tree copy to compare against")
    ap.add_argument("--bursts", type=int, default=10)
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()
    trees = {"before": Path(args.before), "after": HERE}
    names = [n.strip() for n in args.names.split(",") if n.strip()]
    meds = {n: {"before": [], "after": []} for n in names}
    for i in range(args.bursts):
        order = ["before", "after"] if i % 2 == 0 else ["after", "before"]
        for side in order:
            got = burst(trees[side], burst_order(names, i), args.runs)
            for n in names:
                meds[n][side].append(got[n])
        print(f"burst {i} ({order[0]} first): "
              + ", ".join(f"{n} before={meds[n]['before'][-1]} after={meds[n]['after'][-1]}"
                          for n in names), flush=True)
    flags = verdicts(meds)
    summary = {n: summarize(m["before"], m["after"]) | {"slower": flags[n]}
               for n, m in with_total(meds).items()}
    for n, s in summary.items():
        print(f"== {n}: {'SLOWER' if s['slower'] else 'ok'}  "
              f"before median={s['before_median']:.3f} "
              f"[q1 {s['before_q1']:.3f}, q3 {s['before_q3']:.3f}] "
              f"after median={s['after_median']:.3f} "
              f"[q1 {s['after_q1']:.3f}, q3 {s['after_q3']:.3f}] "
              f"ratio={s['ratio']} after faster in {s['after_wins']}/{s['pairs']} pairs",
              flush=True)
    print(json.dumps(summary))
    sys.exit(1 if any(flags.values()) else 0)


if __name__ == "__main__":
    main()
