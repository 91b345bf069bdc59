#!/usr/bin/env python
"""Interleaved cross-tree A/B: alternate fresh-session bursts of the same
queries on the BEFORE tree (a git-archive export of the parent commit) and
the AFTER tree (this repo). Each burst runs tools_opt_ab.py in both trees,
and the tree that goes first alternates from burst to burst, so slow box
drift and first-mover effects fall evenly on both sides.

Per query it reports, over the bursts' median times: each side's median
and quartiles, the after/before ratio of the medians, and how many burst
pairs each side won (ties count for neither). A change is slower beyond
noise when its median exceeds the parent's by more than the parent's
interquartile range.

Usage:
    python tools_opt_abx.py q1,q2 --before DIR [--bursts 10] [--runs 3] [--grouped]

SPARK_GRAFT_CPUS (the local[N] core count) defaults to the cores this
process may run on.
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


def burst(tree: Path, names: str, runs: int) -> dict[str, float]:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    out = subprocess.run(
        [sys.executable, str(tree / "tools_opt_ab.py"), names,
         "--tag", "abx", "--runs", str(runs), "--no-plan"],
        cwd=tree, capture_output=True, text=True,
        env={**os.environ, "SPARK_GRAFT_CPUS": cpus},
    )
    for line in out.stdout.splitlines():
        if line.startswith('{"tag"'):
            return json.loads(line)["medians"]
    raise RuntimeError(f"burst failed for {names} in {tree}:\n{out.stdout[-2000:]}\n{out.stderr[-3000:]}")


def quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(before: list[float], after: list[float]) -> dict:
    b_med, a_med = statistics.median(before), statistics.median(after)
    b_q1, b_q3 = quartiles(before)
    a_q1, a_q3 = quartiles(after)
    return {
        "before_median": b_med, "before_q1": b_q1, "before_q3": b_q3,
        "after_median": a_med, "after_q1": a_q1, "after_q3": a_q3,
        "ratio": round(a_med / b_med, 3) if b_med else None,
        "after_wins": sum(a < b for b, a in zip(before, after)),
        "before_wins": sum(b < a for b, a in zip(before, after)),
        "pairs": len(before),
        "before_meds": before, "after_meds": after,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names")
    ap.add_argument("--before", required=True, help="parent-tree copy to compare against")
    ap.add_argument("--bursts", type=int, default=10)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--grouped", action="store_true",
                    help="time the WHOLE name list inside each burst session "
                         "(one session per burst per tree, like bench.py's "
                         "multi-query sessions) instead of one session per "
                         "(query, burst) — far fewer JVM startups")
    args = ap.parse_args()
    trees = {"before": Path(args.before), "after": HERE}
    names = [n.strip() for n in args.names.split(",") if n.strip()]
    groups = [",".join(names)] if args.grouped else names
    meds = {n: {"before": [], "after": []} for n in names}
    for i in range(args.bursts):
        order = ["before", "after"] if i % 2 == 0 else ["after", "before"]
        for group in groups:
            for side in order:
                got = burst(trees[side], group, args.runs)
                for n in group.split(","):
                    meds[n][side].append(got[n])
        print(f"burst {i} ({order[0]} first): "
              + ", ".join(f"{n} before={meds[n]['before'][-1]} after={meds[n]['after'][-1]}"
                          for n in names), flush=True)
    summary = {n: summarize(m["before"], m["after"]) for n, m in meds.items()}
    for n, s in summary.items():
        print(f"== {n}: before median={s['before_median']:.3f} "
              f"[q1 {s['before_q1']:.3f}, q3 {s['before_q3']:.3f}] "
              f"after median={s['after_median']:.3f} "
              f"[q1 {s['after_q1']:.3f}, q3 {s['after_q3']:.3f}] "
              f"ratio={s['ratio']} after faster in {s['after_wins']}/{s['pairs']} pairs",
              flush=True)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
