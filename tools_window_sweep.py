#!/usr/bin/env python
"""Strict-oracle sweep of registry entries, at one or more shuffle-partition
settings: either a driver-window slice or a list of names.

The driver checks 50 entries per round (CORRECTNESS_r{N}.json) in
`__spark_entry__.queries()` order on a vanilla session whose shuffle
partitioning we don't control; sweeping at both 8 and 200 partitions
brackets that uncertainty. Slices index that same order, so [0:50] is the
next driver window. Results go to stdout AND probes/window_sweep_<tag>.txt
so the evidence survives the round (the r6 session lost its /tmp sweep
logs). Exit status 1 on any failure.

Each line carries the Spark result's row count and a sha256 (first 16 hex
digits) of its sorted, normalized rows, with the wall time last, so two
sweeps (say, of a change and of its parent) compare row-for-row with
    diff <(sed 's/ [0-9.]*s$//' a.txt) <(sed 's/ [0-9.]*s$//' b.txt)

Usage:
    python tools_window_sweep.py [start end] [--tag r6] [--shuffle 8,200]
    python tools_window_sweep.py name1,name2 [--tag r6] [--shuffle 8,200]
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_ORACLE = "/root/testdata/sf0.01"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("window", nargs="*", default=["0", "50"],
                    help="START END of a driver-window slice, or a comma list of names")
    ap.add_argument("--tag", default="window")
    ap.add_argument("--shuffle", default="8,200")
    args = ap.parse_args()

    from __spark_entry__ import driver_order
    from tests.oracle_harness import compare_query, duckdb_connection

    registry = driver_order()
    if len(args.window) == 2:
        start, end = map(int, args.window)
        names = list(registry)[start:end]
        label = f"window sweep [{start}:{end}]"
    else:
        names = [n for n in args.window[0].split(",") if n]
        label = f"names {names}"
    shuffles = [int(s) for s in args.shuffle.split(",")]

    out_dir = Path(__file__).with_name("probes")
    out_dir.mkdir(exist_ok=True)
    out_path = out_dir / f"window_sweep_{args.tag}.txt"
    lines = [f"# {label} shuffle={shuffles} sf_dir={SF_ORACLE} strict-harness"]

    n_checks = 0
    n_fail = 0
    con = duckdb_connection(SF_ORACLE)
    try:
        for shuffle in shuffles:
            from pyspark.sql import SparkSession

            # Vanilla session per shuffle setting, mirroring the driver: no
            # repo-side config layer, just master + the shuffle knob.
            spark = (
                SparkSession.builder.master("local[8]")
                .appName(f"sweep-{shuffle}")
                .config("spark.sql.shuffle.partitions", str(shuffle))
                .config("spark.sql.session.timeZone", "UTC")
                .getOrCreate()
            )
            try:
                for name in names:
                    t0 = time.perf_counter()
                    res = compare_query(registry[name], spark, con, SF_ORACLE)
                    dt = time.perf_counter() - t0
                    n_checks += 1
                    status = "OK" if res.ok else "FAIL"
                    if not res.ok:
                        n_fail += 1
                    line = (
                        f"shuffle={shuffle:<4} {status:<4} rows={res.spark_rows:<7} "
                        f"sha256={res.spark_hash} {name} {dt:.2f}s"
                    )
                    if not res.ok:
                        line += f"  :: {res.mismatches}"
                    print(line, flush=True)
                    lines.append(line)
            finally:
                spark.stop()
    finally:
        con.close()

    summary = f"# total {n_checks} checks, {n_fail} fails"
    print(summary)
    lines.append(summary)
    out_path.write_text("\n".join(lines) + "\n")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
