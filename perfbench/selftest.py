"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py

Runs every workload twice, traced, in one Spark process and asserts that
every check passes and that the exact counts repeat exactly between the
two passes: output rows, files committed, connected-components rounds,
checkpoint jobs and jobs per layer. Exits non-zero on any difference.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]
os.environ.setdefault("PYTHONPATH", os.pathsep.join([ROOT, HERE]))
os.environ.setdefault("PYTHONHASHSEED", "0")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEMORY", "2g")

import gen  # noqa: E402
import oracle  # noqa: E402
import tracing  # noqa: E402
import worker  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SEED = 0
SLOTS = 2


def exact_counts(per_pass: dict, res: dict) -> dict:
    counts = {f"{layer}.jobs": row["jobs"] for layer, row in per_pass.items() if row["jobs"]}
    counts["rows"] = res["rows"]
    counts["files_committed"] = per_pass[tracing.WRITE_LAYER]["files_committed"]
    counts["checkpoint_jobs"] = per_pass[tracing.CKPT_LAYER]["checkpoint_jobs"]
    if "cc_rounds" in res:
        counts["cc_rounds"] = res["cc_rounds"]
        counts["kept_hash"] = res["kept_hash"]
    return counts


def main() -> int:
    base = os.path.join(ROOT, ".bench_build", "perfbench", "selftest")
    work = os.path.join(base, "work")
    shutil.rmtree(work, ignore_errors=True)
    inputs = {f: gen.ensure(f, SEED, "tiny", os.path.join(base, "inputs")) for f in ("etl", "llm")}
    oracle.prepare_etl(*inputs["etl"])
    spark, _setup, _ = worker.start_session(work, SLOTS, trace=True)
    tracer = tracing.Tracer(spark)
    results: dict[str, list] = {}
    try:
        for k, (name, cls) in enumerate(WORKLOADS.items()):
            wl = cls(*inputs[cls.family], os.path.join(work, name))
            state: dict = {}
            results[name] = []
            for rep in range(2):
                tracer.pass_idx = 2 * k + rep
                tracer.install()
                try:
                    p = worker.run_pass(spark, wl, state)
                finally:
                    tracer.uninstall()
                if not p["ok"]:
                    print(p["error"], file=sys.stderr)
                    return 1
                results[name].append((tracer.pass_idx, p["res"]))
    finally:
        spark.stop()
    log = tracing.read_event_log(os.path.join(work, "eventlog"))
    per_pass, _ = tracing.pass_rows(tracer, log, [i for r in results.values() for i, _ in r])
    bad = 0
    for name, runs in results.items():
        a, b = (exact_counts(per_pass[i], res) for i, res in runs)
        status = "ok" if a == b else "MISMATCH"
        bad += a != b
        print(f"{name}: {status} {json.dumps(a, sort_keys=True)}")
        if a != b:
            print(f"  second pass: {json.dumps(b, sort_keys=True)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
