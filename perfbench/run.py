"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It generates (or reuses) the seeded inputs
under ``.bench_build/perfbench/inputs``, computes the DuckDB expectations
once per input set, runs the workload in a fresh Spark process
(``worker.py``) for about ``--seconds`` of checked passes, then starts
``SETUP_PROBES`` more set-up-only processes; ``setup_s`` is the median of
all set-up samples. ``setup_s`` and ``pass_s`` are times net of hypervisor
steal (``worker.net_of_steal``) at the reference host speed: scaled by
``REF_SPEED_S`` over the median time of ``spark-submit --version``, taken
``REFERENCE_RUNS`` times after the worker (``reference_s``). The session
line gives the wall times, the reference samples and the resulting
``host_speed`` beside them. The last
line of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0`` and
the per-layer metrics with ``--trace 1``. A traced run also writes the full
per-layer table and its spans to ``.bench_build/perfbench/traces``.

``BENCHMARK.json`` lists the workloads the benchmark check runs;
``perfbench/LAYERS.md`` says what each one is for.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE = os.path.join(ROOT, "glue_etl_framework_spark")

SETUP_PROBES = 1        # extra set-up-only processes per run
KEEP_INPUT_SETS = 4     # cached input sets kept per family
DRIVER_MEMORY = "3g"    # fits local[4] on a 15 GiB box with room to spare
WORKER_TIMEOUT_S = 140
PR_SET_CHILD_SUBREAPER = 36
PROBE_TIMEOUT_S = 40
REFERENCE_RUNS = 3
# Median of reference_s() on a 4-vCPU Xeon VM whose host was lightly loaded.
REF_SPEED_S = 0.9

FAMILY = {"etl_star_agg": "etl", "etl_upsert": "etl", "llm_curation": "llm"}

# Per-layer metrics printed with --trace 1 (the full table is in the trace
# file). Each layer reports the base set; some add their own counters.
_BASE = ["calls", "wall_s", "self_s", "jobs", "tasks", "executor_run_s"]
_EXEC = ["shuffle_write_mb", "spill_mb", "gc_s"]
PER_LAYER = (
    [f"session.get_spark.{m}" for m in ("calls", "wall_s", "self_s")]
    + [f"{layer}.{m}" for layer in (
        "pipeline.run_pipeline", "pipeline.config", "pipeline.sql_analyze",
        "io.readers.register_views", "io.writers.upsert_by_key", "io.writers.staged_write",
        "ext.text.quality_features", "ext.dedup.minhash_banded_candidate_pairs",
        "ext.multimodal.extract_image_features") for m in _BASE]
    + [f"{layer}.{m}" for layer in (
        "io.writers.write_table", "ext.dedup.dedup_keep_representative",
        "ext.similarity.lsh_neardup_pairs", "ckpt") for m in _BASE + _EXEC]
    + ["io.readers.register_views.input_mb", "io.readers.register_views.input_rows",
       "io.writers.write_table.plan_s", "io.writers.write_table.commit_s",
       "io.writers.write_table.files_committed", "io.writers.write_table.bytes_committed",
       "ext.dedup.dedup_keep_representative.cc_rounds",
       "ext.dedup.dedup_keep_representative.candidate_pairs",
       "ext.dedup.dedup_keep_representative.planted_recall",
       "ckpt.checkpoint_jobs", "ckpt.checkpoint_s",
       "ext.similarity.lsh_neardup_pairs.candidates",
       "ext.similarity.lsh_neardup_pairs.verified",
       "ext.similarity.lsh_neardup_pairs.verified_ratio",
       "ext.multimodal.extract_image_features.arrow_to_python_mb",
       "ext.multimodal.extract_image_features.arrow_from_python_mb",
       "exec.slot_util", "trace.overhead_s"]
)


def _unit(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("bytes_committed", "bytes"),
                         ("_ratio", "ratio"), ("recall", "ratio"), ("slot_util", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def _tagged(tag: bytes) -> list[int]:
    """Processes whose environment holds ``tag``: a worker and everything
    it started. pyspark.daemon moves itself into a new process group, so
    neither the process group nor the parent chain finds them all."""
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/environ", "rb") as f:
                    if tag in f.read().split(b"\0"):
                        pids.append(int(name))
            except OSError:
                continue
    return pids


def _become_subreaper() -> None:
    """Have descendants whose parent ends (the JVM and pyspark daemons
    outlive worker.py for a moment) re-parented to this process instead of
    init, so ``_reap_orphans`` can wait for them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _reap_orphans(timeout: float) -> None:
    """Wait until every child of this process has ended and been reaped,
    killing any left after ``timeout``. This also catches a process that
    was already exiting, and so no longer showed its environment to
    ``_tagged``."""
    end = time.time() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.time() > end:
            import worker

            for child in worker._children().get(os.getpid(), []):
                try:
                    os.kill(child, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def run_child(args: list[str], env: dict, timeout: float) -> dict:
    """Run worker.py, then make sure every process it started (the JVM,
    pyspark daemons and their workers) has ended."""
    tag = f"PERFBENCH_RUN={uuid.uuid4().hex}"
    env = dict(env, PERFBENCH_RUN=tag.split("=", 1)[1])
    proc = subprocess.Popen([sys.executable, os.path.join(HERE, "worker.py"), *args],
                            env=env, stdout=subprocess.PIPE, text=True)
    try:
        stdout, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        stdout, _ = proc.communicate()
    finally:
        for sig in (signal.SIGTERM, signal.SIGKILL):
            pids = _tagged(tag.encode())
            if not pids:
                break
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            end = time.time() + 10.0
            while time.time() < end and _tagged(tag.encode()):
                time.sleep(0.05)
        _reap_orphans(10.0)
    if proc.returncode != 0:
        raise RuntimeError(f"worker {' '.join(args[:2])} exited with {proc.returncode}")
    return json.loads(stdout.strip().splitlines()[-1])


def reference_s(env: dict) -> list[float]:
    """Times, net of steal, of ``spark-submit --version``: a JVM start and
    class loading much like the first part of a Spark set-up, which runs
    none of the engine's code. The host's clock rate and the caches and
    cores it shares with other guests move these times and the pass times
    alike, and no counter in the guest shows it: steal covers only the
    time taken outright."""
    from pyspark.find_spark_home import _find_spark_home

    import worker

    cmd = [os.path.join(_find_spark_home(), "bin", "spark-submit"), "--version"]
    times = []
    for _ in range(REFERENCE_RUNS):
        ticks = worker.cpu_ticks()
        t = time.perf_counter()
        subprocess.run(cmd, env=env, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       check=True, timeout=PROBE_TIMEOUT_S)
        times.append(worker.net_of_steal(time.perf_counter() - t, ticks, worker.cpu_ticks()))
    _reap_orphans(10.0)
    return times


def _evict(cache: str, family: str, keep: str) -> None:
    sets = [os.path.join(cache, d) for d in os.listdir(cache)
            if d.startswith(family + "-") and os.path.join(cache, d) != keep]
    sets.sort(key=os.path.getmtime)
    for d in sets[: max(0, len(sets) - (KEEP_INPUT_SETS - 1))]:
        shutil.rmtree(d, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(FAMILY))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    _become_subreaper()
    if not os.path.isfile(os.path.join(ENGINE, "__init__.py")):
        print(f"engine package not found at {ENGINE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import gen
    import oracle

    family = FAMILY[a.workload]
    cache = os.path.join(BUILD, "inputs")
    os.makedirs(cache, exist_ok=True)
    inputs, manifest = gen.ensure(family, a.seed, "full", cache)
    os.utime(inputs)
    _evict(cache, family, inputs)
    if family == "etl":
        oracle.prepare_etl(inputs, manifest)

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = dict(os.environ)
    env.update(PYTHONHASHSEED="0", PYTHONPATH=os.pathsep.join([ROOT, HERE]),
               PYSPARK_PYTHON=sys.executable, PYSPARK_DRIVER_PYTHON=sys.executable,
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               SPARK_GRAFT_DRIVER_MEMORY=DRIVER_MEMORY)
    t_worker = time.time()
    try:
        args = ["--workload", a.workload, "--inputs", inputs, "--work", work,
                "--seconds", str(a.seconds)] + (["--trace"] if a.trace else [])
        res = run_child(args, env, WORKER_TIMEOUT_S)
        setups = [res]
        t_probe = time.time()
        refs = reference_s(env)
        if not a.trace:
            for i in range(SETUP_PROBES):
                probe_work = os.path.join(work, f"probe{i}")
                setups.append(run_child(["--workload", a.workload, "--work", probe_work,
                                         "--setup-only"], env, PROBE_TIMEOUT_S))
    finally:
        trace_file = os.path.join(work, "trace.json")
        if os.path.exists(trace_file):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(trace_file, os.path.join(
                BUILD, "traces", f"{a.workload}-s{a.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)

    passes = res["passes"]
    print(f"phases: inputs {t_worker - T_START:.1f}s, worker {t_probe - t_worker:.1f}s "
          f"{json.dumps({k: round(v, 1) for k, v in res['phases'].items()})}, "
          f"probes {time.time() - t_probe:.1f}s", file=sys.stderr)
    timed = [p for p in passes if p["ok"] and p["timed"]]
    speed = REF_SPEED_S / statistics.median(refs)
    for p in passes:
        if not p["ok"]:
            print(f"failed pass: {p['error']}", file=sys.stderr)
    failed = sum(not p["ok"] for p in passes)
    checked = [p["res"] for p in passes if p["ok"]]
    counts = {k: v for k, v in (checked[-1] if checked else {}).items() if k != "kept_hash"}
    info = dict(res["session"], workload=a.workload, seed=a.seed, counts=counts,
                input_rows=manifest["rows"], input_bytes=manifest["input_bytes"],
                pass_net_s=[round(p["net"], 3) for p in timed],
                pass_walls=[round(p["wall"], 3) for p in timed],
                setup_net_s=[round(s["setup_s"], 3) for s in setups],
                setup_walls=[round(s["setup_wall_s"], 3) for s in setups],
                reference_s=[round(r, 4) for r in refs], host_speed=round(speed, 4))
    print("session: " + json.dumps(info))
    if a.trace:
        table = res.get("trace") or {}
        metrics = {}
        for name in PER_LAYER:
            layer, _, m = name.rpartition(".")
            metrics[name] = {"value": float(table.get(layer, {}).get(m, 0.0)), "unit": _unit(m)}
    else:
        if not timed:
            raise RuntimeError("no timed pass succeeded")
        metrics = {
            "setup_s": {"value": speed * statistics.median(s["setup_s"] for s in setups),
                        "unit": "s"},
            "pass_s": {"value": speed * statistics.median(p["net"] for p in timed), "unit": "s"},
            "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
            "out_bytes": {"value": statistics.median(res["out_bytes"]), "unit": "bytes"},
        }
    print(json.dumps({"correct": failed == 0 and bool(timed), "attempted": len(passes),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
