"""One measured Spark process: set up a session, run one workload's passes
in a closed loop (one job at a time from one driver thread), check every
pass, and print one JSON line of raw results for ``run.py``.

    python3 perfbench/worker.py --workload NAME --inputs DIR --work DIR \
        --seconds S [--trace] [--setup-only]

Set-up time runs from this module's first line, through the engine import
and ``get_spark``, to the end of the first trivial action.

Set-up and pass times are reported both as wall time and net of steal:
the wall time less the share of it that the hypervisor gave the machine's
CPUs to other guests (see ``net_of_steal``).
"""

import time

T0 = time.perf_counter()


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) clock ticks of the whole machine from /proc/stat. Busy
    is user + nice + system + irq + softirq + steal: all the CPU time the
    machine asked for, whether the hypervisor granted it or not."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    user, nice, system, _idle, _iowait, irq, softirq, steal = (v + [0] * 8)[:8]
    return user + nice + system + irq + softirq + steal, steal


TICKS0 = cpu_ticks()


def net_of_steal(wall: float, t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """``wall`` scaled by the share of the machine's CPU demand over the
    interval that the hypervisor granted. On a shared host other guests
    take a share that varies from minute to minute, and passes stretch
    with it; the scaled time is what the pass took of the CPU it got, and
    equals ``wall`` where nothing is stolen."""
    busy, steal = t1[0] - t0[0], t1[1] - t0[1]
    return wall * (1.0 - steal / busy) if busy > 0 else wall

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

WARMUP_PASSES = 1    # untimed, checked pass: JVM class loading, codegen, Python workers
MIN_PASSES = 3       # timed passes per untraced run, even past the deadline
MIN_TRACED = 2       # traced and untraced passes each, in a traced run
SHUFFLE_PER_SLOT = 4  # shuffle and scan partitions per task slot
SLOTS = min(4, os.cpu_count() or 1)


def session_conf(work: str, slots: int, trace: bool) -> dict:
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEMORY", "3g")
    conf = {
        "spark.ui.enabled": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # A fixed-size heap, so resident memory does not depend on when the
        # collector chose to grow it.
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={work} -Xms{mem}",
        "spark.sql.shuffle.partitions": str(SHUFFLE_PER_SLOT * slots),
        # Split scans into several tasks per slot even where files are small.
        "spark.sql.files.minPartitionNum": str(SHUFFLE_PER_SLOT * slots),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        })
    return conf


def start_session(work: str, slots: int, trace: bool):
    from glue_etl_framework_spark import session

    t_get = time.time()
    spark = session.get_spark(app_name="perfbench", master=f"local[{slots}]",
                              extra_conf=session_conf(work, slots, trace))
    t_got = time.time()
    spark.range(1).count()
    wall = time.perf_counter() - T0
    return spark, {"setup_s": net_of_steal(wall, TICKS0, cpu_ticks()), "setup_wall_s": wall}, \
        (t_get, t_got)


def session_info(spark, slots: int) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "cores": os.cpu_count(),
        "slots": slots,
        "driver_memory": spark.conf.get("spark.driver.memory", "1g"),
        "pyspark": pyspark.__version__,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_peak_rss_mb(pid: int) -> float:
    """Sum of VmHWM over ``pid`` and all its descendants: the Python
    driver, the JVM and the pyspark.daemon workers."""
    kids, todo, total_kb = _children(), [pid], 0
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, []))
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def between_passes(spark, wl) -> None:
    """Outside the timer: restore or delete outputs, drop cached data, and
    collect garbage on both sides so the ContextCleaner releases checkpoint
    and shuffle blocks of earlier passes."""
    wl.reset()
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run_pass(spark, wl, state: dict) -> dict:
    between_passes(spark, wl)
    ticks = cpu_ticks()
    t = time.perf_counter()
    try:
        info = wl.run(spark)
        wall = time.perf_counter() - t
        net = net_of_steal(wall, ticks, cpu_ticks())
        t_end = time.time()
        res = wl.check(info)
        res.update(info)
        ref = state.setdefault("repeat", {k: res[k] for k in ("rows", "kept_hash") if k in res})
        for k, v in ref.items():
            if res[k] != v:
                raise AssertionError(f"{k} changed between passes: {res[k]} != {v}")
        return {"ok": True, "wall": wall, "net": net, "end": t_end, "res": res}
    except Exception:  # noqa: BLE001 - a failed pass is counted, not fatal
        return {"ok": False, "wall": time.perf_counter() - t, "end": time.time(),
                "error": traceback.format_exc(limit=3)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs")
    ap.add_argument("--work", required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--setup-only", action="store_true")
    a = ap.parse_args()
    os.makedirs(a.work, exist_ok=True)

    spark, setup, (t_get, t_got) = start_session(a.work, SLOTS, a.trace)
    out = dict(setup, session=session_info(spark, SLOTS))
    if a.setup_only:
        spark.stop()
        print(json.dumps(out))
        return 0

    import tracing as tr
    from workloads import WORKLOADS, dir_bytes

    with open(os.path.join(a.inputs, "manifest.json")) as f:
        manifest = json.load(f)
    wl = WORKLOADS[a.workload](a.inputs, manifest, a.work)
    tracer = tr.Tracer(spark) if a.trace else None
    state: dict = {}
    phases = {"setup": time.perf_counter() - T0}
    passes = [dict(run_pass(spark, wl, state), timed=False) for _ in range(WARMUP_PASSES)]
    phases["warmup"] = time.perf_counter() - T0
    out_bytes = []
    deadline = time.perf_counter() + a.seconds
    i = 0
    while True:
        traced = tracer is not None and i % 2 == 1
        if traced:
            tracer.pass_idx = i
            tracer.install()
        try:
            p = run_pass(spark, wl, state)
        finally:
            if traced:
                tracer.uninstall()
        p.update(idx=i, traced=traced, timed=True)
        passes.append(p)
        if p["ok"]:
            out_bytes.append(sum(dir_bytes(d) for d in wl.outputs()))
        i += 1
        # A traced run ends on an untraced pass, so every traced pass has an
        # untraced neighbour on both sides.
        need = 2 * MIN_TRACED + 1 if tracer else MIN_PASSES
        if i >= need and time.perf_counter() >= deadline and not (tracer and i % 2 == 0):
            break
    phases["timed"] = time.perf_counter() - T0
    out["peak_rss_mb"] = tree_peak_rss_mb(os.getpid())
    out["passes"] = passes
    out["out_bytes"] = out_bytes
    if tracer is not None:
        extra = wl.candidate_counts(spark) if hasattr(wl, "candidate_counts") else {}
        spark.stop()
        out["trace"] = trace_report(tracer, passes, extra, a, t_get, t_got)
    else:
        spark.stop()
    phases["stopped"] = time.perf_counter() - T0
    out["phases"] = phases
    print(json.dumps(out))
    return 0


def trace_report(tracer, passes, extra, a, t_get, t_got) -> dict:
    import tracing as tr

    log = tr.read_event_log(os.path.join(a.work, "eventlog"))
    ok = [p for p in passes if p["ok"] and p["timed"]]
    traced = [p for p in ok if p["traced"]]
    if not traced:
        return {}
    walls = {p["idx"]: p["wall"] for p in traced}
    table = tr.layer_table(tracer, log, list(walls), SLOTS, walls)
    table["session.get_spark"] = {"calls": 1, "wall_s": t_got - t_get, "self_s": t_got - t_get}
    # Each traced pass against the mean of its untraced neighbours, which
    # cancels the drift of a still-warming JVM.
    by_idx = {p["idx"]: p["net"] for p in ok}
    deltas = [by_idx[i] - (by_idx[i - 1] + by_idx[i + 1]) / 2
              for i in walls if i - 1 in by_idx and i + 1 in by_idx]
    table["trace"] = {"overhead_s": statistics.median(deltas) if deltas else 0.0}
    res = traced[-1]["res"]
    dd = table["ext.dedup.dedup_keep_representative"]
    lsh = table["ext.similarity.lsh_neardup_pairs"]
    if "cc_rounds" in res:
        dd.update(cc_rounds=res["cc_rounds"], planted_recall=res["planted_recall"],
                  candidate_pairs=extra.get("candidate_pairs", 0))
        lsh.update(candidates=extra.get("lsh_candidates", 0), verified=res["vec_pairs"],
                   verified_ratio=res["vec_pairs"] / max(extra.get("lsh_candidates", 0), 1))
    spans = [{"name": s.name, "start": s.start, "end": s.end, "pass": s.pass_idx,
              "parent": tracer.spans.index(s.parent) if s.parent is not None else None}
             for s in tracer.spans]
    with open(os.path.join(a.work, "trace.json"), "w") as f:
        json.dump({"layers": table, "spans": spans}, f, indent=1)
    return table


if __name__ == "__main__":
    sys.exit(main())
