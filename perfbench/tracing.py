"""Per-layer tracing for the benchmark's traced runs.

Spans are recorded from the benchmark's own code: ``Tracer.install``
replaces each public engine function where its callers look it up (for
example ``pipeline.runner`` binds ``register_views`` and ``write_table`` at
import, so both the defining module and the runner are patched) with a
wrapper that records a span and sets a Spark job group named after the
layer. The session's event log then assigns every job and stage to the
layer that submitted it. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from collections import defaultdict

# Layer name -> (module, attribute) sites to patch. The first site defines
# the function; later ones are where callers bound it at import time.
LAYERS = {
    "pipeline.run_pipeline": [
        ("glue_etl_framework_spark.pipeline.runner", "run_pipeline"),
        ("glue_etl_framework_spark.pipeline", "run_pipeline"),
    ],
    "pipeline.config": [
        ("glue_etl_framework_spark.pipeline.runner", "load_config"),
        ("glue_etl_framework_spark.pipeline.runner", "pipeline_variables"),
        ("glue_etl_framework_spark.pipeline.runner", "interpolate"),
        ("glue_etl_framework_spark.pipeline.runner", "resolve_sql_text"),
    ],
    "io.readers.register_views": [
        ("glue_etl_framework_spark.io.readers", "register_views"),
        ("glue_etl_framework_spark.pipeline.runner", "register_views"),
    ],
    "io.writers.write_table": [
        ("glue_etl_framework_spark.io.writers", "write_table"),
        ("glue_etl_framework_spark.pipeline.runner", "write_table"),
    ],
    "io.writers.upsert_by_key": [("glue_etl_framework_spark.io.writers", "upsert_by_key")],
    "io.writers.staged_write": [("glue_etl_framework_spark.io.writers", "staged_write")],
    "ext.text.quality_features": [("glue_etl_framework_spark.ext.text", "quality_features")],
    "ext.dedup.minhash_banded_candidate_pairs": [
        ("glue_etl_framework_spark.ext.dedup", "minhash_banded_candidate_pairs")],
    "ext.dedup.dedup_keep_representative": [
        ("glue_etl_framework_spark.ext.dedup", "dedup_keep_representative")],
    "ext.similarity.lsh_neardup_pairs": [
        ("glue_etl_framework_spark.ext.similarity", "lsh_neardup_pairs")],
    "ext.multimodal.extract_image_features": [
        ("glue_etl_framework_spark.ext.multimodal", "extract_image_features")],
}
SESSION_LAYER = "session.get_spark"
SQL_LAYER = "pipeline.sql_analyze"
CKPT_LAYER = "ckpt"
ALL_LAYERS = [SESSION_LAYER, *LAYERS, SQL_LAYER, CKPT_LAYER]

# Metrics every layer reports, and the extra ones some layers add.
BASE_METRICS = ["calls", "wall_s", "self_s", "jobs", "tasks", "executor_run_s",
                "shuffle_write_mb", "spill_mb", "gc_s"]
WRITE_LAYER = "io.writers.write_table"
MB = 1024 * 1024


class Span:
    __slots__ = ("name", "start", "end", "parent", "pass_idx", "info")

    def __init__(self, name, start, parent, pass_idx):
        self.name, self.start, self.end = name, start, None
        self.parent, self.pass_idx, self.info = parent, pass_idx, {}


class Tracer:
    """Records spans around engine calls and tags their Spark jobs."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.pass_idx = -1
        self._saved: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    def _group(self) -> None:
        sc = self.spark.sparkContext
        if self.stack:
            top = self.stack[-1]
            sc.setJobGroup(f"{top.name}|{top.pass_idx}", top.name)
        else:
            sc.setJobGroup(f"bench|{self.pass_idx}", "bench")

    def enter(self, name: str) -> Span:
        span = Span(name, time.time(), self.stack[-1] if self.stack else None, self.pass_idx)
        self.spans.append(span)
        self.stack.append(span)
        self._group()
        return span

    def exit(self, span: Span) -> None:
        span.end = time.time()
        self.stack.pop()
        self._group()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.enter(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.exit(span)
                if name == WRITE_LAYER:
                    output = args[1] if len(args) > 1 else kwargs.get("output", {})
                    span.info.update(_dir_stats(str(output.get("location", "")), span.start))
        return traced

    # -- patching ------------------------------------------------------------
    def install(self) -> None:
        import importlib

        wrapped: dict[int, object] = {}
        for layer, sites in LAYERS.items():
            for mod_name, attr in sites:
                mod = importlib.import_module(mod_name)
                fn = getattr(mod, attr)
                if id(fn) not in wrapped:
                    wrapped[id(fn)] = self.wrap(layer, fn)
                self._saved.append((mod, attr, fn))
                setattr(mod, attr, wrapped[id(fn)])
        # spark.sql is a method: patch the instance so pipeline.runner's
        # ``spark.sql(sql)`` call is the sql_analyze span.
        self._saved.append((self.spark, "sql", None))
        self.spark.sql = self.wrap(SQL_LAYER, type(self.spark).sql.__get__(self.spark))

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._saved):
            if orig is None:
                delattr(obj, attr)
            else:
                setattr(obj, attr, orig)
        self._saved.clear()
        self.spark.sparkContext.setJobGroup("bench|untraced", "bench")


def _dir_stats(path: str, since: float) -> dict:
    """Data files under ``path`` written since ``since`` (an incremental
    write leaves older partitions in place)."""
    files = size = 0
    if path.startswith("file:"):
        path = path[5:]
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                st = os.stat(os.path.join(root, n))
                if st.st_mtime >= since - 1.0:
                    files += 1
                    size += st.st_size
    return {"files_committed": files, "bytes_committed": size}


# -- event log ---------------------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Jobs, their stages' task totals and SQL execution start times from
    the (uncompressed) event log files under ``log_dir``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    sql_starts: list[float] = []
    exec_site: dict[str, str] = {}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id", ""),
                        "callsite": props.get("callSite.short", ""),
                        "exec_id": props.get("spark.sql.execution.id"),
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None, "tasks": 0, "run_ms": 0, "gc_ms": 0,
                        "shuffle_write": 0, "spill": 0, "input": 0, "input_rows": 0,
                        "py_sent": 0, "py_recv": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    tm = ev.get("Task Metrics")
                    if job is None or not tm:
                        continue
                    job["tasks"] += 1
                    job["run_ms"] += tm.get("Executor Run Time", 0)
                    job["gc_ms"] += tm.get("JVM GC Time", 0)
                    job["shuffle_write"] += tm.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
                    job["spill"] += tm.get("Disk Bytes Spilled", 0)
                    job["input"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                    job["input_rows"] += tm.get("Input Metrics", {}).get("Records Read", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev.get("Stage Info", {})
                    job = jobs.get(stage_job.get(info.get("Stage ID")))
                    if job is None:
                        continue
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") == "data sent to Python workers":
                            job["py_sent"] += int(acc.get("Value", 0))
                        elif acc.get("Name") == "data returned from Python workers":
                            job["py_recv"] += int(acc.get("Value", 0))
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    sql_starts.append(ev["time"] / 1000.0)
                    exec_site[str(ev["executionId"])] = ev.get("details", "").split("\n")[0]
    # DataFrame actions run as SQL executions (AQE submits each query stage
    # as its own job); a job's call site is the top frame of its execution.
    for job in jobs.values():
        if not job["callsite"] and job["exec_id"] is not None:
            job["callsite"] = exec_site.get(str(job["exec_id"]), "")
    return {"jobs": jobs, "sql_starts": sorted(sql_starts)}


def _job_layer(job: dict) -> tuple[str, int] | None:
    group = job["group"]
    if "|" not in group or group.startswith("bench|untraced"):
        return None
    layer, _, idx = group.rpartition("|")
    if "localCheckpoint" in job["callsite"]:
        layer = CKPT_LAYER
    return layer, int(idx)


def pass_rows(tracer: Tracer, log: dict, passes: list[int]) -> tuple[dict, dict]:
    """Per pass: layer -> metric sums, and the pass-wide totals. Jobs count
    at the layer that submitted them (the innermost span), or at ``ckpt``
    when their call site is ``localCheckpoint``."""
    per_pass: dict[int, dict] = {p: defaultdict(lambda: defaultdict(float)) for p in passes}
    totals: dict[int, dict] = {p: defaultdict(float) for p in passes}
    children: dict[int, list[Span]] = defaultdict(list)
    for s in tracer.spans:
        if s.parent is not None:
            children[id(s.parent)].append(s)
    for s in tracer.spans:
        if s.pass_idx not in per_pass:
            continue
        row = per_pass[s.pass_idx][s.name]
        wall = s.end - s.start
        row["calls"] += 1
        row["wall_s"] += wall
        row["self_s"] += wall - _covered(s, children[id(s)])
        if s.name == WRITE_LAYER:
            row["files_committed"] += s.info.get("files_committed", 0)
            row["bytes_committed"] += s.info.get("bytes_committed", 0)
            inside = [j for j in log["jobs"].values()
                      if j["end"] is not None and s.start <= j["start"] <= s.end
                      and j["group"].startswith(WRITE_LAYER)]
            sql = [t for t in log["sql_starts"] if s.start <= t <= s.end]
            row["plan_s"] += (sql[0] - s.start) if sql else wall
            row["commit_s"] += (s.end - max(j["end"] for j in inside)) if inside else 0.0
    for job in log["jobs"].values():
        hit = _job_layer(job)
        if hit is None or hit[1] not in per_pass:
            continue
        layer, p = hit
        row = per_pass[p][layer]
        row["jobs"] += 1
        row["tasks"] += job["tasks"]
        row["executor_run_s"] += job["run_ms"] / 1000.0
        row["shuffle_write_mb"] += job["shuffle_write"] / MB
        row["spill_mb"] += job["spill"] / MB
        row["gc_s"] += job["gc_ms"] / 1000.0
        if layer == CKPT_LAYER:
            row["checkpoint_jobs"] += 1
            row["checkpoint_s"] += (job["end"] or job["start"]) - job["start"]
        t = totals[p]
        t["run_s"] += job["run_ms"] / 1000.0
        t["input_mb"] += job["input"] / MB
        t["input_rows"] += job["input_rows"]
        t["py_sent_mb"] += job["py_sent"] / MB
        t["py_recv_mb"] += job["py_recv"] / MB
    return per_pass, totals


def layer_table(tracer: Tracer, log: dict, traced_passes: list[int], slots: int,
                pass_walls: dict[int, float]) -> dict:
    """Per-layer metrics: the median over the traced passes of each pass's
    figure."""
    per_pass, totals = pass_rows(tracer, log, traced_passes)

    def med(layer: str, metric: str) -> float:
        return statistics.median(per_pass[p][layer][metric] for p in traced_passes)

    table = {}
    for layer in ALL_LAYERS:
        if layer == SESSION_LAYER:
            continue
        table[layer] = {m: med(layer, m) for m in BASE_METRICS}
    table[WRITE_LAYER].update({m: med(WRITE_LAYER, m) for m in
                               ("plan_s", "commit_s", "files_committed", "bytes_committed")})
    table[CKPT_LAYER].update({m: med(CKPT_LAYER, m) for m in ("checkpoint_jobs", "checkpoint_s")})

    def tmed(key: str) -> float:
        return statistics.median(totals[p][key] for p in traced_passes)

    # Scans run inside whichever layer runs the action, so the read volume
    # is the pass-wide task input. Spark's byte count under-reports local
    # parquet reads; the record count is exact.
    table["io.readers.register_views"].update(input_mb=tmed("input_mb"),
                                              input_rows=tmed("input_rows"))
    table["ext.multimodal.extract_image_features"].update(
        arrow_to_python_mb=tmed("py_sent_mb"), arrow_from_python_mb=tmed("py_recv_mb"))
    table["exec"] = {"slot_util": statistics.median(
        totals[p]["run_s"] / (pass_walls[p] * slots) for p in traced_passes)}
    return table


def _covered(span: Span, kids: list[Span]) -> float:
    """Length of the union of the children's intervals, clipped to span."""
    total, cur_s, cur_e = 0.0, None, None
    for k in sorted(kids, key=lambda k: k.start):
        s, e = max(k.start, span.start), min(k.end, span.end)
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
