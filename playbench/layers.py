"""Per-layer metrics of one traced run, computed from its spans.

Each SQL execution is assigned to a module by the innermost `graft.*`
frame of the call site Spark recorded for it (for example
`graft.io.Writers$.writeCsv(Writers.scala:122)` -> io.write). Jobs and
stages inherit the module of the execution they run under; a job
outside every SQL execution (an RDD action, such as a parquet schema
merge) takes the module of its stages' call site. Executions and jobs
that match no module are counted in `exec.unattributed`, not dropped.

`config`, `compile` and `io.read` start no SQL execution of their own:
loading a playbook, building the plan and defining a lazy read happen
on the driver thread. Their `.ms` is the wall time of the driver-thread
stack samples (Tracer.scala) whose innermost frame of a measured module
lies in them; a `graft.transforms` frame called from PipelineCompiler
thus counts as `compile`. The `.ms` of `cli`, `io.write` and `ops` is
the wall time of their root SQL executions.

Values are per execution unit; run.py reports the median over the
timed units.
"""
from statistics import median

MODULES = ("cli", "config", "compile", "io.read", "io.write", "ops")
SAMPLED = ("config", "compile", "io.read")
PER_LAYER = (
    ["io.read.records", "io.read.bytes", "io.read.amplification"]
    + [f"{m}.{k}" for m in MODULES for k in ("ms", "jobs")]
    + ["io.write.bytes", "io.write.records",
       "ops.leaked_temp_dirs", "ops.leaked_persisted_rdds",
       "exec.sql_executions", "exec.unattributed", "exec.jobs", "exec.stages", "exec.tasks",
       "exec.failed_tasks", "exec.cpu_ms", "exec.run_ms", "exec.gc_ms", "exec.busy_ratio",
       "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
       "compile.analysis_ms", "compile.optimization_ms", "compile.planning_ms",
       "driver.self_ms"])


def unit_of(name: str) -> str:
    if name.endswith("ms"):
        return "ms"
    if name.endswith("bytes"):
        return "bytes"
    return "ratio" if name.endswith(("amplification", "ratio")) else "count"


def module(frame: str) -> str:
    """Module of a `graft.<pkg>.<Object>$.<method>(File.scala:N)` frame or a
    `graft.<pkg>.<Object>` class name, or ''."""
    parts = frame.split("(", 1)[0].split(".")
    if len(parts) < 3 or parts[0] != "graft":
        return ""
    pkg, obj = parts[1], parts[2].split("$", 1)[0]
    if pkg == "io":
        return {"Readers": "io.read", "Writers": "io.write"}.get(obj, "")
    return pkg if pkg in MODULES else ""


def _union_ms(intervals) -> float:
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def per_unit(trace: dict, unit: dict, source_bytes: int) -> dict:
    spans = {s["id"]: s for s in trace["spans"]}
    children = {}
    for s in trace["spans"]:
        children.setdefault(s["parent"], []).append(s)
    root = next(s for s in trace["spans"]
                if s["kind"] == "harness" and s["name"] == "unit" and s["attrs"]["unit"] == unit["unit"])

    def below(span):
        for c in children.get(span["id"], []):
            yield c
            yield from below(c)

    mine = list(below(root))
    sqls = [s for s in mine if s["kind"] == "sql"]
    jobs = [s for s in mine if s["kind"] == "job"]
    stages = [s for s in mine if s["kind"] == "stage"]

    def sql_of(span):
        while span is not None and span["kind"] != "sql":
            span = spans.get(span["parent"])
        return span

    mod_of = {s["id"]: module(s["attrs"]["frame"]) for s in sqls}
    wall_ms = (root["end_ms"] - root["start_ms"])
    m = {k: 0.0 for k in PER_LAYER}
    for s in sqls:
        mod = mod_of[s["id"]]
        if not mod:
            m["exec.unattributed"] += 1
        elif s["attrs"]["root"] and mod not in SAMPLED:
            m[f"{mod}.ms"] += s["end_ms"] - s["start_ms"]
        for phase in ("analysis", "optimization", "planning"):
            m[f"compile.{phase}_ms"] += s["attrs"]["phases_ms"].get(phase, 0)
    for p in (s for s in mine if s["kind"] == "samples"):
        mod = next((module(c) for c in p["attrs"]["stack"] if module(c)), "")
        if mod in SAMPLED:
            m[f"{mod}.ms"] += p["attrs"]["ms"]
    for j in jobs:
        sql = sql_of(j)
        if sql is not None:
            mod = mod_of[sql["id"]]
        else:
            mod = next((module(c["attrs"]["frame"]) for c in children.get(j["id"], [])
                        if module(c["attrs"]["frame"])), "")
            m["exec.unattributed"] += not mod
        if mod:
            m[f"{mod}.jobs"] += 1
    for st in stages:
        a = st["attrs"]
        for k in ("tasks", "failed_tasks", "shuffle_write_bytes", "shuffle_read_bytes",
                  "spill_bytes", "run_ms", "gc_ms"):
            m[f"exec.{k}"] += a[k]
        m["exec.cpu_ms"] += a["cpu_ns"] / 1e6
        m["io.read.bytes"] += a["in_bytes"]
        m["io.read.records"] += a["in_records"]
        sql = sql_of(st)
        if sql and mod_of.get(sql["id"]) == "io.write":
            m["io.write.bytes"] += a["out_bytes"]
            m["io.write.records"] += a["out_records"]
    m["exec.sql_executions"] = len(sqls)
    m["exec.jobs"] = len(jobs)
    m["exec.stages"] = len(stages)
    m["exec.busy_ratio"] = m["exec.run_ms"] / (wall_ms * trace["cores"]) if wall_ms else 0.0
    m["io.read.amplification"] = m["io.read.bytes"] / source_bytes
    m["ops.leaked_temp_dirs"] = unit["leaked_temp_dirs"]
    m["ops.leaked_persisted_rdds"] = unit["leaked_persisted_rdds"]
    tops = [(max(s["start_ms"], root["start_ms"]), min(s["end_ms"], root["end_ms"]))
            for s in sqls if s["attrs"]["root"] and s["start_ms"] >= 0]
    m["driver.self_ms"] = wall_ms - _union_ms([(a, b) for a, b in tops if b > a])
    return m


def per_layer(trace: dict, units: list, source_bytes: int) -> dict:
    """Median over the given units of every per-layer metric."""
    rows = [per_unit(trace, u, source_bytes) for u in units]
    return {k: median(r[k] for r in rows) for k in PER_LAYER}
