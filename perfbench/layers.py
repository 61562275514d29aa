"""Per-layer metrics and the span file of a traced run.

A traced run alternates listener-on and listener-off warm passes. Every
per-layer number below is a sum over one listener-on warm pass (the median
when there are several); `trace.overhead` compares the two kinds of pass.
Spark jobs are tied to the benchmark job that ran them by the
`perfbench.job` local property; micro-batches by their start time.
"""
import json
import statistics

from workloads import MODULES

MB = 1e6
# per-module roll-ups: <module>.<key>
ROLLUP = {"wall_s": "s", "task_cpu_s": "s", "driver_only_s": "s",
          "shuffle_write_mb": "MB"}

# (name, unit, better); BENCHMARK.json's per_layer list is this list
METRICS = [
    ("registry.build_s", "s", "lower"),
    ("catalyst.plan_s", "s", "lower"),
    ("codegen.compiles", "count", "lower"),
    ("codegen.compile_s", "s", "lower"),
    ("exec.run_s", "s", "lower"),
    ("jvm.jit_compile_s", "s", "lower"),
    ("jvm.gc_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.job_active_s", "s", "lower"),
    ("spark.driver_only_s", "s", "lower"),
    ("spark.task_run_s", "s", "lower"),
    ("spark.task_cpu_s", "s", "lower"),
    ("spark.task_gc_s", "s", "lower"),
    ("spark.slot_util", "ratio", "higher"),
    ("spark.input_mb", "MB", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.shuffle_read_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.output_mb", "MB", "lower"),
    ("spark.peak_exec_mem_mb", "MB", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.trigger_s", "s", "lower"),
    ("streaming.add_batch_s", "s", "lower"),
    ("streaming.planning_s", "s", "lower"),
    ("streaming.offsets_s", "s", "lower"),
    ("streaming.commit_s", "s", "lower"),
    ("streaming.input_rows", "count", "lower"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.state_mem_mb", "MB", "lower"),
    ("streaming.outside_trigger_s", "s", "lower"),
] + [(f"{m}.{k}", u, "lower") for m in MODULES for k, u in ROLLUP.items()] + [
    ("failed_frac", "ratio", "lower"),
    ("trace.overhead", "ratio", "lower"),
]
UNITS = {n: u for n, u, _ in METRICS}


def _union_s(intervals):
    """Length in seconds of the union of [start_ms, end_ms] intervals."""
    total, cur = 0.0, None
    for s, e in sorted(intervals):
        if cur is None or s > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    if cur:
        total += cur[1] - cur[0]
    return total / 1e3


def _pass_metrics(p, jobs, spark_jobs, stages, batches, modules, cpus, cg):
    m = {}
    wall = sum(j["total_s"] for j in jobs)
    m["registry.build_s"] = sum(j["build_s"] or 0.0 for j in jobs)
    m["catalyst.plan_s"] = sum(j["plan_s"] or 0.0 for j in jobs)
    m["exec.run_s"] = sum(j["exec_s"] or 0.0 for j in jobs)
    m["codegen.compiles"] = cg["codegen_compiles"]
    m["codegen.compile_s"] = cg["codegen_compile_s"]
    m["jvm.jit_compile_s"] = sum(j["jit_ms"] for j in jobs) / 1e3
    m["jvm.gc_s"] = sum(j["gc_ms"] for j in jobs) / 1e3

    sj = [s for s in spark_jobs if s["tag"].startswith(f"{p}/")]
    ids = {s["id"] for s in sj}
    st = [s for s in stages if s["job"] in ids and s["tasks"] > 0]
    active = _union_s((s["start_ms"], s["end_ms"]) for s in sj)
    m["spark.jobs"] = len(sj)
    m["spark.stages"] = len(st)
    m["spark.tasks"] = sum(s["tasks"] for s in st)
    m["spark.job_active_s"] = active
    m["spark.driver_only_s"] = wall - active
    m["spark.task_run_s"] = sum(s["run_ms"] for s in st) / 1e3
    m["spark.task_cpu_s"] = sum(s["cpu_ns"] for s in st) / 1e9
    m["spark.task_gc_s"] = sum(s["gc_ms"] for s in st) / 1e3
    m["spark.slot_util"] = m["spark.task_run_s"] / (active * cpus) if active else 0.0
    for key, field in (("input", "input_b"), ("shuffle_write", "shuffle_write_b"),
                       ("shuffle_read", "shuffle_read_b"), ("spill", "spill_b"),
                       ("output", "output_b")):
        m[f"spark.{key}_mb"] = sum(s[field] for s in st) / MB
    m["spark.peak_exec_mem_mb"] = max((s["peak_exec_mem_b"] for s in st), default=0) / MB

    # micro-batches of this pass: started inside one of its jobs
    def owner(b):
        for j in jobs:
            if j["epoch_start_ms"] <= b["ts_ms"] <= j["epoch_end_ms"]:
                return j
        return None
    mine = [(b, owner(b)) for b in batches]
    mine = [(b, j) for b, j in mine if j is not None]
    d = lambda b, k: b["duration_ms"].get(k, 0) / 1e3  # noqa: E731
    m["streaming.batches"] = len(mine)
    m["streaming.trigger_s"] = sum(d(b, "triggerExecution") for b, _ in mine)
    m["streaming.add_batch_s"] = sum(d(b, "addBatch") for b, _ in mine)
    m["streaming.planning_s"] = sum(d(b, "queryPlanning") for b, _ in mine)
    m["streaming.offsets_s"] = sum(d(b, "latestOffset") + d(b, "getBatch") for b, _ in mine)
    m["streaming.commit_s"] = sum(d(b, "walCommit") + d(b, "commitOffsets") for b, _ in mine)
    m["streaming.input_rows"] = sum(b["input_rows"] for b, _ in mine)
    last = {}
    for b, _ in mine:  # state size at the end of each stream run
        if b["run_id"] not in last or b["batch"] > last[b["run_id"]]["batch"]:
            last[b["run_id"]] = b
    m["streaming.state_rows"] = sum(b["state_rows"] for b in last.values())
    m["streaming.state_mem_mb"] = sum(b["state_mem_b"] for b in last.values()) / MB
    stream_jobs = {j["name"] for _, j in mine}
    m["streaming.outside_trigger_s"] = (
        sum(j["build_s"] or 0.0 for j in jobs if j["name"] in stream_jobs)
        - m["streaming.trigger_s"])

    for mod in MODULES:
        mj = [j for j in jobs if modules.get(j["name"]) == mod]
        tags = {j["tag"] for j in mj}
        msj = [s for s in sj if s["tag"] in tags]
        mids = {s["id"] for s in msj}
        mst = [s for s in st if s["job"] in mids]
        mwall = sum(j["total_s"] for j in mj)
        m[f"{mod}.wall_s"] = mwall
        m[f"{mod}.task_cpu_s"] = sum(s["cpu_ns"] for s in mst) / 1e9
        m[f"{mod}.driver_only_s"] = mwall - _union_s(
            (s["start_ms"], s["end_ms"]) for s in msj)
        m[f"{mod}.shuffle_write_mb"] = sum(s["shuffle_write_b"] for s in mst) / MB
    return m


def per_layer(result, modules, failed, attempted):
    """({name: (value, unit)}, printable report) for a traced run."""
    tr = result["trace"]
    warm = [p for p in result["passes"] if p["kind"] == "warm"]
    traced = [p for p in warm if p["traced"]]
    plain = [p for p in warm if not p["traced"]]
    per_pass = [
        _pass_metrics(p["pass"], [j for j in result["jobs"] if j["pass"] == p["pass"]],
                      tr["spark_jobs"], tr["stages"], tr["batches"], modules,
                      result["cpus"], p)
        for p in traced]
    vals = {k: statistics.median(pm[k] for pm in per_pass) for k in per_pass[0]}
    on = statistics.median(p["wall_s"] for p in traced)
    off = statistics.median(p["wall_s"] for p in plain)
    vals["failed_frac"] = failed / attempted
    vals["trace.overhead"] = on / off - 1.0
    missing = set(UNITS) - set(vals)
    assert not missing, missing
    metrics = {k: (vals[k], UNITS[k]) for k, _, _ in METRICS}

    lines = [f"per-layer report ({len(traced)} listener-on / {len(plain)} "
             f"listener-off warm passes)",
             f"tracing overhead: warm pass {on:.3f} s traced vs {off:.3f} s "
             f"untraced ({100 * (on / off - 1):+.1f}%)"]
    rollups = {f"{m}.{k}" for m in MODULES for k in ROLLUP}
    for k, _, _ in METRICS:
        if k in rollups:
            continue
        lines.append(f"  {k:32s} {vals[k]:14.4f} {UNITS[k]}")
    lines.append("  module       wall_s   task_cpu_s  driver_only_s  shuffle_write_mb")
    for mod in MODULES:
        if vals[f"{mod}.wall_s"]:
            lines.append(f"  {mod:10s} {vals[f'{mod}.wall_s']:8.3f} "
                         f"{vals[f'{mod}.task_cpu_s']:12.3f} "
                         f"{vals[f'{mod}.driver_only_s']:14.3f} "
                         f"{vals[f'{mod}.shuffle_write_mb']:17.3f}")
    return metrics, "\n".join(lines)


def write_trace(path, result, stamp):
    """Spans run > setup|pass > job > build|plan|exec > spark_job > stage,
    plus micro-batches under their job; times in ms from JVM start."""
    spans = []
    end = max([p["end_ms"] for p in result["passes"]] + [0.0])
    spans.append({"id": "run", "parent": None, "name": stamp["workload"],
                  "kind": "run", "start_ms": 0.0, "end_ms": end})
    spans.append({"id": "setup", "parent": "run", "kind": "setup", "name": "setup",
                  "start_ms": 0.0, "end_ms": result["setup_s"] * 1e3})
    for p in result["passes"]:
        spans.append({"id": f"pass{p['pass']}", "parent": "run", "kind": "pass",
                      "name": f"{p['kind']} pass", "start_ms": p["start_ms"],
                      "end_ms": p["end_ms"], "traced": p["traced"],
                      "counters": {"codegen_compiles": p["codegen_compiles"],
                                   "codegen_compile_s": p["codegen_compile_s"]}})
    by_tag = {}
    for j in result["jobs"]:
        jid = f"job:{j['tag']}"
        by_tag[j["tag"]] = j
        spans.append({"id": jid, "parent": f"pass{j['pass']}", "kind": "job",
                      "name": j["name"], "start_ms": j["start_ms"],
                      "end_ms": j["end_ms"], "error": j["error"]})
        t = j["start_ms"]
        for part in ("build", "plan", "exec"):
            dur = j[f"{part}_s"]
            if dur is None:
                break
            spans.append({"id": f"{jid}:{part}", "parent": jid, "kind": part,
                          "name": part, "start_ms": t, "end_ms": t + dur * 1e3})
            t += dur * 1e3
    tr = result["trace"]
    stages_by_job = {}
    for s in tr.get("stages", []):
        stages_by_job.setdefault(s["job"], []).append(s)
    for sj in tr.get("spark_jobs", []):
        j = by_tag.get(sj["tag"])
        if j is None:
            continue
        off = j["epoch_start_ms"] - j["start_ms"]
        sid = f"spark_job:{sj['id']}"
        spans.append({"id": sid, "parent": f"job:{sj['tag']}", "kind": "spark_job",
                      "name": f"spark job {sj['id']}", "start_ms": sj["start_ms"] - off,
                      "end_ms": sj["end_ms"] - off})
        for s in stages_by_job.get(sj["id"], []):
            spans.append({"id": f"stage:{s['id']}.{s['attempt']}", "parent": sid,
                          "kind": "stage", "name": f"stage {s['id']}",
                          "start_ms": s["submit_ms"] - off, "end_ms": s["done_ms"] - off,
                          "counters": {k: v for k, v in s.items()
                                       if k not in ("id", "attempt", "job")}})
    for b in tr.get("batches", []):
        j = next((j for j in result["jobs"]
                  if j["epoch_start_ms"] <= b["ts_ms"] <= j["epoch_end_ms"]), None)
        if j is None:
            continue
        off = j["epoch_start_ms"] - j["start_ms"]
        start = b["ts_ms"] - off
        spans.append({"id": f"batch:{b['run_id']}:{b['batch']}",
                      "parent": f"job:{j['tag']}", "kind": "micro_batch",
                      "name": f"batch {b['batch']}", "start_ms": start,
                      "end_ms": start + b["duration_ms"].get("triggerExecution", 0),
                      "counters": {"duration_ms": b["duration_ms"],
                                   "input_rows": b["input_rows"],
                                   "state_rows": b["state_rows"],
                                   "state_mem_b": b["state_mem_b"]}})
    with open(path, "w") as f:
        json.dump({"stamp": stamp, "spans": spans}, f)
