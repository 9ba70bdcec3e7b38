"""Metric arithmetic for the graft benchmark: percentiles, interval unions,
span self times, and the end-to-end and per-layer metrics computed from the
event records the benchmark's JVM writes (one JSON object per line)."""
import math
import statistics

CURATION_FAMILIES = {
    "neardup_s": ("q44_dedup_minhash_lsh", "q194_dedup_minhash_scaled",
                  "q199_dedup_minhash_tokens"),
    "cluster_s": ("q66b_dedup_clusters_dist", "q133_dedup_keep_best"),
    "repeats_s": ("q144_lcp_repeats", "q146_phrase_scrub"),
}

MB = 1 << 20


def tail_percentile(n, min_beyond=10):
    """The highest whole percentile with at least `min_beyond` of `n`
    samples beyond it, or None when `n` is too small to have one."""
    if n <= min_beyond:
        return None
    return math.floor(100 * (n - min_beyond) / n)


def percentile_value(values, p):
    """Nearest-rank percentile: the ceil(p/100 * n)-th smallest value."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(p / 100 * len(ordered)) - 1)]


def tail(values, min_beyond=10):
    """(percentile, value) by the rule above, or (None, None)."""
    p = tail_percentile(len(values), min_beyond)
    return (p, percentile_value(values, p)) if p is not None else (None, None)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover."""
    return (end - start) - union_length(clip(children, start, end))


def split(events):
    by_type = {}
    for e in events:
        by_type.setdefault(e["t"], []).append(e)
    return by_type


def wall_s(e):
    return (e["end"] - e["start"]) / 1e6


def end_to_end(events, workload, inputs):
    """Every end-to-end figure of an untraced run. The first three are the
    metrics BENCHMARK.json gates; the rest are printed for reading."""
    ev = split(events)
    ops = ev.get("op", [])
    walls = [wall_s(o) for o in ops]
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(wall_s(o))
    # a run stops at its deadline, inside a cycle; per-name figures keep the
    # cycle's operation mix balanced whatever share of a cycle ran last
    if workload == "sql_tpch":
        cycle_items = len(by_name)
    elif workload == "curation_batch":
        cycle_items = inputs["docs"]
    else:
        cycle_items = inputs["batches"]["docs_per_batch"]
    out = {
        "setup_s": statistics.median(wall_s(s) for s in ev["setup"]),
        "latency_p50_s": statistics.median(statistics.median(w) for w in by_name.values()),
        "items_per_s": cycle_items / sum(statistics.mean(w) for w in by_name.values()),
    }
    p, value = tail(walls)
    out["latency_tail"] = {"percentile": p, "value_s": value, "samples": len(walls)}
    if workload == "curation_batch":
        for family, steps in CURATION_FAMILIES.items():
            out[family] = statistics.median(
                sum(wall_s(s) for s in o["spans"] if s["layer"] == "step" and s["name"] in steps)
                for o in ops)
    return out


def per_layer(events):
    """Per-layer metrics of a traced run: per-operation means over the traced
    operations (sums of span durations, job/stage counters and self times),
    plus run-level figures (storage peak, kernel probes, index files).
    Tracing overhead compares each operation name's traced walls with its
    untraced walls in the same run; it is None when no name ran both ways."""
    ev = split(events)
    ops = ev.get("op", [])
    traced = [o for o in ops if o["traced"]]
    untraced = [o for o in ops if not o["traced"]]
    jobs = ev.get("job", [])
    stages = ev.get("stage", [])
    qes = ev.get("qe", [])
    n = max(1, len(traced))

    def per_op(f):
        return sum(f(o) for o in traced) / n

    def op_jobs(o):
        return [j for j in jobs if j["op"] == o["id"]]

    def op_stages(o):
        return [s for s in stages if s["op"] == o["id"]]

    def op_qes(o):
        return [q for q in qes if "analysis" in q["phases"]
                and o["start"] <= q["phases"]["analysis"][0] <= o["end"]]

    def spans(o, layer):
        return [s for s in o["spans"] if s["layer"] == layer]

    def phase_s(o, phase):
        return sum((q["phases"][phase][1] - q["phases"][phase][0]) / 1e6
                   for q in op_qes(o) if phase in q["phases"])

    def build_jobs(o):
        builds = [(s["start"], s["end"]) for s in spans(o, "operators")]
        return sum(1 for j in op_jobs(o) if any(b0 <= j["start"] <= b1 for b0, b1 in builds))

    def stage_sum(o, key):
        return sum(s[key] for s in op_stages(o))

    def stage_wall(s):
        return (s["end"] - s["start"]) / 1e6

    out = {
        "engine_context.create_table_s": statistics.median(
            sum(wall_s(s) for s in st["spans"] if s["name"] == "create_table")
            for st in ev["setup"]),
        "engine_context.sql_s": per_op(lambda o: sum(wall_s(s) for s in spans(o, "engine_context"))),
        "catalyst.analysis_s": per_op(lambda o: phase_s(o, "analysis")),
        "catalyst.optimization_s": per_op(lambda o: phase_s(o, "optimization")),
        "catalyst.planning_s": per_op(lambda o: phase_s(o, "planning")),
        "catalyst.executions": per_op(lambda o: len(op_qes(o))),
        "operators.build_s": per_op(lambda o: sum(wall_s(s) for s in spans(o, "operators"))),
        "operators.build_jobs": per_op(build_jobs),
        "exec.jobs": per_op(lambda o: len(op_jobs(o))),
        "exec.stages": per_op(lambda o: len(op_stages(o))),
        "exec.tasks": per_op(lambda o: stage_sum(o, "tasks")),
        "exec.driver_gap_s": per_op(lambda o: self_time(
            o["start"], o["end"], [(j["start"], j["end"]) for j in op_jobs(o)]) / 1e6),
        "exec.stage_wall_s": per_op(lambda o: sum(stage_wall(s) for s in op_stages(o))),
        "exec.task_run_s": per_op(lambda o: stage_sum(o, "run_ms") / 1e3),
        "exec.task_cpu_s": per_op(lambda o: stage_sum(o, "cpu_ns") / 1e9),
        "exec.single_task_stage_s": per_op(
            lambda o: sum(stage_wall(s) for s in op_stages(o) if s["tasks"] == 1)),
        "exec.shuffle_read_mb": per_op(lambda o: stage_sum(o, "shuffle_read_bytes") / MB),
        "exec.shuffle_write_mb": per_op(lambda o: stage_sum(o, "shuffle_write_bytes") / MB),
        "exec.spill_mb": per_op(lambda o: stage_sum(o, "spill_bytes") / MB),
        "exec.gc_s": per_op(lambda o: stage_sum(o, "gc_ms") / 1e3),
        "exec.task_failures": sum(stage_sum(o, "task_failures") for o in traced),
        "io.append_s": per_op(lambda o: sum(wall_s(s) for s in spans(o, "io") if s["name"] == "append")),
    }
    wall = out["exec.stage_wall_s"]
    out["exec.parallelism"] = out["exec.task_run_s"] / wall if wall > 0 else 0.0
    traced_ids = {o["id"] for o in traced}
    out["exec.peak_storage_mb"] = max(
        (s["peak_bytes"] / MB for s in ev.get("storage", []) if s["op"] in traced_ids), default=0.0)
    facts = ev["finish"][0]["facts"]
    out["io.index_files"] = facts.get("index_files", 0)
    docs = ev["kernel_corpus"][0]["docs"] if "kernel_corpus" in ev else 0
    for kernel in ("gram_hash_set", "minhash_sig"):
        runs = {}
        for s in stages:
            if s["op"].startswith(f"probe:{kernel}:"):
                runs[s["op"]] = runs.get(s["op"], 0) + s["cpu_ns"]
        out[f"functions.{kernel}.cpu_ns_per_doc"] = (
            statistics.median(runs.values()) / docs if runs and docs else 0.0)
    plain, hot = {}, {}
    for o in untraced:
        plain.setdefault(o["name"], []).append(wall_s(o))
    for o in traced:
        hot.setdefault(o["name"], []).append(wall_s(o))
    ratios = [statistics.median(w) / statistics.median(plain[n]) for n, w in hot.items() if n in plain]
    out["trace.overhead_ratio"] = statistics.median(ratios) - 1.0 if ratios else None
    return out


LAYER_UNITS = {
    "engine_context.create_table_s": "s", "engine_context.sql_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "catalyst.executions": "count", "operators.build_s": "s", "operators.build_jobs": "count",
    "functions.gram_hash_set.cpu_ns_per_doc": "ns", "functions.minhash_sig.cpu_ns_per_doc": "ns",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.driver_gap_s": "s", "exec.stage_wall_s": "s", "exec.task_run_s": "s",
    "exec.task_cpu_s": "s", "exec.parallelism": "ratio", "exec.single_task_stage_s": "s",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB", "exec.spill_mb": "MB",
    "exec.gc_s": "s", "exec.peak_storage_mb": "MB", "exec.task_failures": "count",
    "io.append_s": "s", "io.index_files": "count", "trace.overhead_ratio": "ratio",
}


def chrome_trace(events, workload):
    """The traced run's spans in Chrome trace-event form (load it in
    chrome://tracing or Perfetto). Every span carries its operation's trace
    id; lanes: 1 operations and their benchmark spans, 2 Catalyst phases,
    3 Spark jobs, 4 Spark stages."""
    ev = split(events)
    traced = [o for o in ev.get("op", []) if o["traced"]]
    out = []

    def span(name, cat, tid, start, end, **args):
        out.append({"name": name, "cat": cat, "ph": "X", "pid": 1, "tid": tid,
                     "ts": start, "dur": max(0, end - start), "args": args})

    for o in traced:
        span(f"{o['name']} {o['id']}", "operation", 1, o["start"], o["end"],
             trace_id=o["id"], parent=workload, error=o["error"])
        for s in o["spans"]:
            span(s["name"], s["layer"], 1, s["start"], s["end"], trace_id=o["id"], parent=o["id"])
        for q in ev.get("qe", []):
            a = q["phases"].get("analysis")
            if a and o["start"] <= a[0] <= o["end"]:
                for phase, (start, end) in q["phases"].items():
                    span(phase, "catalyst", 2, start, end, trace_id=o["id"], parent=o["id"],
                         func=q["func"])
    traced_ids = {o["id"] for o in traced}
    stage_job = {}
    for j in ev.get("job", []):
        if j["op"] in traced_ids or j["op"].startswith("probe:"):
            span(f"job {j['id']}", "exec", 3, j["start"], j["end"], trace_id=j["op"],
                 parent=j["op"], stages=j["stages"])
            stage_job.update((s, f"job {j['id']}") for s in j["stages"])
    for s in ev.get("stage", []):
        if s["op"] in traced_ids or s["op"].startswith("probe:"):
            span(f"stage {s['id']}.{s['attempt']}", "exec", 4, s["start"], s["end"],
                 trace_id=s["op"], parent=stage_job.get(s["id"], s["op"]), tasks=s["tasks"],
                 run_ms=s["run_ms"], cpu_ns=s["cpu_ns"], stage=s["name"])
    return {"traceEvents": out, "displayTimeUnit": "ms"}
