"""The benchmark's arithmetic: percentiles, attribution of listener events to
keys, spans and self time, and the per-layer metrics of one pass. Pure
functions over the harness's raw record (see harness/.../Harness.scala)."""
import bisect
import math
import statistics

MB = 1024.0 * 1024.0
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def nearest_rank(sorted_values, pct):
    """The pct-th percentile by the nearest-rank method: the smallest value
    with at least pct percent of the samples at or below it."""
    n = len(sorted_values)
    rank = max(1, math.ceil(round(pct / 100.0 * n, 9)))
    return sorted_values[rank - 1], n - rank


def tail_percentile(values, beyond=10):
    """The highest percentile of TAIL_LADDER with at least `beyond` samples
    above its rank. Returns (value, pct, n); with too few samples for any
    rung it falls back to the median and returns pct None."""
    xs = sorted(values)
    if not xs:
        return 0.0, None, 0
    for pct in TAIL_LADDER:
        value, above = nearest_rank(xs, pct)
        if above >= beyond:
            return value, pct, len(xs)
    return statistics.median(xs), None, len(xs)


class KeyWindows:
    """Attributes timestamped events to the key that was running: one key
    runs at a time, so the windows [start_ms, end_ms] do not overlap, and an
    event belongs to the key whose window holds its time. Events outside
    every window (warm-up, marker jobs, the dump) belong to none."""

    def __init__(self, keys):
        self.keys = sorted(keys, key=lambda k: k["start_ms"])
        self.starts = [k["start_ms"] for k in self.keys]

    def key_at(self, t_ms):
        i = bisect.bisect_right(self.starts, t_ms) - 1
        if i >= 0 and t_ms <= self.keys[i]["end_ms"]:
            return self.keys[i]["key"]
        return None


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its children cover (children may nest or overlap each other)."""
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    return {s["span"]: (s["end_ms"] - s["start_ms"])
            - covered(kids.get(s["span"], []), s["start_ms"], s["end_ms"])
            for s in spans}


def build_spans(raw, pass_index):
    """Spans of one traced pass: a span per key and, under it, ops.build,
    exec, each planning phase, each job (with its stages) and each
    streaming batch. All spans of a key share the trace id
    '<pass>:<key>'."""
    p = raw["passes"][pass_index]
    windows = KeyWindows(p["keys"])
    spans, key_span = [], {}

    def add(trace, parent, name, a, b):
        spans.append({"trace": trace, "span": len(spans), "parent": parent,
                      "name": name, "start_ms": a, "end_ms": max(a, b)})
        return len(spans) - 1

    for k in p["keys"]:
        trace = f"{pass_index}:{k['key']}"
        sid = add(trace, None, "key", k["start_ms"], k["end_ms"])
        key_span[k["key"]] = (trace, sid)
        built = k["start_ms"] + k["build_s"] * 1000.0
        add(trace, sid, "ops.build", k["start_ms"], built)
        add(trace, sid, "exec", built, k["end_ms"])
    for plan in raw["plans"]:
        for ph in plan["phases"]:
            key = windows.key_at(ph["start_ms"])
            if key and ph["name"] != "parsing":
                trace, sid = key_span[key]
                add(trace, sid, f"plan.{ph['name']}", ph["start_ms"], ph["end_ms"])
    stage_job = {}
    for job in raw["jobs"]:
        key = windows.key_at(job["start_ms"])
        if key:
            trace, sid = key_span[key]
            jid = add(trace, sid, "job", job["start_ms"], job["end_ms"] or job["start_ms"])
            for st in job["stages"]:
                stage_job.setdefault(st, (trace, jid))
    for st in raw["stages"]:
        if st["id"] in stage_job and windows.key_at(st["submit_ms"]):
            trace, jid = stage_job[st["id"]]
            add(trace, jid, "stage", st["submit_ms"], st["complete_ms"] or st["submit_ms"])
    for b in raw["batches"]:
        key = windows.key_at(b["start_ms"])
        if key:
            trace, sid = key_span[key]
            add(trace, sid, "stream.batch", b["start_ms"],
                b["start_ms"] + b["duration_ms"].get("triggerExecution", 0))
    return spans


def layer_self_times(spans):
    """Self time in seconds summed per span name."""
    out = {}
    st = self_times(spans)
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["span"]] / 1000.0
    return out


def pass_wall(p):
    return sum(k["wall_s"] for k in p["keys"])


def pass_layers(raw, pass_index):
    """Per-layer metrics of one traced pass (names without the .cold/.warm
    suffix)."""
    p = raw["passes"][pass_index]
    windows = KeyWindows(p["keys"])
    keys = p["keys"]
    mine = lambda t: windows.key_at(t) is not None  # noqa: E731
    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    executions = 0
    for plan in raw["plans"]:
        if plan["phases"] and mine(plan["phases"][0]["start_ms"]):
            executions += 1
            for ph in plan["phases"]:
                if ph["name"] in phases:
                    phases[ph["name"]] += (ph["end_ms"] - ph["start_ms"]) / 1000.0
    stages = [s for s in raw["stages"] if mine(s["submit_ms"])]
    jobs = [j for j in raw["jobs"] if mine(j["start_ms"])]
    batches = [b for b in raw["batches"] if mine(b["start_ms"])]
    bdur = [b["duration_ms"].get("triggerExecution", 0) for b in batches]
    tail, tail_pct, n_batches = tail_percentile(bdur)
    last_state = {}
    for b in sorted(batches, key=lambda b: (b["query"], b["batch"])):
        last_state[b["query"]] = b["state_rows"]
    run_s = sum(s["run_ms"] for s in stages) / 1000.0
    wall = pass_wall(p)
    m = {
        "ops.build_s": sum(k["build_s"] for k in keys),
        "plan.analysis_s": phases["analysis"],
        "plan.optimization_s": phases["optimization"],
        "plan.planning_s": phases["planning"],
        "plan.executions": executions,
        "codegen.compiles": sum(k["codegen_compiles"] for k in keys),
        "codegen.compile_s": sum(k["codegen_compile_s"] for k in keys),
        "exec.jobs": len(jobs),
        "exec.tasks": sum(s["tasks"] for s in stages),
        "exec.task_run_s": run_s,
        "exec.task_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "exec.gc_s": sum(s["gc_ms"] for s in stages) / 1000.0,
        "exec.sched_delay_s": sum(s["wait_ms"] for s in stages) / 1000.0,
        "exec.core_util": run_s / (wall * raw["cpus"]) if wall > 0 else 0.0,
        "exec.input_mb": sum(s["input_bytes"] for s in stages) / MB,
        "exec.output_mb": sum(s["output_bytes"] for s in stages) / MB,
        "exec.shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in stages) / MB,
        "exec.spill_mb": sum(s["spill_bytes"] for s in stages) / MB,
        "exec.peak_exec_mem_mb": max((s["peak_exec_mem_bytes"] for s in stages), default=0) / MB,
        "shared.builds": sum(k["shared_builds"] for k in keys),
        "shared.cached_mb": p["cached_bytes"] / MB,
        "io.scratch_written_mb": p["scratch_written_bytes"] / MB,
        "durable.stages_built": p["durable_stages_built"],
        "stream.batches": n_batches,
        "stream.batch_p50_ms": statistics.median(bdur) if bdur else 0.0,
        "stream.batch_tail_ms": tail,
        "stream.query_planning_s": sum(b["duration_ms"].get("queryPlanning", 0) for b in batches) / 1000.0,
        "stream.wal_commit_s": sum(b["duration_ms"].get("walCommit", 0) for b in batches) / 1000.0,
        "stream.add_batch_s": sum(b["duration_ms"].get("addBatch", 0) for b in batches) / 1000.0,
        "stream.state_rows": sum(last_state.values()),
    }
    return m, {"stream.batch_tail_pct": tail_pct, "stream.batches": n_batches}


KEY_METRICS = ("ops.build_s", "plan.analysis_s", "plan.optimization_s", "plan.planning_s",
               "codegen.compiles", "codegen.compile_s", "exec.jobs", "exec.tasks",
               "exec.task_run_s", "exec.task_cpu_s", "exec.gc_s", "exec.sched_delay_s",
               "exec.shuffle_write_mb", "exec.peak_exec_mem_mb", "shared.builds",
               "stream.batches", "stream.add_batch_s")


def key_breakdown(raw, pass_index):
    """Per-key metrics and span self times of one traced pass, for telling
    which layer a key's time went to."""
    p = raw["passes"][pass_index]
    spans = build_spans(raw, pass_index)
    out = {}
    for k in p["keys"]:
        m, _ = pass_layers(dict(raw, passes=[dict(p, keys=[k])]), 0)
        trace = f"{pass_index}:{k['key']}"
        out[k["key"]] = dict({"wall_s": k["wall_s"]}, **{n: m[n] for n in KEY_METRICS},
                             self_time_s=layer_self_times([s for s in spans if s["trace"] == trace]))
    return out


def kernel_layers(kernels):
    """rows/s of each kernel: the first rep (with its codegen) as .cold, the
    median of the others as .warm; 0 for kernels not measured in this run
    (no reps)."""
    out = {}
    for k in kernels:
        secs = k["secs"]
        out[f"kernel.{k['fn']}.rows_per_s.cold"] = k["rows"] / secs[0] if secs else 0.0
        out[f"kernel.{k['fn']}.rows_per_s.warm"] = k["rows"] / statistics.median(secs[1:]) if secs else 0.0
    return out
