"""Turns the JVM side's result.json into the benchmark's metrics.

End-to-end metrics come from the untraced passes. Per-layer metrics come
from the traced passes: listener events are attributed to the operation
that caused them by the job tag and job group the benchmark set around
each call, and every per-layer value is given per pass.
"""
import statistics
from collections import defaultdict
from datetime import datetime

# Which layer a benchmark span's self time belongs to, by phase. The
# phases are those PerfBench.scala records around its calls.
PHASE_LAYER = {
    "build": "operators",  # a SparkEntry.queries function
    "action": "sql",       # count(): Spark SQL's own work in the final action
    "plan": "mr",          # MrJob.wholeFileInput + MrJob.run: builds the lazy job
    "write": "mr",         # MrJob.writeText: runs the whole job; its own time is
                           # the driver's between stages, and its commit (after
                           # the last output task) is a child span of the sink
}


def is_stream(op):
    """The stream gates: calling one drains a micro-batched stream."""
    return op.startswith("stream_")


def phase_layer(op, phase):
    if phase == "build" and is_stream(op):
        return "streaming"
    return PHASE_LAYER.get(phase, "client")


SELF_LAYERS = ["client", "operators", "sql", "mr", "sink", "streaming",
               "plans", "scheduler", "executor"]


def quantile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[int(q * 100) - 1]


def op_medians(samples):
    by_op = defaultdict(list)
    for s in samples:
        if s["ok"]:
            by_op[s["op"]].append((s["t1"] - s["t0"]) / 1000.0)
    return {op: statistics.median(ts) for op, ts in by_op.items()}


def timed(res, traced):
    """Samples of the timed passes; pass -1 is the warm pass of set-up."""
    return [s for s in res["samples"] if s["pass"] >= 0 and s["traced"] == traced]


def end_to_end(res):
    meds = op_medians(timed(res, False))
    vals = list(meds.values())
    return {
        "setup_s": (res["setup_s"], "s"),
        "total_s": (sum(vals), "s"),
        "op_p50_s": (statistics.median(vals), "s"),
        "op_p90_s": (quantile(vals, 0.9), "s"),
        "retained_heap_mb": (res["retained_heap_mb"], "MB"),
    }


def union_len(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def parse_ts(s):
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp() * 1000.0


class Span:
    def __init__(self, layer, t0, t1, parent=None):
        self.layer, self.t0, self.t1 = layer, float(t0), float(t1)
        self.children = []
        if parent is not None:
            parent.children.append(self)

    def self_ms(self):
        kids = [(c.t0, c.t1) for c in self.children]
        return (self.t1 - self.t0) - union_len(kids, self.t0, self.t1)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


def per_layer(res):
    cores = res["cores"]
    plain = op_medians(timed(res, False))
    traced = timed(res, True)
    passes = len({s["pass"] for s in traced}) or 1
    by_id = {s["id"]: s for s in traced}
    ev = defaultdict(list)
    for e in res["events"]:
        ev[e["k"]].append(e)

    def sample_of(tags):
        for t in tags.split(","):
            if t in by_id:
                return t
        return None

    # jobs, attributed by job tag; the phase comes from the job group
    jobs = {}
    ends = {e["id"]: e["t1"] for e in ev["jobend"]}
    for j in ev["job"]:
        sid = sample_of(j["tags"])
        if sid is None:
            continue
        g = j["group"]
        phase = g.split("/", 1)[1] if g.startswith(sid + "/") else None
        jobs[j["id"]] = dict(j, sample=sid, phase=phase, t1=ends.get(j["id"], j["t0"]))
    stage_job = {}
    for jid in sorted(jobs):
        for st in jobs[jid]["stages"]:
            stage_job.setdefault(st, jid)
    stages = {}
    for st in ev["stage"]:
        if st["id"] in stage_job and st["t0"] >= 0:
            stages[(st["id"], st["attempt"])] = dict(st, job=stage_job[st["id"]])
    tasks = defaultdict(list)
    for t in ev["task"]:
        if t["stage"] in stage_job:
            tasks[t["stage"]].append(t)
    all_tasks = [t for ts in tasks.values() for t in ts]
    execs = {}
    for x in ev["sql"]:
        sid = sample_of(x["tags"])
        if sid is not None:
            g = x["group"]
            execs[x["id"]] = (sid, g.split("/", 1)[1] if g.startswith(sid + "/") else None)
    runs = {q["run"]: sample_of(q["tags"]) for q in ev["query"]}
    triggers = [t for t in ev["trigger"] if runs.get(t["run"])]

    m = {}

    def put(name, value, unit):
        m[name] = (value / passes, unit)

    def tsum(key, scale=1.0):
        return sum(t[key] for t in all_tasks) * scale

    # scheduler
    put("scheduler.jobs", len(jobs), "count")
    put("scheduler.stages", len(stages), "count")
    put("scheduler.tasks", len(all_tasks), "count")
    idle = 0.0
    for s in traced:
        iv = [(t["t0"], t["t1"]) for jid, j in jobs.items() if j["sample"] == s["id"]
              for st in j["stages"] if stage_job.get(st) == jid for t in tasks[st]]
        idle += (s["t1"] - s["t0"]) - union_len(iv, s["t0"], s["t1"])
    put("scheduler.idle_s", idle / 1000.0, "s")

    # operators: the query functions and the eager actions they run
    queries = {s["id"] for s in traced if not is_stream(s["op"])}
    build = [p for s in traced if s["id"] in queries for p in s["phases"] if p[0] == "build"]
    put("operators.build_s", sum(p[2] - p[1] for p in build) / 1000.0, "s")
    eager = [j for j in jobs.values() if j["phase"] == "build" and j["sample"] in queries]
    put("operators.eager_jobs", len(eager), "count")
    put("operators.eager_queries", len({j["sample"] for j in eager}), "count")
    rel = [s["release"] for s in traced]
    put("checkpoints.blocks", sum(r[2] for r in rel), "count")
    put("checkpoints.bytes", sum(r[3] for r in rel), "bytes")
    put("checkpoints.release_s", sum(r[1] - r[0] for r in rel) / 1000.0, "s")

    # plans: QueryPlanningTracker phases of the executions the operations ran
    qes = [q for q in ev["qe"] if q["id"] in execs]

    def phase_s(name):
        return sum(q["phases"][name][1] - q["phases"][name][0]
                   for q in qes if name in q["phases"]) / 1000.0
    put("plans.analysis_s", phase_s("analysis"), "s")
    put("plans.optimize_s", phase_s("optimization"), "s")
    put("plans.physical_s", phase_s("planning"), "s")
    put("plans.codegen_compile_s",
        sum(p[3] for s in traced for p in s["phases"]) / 1e9, "s")

    # sources, shuffle, executor
    put("sources.bytes_read", tsum("in_bytes"), "bytes")
    put("sources.records_read", tsum("in_records"), "count")
    put("shuffle.write_bytes", tsum("sw_bytes"), "bytes")
    put("shuffle.read_bytes", tsum("sr_bytes"), "bytes")
    put("shuffle.records", tsum("sw_records"), "count")
    put("shuffle.write_s", tsum("sw_ns", 1e-9), "s")
    put("shuffle.fetch_wait_s", tsum("fetch_ms", 1e-3), "s")
    run_s = tsum("run_ms", 1e-3)
    put("executor.run_s", run_s, "s")
    put("executor.cpu_s", tsum("cpu_ns", 1e-9), "s")
    put("executor.gc_s", tsum("gc_ms", 1e-3), "s")
    put("executor.spill_bytes", tsum("spill"), "bytes")
    m["executor.peak_mem_mb"] = (max([t["peak_mem"] for t in all_tasks] or [0]) / 1048576.0, "MB")
    wall = sum(s["t1"] - s["t0"] for s in traced) / 1000.0
    m["executor.occupancy"] = (run_s / (wall * cores) if wall else 0.0, "ratio")

    # mr: stages classed by what their tasks did
    def agg(ts, key):
        return sum(t[key] for t in ts)
    kinds = defaultdict(list)   # class -> [(stage, tasks)]
    mr_jobs = {jid for jid, j in jobs.items() if j["phase"] in ("plan", "write")}
    for (sid, _), st in stages.items():
        if st["job"] in mr_jobs:
            ts = tasks[sid]
            if agg(ts, "in_bytes") > 0:
                kinds["map"].append((st, ts))
            elif agg(ts, "out_bytes") > 0:
                kinds["sort"].append((st, ts))
            elif agg(ts, "sr_bytes") > 0:
                kinds["reduce"].append((st, ts))

    def stage_s(kind):
        return sum(st["t1"] - st["t0"] for st, _ in kinds[kind]) / 1000.0

    def skew(kind):
        vals = []
        for _, ts in kinds[kind]:
            d = [t["t1"] - t["t0"] for t in ts if t["ok"]]
            if len(d) > 1 and statistics.median(d) > 0:
                vals.append(max(d) / statistics.median(d))
        return statistics.median(vals) if vals else 0.0
    put("mr.pairs", sum(agg(ts, "sw_records") for _, ts in kinds["map"]), "count")
    put("mr.map_stage_s", stage_s("map"), "s")
    put("mr.reduce_stage_s", stage_s("reduce"), "s")
    put("mr.sort_stage_s", stage_s("sort"), "s")
    m["mr.map_skew"] = (skew("map"), "ratio")
    m["mr.reduce_skew"] = (skew("reduce"), "ratio")

    # sink: the committed text output of MrJob.writeText. The final stage
    # both sorts (mr.sort_stage_s) and writes; the write is its task time
    # less SortExec's sort time and the shuffle fetch wait.
    out_tasks = [t for _, ts in kinds["sort"] for t in ts]
    write_ms = (agg(out_tasks, "run_ms") - sum(st.get("sort_ms", 0) for st, _ in kinds["sort"])
                - agg(out_tasks, "fetch_ms"))
    put("sink.write_s", max(0.0, write_ms) / 1000.0, "s")
    put("sink.bytes", agg(out_tasks, "out_bytes"), "bytes")
    # the commit: from the last output task's end to writeText's return
    commit = {}
    for s in traced:
        last = [t["t1"] for j in jobs.values() if j["sample"] == s["id"] and j["phase"] == "write"
                for st in j["stages"] for t in tasks[st] if t["out_bytes"] > 0]
        for p in s["phases"]:
            if p[0] == "write" and last:
                commit[s["id"]] = (max(last), p[2])
    put("sink.commit_s", sum(b - a for a, b in commit.values()) / 1000.0, "s")

    # streaming: StreamingQueryListener progress of each trigger
    def dms(t, *keys):
        return sum(t["ms"].get(k, 0) for k in keys)
    tex = [dms(t, "triggerExecution") for t in triggers]
    put("streaming.triggers", len(triggers), "count")
    m["streaming.trigger_p50_ms"] = (statistics.median(tex) if tex else 0.0, "ms")
    m["streaming.trigger_p90_ms"] = (quantile(tex, 0.9) if tex else 0.0, "ms")
    stream_jobs = [j for j in jobs.values() if j["group"] in runs]
    m["streaming.jobs_per_trigger"] = (len(stream_jobs) / len(triggers) if triggers else 0.0, "ratio")
    put("streaming.add_batch_ms", sum(dms(t, "addBatch") for t in triggers), "ms")
    put("streaming.planning_ms", sum(dms(t, "queryPlanning") for t in triggers), "ms")
    put("streaming.log_commit_ms", sum(dms(t, "walCommit", "commitOffsets") for t in triggers), "ms")
    put("streaming.source_ms", sum(dms(t, "getBatch", "latestOffset") for t in triggers), "ms")
    last = {}
    for t in triggers:
        if t["batch"] >= last.get(t["run"], {"batch": -1})["batch"]:
            last[t["run"]] = t
    put("streaming.state_rows", sum(t["state_rows"] for t in last.values()), "count")
    put("streaming.state_mem_bytes", sum(t["state_mem"] for t in last.values()), "bytes")
    put("streaming.state_commit_ms", sum(t["state_commit_ms"] for t in triggers), "ms")
    # staging and other first-execution costs of the gates, paid in set-up
    m["streaming.stage_s"] = (sum(max(0.0, t - plain.get(op, t))
                                  for op, t in res["prepare_s"] if is_stream(op)), "s")

    # self time per layer, from the span tree of each traced operation
    selfs = defaultdict(float)
    trig_of = defaultdict(list)
    for t in triggers:
        t0 = parse_ts(t["ts"])
        trig_of[runs[t["run"]]].append((t["run"], t0, t0 + dms(t, "triggerExecution")))
    for s in traced:
        root = Span("client", s["t0"], s["t1"])
        ph = {p[0]: Span(phase_layer(s["op"], p[0]), p[1], p[2], root)
              for p in s["phases"]}
        if s["id"] in commit:
            Span("sink", *commit[s["id"]], ph["write"])
        trig = [(run, Span("streaming", a, b, ph.get("build", root)))
                for run, a, b in trig_of[s["id"]]]
        for q in qes:
            sid, phase = execs[q["id"]]
            if sid == s["id"]:
                for a, b in q["phases"].values():
                    Span("plans", a, b, ph.get(phase, root))
        job_span = {}
        for jid, j in jobs.items():
            if j["sample"] != s["id"]:
                continue
            parent = ph.get(j["phase"]) if j["phase"] else None
            if parent is None:
                parent = next((sp for run, sp in trig if run == j["group"]
                               and sp.t0 <= j["t0"] <= sp.t1), ph.get("build", root))
            job_span[jid] = Span("scheduler", j["t0"], j["t1"], parent)
        for st in stages.values():
            if st["job"] in job_span:
                Span("executor", st["t0"], st["t1"], job_span[st["job"]])
        for sp in root.walk():
            selfs[sp.layer] += sp.self_ms()
    for layer in SELF_LAYERS:
        put(f"self.{layer}_s", selfs[layer] / 1000.0, "s")

    # tracing overhead: traced against untraced passes of the same run,
    # leaving out the first, which has no traced pass before it
    plain = op_medians([s for s in timed(res, False) if s["pass"] > 0])
    with_trace = op_medians(traced)
    common = [op for op in plain if op in with_trace]
    base = sum(plain[op] for op in common)
    m["trace.overhead_frac"] = (sum(with_trace[op] for op in common) / base - 1.0
                                if base else 0.0, "ratio")
    return m
