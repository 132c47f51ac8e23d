"""Arithmetic of the benchmark: percentiles, span self time, and the
end-to-end and per-layer metrics built from one run's raw record (the JSON
the JVM side, perfbench/src/Runner.scala, writes)."""
import statistics

MIB = 1048576.0

# Trigger phases in the order MicroBatchExecution runs them; a progress
# event gives only their durations, so their spans are laid end to end
# from the trigger's start in this order.
TRIGGER_PHASES = ["latestOffset", "getOffset", "walCommit", "getBatch",
                  "queryPlanning", "addBatch", "commitOffsets", "commitBatch"]

# (name, unit) of every per-layer metric, in report order.
LAYER_METRICS = [
    ("ops.build_ms", "ms"), ("ops.build_self_ms", "ms"), ("ops.build_jobs", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("codegen.compiles", "count"), ("codegen.compile_ms", "ms"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.outside_jobs_ms", "ms"),
    ("scheduler.delay_ms", "ms"), ("scheduler.tiny_task_share", "ratio"),
    ("scheduler.slot_busy", "ratio"),
    ("exec.run_ms", "ms"), ("exec.cpu_ms", "ms"), ("exec.gc_ms", "ms"),
    ("exec.peak_mem_mb", "MB"),
    # no fetch-wait time: under local[N] every shuffle read is local
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.spill_bytes", "bytes"),
    ("io.input_bytes", "bytes"), ("io.input_records", "count"),
    ("io.output_bytes", "bytes"), ("io.output_records", "count"),
    ("io.write_p50_ms", "ms"),
    ("streaming.triggers", "count"), ("streaming.trigger_p50_ms", "ms"),
    ("streaming.source_ms", "ms"), ("streaming.plan_ms", "ms"),
    ("streaming.addbatch_ms", "ms"), ("streaming.commit_ms", "ms"),
    ("streaming.outside_triggers_ms", "ms"), ("streaming.state_rows", "count"),
    ("streaming.state_commit_ms", "ms"),
    ("jvm.gc_ms", "ms"), ("jvm.jit_ms", "ms"), ("jvm.heap_peak_mb", "MB"),
    ("driver.ms", "ms"),
]
# Metrics the cold pass moves most (compilation, class loading, first
# translation); reported for pass 1 as well, under a "cold." prefix.
COLD_METRICS = ["ops.build_ms", "ops.build_self_ms", "catalyst.analysis_ms",
                "catalyst.optimization_ms", "catalyst.planning_ms",
                "codegen.compiles", "codegen.compile_ms", "jvm.gc_ms", "jvm.jit_ms"]
TRACE_METRICS = [("trace.traced_warm_pass_s", "s"),
                 ("trace.untraced_warm_pass_s", "s"), ("trace.overhead_ratio", "ratio")]
PER_LAYER = (LAYER_METRICS + [("cold." + m, dict(LAYER_METRICS)[m]) for m in COLD_METRICS]
             + TRACE_METRICS)


def percentile(values, q):
    """q-th percentile (0..100) by linear interpolation between ranks."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def harrell_davis_median(values):
    """Harrell-Davis estimate of the median: the mean of the order statistics
    weighted by a Beta((n+1)/2, (n+1)/2) distribution over their ranks.
    Unlike the sample median of a few values, it does not jump from one
    value to its neighbour when two values near the middle swap order."""
    xs = sorted(values)
    n = len(xs)
    a = (n + 1) / 2.0

    def mass(lo, hi, steps=64):
        # Simpson's rule over the unnormalised Beta(a, a) density
        h = (hi - lo) / steps
        f = [(lo + k * h) ** (a - 1) * (1 - lo - k * h) ** (a - 1) for k in range(steps + 1)]
        return h / 3 * (f[0] + f[-1] + 4 * sum(f[1:-1:2]) + 2 * sum(f[2:-1:2]))

    w = [mass(i / n, (i + 1) / n) for i in range(n)]
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def tail_percentile(values):
    """Highest of p99/p95/p90/p75 with at least ten samples above it, as
    (q, value), or None when even p75 has fewer than ten."""
    for q in (99, 95, 90, 75):
        if len(values) * (100 - q) / 100.0 >= 10:
            return q, percentile(values, q)
    return None


def covered(intervals, start, end):
    """Length of the union of intervals, clipped to [start, end]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    children cover. spans: dicts with id, parent, start, end."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(kids.get(s["id"], []), s["start"], s["end"]) for s in spans}


def end_to_end(raw):
    """End-to-end metrics of an untraced run (all in seconds except memory)."""
    passes = raw["passes"]
    warm = [p for p in passes[1:] if not p["traced"]]
    samples = [q["total_s"] for p in warm for q in p["queries"]]
    return {
        "setup_s": (raw["setup_s"], "s"),
        "cold_pass_s": (passes[0]["wall_s"], "s"),
        "warm_pass_s": (statistics.median(p["wall_s"] for p in warm), "s"),
        "query_p50_s": (harrell_davis_median(samples), "s"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }


def _window_index(passes):
    """Query executions of the traced passes, sorted by start time."""
    qs = [dict(q, pass_=p["pass"]) for p in passes if p["traced"] for q in p["queries"]]
    return sorted(qs, key=lambda q: q["start_ms"])


def _owner(windows, t):
    for q in windows:
        if q["start_ms"] <= t <= q["end_ms"]:
            return q
    return None


def build_spans(raw):
    """Spans of every traced query execution, grouped by (pass, name), and
    the task events of each. A span: id, name, parent, start, end (epoch ms)."""
    windows = _window_index(raw["passes"])
    by_key = {(q["pass_"], q["name"]): q for q in windows}
    spans = {k: [] for k in by_key}
    ids = iter(range(1, 1 << 62))

    def add(key, name, parent, start, end, **extra):
        sid = next(ids)
        spans[key].append(dict(id=sid, name=name, parent=parent, start=start,
                               end=max(start, end), **extra))
        return sid

    root, build = {}, {}
    for k, q in by_key.items():
        root[k] = add(k, "query", None, q["start_ms"], q["end_ms"])
        build[k] = add(k, "ops.build", root[k], q["start_ms"], q["build_end_ms"])

    def parent_in_query(k, t):
        return build[k] if t < by_key[k]["build_end_ms"] else root[k]

    events = (raw.get("trace") or [])
    addbatch = {}
    for e in events:
        if e["type"] == "phase" and e["phase"] in ("analysis", "optimization", "planning"):
            q = _owner(windows, e["start_ms"])
            if q:
                k = (q["pass_"], q["name"])
                add(k, "catalyst." + e["phase"], parent_in_query(k, e["start_ms"]),
                    e["start_ms"], e["end_ms"])
        elif e["type"] == "trigger":
            q = _owner(windows, e["start_ms"])
            if q:
                k = (q["pass_"], q["name"])
                d = e["durations"]
                t0 = e["start_ms"]
                tid = add(k, "streaming.trigger", parent_in_query(k, t0), t0,
                          t0 + d.get("triggerExecution", 0), run=e["run"],
                          state_rows=e["state_rows"], state_commit_ms=e["state_commit_ms"],
                          durations=d)
                t = t0
                for ph in TRIGGER_PHASES:
                    if ph in d:
                        sid = add(k, "streaming." + ph, tid, t, t + d[ph])
                        if ph == "addBatch":
                            addbatch.setdefault(k, []).append((t, t + d[ph], sid))
                        t += d[ph]

    job_start = {e["job"]: e for e in events if e["type"] == "job_start"}
    job_end = {e["job"]: e["time_ms"] for e in events if e["type"] == "job_end"}
    job_span, stage_job = {}, {}
    for j, e in job_start.items():
        key = None
        if e["qid"]:
            p, n = e["qid"].split(":", 1)
            key = (int(p), n)
        if key not in by_key:
            q = _owner(windows, e["time_ms"])
            key = (q["pass_"], q["name"]) if q else None
        if key is None:
            continue
        t = e["time_ms"]
        parent = next((sid for s, en, sid in addbatch.get(key, []) if s <= t <= en),
                      parent_in_query(key, t))
        job_span[j] = (key, add(key, "job", parent, t, job_end.get(j, t), job=j))
        for st in e["stages"]:
            stage_job[st] = j
    for e in events:
        if e["type"] == "stage" and e["stage"] in stage_job:
            key, jid = job_span[stage_job[e["stage"]]]
            add(key, "stage", jid, e["start_ms"], e["end_ms"], tasks=e["tasks"])
    tasks = {}
    for e in events:
        if e["type"] == "task" and e["stage"] in stage_job:
            tasks.setdefault(job_span[stage_job[e["stage"]]][0], []).append(e)
    return by_key, spans, tasks


def query_layers(q, spans, tasks, cores):
    """Per-layer metrics of one traced query execution."""
    st = self_times(spans)
    byname = {}
    for s in spans:
        byname.setdefault(s["name"], []).append(s)
    build = byname["ops.build"][0]
    root = byname["query"][0]
    jobs = byname.get("job", [])
    trig = byname.get("streaming.trigger", [])
    in_jobs = covered([(j["start"], j["end"]) for j in jobs], root["start"], root["end"])
    task_ms = [t["end_ms"] - t["start_ms"] for t in tasks]
    c = q["counters"]

    def dsum(name):
        return float(sum(s["end"] - s["start"] for s in byname.get(name, [])))

    def tsum(field):
        return float(sum(t[field] for t in tasks))

    last_state = {}
    for t in trig:
        last_state[t["run"]] = t["state_rows"]
    trig_ms = [t["end"] - t["start"] for t in trig]
    m = {
        "ops.build_ms": q["build_s"] * 1e3,
        "ops.build_self_ms": float(st[build["id"]]),
        "ops.build_jobs": float(sum(1 for j in jobs if j["start"] < build["end"])),
        "catalyst.analysis_ms": dsum("catalyst.analysis"),
        "catalyst.optimization_ms": dsum("catalyst.optimization"),
        "catalyst.planning_ms": dsum("catalyst.planning"),
        "codegen.compiles": c.get("codegen.compiles", 0.0),
        "codegen.compile_ms": c.get("codegen.compile_ms", 0.0),
        "scheduler.jobs": float(len(jobs)),
        "scheduler.stages": float(len(byname.get("stage", []))),
        "scheduler.tasks": float(len(tasks)),
        "scheduler.outside_jobs_ms": float(root["end"] - root["start"] - in_jobs),
        "scheduler.delay_ms": tsum("delay_ms"),
        # ratio parts; divided after summing over a pass
        "_tiny_tasks": float(sum(1 for d in task_ms if d < 10)),
        "_task_ms": float(sum(task_ms)),
        "_slot_ms": float(in_jobs * cores),
        "exec.run_ms": tsum("run_ms"),
        "exec.cpu_ms": tsum("cpu_ms"),
        "exec.gc_ms": tsum("gc_ms"),
        "exec.peak_mem_mb": max((t["peak_mem"] for t in tasks), default=0) / MIB,
        "shuffle.write_bytes": tsum("shuffle_write"),
        "shuffle.read_bytes": tsum("shuffle_read"),
        "shuffle.spill_bytes": tsum("spill"),
        "io.input_bytes": tsum("in_bytes"),
        "io.input_records": tsum("in_records"),
        "io.output_bytes": tsum("out_bytes"),
        "io.output_records": tsum("out_records"),
        "streaming.triggers": float(len(trig)),
        "_trigger_ms": trig_ms,
        "streaming.source_ms": float(sum(t["durations"].get(k, 0) for t in trig
                                         for k in ("latestOffset", "getOffset", "getBatch"))),
        "streaming.plan_ms": float(sum(t["durations"].get("queryPlanning", 0) for t in trig)),
        "streaming.addbatch_ms": float(sum(t["durations"].get("addBatch", 0) for t in trig)),
        "streaming.commit_ms": float(sum(t["durations"].get(k, 0) for t in trig
                                         for k in ("walCommit", "commitOffsets", "commitBatch"))),
        "streaming.outside_triggers_ms":
            float(root["end"] - root["start"] - sum(trig_ms)) if trig else 0.0,
        "streaming.state_rows": float(sum(last_state.values())),
        "streaming.state_commit_ms": float(sum(t["state_commit_ms"] for t in trig)),
        "jvm.gc_ms": c.get("jvm.gc_ms", 0.0),
        "jvm.jit_ms": c.get("jvm.jit_ms", 0.0),
        "jvm.heap_peak_mb": c.get("jvm.heap_peak_mb", 0.0),
        "driver.ms": float(st[root["id"]]),
        "_total_ms": q["total_s"] * 1e3,
    }
    return m


def finish(parts, writes):
    """Combine per-query metrics (name -> metrics) of one pass."""
    out = {}
    for name, _ in LAYER_METRICS:
        if name in ("exec.peak_mem_mb", "jvm.heap_peak_mb"):
            out[name] = max((m[name] for m in parts.values()), default=0.0)
        elif name == "scheduler.tiny_task_share":
            tasks = sum(m["scheduler.tasks"] for m in parts.values())
            out[name] = sum(m["_tiny_tasks"] for m in parts.values()) / tasks if tasks else 0.0
        elif name == "scheduler.slot_busy":
            slots = sum(m["_slot_ms"] for m in parts.values())
            out[name] = sum(m["_task_ms"] for m in parts.values()) / slots if slots else 0.0
        elif name == "streaming.trigger_p50_ms":
            ts = [t for m in parts.values() for t in m["_trigger_ms"]]
            out[name] = float(statistics.median(ts)) if ts else 0.0
        elif name == "io.write_p50_ms":
            ws = [m["_total_ms"] for n, m in parts.items() if n in writes]
            out[name] = float(statistics.median(ws)) if ws else 0.0
        else:
            out[name] = float(sum(m[name] for m in parts.values()))
    return out


def layers(raw, cores, writes):
    """Per-layer metrics of a traced run: medians over the traced warm
    passes, pass 1 under "cold.", the tracing overhead, and the same split
    per query (cold and warm median)."""
    by_key, spans, tasks = build_spans(raw)
    per_pass, per_query = {}, {}
    for (p, n), q in by_key.items():
        m = query_layers(q, spans[(p, n)], tasks.get((p, n), []), cores)
        per_pass.setdefault(p, {})[n] = m
        per_query.setdefault(n, {})[p] = m
    warm_passes = sorted(p for p in per_pass if p != 1)
    pass_metrics = {p: finish(per_pass[p], writes) for p in per_pass}
    out = {name: statistics.median(pass_metrics[p][name] for p in warm_passes)
           for name, _ in LAYER_METRICS}
    for name in COLD_METRICS:
        out["cold." + name] = pass_metrics[1][name]
    walls = {True: [], False: []}
    for p in raw["passes"][1:]:
        walls[p["traced"]].append(p["wall_s"])
    out["trace.traced_warm_pass_s"] = statistics.median(walls[True])
    out["trace.untraced_warm_pass_s"] = statistics.median(walls[False])
    out["trace.overhead_ratio"] = (out["trace.traced_warm_pass_s"]
                                   / out["trace.untraced_warm_pass_s"])
    queries = {}
    for n, ps in per_query.items():
        one = {p: finish({n: m}, writes) for p, m in ps.items()}
        warm = [one[p] for p in one if p != 1]
        queries[n] = {
            "cold": one.get(1),
            "warm_median": {k: statistics.median(w[k] for w in warm) for k, _ in LAYER_METRICS}
            if warm else None,
        }
    flat = [dict(s, pass_=p, query=n) for (p, n), ss in spans.items() for s in ss]
    return out, queries, flat
