"""Pure metric arithmetic of the benchmark: percentiles with failures,
span trees and self time, and the end-to-end and per-layer metrics
computed from a run's records (the JSON lines `perfbench.Harness` writes).

All times in records are epoch milliseconds, except the op record's
`build_s` and `total_s`, which are seconds.
"""
import bisect
import math

INF = float("inf")

END_TO_END = [
    ("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s"), ("op_p50_s", "s"),
    ("op_p95_s", "s"), ("peak_rss_mb", "MB"),
]

# per-op layer metrics, each reported for the cold pass and the warm passes
LAYER_SPLIT = [
    ("build.s", "s"), ("build.jobs", "count"),
    ("plan.analysis_s", "s"), ("plan.optimization_s", "s"),
    ("plan.physical_s", "s"), ("plan.executions", "count"),
    ("plan.aqe_updates", "count"),
    ("sched.jobs", "count"), ("sched.stages", "count"),
    ("sched.tasks", "count"), ("sched.outside_jobs_s", "s"),
    ("exec.busy_share", "ratio"), ("exec.run_s", "s"), ("exec.cpu_s", "s"),
    ("exec.gc_s", "s"), ("exec.straggler_s", "s"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("spill.disk_bytes", "bytes"),
    ("broadcast.count", "count"), ("broadcast.build_s", "s"),
    ("io.input_bytes", "bytes"), ("io.output_bytes", "bytes"),
    ("io.files_discovered", "count"), ("sources.jobs", "count"),
    ("codegen.compiles", "count"), ("mem.cached_bytes", "bytes"),
    ("jvm.gc_s", "s"),
]
LAYER_ONCE = [("setup.session_s", "s"), ("setup.warmup_s", "s"),
              ("trace.overhead_share", "ratio")]


def per_layer_names():
    names = [(f"{n}.{phase}", u) for n, u in LAYER_SPLIT
             for phase in ("cold", "warm")]
    return LAYER_ONCE + names


def percentile(values, q):
    """Nearest-rank percentile. A failed op enters as INF, so it can only
    push a percentile up, never down."""
    if not values:
        return INF
    s = sorted(values)
    k = max(0, min(len(s) - 1, math.ceil(q * len(s)) - 1))
    return s[k]


def median(values):
    if not values:
        return INF
    s = sorted(values)
    n = len(s)
    if n % 2:
        return s[n // 2]
    lo, hi = s[n // 2 - 1], s[n // 2]
    return INF if INF in (lo, hi) else (lo + hi) / 2


def union_length(intervals, lo=-INF, hi=INF):
    """Length of the union of [start, end) intervals clipped to [lo, hi)."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end"] - span["start"]) - union_length(
        [(c["start"], c["end"]) for c in children], span["start"], span["end"])


def op_latency(ops):
    """Seconds of one op's executions: INF when any of them failed."""
    if any(not o["ok"] for o in ops):
        return INF
    return median([o["total_s"] for o in ops])


def end_to_end(records, setup_samples, rss_kb, repeated=True):
    """The end-to-end metrics of one untraced run. `setup_samples` are the
    set-up times of every JVM the run launched; the reported value is
    their median. With `repeated`, an op is one query run once per warm
    pass; otherwise each warm execution is an op of its own."""
    ops = [r for r in records if r["kind"] == "op"]
    cold = [o for o in ops if o["phase"] == "cold"]
    warm = {}
    for o in ops:
        if o["phase"] == "warm":
            warm.setdefault(o["name"] if repeated else o["pass"], []).append(o)
    per_op = [op_latency(v) for v in warm.values()]
    return {
        "setup_s": median(setup_samples),
        "cold_s": sum(INF if not o["ok"] else o["total_s"] for o in cold),
        "warm_s": sum(per_op) if per_op else INF,
        "op_p50_s": median(per_op),
        "op_p95_s": percentile(per_op, 0.95),
        "peak_rss_mb": rss_kb / 1024.0,
    }


def assign(times, windows):
    """Index of the window (sorted by start) holding each time, or None.
    Listener times are whole milliseconds, so a 1 ms slack is allowed."""
    starts = [w[0] for w in windows]
    out = []
    for t in times:
        i = bisect.bisect_right(starts, t + 1) - 1
        out.append(i if i >= 0 and t <= windows[i][1] + 1 else None)
    return out


def span_tree(records):
    """Spans op → build/action → SQL execution → job → stage, plus one
    planning span per QueryExecution under the build or action it ran in,
    each with its parent and self time in ms."""
    spans = []
    harness = []
    for i, o in enumerate(r for r in records if r["kind"] == "op"):
        start, end = o["start"], o["start"] + o["total_s"] * 1000
        mid = o["start"] + o["build_s"] * 1000
        spans.append({"id": f"op{i}", "parent": None, "kind": "op",
                      "name": o["name"], "phase": o["phase"],
                      "start": start, "end": end})
        for kind, a, b in (("build", start, mid), ("action", mid, end)):
            s = {"id": f"op{i}.{kind}", "parent": f"op{i}", "kind": kind,
                 "name": o["name"], "start": a, "end": b}
            spans.append(s)
            harness.append(s)
    harness.sort(key=lambda s: s["start"])
    windows = [(s["start"], s["end"]) for s in harness]

    def under_harness(kind, rs, key):
        for n, (r, i) in enumerate(zip(rs, assign([r["start"] for r in rs], windows))):
            spans.append({"id": f"{kind}{r[key] if key else n}",
                          "parent": harness[i]["id"] if i is not None else None,
                          "kind": kind, "name": r.get("func", kind),
                          "start": r["start"], "end": r["end"]})

    sqls = [r for r in records if r["kind"] == "sql"]
    roots = [r for r in sqls if r["root"] == r["id"]]
    under_harness("sql", roots, "id")
    for r in sqls:
        if r["root"] != r["id"]:
            spans.append({"id": f"sql{r['id']}", "parent": f"sql{r['root']}",
                          "kind": "sql", "name": "sql",
                          "start": r["start"], "end": r["end"]})
    under_harness("plan", [r for r in records if r["kind"] == "plan"
                           and r["start"] >= 0], None)
    jobs = [r for r in records if r["kind"] == "job"]
    known_sql = {s["id"] for s in spans if s["kind"] == "sql"}
    loose = [j for j in jobs if f"sql{j['exec']}" not in known_sql]
    under_harness("job", loose, "id")
    for j in jobs:
        if f"sql{j['exec']}" in known_sql:
            spans.append({"id": f"job{j['id']}", "parent": f"sql{j['exec']}",
                          "kind": "job", "name": "job",
                          "start": j["start"], "end": j["end"]})
    for st in records:
        if st["kind"] == "stage" and st["start"] >= 0:
            spans.append({"id": f"stage{st['id']}", "parent": f"job{st['job']}",
                          "kind": "stage", "name": "stage",
                          "start": st["start"], "end": st["end"]})
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    for s in spans:
        s["self_ms"] = self_time(s, children.get(s["id"], []))
    return spans


def layer_metrics(records, cores, repeated=True):
    """Per-layer metrics of one traced run: per op, summed over the cold
    pass, and over the warm executions (with `repeated`, divided by the
    number of warm passes)."""
    ops = [r for r in records if r["kind"] == "op"]
    windows = [(o["start"], o["start"] + o["total_s"] * 1000) for o in ops]
    per = [dict.fromkeys((n for n, _ in LAYER_SPLIT), 0.0) for _ in ops]
    for o, m in zip(ops, per):
        m["build.s"] = o["build_s"]
        m["io.files_discovered"] = o.get("files", 0)
        m["codegen.compiles"] = o.get("codegen", 0)
        m["jvm.gc_s"] = o.get("gc_ms", 0) / 1000
        m["plan.analysis_s"] = o.get("analysis_ms", 0) / 1000
    jobs = [r for r in records if r["kind"] == "job"]
    job_op = {}
    job_spans = [[] for _ in ops]
    for j, i in zip(jobs, assign([j["start"] for j in jobs], windows)):
        if i is None:
            continue
        job_op[j["id"]] = i
        job_spans[i].append((j["start"], j["end"]))
        m = per[i]
        m["sched.jobs"] += 1
        if j["start"] < ops[i]["start"] + ops[i]["build_s"] * 1000:
            m["build.jobs"] += 1
        if j["sources"]:
            m["sources.jobs"] += 1
    for st in records:
        if st["kind"] != "stage" or st["job"] not in job_op:
            continue
        m = per[job_op[st["job"]]]
        m["sched.stages"] += 1
        m["sched.tasks"] += st["tasks"]
        m["exec.run_s"] += st["run_ms"] / 1000
        m["exec.cpu_s"] += st["cpu_ns"] / 1e9
        m["exec.gc_s"] += st["gc_ms"] / 1000
        m["exec.straggler_s"] += st["straggler_ms"] / 1000
        m["shuffle.write_bytes"] += st["shuffle_write"]
        m["shuffle.read_bytes"] += st["shuffle_read"]
        m["spill.disk_bytes"] += st["spill_disk"]
        m["io.input_bytes"] += st["input"]
        m["io.output_bytes"] += st["output"]
    plans = [r for r in records if r["kind"] == "plan" and r["start"] >= 0]
    for p, i in zip(plans, assign([p["start"] for p in plans], windows)):
        if i is None:
            continue
        m = per[i]
        m["plan.executions"] += 1
        m["plan.analysis_s"] += p["analysis_ms"] / 1000
        m["plan.optimization_s"] += p["optimization_ms"] / 1000
        m["plan.physical_s"] += p["planning_ms"] / 1000
        m["broadcast.count"] += p["broadcasts"]
        m["broadcast.build_s"] += p["broadcast_ms"] / 1000
    aqe = [r for r in records if r["kind"] == "aqe"]
    for i in assign([a["t"] for a in aqe], windows):
        if i is not None:
            per[i]["plan.aqe_updates"] += 1
    for m, (lo, hi), spans in zip(per, windows, job_spans):
        m["sched.outside_jobs_s"] = (hi - lo - union_length(spans, lo, hi)) / 1000

    out = {}
    setup = next(r for r in records if r["kind"] == "setup")
    out["setup.session_s"] = setup["session_s"]
    out["setup.warmup_s"] = setup["warmup_s"]
    passes = {r["pass"]: r for r in records if r["kind"] == "pass"}
    for phase in ("cold", "warm"):
        idx = [i for i, o in enumerate(ops) if o["phase"] == phase]
        n_pass = 1
        if phase == "warm" and repeated:
            n_pass = max(1, len({ops[i]["pass"] for i in idx}))
        for name, _ in LAYER_SPLIT:
            out[f"{name}.{phase}"] = sum(per[i][name] for i in idx) / n_pass
        wall = sum(ops[i]["total_s"] for i in idx) / n_pass
        out[f"exec.busy_share.{phase}"] = (
            out[f"exec.run_s.{phase}"] / (cores * wall) if wall > 0 else 0.0)
        ps = [p for _, p in sorted(passes.items()) if p["phase"] == phase]
        out[f"mem.cached_bytes.{phase}"] = ps[-1]["cached_bytes"] if ps else 0
    return out
