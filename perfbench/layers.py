"""Per-layer metrics of a traced run.

The harness records spans around each call it makes into a layer (its
own files, not the library's), and a SparkListener plus a
QueryExecutionListener record jobs, stages and Catalyst phase times.
Jobs, stages and queries are placed in a pass by their start time; work
inside the harness's "check" spans is left out. Counts are those of the
first traced pass (they repeat exactly); times are medians over the
traced passes.
"""
import json
import os
import statistics

# reported in the JSON line under --trace 1 (BENCHMARK.json "per_layer")
JSON_METRICS = {
    "entry.build_s": "s", "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.job_s": "s", "sched.driver_gap_s": "s",
    "compute.run_s": "s", "compute.cpu_s": "s", "compute.gc_s": "s",
    "compute.skew": "ratio", "scan.bytes": "bytes", "scan.records": "count",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.write_records": "count", "spill.memory_bytes": "bytes",
    "spill.disk_bytes": "bytes", "self.entry_s": "s", "self.action_s": "s",
    "store.files": "count", "store.versions": "count",
    "store.jobs_per_commit": "count", "store.output_bytes": "bytes",
    "sink.output_bytes": "bytes", "closure.jobs": "count",
    "pagerank.jobs": "count", "nndescent.jobs": "count",
    "train.ivfpq_jobs": "count", "nndescent.recall_at_k": "ratio",
    "probe.recall_at_k": "ratio", "trace.overhead_frac": "ratio",
}
# counters that must repeat exactly between two traced runs of one seed
DETERMINISTIC = ["sched.jobs", "sched.stages", "sched.tasks",
                 "shuffle.write_records", "store.files"]
# wall of one named call, and the op whose jobs a count covers
CALL_SPANS = {
    "train.ivfpq_s": "Similarity.ivfPqIndex",
    "nndescent.s": "Similarity.knnGraphNnDescent",
    "store.build_s": "IndexStore.build", "store.append_s": "IndexStore.append",
    "store.compact_s": "IndexStore.maybeCompact",
    "store.forget_s": "IndexStore.forget", "store.vacuum_s": "IndexStore.vacuum",
    "store.open_s": "IndexStore.open", "sink.write_s": "write",
}
OP_JOBS = {"closure.jobs": "dedup_components_star", "pagerank.jobs": "pagerank",
           "nndescent.jobs": "nndescent", "train.ivfpq_jobs": "train"}


def _load(path):
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [json.loads(l) for l in fh if l.strip()]


def _union(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def _inside(t, intervals):
    return any(s <= t <= e for s, e in intervals)


def _ancestors(span, spans):
    by_id = {s["id"]: s for s in spans}
    out, cur = [], by_id.get(span["parent"])
    while cur is not None:
        out.append(cur)
        cur = by_id.get(cur["parent"])
    return out


def pass_figures(p, wall_s, spans, jobs, stages, queries, out):
    """Every per-layer figure of one traced pass."""
    mine = [s for s in spans if s["pass"] == p]
    root = next(s for s in mine if s["name"] == "pass")
    # Spark's events carry epoch times: place them with the spans' epoch
    # times ("wstart"/"wend"); durations come from the monotonic clock
    lo, hi = root["wstart"], root["wend"]
    checks = [(s["wstart"], s["wend"]) for s in mine
              if s["layer"] == "check"]
    work = [s for s in mine if s["layer"] != "check" and
            not any(c["layer"] == "check" for c in _ancestors(s, mine))]

    def within(t):
        return lo <= t <= hi and not _inside(t, checks)

    js = [j for j in jobs if within(j["start"])]
    ss = [s for s in stages if within(s["start"])]
    qs = [q for q in queries if within(q["start"])]
    f = {}
    f["sched.jobs"] = len(js)
    f["sched.stages"] = len(ss)
    f["sched.tasks"] = sum(s["tasks"] for s in ss)
    f["sched.job_s"] = sum(j["end"] - j["start"] for j in js) / 1e3
    f["sched.driver_gap_s"] = wall_s - _union(
        [(j["start"], j["end"]) for j in js]) / 1e3
    f["compute.run_s"] = sum(s["run_ms"] for s in ss) / 1e3
    f["compute.cpu_s"] = sum(s["cpu_ns"] for s in ss) / 1e9
    f["compute.gc_s"] = sum(s["gc_ms"] for s in ss) / 1e3
    longest = max(ss, key=lambda s: s["run_ms"], default=None)
    f["compute.skew"] = (longest["task_max_ms"] / longest["task_med_ms"]
                         if longest and longest["task_med_ms"] > 0 else 1.0)
    f["scan.bytes"] = sum(s["in_bytes"] for s in ss)
    f["scan.records"] = sum(s["in_records"] for s in ss)
    f["shuffle.write_bytes"] = sum(s["sw_bytes"] for s in ss)
    f["shuffle.read_bytes"] = sum(s["sr_bytes"] for s in ss)
    f["shuffle.write_records"] = sum(s["sw_records"] for s in ss)
    f["shuffle.fetch_wait_s"] = sum(s["fetch_wait_ms"] for s in ss) / 1e3
    f["spill.memory_bytes"] = sum(s["spill_mem"] for s in ss)
    f["spill.disk_bytes"] = sum(s["spill_disk"] for s in ss)
    for ph in ("analysis", "optimization", "planning"):
        f[f"plan.{ph}_ms"] = float(sum(q[f"{ph}_ms"] for q in qs))

    # self time per layer: a span's duration minus what its children cover
    kids = {}
    for s in work:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    selfs = {}
    for s in work:
        own = (s["end"] - s["start"]) - _union(kids.get(s["id"], []))
        selfs[s["layer"]] = selfs.get(s["layer"], 0.0) + own / 1e3
    for layer, v in selfs.items():
        f[f"self.{layer}_s"] = v
    f["entry.build_s"] = sum(s["end"] - s["start"] for s in work
                             if s["layer"] == "entry") / 1e3

    for metric, name in CALL_SPANS.items():
        calls = [s["end"] - s["start"] for s in work if s["name"] == name]
        if calls:
            f[metric] = statistics.mean(calls) / 1e3

    def jobs_in(name):
        spans_ = [(s["wstart"], s["wend"]) for s in work
                  if s["layer"] == "op" and s["name"] == name]
        return sum(1 for j in js if _inside(j["start"], spans_)), len(spans_)
    for metric, op in OP_JOBS.items():
        f[metric] = jobs_in(op)[0]
    n, calls = jobs_in("append")
    f["store.jobs_per_commit"] = n / calls if calls else 0.0

    def out_bytes(layer):
        spans_ = [(s["wstart"], s["wend"]) for s in work
                  if s["layer"] == layer]
        return sum(s["out_bytes"] for s in ss if _inside(s["start"], spans_))
    f["store.output_bytes"] = out_bytes("store")
    # bytes the text sink left on disk
    f["sink.output_bytes"] = 0
    sink = os.path.join(out, "wordcount", f"pass-{p}", "sink_bytes.txt")
    if os.path.exists(sink):
        with open(sink) as fh:
            f["sink.output_bytes"] = int(fh.read().strip())
    ev = os.path.join(out, "ann", f"pass-{p}", "events.tsv")
    f["store.files"] = f["store.versions"] = 0
    if os.path.exists(ev):
        with open(ev) as fh:
            kv = dict(l.rstrip("\n").split("\t") for l in fh if l.strip())
        f["store.files"] = int(kv["files"])
        f["store.versions"] = int(kv["versions"])
    return f


def per_layer(result, trace_dir, quality):
    """{metric: (value, unit)} for a traced run."""
    spans = _load(os.path.join(trace_dir, "spans.jsonl"))
    jobs = _load(os.path.join(trace_dir, "jobs.jsonl"))
    stages = _load(os.path.join(trace_dir, "stages.jsonl"))
    queries = _load(os.path.join(trace_dir, "queries.jsonl"))
    out = os.path.dirname(trace_dir)
    timed = [p for p in result["passes"] if not p["warmup"]]
    traced = [p for p in timed if p["traced"]]
    # a run whose time ran out before an untraced timed pass compares with
    # its (colder) warm-up pass instead, which understates the overhead
    plain = ([p for p in timed if not p["traced"]]
             or [p for p in result["passes"] if p["warmup"]])
    figs = [pass_figures(p["pass"], p["wall_s"], spans, jobs, stages,
                         queries, out) for p in traced]
    per = {}
    for k in sorted({k for f in figs for k in f}):
        vals = [f[k] for f in figs if k in f]
        first = figs[0].get(k)
        counted = isinstance(first, int)
        v = first if counted else statistics.median(vals)
        unit = JSON_METRICS.get(k) or (
            "s" if k.endswith("_s") or k in CALL_SPANS else "ratio")
        per[k] = (v, unit)
    for k in ("nndescent.recall_at_k", "probe.recall_at_k"):
        per[k] = (quality.get(k, 0.0), "ratio")
    wall_t = statistics.median(p["wall_s"] for p in traced)
    wall_u = statistics.median(p["wall_s"] for p in plain)
    per["trace.overhead_frac"] = (wall_t / wall_u - 1.0, "ratio")
    per["wall_s.traced"] = (wall_t, "s")
    per["wall_s.untraced"] = (wall_u, "s")
    for k in JSON_METRICS:
        per.setdefault(k, (0, JSON_METRICS[k]))
    return per


def report(per):
    lines = ["per-layer metrics (counts: first traced pass; "
             "times: median over traced passes)"]
    for k in sorted(per):
        v, unit = per[k]
        lines.append(f"  {k:<24} {v:.6g} {unit}")
    return lines
