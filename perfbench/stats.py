"""Statistics over one harness result: end-to-end metrics, per-layer
metrics of the traced passes, and span self times.

The harness writes raw records only (samples, passes, jobs, stages, SQL
executions, stream batches); every number the benchmark prints is derived
here, so the rules are testable without a Spark session.
"""
import math
import statistics
from collections import defaultdict

# a percentile is reported only with at least MIN_TAIL samples beyond it
MIN_TAIL = 10
LATENCY_PCT = 50


class TooFewSamples(ValueError):
    pass


def percentile(values, pct, min_tail=MIN_TAIL):
    """The pct-th percentile (nearest rank) of `values`, refusing when fewer
    than `min_tail` samples lie beyond it."""
    n = len(values)
    beyond = n - (n * pct + 99) // 100  # samples above the nearest rank
    if n == 0 or beyond < min_tail:
        raise TooFewSamples(
            f"p{pct} of {n} samples has {max(beyond, 0)} beyond it, "
            f"needs {min_tail}")
    return sorted(values)[-beyond - 1]


def latencies(res):
    """{query: [latency of each untraced timed execution that succeeded]}."""
    untraced = {p["pass"] for p in res["passes"] if p["traced"] is False}
    out = defaultdict(list)
    for s in res["samples"]:
        if s["pass"] in untraced and not s["error"]:
            out[s["query"]].append(s["build_s"] + s["exec_s"])
    return out


def end_to_end(res):
    """The end-to-end metrics of an untraced run, and the pooled latency
    median with its sample count (reported, not bounded: it sits on
    whichever query is in the middle of the list, so it moves with that
    one query's noise; None when it has fewer than MIN_TAIL beyond it)."""
    per_query = latencies(res)
    pooled = [x for v in per_query.values() for x in v]
    metrics = {
        "setup_s": statistics.median(res["setup_s"]),
        "pass_s": statistics.median(
            p["wall_s"] for p in res["passes"] if p["traced"] is False),
        "query_s.geomean": math.exp(statistics.fmean(
            math.log(statistics.median(v)) for v in per_query.values())),
        "retained_heap_mb": res["passes"][-1]["heap_mb"],
    }
    try:
        p50 = percentile(pooled, LATENCY_PCT)
    except TooFewSamples:
        p50 = None
    return metrics, {f"query_s.p{LATENCY_PCT}": p50, "latency_samples": len(pooled)}


def parse_group(g):
    """'pb:<pass>:<qi>:<phase>' -> (pass, qi, phase); None for other work."""
    parts = g.split(":") if g else []
    if len(parts) != 4 or parts[0] != "pb" or not parts[1].isdigit():
        return None
    return int(parts[1]), int(parts[2]), parts[3]


def _union_ms(intervals):
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def _clip(iv, lo, hi):
    a, b = max(iv[0], lo), min(iv[1], hi)
    return (a, b) if b > a else None


LAYER_METRICS = [
    "entry.build_s", "entry.build_jobs",
    "plan.analyze_s", "plan.optimize_s", "plan.physical_s",
    "plan.graft_nodes", "plan.exchanges",
    "exec.s", "exec.driver_gap_s",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.tasks_per_stage_max",
    "sched.delay_s",
    "task.run_s", "task.cpu_s", "task.gc_s", "task.skew", "task.failed",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_s",
    "spill.mem_bytes", "spill.disk_bytes",
    "io.read_bytes", "io.read_files", "io.write_files", "io.write_bytes",
    "io.bytes_per_written_file",
    "stream.batches", "stream.trigger_s", "stream.plan_s",
    "stream.addbatch_s", "stream.commit_s", "stream.state_rows",
]
SPAN_LAYERS = ["query", "build", "plan", "execute", "stream_batch", "job", "stage"]
TRACE_METRICS = (LAYER_METRICS + [f"self_s.{l}" for l in SPAN_LAYERS]
                 + ["trace.overhead_frac", "run.failed_frac"])


def layer_metrics_by_pass(res):
    """Per traced pass, the per-layer totals of that pass."""
    traced = sorted(p["pass"] for p in res["passes"] if p["traced"])
    m = {p: defaultdict(float) for p in traced}

    def by_pass(rec):
        g = parse_group(rec["group"])
        return g[0] if g else None

    for s in res["samples"]:
        if s["pass"] in m:
            m[s["pass"]]["entry.build_s"] += s["build_s"]
            m[s["pass"]]["exec.s"] += s["exec_s"]
    for e in res.get("execs", []):
        p = by_pass(e)
        if p in m:
            d = m[p]
            d["plan.analyze_s"] += e["analyze_ms"] / 1e3
            d["plan.optimize_s"] += e["optimize_ms"] / 1e3
            d["plan.physical_s"] += e["physical_ms"] / 1e3
            d["plan.graft_nodes"] += e["graft_nodes"]
            d["plan.exchanges"] += e["exchanges"]
            d["io.read_files"] += e["read_files"]
            d["io.write_files"] += e["write_files"]
            d["io.write_bytes"] += e["write_bytes"]
    for j in res.get("jobs", []):
        g = parse_group(j["group"])
        if g and g[0] in m:
            m[g[0]]["sched.jobs"] += 1
            if g[2] == "build":
                m[g[0]]["entry.build_jobs"] += 1
    skew = defaultdict(float)
    for st in res.get("stages", []):
        p = by_pass(st)
        if p not in m:
            continue
        d = m[p]
        d["sched.stages"] += 1
        d["sched.tasks"] += st["tasks"]
        d["sched.tasks_per_stage_max"] = max(d["sched.tasks_per_stage_max"], st["tasks"])
        d["sched.delay_s"] += st["delay_ms"] / 1e3
        d["task.run_s"] += st["run_ms"] / 1e3
        d["task.cpu_s"] += st["cpu_ns"] / 1e9
        d["task.gc_s"] += st["gc_ms"] / 1e3
        d["task.failed"] += st["failed"]
        d["shuffle.write_bytes"] += st["shuffle_write"]
        d["shuffle.read_bytes"] += st["shuffle_read"]
        d["shuffle.fetch_wait_s"] += st["fetch_wait_ms"] / 1e3
        d["spill.mem_bytes"] += st["spill_mem"]
        d["spill.disk_bytes"] += st["spill_disk"]
        d["io.read_bytes"] += st["read_bytes"]
        if st["tasks"] >= 2 and st["task_median_ms"] > 0:
            skew[p] = max(skew[p], st["task_max_ms"] / st["task_median_ms"])
    for b in res.get("batches", []):
        p = by_pass(b)
        if p in m:
            d = m[p]
            d["stream.batches"] += 1
            d["stream.trigger_s"] += b["trigger_ms"] / 1e3
            d["stream.plan_s"] += b["plan_ms"] / 1e3
            d["stream.addbatch_s"] += b["addbatch_ms"] / 1e3
            d["stream.commit_s"] += b["commit_ms"] / 1e3
            d["stream.state_rows"] += b["state_rows"]
    spans = build_spans(res)
    self_by_pass = self_times(spans)
    for p, d in m.items():
        d["task.skew"] = skew[p]
        d["io.bytes_per_written_file"] = (
            d["io.write_bytes"] / d["io.write_files"] if d["io.write_files"] else 0.0)
        d["exec.driver_gap_s"] = driver_gap(res, p)
        for layer in SPAN_LAYERS:
            d[f"self_s.{layer}"] = self_by_pass.get(p, {}).get(layer, 0.0)
    return m


def _plan_intervals(res):
    """{(pass, qi, phase): [(start_ms, end_ms)]} of the Catalyst planning of
    each SQL execution, from its planning tracker."""
    out = defaultdict(list)
    for e in res.get("execs", []):
        g = parse_group(e["group"])
        if g and e["plan_end_ms"] >= e["plan_start_ms"] > 0:
            out[g].append((e["plan_start_ms"], e["plan_end_ms"]))
    return out


def driver_gap(res, p):
    """Execute-phase wall time of pass p covered neither by one of its jobs
    nor by Catalyst planning."""
    busy = defaultdict(list)
    for (gp, qi, phase), ivs in _plan_intervals(res).items():
        if gp == p and phase == "execute":
            busy[qi] += ivs
    for j in res.get("jobs", []):
        g = parse_group(j["group"])
        if g and g[0] == p and g[2] == "execute" and j["end_ms"] >= j["start_ms"]:
            busy[g[1]].append((j["start_ms"], j["end_ms"]))
    gap = 0.0
    for s in res["samples"]:
        if s["pass"] != p:
            continue
        lo = s["start_us"] / 1e3 + s["build_s"] * 1e3
        hi = lo + s["exec_s"] * 1e3
        covered = _union_ms(filter(None, (_clip(iv, lo, hi) for iv in busy[s["qi"]])))
        gap += (hi - lo - covered) / 1e3
    return gap


def build_spans(res):
    """Spans of the traced passes: query > build|execute > plan|
    [stream_batch >] job > stage, where plan is the Catalyst planning of the
    execute phase's SQL executions. Times in ms since the epoch."""
    traced = {p["pass"] for p in res["passes"] if p["traced"]}
    spans, phase_id = [], {}

    def add(layer, name, start, end, parent, p):
        spans.append({"id": len(spans), "parent": parent, "layer": layer,
                      "name": name, "start_ms": start, "end_ms": end, "pass": p})
        return len(spans) - 1

    for s in res["samples"]:
        p = s["pass"]
        if p not in traced:
            continue
        t = s["start_us"] / 1e3
        qid = add("query", s["query"], t,
                  t + (s["build_s"] + s["exec_s"]) * 1e3, None, p)
        for phase in ("build", "execute"):
            dur = s["build_s" if phase == "build" else "exec_s"] * 1e3
            phase_id[(p, s["qi"], phase)] = add(phase, s["query"], t, t + dur, qid, p)
            t += dur
    for g, ivs in _plan_intervals(res).items():
        if g[2] == "execute" and g in phase_id:
            parent = spans[phase_id[g]]
            for iv in ivs:
                iv = _clip(iv, parent["start_ms"], parent["end_ms"])
                if iv:
                    add("plan", parent["name"], iv[0], iv[1], parent["id"], g[0])
    batch_ids = defaultdict(list)
    for b in res.get("batches", []):
        g = parse_group(b["group"])
        if g and (g[0], g[1], g[2]) in phase_id:
            parent = phase_id[(g[0], g[1], g[2])]
            bid = add("stream_batch", "batch", b["start_ms"],
                      b["start_ms"] + b["trigger_ms"], parent, g[0])
            batch_ids[parent].append(bid)
    job_id = {}
    for j in res.get("jobs", []):
        g = parse_group(j["group"])
        if not g or (g[0], g[1], g[2]) not in phase_id or j["end_ms"] < j["start_ms"]:
            continue
        parent = phase_id[(g[0], g[1], g[2])]
        for bid in batch_ids[parent]:
            b = spans[bid]
            if b["start_ms"] <= j["start_ms"] and j["end_ms"] <= b["end_ms"]:
                parent = bid
                break
        job_id[j["id"]] = add("job", f"job {j['id']}", j["start_ms"], j["end_ms"], parent, g[0])
    # stages hang under the earliest job of their group that covers them
    jobs_by_group = defaultdict(list)
    for j in res.get("jobs", []):
        if j["id"] in job_id:
            jobs_by_group[j["group"]].append(spans[job_id[j["id"]]])
    for st in res.get("stages", []):
        if st["submit_ms"] <= 0 or st["done_ms"] < st["submit_ms"]:
            continue
        for js in jobs_by_group.get(st["group"], []):
            if js["start_ms"] <= st["submit_ms"] <= js["end_ms"]:
                add("stage", f"stage {st['id']}", st["submit_ms"], st["done_ms"],
                    js["id"], js["pass"])
                break
    return spans


def self_times(spans):
    """Per pass and layer, the summed self time in seconds: a span's
    duration minus the part of it its children cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start_ms"], s["end_ms"]))
    out = defaultdict(lambda: defaultdict(float))
    for s in spans:
        lo, hi = s["start_ms"], s["end_ms"]
        covered = _union_ms(filter(None, (_clip(c, lo, hi) for c in children[s["id"]])))
        out[s["pass"]][s["layer"]] += max(0.0, hi - lo - covered) / 1e3
    return out


def trace_metrics(res):
    """The per-layer metrics of a traced run: each the median over traced
    passes of the pass total, plus the tracing overhead (median traced
    pass over median untraced pass, minus one)."""
    by_pass = layer_metrics_by_pass(res)
    out = {k: statistics.median(d[k] for d in by_pass.values())
           for k in LAYER_METRICS + [f"self_s.{l}" for l in SPAN_LAYERS]}
    walls = lambda t: [p["wall_s"] for p in res["passes"] if p["traced"] is t]
    out["trace.overhead_frac"] = (statistics.median(walls(True))
                                  / statistics.median(walls(False)) - 1.0)
    return out
