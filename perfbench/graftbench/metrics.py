"""Turns a Driver result into the benchmark's metrics.

End-to-end metrics come from untraced passes; per-layer metrics from the
traced passes of a traced run (see README.md for every definition).
"""
import math
import statistics

TAIL_BEYOND = 10          # samples that must lie beyond the tail percentile
TINY_SHUFFLE_BYTES = 1024  # "almost no shuffle read"
FAILED = math.inf         # a failed call is slower than any limit
OVER_LIMIT_S = 1e9        # reported in place of an infinite percentile


def median(xs):
    return statistics.median(xs)


def tail_percentile(n, beyond=TAIL_BEYOND):
    """Highest whole percentile p such that a sample of `n` keeps at least
    `beyond` values above its p-th percentile; None when n is too small."""
    if n <= beyond:
        return None
    return math.floor(100.0 * (n - beyond) / n)


def percentile(xs, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    sample at or below it."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def finite(x):
    return OVER_LIMIT_S if math.isinf(x) else x


def call_time(c):
    return c["call_s"] if c["ok"] else FAILED


def self_time(span, children):
    """Span duration minus the part of it its children cover."""
    lo, hi = span["start"], span["end"]
    ivs = sorted((max(lo, c["start"]), min(hi, c["end"]))
                 for c in children if c["end"] > lo and c["start"] < hi)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (hi - lo) - covered


def max_concurrency(intervals):
    """Most intervals open at one instant (ends before starts on ties)."""
    ev = sorted([(s, 1) for s, _ in intervals] + [(e, -1) for _, e in intervals])
    cur = best = 0
    for _, d in ev:
        cur += d
        best = max(best, cur)
    return best


def warm_passes(result, first_warm, traced):
    return [p for p in result["passes"][first_warm:] if p["traced"] == traced]


def end_to_end(result, setup_samples, first_warm):
    """The end-to-end metrics of one run, from its untraced passes."""
    passes = result["passes"]
    warm = warm_passes(result, first_warm, False)
    calls = [call_time(c) for p in warm for c in p["calls"]]
    p_tail = tail_percentile(len(calls))
    if p_tail is None:
        raise ValueError(f"{len(calls)} warm calls leave no tail percentile")
    return {
        "setup_s": (median(setup_samples), "s"),
        "cold_pass_s": (passes[0]["wall_s"], "s"),
        "warm_pass_s": (median([p["wall_s"] for p in warm]), "s"),
        "call_p50_s": (finite(percentile(calls, 50)), "s"),
        "call_tail_s": (finite(percentile(calls, p_tail)), "s"),
    }, {"warm_calls": len(calls), "warm_passes": len(warm),
        "tail_percentile": p_tail}


def counts(result):
    """(attempted, failed) over every call of the run, cold pass included."""
    calls = [c for p in result["passes"] for c in p["calls"]]
    return len(calls), sum(1 for c in calls if not c["ok"])


class Trace:
    """Indexes a Driver trace: spans, and jobs/stages/tasks by span."""

    def __init__(self, trace):
        self.spans = {s["id"]: s for s in trace["spans"]}
        self.children = {}
        for s in trace["spans"]:
            self.children.setdefault(s["parent"], []).append(s)
        self.jobs = trace["jobs"]
        self.stages = trace["stages"]
        cols = trace["task_columns"]
        self.tasks = [dict(zip(cols, t)) for t in trace["tasks"]]
        job_span = {j["id"]: j["span"] for j in self.jobs}
        self.stage_span = {s["id"]: job_span.get(s["job"], 0) for s in self.stages}

    def pass_span(self, i):
        return next(s for s in self.children.get(0, [])
                    if s["name"] == f"pass:pass{i}")

    def calls_of(self, pass_span):
        return self.children.get(pass_span["id"], [])

    def call_of(self, span_id):
        """The call span a build/sink span belongs to."""
        s = self.spans.get(span_id)
        return self.spans.get(s["parent"]) if s else None

    def kids(self, span, layer):
        return [c for c in self.children.get(span["id"], []) if c["layer"] == layer]


def span_counts(trace):
    """Listener counts per build/sink span: jobs, tasks, task CPU, input
    and shuffle bytes."""
    tr = Trace(trace)
    out = {}
    for j in tr.jobs:
        out.setdefault(j["span"], {"jobs": 0, "tasks": 0, "task_cpu_s": 0.0,
                                   "input_bytes": 0, "shuffle_write_bytes": 0})
        out[j["span"]]["jobs"] += 1
    for t in tr.tasks:
        c = out.get(tr.stage_span.get(t["stage"], 0))
        if c is not None:
            c["tasks"] += 1
            c["task_cpu_s"] += t["cpu_s"]
            c["input_bytes"] += t["input_bytes"]
            c["shuffle_write_bytes"] += t["shuffle_write_bytes"]
    return {str(k): v for k, v in out.items()}


def per_layer(result, cores, first_warm, input_bytes_total):
    """The per-layer metrics of a traced run (medians per traced warm pass
    unless stated)."""
    tr = Trace(result["trace"])
    traced = warm_passes(result, first_warm, True)
    untraced = warm_passes(result, first_warm, False)
    warm_untraced_s = median([p["wall_s"] for p in untraced])
    build_s, sink_s, call_s, b_jobs, s_jobs, walls = [], [], [], [], [], []
    per_pass = {k: [] for k in ("tasks", "cpu", "run", "gc", "shw", "spill",
                                "inb", "inr", "wait", "failed")}
    tiny = all_tasks = 0
    par_max = 0
    call_gap = call_total = pass_gap = pass_total = 0.0
    for p in traced:
        ps = tr.pass_span(p["pass"])
        calls = tr.calls_of(ps)
        pass_total += ps["end"] - ps["start"]
        pass_gap += self_time(ps, calls)
        builds = [b for c in calls for b in tr.kids(c, "operators")]
        sinks = [s for c in calls for s in tr.kids(c, "sink")]
        for c in calls:
            call_total += c["end"] - c["start"]
            call_gap += self_time(c, tr.children.get(c["id"], []))
        build_s.append(sum(b["end"] - b["start"] for b in builds))
        sink_s.append(sum(s["end"] - s["start"] for s in sinks))
        call_s.append(sum(c["end"] - c["start"] for c in calls))
        walls.append(p["wall_s"])
        bids = {b["id"] for b in builds}
        sids = {s["id"] for s in sinks}
        b_jobs.append(sum(1 for j in tr.jobs if j["span"] in bids))
        s_jobs.append(sum(1 for j in tr.jobs if j["span"] in sids))
        for b in builds:
            ivs = [(j["start"], j["end"]) for j in tr.jobs if j["span"] == b["id"]]
            par_max = max(par_max, max_concurrency(ivs))
        spans = bids | sids
        ts = [t for t in tr.tasks if tr.stage_span.get(t["stage"]) in spans]
        per_pass["tasks"].append(len(ts))
        per_pass["cpu"].append(sum(t["cpu_s"] for t in ts))
        per_pass["run"].append(sum(t["run_s"] for t in ts))
        per_pass["gc"].append(sum(t["gc_s"] for t in ts))
        per_pass["shw"].append(sum(t["shuffle_write_bytes"] for t in ts))
        per_pass["spill"].append(sum(t["spill_bytes"] for t in ts))
        per_pass["inb"].append(sum(t["input_bytes"] for t in ts))
        per_pass["inr"].append(sum(t["input_records"] for t in ts))
        per_pass["failed"].append(sum(1 for t in ts if not t["ok"]))
        first_launch = {}
        for t in ts:
            first_launch[t["stage"]] = min(first_launch.get(t["stage"], math.inf),
                                           t["launch"])
        per_pass["wait"].append(sum(
            max(0.0, first_launch[s["id"]] - s["submitted"])
            for s in tr.stages if s["id"] in first_launch and s["attempt"] == 0))
        tiny += sum(1 for t in ts if t["input_records"] == 0
                    and t["shuffle_read_bytes"] < TINY_SHUFFLE_BYTES)
        all_tasks += len(ts)

    # tasks that finished after the call that caused them had returned
    orphans = 0
    for t in tr.tasks:
        call = tr.call_of(tr.stage_span.get(t["stage"], 0))
        if call and t["finish"] > call["end"]:
            orphans += 1

    cold = result["passes"][0]
    attempted, failed = counts(result)
    warm_traced_s = median(walls)
    m = lambda k: median(per_pass[k])
    return {
        "operators.build_s": (median(build_s), "s"),
        "operators.build_share": (sum(build_s) / sum(call_s), "ratio"),
        "operators.build_jobs": (median(b_jobs), "count"),
        "operators.par_jobs_max": (par_max, "count"),
        "sink.s": (median(sink_s), "s"),
        "sink.jobs": (median(s_jobs), "count"),
        "spark.tasks": (m("tasks"), "count"),
        "spark.sched_wait_s": (m("wait"), "s"),
        "spark.tiny_task_frac": (tiny / all_tasks if all_tasks else 0.0, "ratio"),
        "spark.task_cpu_s": (m("cpu"), "s"),
        "spark.task_run_s": (m("run"), "s"),
        "spark.utilization": (sum(per_pass["cpu"]) / (sum(walls) * cores), "ratio"),
        "spark.shuffle_write_bytes": (m("shw"), "B"),
        "spark.spill_bytes": (m("spill"), "B"),
        "spark.gc_s": (m("gc"), "s"),
        "spark.failed_tasks": (sum(per_pass["failed"]), "count"),
        "sources.input_bytes": (m("inb"), "B"),
        "sources.input_records": (m("inr"), "count"),
        "indexstore.artifacts_built": (cold["index_artifacts"], "count"),
        "indexstore.cold_bytes_written": (cold["index_bytes_written"], "B"),
        "indexstore.bytes_per_input_byte":
            (cold["index_bytes_written"] / input_bytes_total, "ratio"),
        "indexstore.cold_extra_s": (cold["wall_s"] - warm_untraced_s, "s"),
        "indexstore.warm_bytes_written":
            (sum(p["index_bytes_written"] for p in result["passes"][1:]), "B"),
        "driver.orphan_tasks": (orphans, "count"),
        "driver.peak_rss_mb": (result["peak_rss_mb"], "MB"),
        "driver.heap_after_gc_mb": (result["heap_after_gc_mb"], "MB"),
        "driver.warm_drift": (untraced[-1]["wall_s"] / untraced[0]["wall_s"],
                              "ratio"),
        "driver.failed_frac": (failed / attempted, "ratio"),
        "trace.overhead_frac": (warm_traced_s / warm_untraced_s - 1.0, "ratio"),
        "trace.call_gap_frac": (call_gap / call_total, "ratio"),
        "trace.pass_gap_frac": (pass_gap / pass_total, "ratio"),
    }
