"""Metric arithmetic for the graft benchmark.

Turns the raw run record the JVM harness writes (op timings, output
checks, spans and Spark listener data) into the end-to-end and
per-layer metrics. Pure functions only, so tests/test_metrics.py can
check them on hand-built cases.
"""

import math
import statistics
from collections import defaultdict

# Ops beyond the tail percentile (choosing-metrics: report the highest
# percentile with at least ten samples beyond it).
TAIL_BEYOND = 10
MEMO_SLOTS = 1 << 16

E2E_UNITS = {
    "setup_s": "s",
    "op_ms_p50": "ms",
    "op_ms_tail": "ms",
    "records_per_s": "1/s",
    "failed_ops_frac": "ratio",
    "quality": "ratio",
    "space_amp": "ratio",
    "live_heap_mb": "MB",
}

# failed_ops_frac is 0 on a healthy run; it travels in the result's
# top-level "failed"/"attempted" counts instead of as a bounded metric.
E2E_REPORTED = [m for m in E2E_UNITS if m != "failed_ops_frac"]


def tail_percentile(n, beyond=TAIL_BEYOND):
    """Highest whole percentile whose nearest-rank value has at least
    `beyond` of `n` samples above it; None when n <= beyond."""
    best = None
    for p in range(1, 100):
        if n - math.ceil(p * n / 100) >= beyond:
            best = p
    return best


def nearest_rank(values, p):
    """The p-th percentile of `values` by the nearest-rank rule."""
    xs = sorted(values)
    rank = max(1, math.ceil(p * len(xs) / 100))
    return xs[rank - 1]


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if min(e, hi) > max(s, lo)]


def driver_gap(start, end, jobs):
    """Op wall time not covered by any Spark job. Overlapping jobs count
    once (union of intervals), so the gap is never negative."""
    return max(0.0, (end - start) - union_length(clip(jobs, start, end)))


def self_times(spans):
    """{span id: duration minus the part of it its children cover}."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = {}
    for s in spans:
        covered = union_length(clip([(c["start"], c["end"]) for c in kids[s["id"]]],
                                    s["start"], s["end"]))
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def space_amp(disk_bytes, input_bytes):
    return disk_bytes / input_bytes if input_bytes > 0 else float("nan")


def f1(tp, fp, fn):
    denom = 2 * tp + fp + fn
    return 2 * tp / denom if denom > 0 else float("nan")


def recall(hits, total):
    return hits / total if total > 0 else float("nan")


def quality(workload, ops):
    q = defaultdict(float)
    for op in ops:
        for k, v in op["quality"].items():
            q[k] += v
    if workload == "ann_serve":
        return recall(q["hits"], q["total"])
    return f1(q["tp"], q["fp"], q["fn"])


def end_to_end(raw, tail_pct):
    """The eight end-to-end metrics of one untraced run."""
    ops = raw["ops"]
    walls = [op["wall_s"] for op in ops]
    ok = [op for op in ops if op["ok"]]
    return {
        "setup_s": raw["session_s"] + statistics.median(raw["setup_rounds_s"])
        + raw["warmup_s"],
        "op_ms_p50": statistics.median(walls) * 1e3,
        "op_ms_tail": nearest_rank(walls, tail_pct) * 1e3,
        "records_per_s": sum(op["records"] for op in ok) / sum(walls),
        "failed_ops_frac": (len(ops) - len(ok)) / len(ops),
        "quality": quality(raw["workload"], ok),
        "space_amp": space_amp(raw["disk_bytes"], raw["input_bytes"]),
        "live_heap_mb": raw["heap_mb"],
    }


# ---- traced runs: per-layer metrics ----------------------------------

SPAN_SECONDS = {
    "operators.RosterQuery.s": "operators.RosterQuery.candidates",
    "operators.FuzzyMatch.s": "operators.FuzzyMatch.link",
    "operators.Ann.search_s": "operators.Ann.searchOpqIndex",
}

SETUP_SPANS = [
    "operators.Pca.train",
    "operators.Ann.trainCentroids",
    "operators.Ann.trainPq",
    "operators.Ann.build_save",
    "operators.Ann.load",
]

COUNTERS = [
    "sources.StageSink.files",
    "sources.StageSink.bytes",
    "operators.Dedup.delta_bytes",
    "operators.Dedup.roots_scanned",
    "operators.IndexMaintenance.compactions",
]

# measured once per traced run, after its timed ops
MICRO = [
    "operators.IndexMaintenance.compact_s",
    "operators.IndexMaintenance.bytes_rewritten",
    "functions.FuzzyImpl.wRatio_ns",
    "functions.FuzzyImpl.wRatio_hit_ns",
    "functions.FuzzyImpl.partialTokenRatio_ns",
    "functions.MinHash.signature_ns",
    "functions.inter_longs_ns",
    "functions.PqImpl.adc_ns",
]

PER_LAYER = (
    ["sources.StageSink.save_s"] + COUNTERS
    + list(SPAN_SECONDS)
    + ["operators.FuzzyMatch.pairs", "operators.FuzzyMatch.yield",
       "functions.FuzzyImpl.distinct_pair_share",
       "operators.Dedup.candidates", "operators.Dedup.delta_save_s",
       "operators.Dedup.yield",
       "streaming.StreamDedup.batch_s", "streaming.start_s", "streaming.commit_ms",
       "operators.Ann.codes_scored", "operators.Ann.rerank_rows",
       "operators.Ann.rerank_yield"]
    + MICRO
    + [f"{k}{suffix}" for k in SETUP_SPANS for suffix in ("_s", ".jobs")]
    + ["plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms",
       "plans.queries",
       "exec.jobs", "exec.stages", "exec.tasks", "exec.driver_gap_s",
       "exec.sched_delay_s", "exec.result_mb", "exec.task_s", "exec.core_util",
       "exec.shuffle_mb", "exec.spill_mb", "exec.gc_s", "exec.failed_tasks",
       "trace.op_ms_p50", "trace.self_sum_error_ms"]
)

PER_LAYER_UNITS = {
    "_s": "s", ".s": "s", "_ms": "ms", "_ns": "ns", "_mb": "MB", "bytes": "B",
    "rewritten": "B", "yield": "ratio", "_share": "ratio", "core_util": "ratio",
}


def per_layer_unit(name):
    if name == "trace.op_ms_p50":
        return "ms"
    for suffix, unit in PER_LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def _innermost(spans, t):
    """The deepest span whose interval holds time t, or None."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["start"] >= best["start"]):
            best = s
    return best


def attribute(raw):
    """Assigns every job, query and streaming progress event to a span:
    jobs through their job group, the rest (and group-less jobs) by the
    innermost span open at their start time."""
    spans = raw["spans"]
    by_id = {s["id"]: s for s in spans}
    out = defaultdict(lambda: {"jobs": [], "queries": [], "progress": []})
    for j in raw["jobs"]:
        sid = None
        if j["group"].startswith("pb-"):
            sid = int(j["group"][3:])
        else:
            s = _innermost(spans, j["start"])
            sid = s["id"] if s else None
        if sid in by_id:
            out[sid]["jobs"].append(j)
    for kind in ("queries", "progress"):
        for ev in raw[kind]:
            s = _innermost(spans, ev["start"])
            if s:
                out[s["id"]][kind].append(ev)
    return out


def _subtree(spans, root_id):
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s["id"])
    ids, todo = [], [root_id]
    while todo:
        i = todo.pop()
        ids.append(i)
        todo.extend(kids[i])
    return ids


def _join_rows(queries, path_part):
    """Output rows of the lowest join above a scan of `path_part` in each
    query's executed plan, summed."""
    total = 0
    for q in queries:
        nodes = q["nodes"]
        for n in nodes:
            if any(path_part in p for p in n["paths"]) and n["node"].startswith("Scan"):
                p = n["parent"]
                while p >= 0 and "Join" not in nodes[p]["node"]:
                    p = nodes[p]["parent"]
                if p >= 0:
                    total += nodes[p]["metrics"].get("numOutputRows", 0)
    return total


def per_layer(raw):
    """Per-op means (and set-up medians) of the per-layer metrics of one
    traced run, plus the largest |sum of span self times - op wall|."""
    spans = raw["spans"]
    ops = raw["ops"]
    n = len(ops)
    att = attribute(raw)
    selfs = self_times(spans)
    roots = {s["op"]: s for s in spans if s["name"] == "op" and s["parent"] == 0}
    acc = defaultdict(float)
    self_err = 0.0
    cpus = raw["cpus"]
    wall_total = 0.0
    for op in ops:
        root = roots[op["id"]]
        ids = _subtree(spans, root["id"])
        sub = [s for s in spans if s["id"] in ids]
        wall_ms = root["end"] - root["start"]
        wall_total += wall_ms / 1e3
        self_err = max(self_err, abs(sum(selfs[i] for i in ids) - wall_ms))
        jobs = [j for i in ids for j in att[i]["jobs"]]
        queries = [q for i in ids for q in att[i]["queries"]]
        progress = [p for i in ids for p in att[i]["progress"]]
        for name, span_name in SPAN_SECONDS.items():
            acc[name] += sum(s["end"] - s["start"] for s in sub if s["name"] == span_name) / 1e3
        for c in COUNTERS:
            acc[c] += op["counters"].get(c, 0.0)
        acc["operators.FuzzyMatch.matched"] += op["counters"].get("operators.FuzzyMatch.matched", 0.0)
        acc["operators.Dedup.dropped"] += op["counters"].get("operators.Dedup.dropped", 0.0)
        acc["functions.FuzzyImpl.distinct_pair_share"] += \
            op["counters"].get("functions.FuzzyImpl.distinct_pairs", 0.0) / MEMO_SLOTS
        acc["operators.Ann.rows"] += op["counters"].get("operators.Ann.rows", 0.0)
        writes = [q for q in queries if q["paths"]]
        acc["sources.StageSink.save_s"] += sum(
            q["duration_ms"] for q in writes if any("/exports/" in p for p in q["paths"])) / 1e3
        acc["operators.Dedup.delta_save_s"] += sum(
            q["duration_ms"] for q in writes if any("/minhash/delta_b" in p for p in q["paths"])) / 1e3
        acc["operators.FuzzyMatch.pairs"] += op["counters"].get("operators.FuzzyMatch.pairs", 0.0)
        acc["operators.Dedup.candidates"] += _join_rows(queries, "/minhash/")
        acc["operators.Ann.codes_scored"] += _join_rows(queries, "/opq/index")
        acc["operators.Ann.rerank_rows"] += _join_rows(queries, "/vectors")
        trig = sum(p["durations"].get("triggerExecution", 0.0) for p in progress)
        acc["streaming.StreamDedup.batch_s"] += sum(
            p["durations"].get("addBatch", 0.0) for p in progress) / 1e3
        acc["streaming.commit_ms"] += sum(
            p["durations"].get("walCommit", 0.0) + p["durations"].get("commitOffsets", 0.0)
            for p in progress)
        writer = [s for s in sub if s["name"] == "streaming.StreamDedup.incrementalWriter"]
        if writer:
            acc["streaming.start_s"] += max(
                0.0, sum(s["end"] - s["start"] for s in writer) - trig) / 1e3
        for q in queries:
            ph = q["phases"]
            acc["plans.analysis_ms"] += ph.get("analysis", 0.0)
            acc["plans.optimization_ms"] += ph.get("optimization", 0.0)
            acc["plans.planning_ms"] += ph.get("planning", 0.0)
        acc["plans.queries"] += len(queries)
        acc["exec.jobs"] += len(jobs)
        acc["exec.stages"] += sum(j["stages"] for j in jobs)
        acc["exec.tasks"] += sum(j["tasks"] for j in jobs)
        acc["exec.failed_tasks"] += sum(j["failed_tasks"] for j in jobs)
        acc["exec.task_s"] += sum(j["task_ms"] for j in jobs) / 1e3
        acc["exec.sched_delay_s"] += sum(j["sched_ms"] for j in jobs) / 1e3
        acc["exec.result_mb"] += sum(j["result_bytes"] for j in jobs) / 1e6
        acc["exec.shuffle_mb"] += sum(j["shuffle_bytes"] for j in jobs) / 1e6
        acc["exec.spill_mb"] += sum(j["spill_bytes"] for j in jobs) / 1e6
        acc["exec.gc_s"] += op["gc_s"]
        acc["exec.driver_gap_s"] += driver_gap(
            root["start"], root["end"], [(j["start"], j["end"]) for j in jobs]) / 1e3
    out = {k: acc[k] / n for k in PER_LAYER if k in acc}
    out["exec.core_util"] = acc["exec.task_s"] / (cpus * wall_total)
    out["operators.FuzzyMatch.yield"] = _ratio(acc["operators.FuzzyMatch.matched"],
                                               acc["operators.FuzzyMatch.pairs"])
    out["operators.Dedup.yield"] = _ratio(acc["operators.Dedup.dropped"],
                                          acc["operators.Dedup.candidates"])
    out["operators.Ann.rerank_yield"] = _ratio(acc["operators.Ann.rows"],
                                               acc["operators.Ann.rerank_rows"])
    for k in MICRO:
        out[k] = raw["micro"].get(k, 0.0)
    out.update(setup_layers(raw, att))
    out["trace.op_ms_p50"] = statistics.median(op["wall_s"] for op in ops) * 1e3
    out["trace.self_sum_error_ms"] = self_err
    return {k: out.get(k, 0.0) for k in PER_LAYER}


def by_name(spans, sid):
    for s in spans:
        if s["id"] == sid:
            return s["name"]
    return None


def _ratio(a, b):
    return a / b if b > 0 else 0.0


def setup_layers(raw, att):
    """Median over set-up rounds of each set-up span's seconds and jobs."""
    out = {}
    for name in SETUP_SPANS:
        rounds = [s for s in raw["spans"] if s["name"] == name and s["op"] < 0]
        if rounds:
            out[name + "_s"] = statistics.median(s["end"] - s["start"] for s in rounds) / 1e3
            out[name + ".jobs"] = statistics.median(len(att[s["id"]]["jobs"]) for s in rounds)
    return out


def op_breakdown(raw):
    """Per op: wall time and each span's self time, for the trace file."""
    spans = raw["spans"]
    selfs = self_times(spans)
    out = []
    for root in (s for s in spans if s["name"] == "op" and s["parent"] == 0):
        ids = _subtree(spans, root["id"])
        by = defaultdict(float)
        for i in ids:
            by[by_name(spans, i)] += selfs[i]
        out.append({"op": root["op"], "wall_ms": root["end"] - root["start"],
                    "self_ms": dict(by)})
    return out
