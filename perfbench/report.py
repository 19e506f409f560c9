"""Turns one run record of the harness into the benchmark's metrics.

The harness (perfbench/src) writes raw samples: per-op walls and store
probes, spans, and in a traced run every Spark job and stage total. This
module computes the end-to-end metrics from the samples and the per-layer
metrics from the trace, and checks the trace's own consistency: every job
must fall inside exactly one top-level window, and no span's self time may
exceed its wall time.
"""

import math

WORKLOADS = ("retrain", "ratings_cdc", "doc_dedup")
TICK_WORKLOADS = ("ratings_cdc", "doc_dedup")

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "rows_per_s": "rows/s",
    "read_p50_s": "s",
    "bytes_per_row": "B",
    "heap_live_mb": "MB",
}

LAYER_UNITS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.input_bytes": "B",
    "spark.output_bytes": "B",
    "spark.core_util": "ratio",
    "spark.driver_gap_s": "s",
    "spark.retained_mb": "MB",
    "als.top_n_s": "s",
    "als.top_n_jobs": "count",
    "als.top_n_task_cpu_s": "s",
    "relational.movie_stats_s": "s",
    "relational.top_movies_s": "s",
    "tables.scan_task_s": "s",
    "tables.input_bytes": "B",
    "eventstream.tick_jobs": "count",
    "eventstream.tick_driver_gap_s": "s",
    "bucketstore.touched_frac": "ratio",
    "bucketstore.live_generations": "count",
    "bucketstore.files_per_bucket": "count",
    "bucketstore.bytes_written": "B",
    "bucketstore.write_amp": "B/row",
    "bucketstore.compact_tick_s": "s",
    "bucketstore.jobs_per_live_gen": "count",
    "bucketstore.read_s": "s",
    "dedup.tick_jobs": "count",
    "dedup.tick_task_cpu_s": "s",
    "dedup.pairs_per_tick": "count",
    "dedup.planted_recall": "ratio",
    "dedup.pair_log_files": "count",
    "dedup.read_s": "s",
    "jvm.heap_peak_mb": "MB",
    "jvm.gc_s": "s",
    "jvm.jit_s": "s",
    "trace.op_p50_s": "s",
    "trace.listener_busy_frac": "ratio",
}


# ---------------------------------------------------------------- helpers

def percentile(values, q):
    """q-th percentile (0..100), linear between closest ranks."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50) if values else 0.0


def tail_percentile(n, beyond=10):
    """Highest percentile with at least `beyond` of `n` samples above it,
    or None when the sample is too small to support any tail."""
    if n <= beyond:
        return None
    return 100.0 * (n - beyond) / n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def clip(interval, window):
    return (max(interval[0], window[0]), min(interval[1], window[1]))


def self_time(span, children):
    """A span's wall time minus the part its children's intervals cover."""
    w = (span["start_ms"], span["end_ms"])
    covered = union_length([clip((c["start_ms"], c["end_ms"]), w) for c in children])
    return (w[1] - w[0] - covered) / 1e3


def attribute(jobs, windows):
    """Map job id -> index of the one window holding it, start to end.
    Windows are half-open [start, end); a job must also end by the
    window's end. Returns (assignment, jobs that fit no or several)."""
    assigned, stray = {}, []
    for j in jobs:
        holders = [k for k, w in enumerate(windows)
                   if w["start_ms"] <= j["start_ms"] < w["end_ms"] or
                   w["start_ms"] == j["start_ms"] == w["end_ms"]]
        holders = [k for k in holders if 0 <= j["end_ms"] <= windows[k]["end_ms"]]
        if len(holders) == 1:
            assigned[j["id"]] = holders[0]
        else:
            stray.append(j["id"])
    return assigned, stray


def ratio(a, b):
    return a / b if b else 0.0


# ---------------------------------------------------------------- metrics

def end_to_end(raw):
    ops = raw["ops"]
    op_s = [o["op_s"] for o in ops]
    return {
        "setup_s": raw["setup_s"],
        "op_p50_s": median(op_s),
        "rows_per_s": ratio(sum(o["rows"] for o in ops), sum(op_s)),
        "read_p50_s": median([r for o in ops for r in o["read_s"]]),
        "bytes_per_row": ratio(raw["store_bytes"], raw["live_rows"]),
        "heap_live_mb": raw["heap_live_mb"],
    }


def trace_checks(raw):
    """(name, error or None) for the trace's consistency checks."""
    spans = raw["spans"]
    windows = [s for s in spans if s["parent"] < 0]
    _, stray = attribute(raw["spark"]["jobs"], windows)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    bad_self = [s["name"] for s in spans
                if not 0.0 <= self_time(s, kids.get(s["id"], [])) <=
                (s["end_ms"] - s["start_ms"]) / 1e3]
    return [
        ("jobs_inside_one_window",
         None if not stray else f"{len(stray)} jobs outside or across windows: {stray[:10]}"),
        ("span_self_time_within_wall",
         None if not bad_self else f"spans {bad_self[:10]}"),
    ]


def per_layer(raw):
    wl = raw["workload"]
    spans = raw["spans"]
    spark = raw["spark"]
    windows = [s for s in spans if s["parent"] < 0]
    assigned, _ = attribute(spark["jobs"], windows)
    jobs_by_id = {j["id"]: j for j in spark["jobs"]}
    jobs_in = {}
    for jid, k in assigned.items():
        jobs_in.setdefault(k, []).append(jobs_by_id[jid])
    stages_of = {}
    for st in spark["stages"]:
        stages_of.setdefault(st["job"], []).append(st)
    cores = raw["cores"]

    def within(span):
        """Jobs that start inside `span`, and their stages."""
        js = [j for j in spark["jobs"] if span["start_ms"] <= j["start_ms"] < span["end_ms"]
              or span["start_ms"] == j["start_ms"] == span["end_ms"]]
        return js, [st for j in js for st in stages_of.get(j["id"], [])]

    def op_stats(span, k):
        js = jobs_in.get(k, [])
        sts = [st for j in js for st in stages_of.get(j["id"], [])]
        w = (span["start_ms"], span["end_ms"])
        busy = union_length([clip((j["start_ms"], j["end_ms"]), w) for j in js]) / 1e3
        run = sum(st["run_s"] for st in sts)
        return {
            "jobs": len(js), "stages": len(sts), "tasks": sum(st["tasks"] for st in sts),
            "task_run_s": run, "task_cpu_s": sum(st["cpu_s"] for st in sts),
            "gc_s": sum(st["gc_s"] for st in sts),
            "shuffle_read_bytes": sum(st["shuffle_read_bytes"] for st in sts),
            "shuffle_write_bytes": sum(st["shuffle_write_bytes"] for st in sts),
            "spill_bytes": sum(st["spill_bytes"] for st in sts),
            "input_bytes": sum(st["input_bytes"] for st in sts),
            "output_bytes": sum(st["output_bytes"] for st in sts),
            "scan_run_s": sum(st["scan_run_s"] for st in sts),
            "core_util": ratio(run, span["wall_s"] * cores),
            "driver_gap_s": max(span["wall_s"] - busy, 0.0),
        }

    op_windows = [(k, w) for k, w in enumerate(windows) if w["kind"] == "op"]
    per_op = [op_stats(w, k) for k, w in op_windows]

    def med(key, rows=per_op):
        return median([r[key] for r in rows]) if rows else 0.0

    out = {f"spark.{k}": med(k) for k in (
        "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
        "input_bytes", "output_bytes", "core_util", "driver_gap_s")}
    out["spark.retained_mb"] = raw["retained_mb"]

    op_ids = {w["id"] for _, w in op_windows}

    def layer(name):
        """Per-op medians of a named child span: wall, jobs, task cpu."""
        rows = []
        for s in spans:
            if s["name"] == name and s["parent"] in op_ids:
                js, sts = within(s)
                rows.append({"wall": s["wall_s"], "jobs": len(js),
                             "cpu": sum(st["cpu_s"] for st in sts)})
        return rows

    als = layer("als.top_n")
    out["als.top_n_s"] = med("wall", als)
    out["als.top_n_jobs"] = med("jobs", als)
    out["als.top_n_task_cpu_s"] = med("cpu", als)
    out["relational.movie_stats_s"] = med("wall", layer("relational.movie_stats"))
    out["relational.top_movies_s"] = med("wall", layer("relational.top_movies"))
    reads_tables = wl == "retrain"
    out["tables.scan_task_s"] = med("scan_run_s") if reads_tables else 0.0
    out["tables.input_bytes"] = med("input_bytes") if reads_tables else 0.0

    ticks = wl in TICK_WORKLOADS
    ops = raw["ops"]
    plain = [o for o in ops if not o.get("compacted")] or ops
    compacting = [o for o in ops if o.get("compacted")]
    per_gen = [ratio(r["jobs"], o["live_generations"])
               for r, o in zip(per_op, ops) if ticks and not o.get("compacted")]
    out["eventstream.tick_jobs"] = med("jobs") if wl == "ratings_cdc" else 0.0
    out["eventstream.tick_driver_gap_s"] = med("driver_gap_s") if wl == "ratings_cdc" else 0.0
    out["bucketstore.touched_frac"] = median(
        [ratio(o["touched_buckets"], o["buckets"]) for o in plain]) if ticks else 0.0
    out["bucketstore.live_generations"] = (
        sum(o["live_generations"] for o in ops) / len(ops)) if ticks and ops else 0.0
    out["bucketstore.files_per_bucket"] = (
        sum(o["files_per_bucket"] for o in ops) / len(ops)) if ticks and ops else 0.0
    out["bucketstore.bytes_written"] = median([o["bytes_written"] for o in ops]) if ticks else 0.0
    out["bucketstore.write_amp"] = ratio(sum(o["bytes_written"] for o in ops),
                                         sum(o["changed_rows"] for o in ops)) if ticks else 0.0
    out["bucketstore.compact_tick_s"] = median([o["op_s"] for o in compacting]) if ticks else 0.0
    out["bucketstore.jobs_per_live_gen"] = median(per_gen) if per_gen else 0.0
    out["bucketstore.read_s"] = median([r for o in ops for r in o["read_s"]]) if ticks else 0.0

    dd = wl == "doc_dedup"
    out["dedup.tick_jobs"] = med("jobs") if dd else 0.0
    out["dedup.tick_task_cpu_s"] = med("task_cpu_s") if dd else 0.0
    out["dedup.pairs_per_tick"] = median([o["pairs"] for o in ops]) if dd else 0.0
    out["dedup.planted_recall"] = raw.get("summary", {}).get("planted_recall", 0.0) if dd else 0.0
    out["dedup.pair_log_files"] = ops[-1]["pair_log_files"] if dd and ops else 0.0
    out["dedup.read_s"] = median([r for o in ops for r in o["read_s"]]) if dd else 0.0

    out["jvm.heap_peak_mb"] = raw["heap_peak_mb"]
    out["jvm.gc_s"] = raw["jvm_gc_s"]
    out["jvm.jit_s"] = raw["jvm_jit_s"]
    out["trace.op_p50_s"] = median([o["op_s"] for o in ops])
    out["trace.listener_busy_frac"] = ratio(spark["listener_busy_s"], sum(o["op_s"] for o in ops))
    return out
