"""Metric math for the benchmark: percentiles, interval unions, span self
time, time-window attribution, and the end-to-end and per-layer reductions
of one runner result (``result.json``, written by ``perfbench.Runner``).

All times are epoch seconds. Spark stamps listener events in whole
milliseconds, so event times are compared with ``SLACK`` of tolerance.
"""
import bisect
import math
import statistics

SLACK = 0.001
MB = 1024 * 1024


def tail_percentile(n, cap=90):
    """The highest whole percentile (at most ``cap``) with at least ten of
    ``n`` samples beyond it, by the nearest-rank rule; ``None`` when even the
    median has fewer than ten samples beyond it."""
    p = min(cap, (100 * (n - 10)) // n) if n > 0 else 0
    return p if p >= 50 else None


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least ``p``% of
    the samples at or below it."""
    s = sorted(values)
    return s[max(0, math.ceil(p * len(s) / 100) - 1)]


def union_length(intervals, lo, hi):
    """Length of the union of ``(start, end)`` intervals, clipped to
    ``[lo, hi]``."""
    total, reach = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, reach), min(e, hi)
        if e > s:
            total += e - s
            reach = e
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span[1] - span[0]) - union_length(children, span[0], span[1])


def attribute(times, windows):
    """For each time, the index of the window ``(start, end)`` containing it
    (windows are sorted and disjoint), or ``None``."""
    starts = [w[0] for w in windows]
    out = []
    for t in times:
        i = bisect.bisect_right(starts, t + SLACK) - 1
        out.append(i if i >= 0 and t <= windows[i][1] + SLACK else None)
    return out


def end_to_end(res, spawn, items_per_pass):
    """End-to-end metrics of an untraced run, plus the sample counts the
    report states and the latency tail when the samples support one."""
    passes = [p["end"] - p["start"] for p in res["passes"]]
    lat = [s["t2"] - s["t0"] if s["error"] is None else math.inf
           for s in res["samples"]]
    pass_s = statistics.median(passes)
    tail_p = tail_percentile(len(lat))
    return {
        "setup_s": res["setup_end"] - spawn,
        "pass_s": pass_s,
        "query_p50_s": statistics.median(lat),
        "items_per_s": items_per_pass / pass_s,
        "peak_rss_mb": res["peak_rss_kb"] / 1024,
    }, {"passes": len(passes), "samples": len(lat), "tail_percentile": tail_p,
        "tail_s": percentile(lat, tail_p) if tail_p else None}


def spans(res):
    """The run's span tree: workload -> pass -> operation -> {build, exec}
    -> Spark job (jobs are recorded in traced passes only), each span with
    its self time."""
    out = []

    def add(name, start, end, parent):
        out.append({"id": len(out), "parent": parent, "name": name,
                    "start": start, "end": end})
        return len(out) - 1

    passes = res["passes"]
    root = add(res["workload"], passes[0]["start"], passes[-1]["end"], None)
    pass_ids = {p["pass"]: add(f"pass {p['pass']}", p["start"], p["end"], root)
                for p in passes}
    traced = [s for s in res["samples"] if s["traced"]]
    phase = {}
    for s in res["samples"]:
        op = add(s["op"], s["t0"], s["t2"], pass_ids[s["pass"]])
        phase[id(s)] = (add("build", s["t0"], s["t1"], op), add("exec", s["t1"], s["t2"], op))
    owners = attribute([j["start"] for j in res["jobs"]], [(s["t0"], s["t2"]) for s in traced])
    for j, i in zip(res["jobs"], owners):
        if i is not None:
            build, exec_ = phase[id(traced[i])]
            add(f"job {j['id']}", j["start"], j["end"],
                build if j["start"] <= traced[i]["t1"] + SLACK else exec_)
    children = {}
    for sp in out:
        children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    for sp in out:
        sp["self_s"] = self_time((sp["start"], sp["end"]), children.get(sp["id"], []))
    return out


def per_query_layers(res):
    """Layer metrics for every traced (pass, op) sample.

    Jobs and stages go to the op whose [t0, t2] window holds their start or
    completion time; RDD block and plan records go to the op whose
    [t0, t3] window (t3: listener bus drained) holds their arrival."""
    samples = [s for s in res["samples"] if s["traced"]]
    exec_w = [(s["t0"], s["t2"]) for s in samples]
    drain_w = [(s["t0"], s["t3"]) for s in samples]
    jobs = [[] for _ in samples]
    for j, i in zip(res["jobs"], attribute([j["start"] for j in res["jobs"]], exec_w)):
        if i is not None:
            jobs[i].append((j["start"], j["end"]))
    stages = [[] for _ in samples]
    for st, i in zip(res["stages"], attribute([st["end"] for st in res["stages"]], exec_w)):
        if i is not None:
            stages[i].append(st)
    blocks = [[] for _ in samples]
    for b, i in zip(res["blocks"], attribute([b["at"] for b in res["blocks"]], drain_w)):
        if i is not None:
            blocks[i].append(b["bytes"])
    plans = [[] for _ in samples]
    for pl, i in zip(res["plans"], attribute([pl["at"] for pl in res["plans"]], drain_w)):
        if i is not None:
            plans[i].append(pl)

    out = []
    for k, s in enumerate(samples):
        wall = s["t2"] - s["t0"]
        task_s = sum(st["run_ms"] for st in stages[k]) / 1e3
        m = {
            "queries.build_s": s["t1"] - s["t0"],
            "queries.build_jobs": sum(1 for a, _ in jobs[k] if a <= s["t1"] + SLACK),
            "queries.build_driver_s": self_time((s["t0"], s["t1"]), jobs[k]),
            "exec.driver_s": self_time((s["t1"], s["t2"]), jobs[k]),
            "exec.jobs": len(jobs[k]),
            "exec.stages": len(stages[k]),
            "exec.tasks": sum(st["tasks"] for st in stages[k]),
            "exec.job_s": union_length(jobs[k], s["t0"], s["t2"]),
            "exec.task_s": task_s,
            "exec.gc_s": sum(st["gc_ms"] for st in stages[k]) / 1e3,
            "exchange.shuffle_read_mb": sum(st["shuffle_read"] for st in stages[k]) / MB,
            "exchange.shuffle_write_mb": sum(st["shuffle_write"] for st in stages[k]) / MB,
            "exchange.spill_mb": sum(st["spill"] for st in stages[k]) / MB,
            "Pinned.blocks": len(blocks[k]),
            "Pinned.stored_mb": sum(blocks[k]) / MB,
        }
        for key in ("scan_s", "agg_s", "sort_s", "broadcast_s", "generate_rows"):
            m["sqlop." + key] = sum(pl.get(key, 0.0) for pl in plans[k])
        if s["op"] == "Listings.csv":
            m["Listings.read_s"], m["Listings.csv_s"] = s["t1"] - s["t0"], s["t2"] - s["t1"]
        if s["op"] == "Listings.parquet":
            m["Listings.read_s"], m["Listings.parquet_s"] = s["t1"] - s["t0"], s["t2"] - s["t1"]
        out.append({"pass": s["pass"], "op": s["op"], "wall_s": wall, "layers": m})
    return out


LAYER_NAMES = [
    "Tables.load_ms", "queries.build_s", "queries.build_jobs",
    "queries.build_driver_s", "exec.driver_s",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.job_s", "exec.task_s",
    "exec.gc_s", "exec.core_util", "exchange.shuffle_read_mb",
    "exchange.shuffle_write_mb", "exchange.spill_mb", "Pinned.blocks",
    "Pinned.stored_mb", "sqlop.scan_s", "sqlop.agg_s", "sqlop.sort_s",
    "sqlop.broadcast_s", "sqlop.generate_rows", "Listings.read_s",
    "Listings.csv_s", "Listings.parquet_s", "sink.bytes_mb", "sink.files",
    "trace.overhead",
]


def per_layer(res, queries):
    """Per-pass sums of the per-query layer metrics, as the median over the
    traced passes, plus the pass-level probes and the tracing overhead. The
    overhead compares traced passes with the untraced ones after the first
    (which still carries JIT warm-up)."""
    by_pass = {}
    for q in queries:
        by_pass.setdefault(q["pass"], []).append(q)
    traced = [p for p in res["passes"] if p["traced"]]
    plain = [p["end"] - p["start"] for p in res["passes"] if not p["traced"] and p["pass"] > 0]
    rows = []
    for p in traced:
        qs = by_pass.get(p["pass"], [])
        row = dict.fromkeys(LAYER_NAMES, 0.0)
        for q in qs:
            for k, v in q["layers"].items():
                row[k] += v
        wall = sum(q["wall_s"] for q in qs)
        row["exec.core_util"] = row["exec.task_s"] / (wall * res["cpus"]) if wall else 0.0
        row["Tables.load_ms"] = p["tables_load_ms"]
        row["sink.bytes_mb"] = p["sink_bytes"] / MB
        row["sink.files"] = p["sink_files"]
        rows.append(row)
    out = {k: statistics.median(r[k] for r in rows) for k in LAYER_NAMES}
    traced_s = statistics.median(p["end"] - p["start"] for p in traced)
    out["trace.overhead"] = traced_s / statistics.median(plain) - 1
    return out
