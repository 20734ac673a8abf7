"""Per-layer metrics from the spans of the traced passes.

A span is a dict with `id`, `parent`, `trace`, `name`, `start_us`,
`end_us` and `attrs`. The benchmark's own spans are `pass`, `query`,
`queries.build`, `exec`, `tables.scan` and `sessions.start`; the Spark
listener adds `job`, `stage` and `task` children, linked to the benchmark
span that submitted them.
"""
from collections import defaultdict
from statistics import median


def union_us(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0, None, None
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


def self_time_us(span, covering):
    """The span's duration minus the part of it that `covering` spans
    (its children, possibly overlapping each other) cover."""
    lo, hi = span["start_us"], span["end_us"]
    return (hi - lo) - union_us(
        [(c["start_us"], c["end_us"]) for c in covering], lo, hi)


def _dur_s(s):
    return (s["end_us"] - s["start_us"]) / 1e6


def pass_metrics(spans, pass_rec, batches, cores):
    """Layer metrics of one traced pass."""
    by_name = defaultdict(list)
    kids = defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)
        kids[s["parent"]].append(s)

    def under(parents, name):
        return [c for p in parents for c in kids[p["id"]] if c["name"] == name]

    tasks = by_name["task"]
    builds, execs = by_name["queries.build"], by_name["exec"]
    exec_jobs = under(execs, "job")
    exec_stages = under(exec_jobs, "stage")
    exec_tasks = under(exec_stages, "task")
    driver_self = 0
    for e in execs:
        driver_self += self_time_us(
            e, under(under(under([e], "job"), "stage"), "task"))

    def tsum(k):
        return sum(t["attrs"].get(k, 0.0) for t in tasks)

    scans = [t for t in tasks if t["attrs"].get("in_rows", 0) > 0
             or t["attrs"].get("in_bytes", 0) > 0]
    wall = pass_rec["wall_s"]
    plan = defaultdict(int)
    for q in pass_rec["queries"]:
        for k, v in (q.get("plan") or {}).items():
            plan[k] += v

    last = {}
    for b in batches:
        if b["query"] not in last or b["batch_id"] >= last[b["query"]]["batch_id"]:
            last[b["query"]] = b

    def bshare(k):
        return sum(b[k] for b in batches) / 1e3 / wall

    return {
        "tables.read_mb": tsum("in_bytes") / 1e6,
        "tables.read_rows": tsum("in_rows"),
        "tables.scan_tasks": len(scans),
        "queries.build_s": sum(_dur_s(b) for b in builds),
        "queries.build_jobs": len(under(builds, "job")),
        "exec.s": sum(_dur_s(e) for e in execs),
        "exec.jobs": len(exec_jobs),
        "exec.stages": len(exec_stages),
        "exec.tasks": len(exec_tasks),
        "exec.driver_self_s": driver_self / 1e6,
        "tasks.cpu_s": tsum("cpu_s"),
        "tasks.run_s": tsum("run_s"),
        "tasks.gc_s": tsum("gc_s"),
        "tasks.core_util": tsum("cpu_s") / (wall * cores),
        "shuffle.write_mb": tsum("shuffle_write_bytes") / 1e6,
        "shuffle.read_mb": tsum("shuffle_read_bytes") / 1e6,
        "shuffle.spill_mb": tsum("spill_bytes") / 1e6,
        "plan.exchanges": plan["exchanges"],
        "plan.reused_exchanges": plan["reused_exchanges"],
        "plan.broadcasts": plan["broadcasts"],
        "plan.graft_nodes": plan["graft_nodes"],
        "streaming.batches": len(batches),
        "streaming.trigger_share": bshare("trigger_ms"),
        "streaming.add_batch_share": bshare("add_batch_ms"),
        "streaming.wal_commit_share": bshare("wal_commit_ms"),
        "streaming.planning_share": bshare("planning_ms"),
        "streaming.state_rows": sum(b["state_rows"] for b in last.values()),
        "streaming.state_mb": sum(b["state_bytes"] for b in last.values()) / 1e6,
    }


def layer_metrics(record):
    """Per-layer metrics of one traced run: each a median over its traced
    passes, plus set-up, table scans and the tracing overhead."""
    spans = record["spans"]
    cores = record["cores"]
    per_pass = []
    for p in record["passes"]:
        if p["kind"] != "traced":
            continue
        tag = f"p{p['index']}"
        mine = [s for s in spans
                if s["trace"] == tag or s["trace"].startswith(tag + ":")]
        batches = [b for b in record["batches"] if b["pass"] == p["index"]]
        per_pass.append(pass_metrics(mine, p, batches, cores))
    out = {k: median([m[k] for m in per_pass]) for k in per_pass[0]}
    out["sessions.start_s"] = record["sessions_start_s"]
    out["tables.scan_s"] = sum(t["s"] for t in record["tables"])
    walls = {k: median([p["wall_s"] for p in record["passes"] if p["kind"] == k])
             for k in ("steady", "traced")}
    out["trace.overhead_s"] = walls["traced"] - walls["steady"]
    return out
