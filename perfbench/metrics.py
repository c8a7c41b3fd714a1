"""Turns one harness record (op walls and, when traced, Spark events) into
the benchmark's end-to-end and per-layer metrics. Pure functions only.

Times in the record are epoch milliseconds; jobs carry their operation
index and phase (`construct` or `sink`), stages reach an operation through
the first job that lists them.
"""
import statistics

MB = 1e6


def tail_rank(n):
    """1-based rank of the tail operation among n sorted walls: the highest
    percentile with ten operations beyond it, or the slowest when n < 20."""
    return n - 10 if n >= 20 else n


def op_tail(walls):
    """(value, rank, percentile) of the tail operation wall."""
    rank = tail_rank(len(walls))
    return sorted(walls)[rank - 1], rank, 100.0 * rank / len(walls)


def union_length(intervals, lo=float("-inf"), hi=float("inf")):
    """Length of the union of [start, end) intervals clipped to [lo, hi)."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    start, end = span
    return (end - start) - union_length(children, start, end)


def op_walls(record):
    return [(op["end_ms"] - op["start_ms"]) / 1000.0 for op in record["ops"]]


def end_to_end(record):
    """The gated metrics, and the op-wall shape for the run record. The tail
    wall is recorded there only: with fewer than 20 operations a run has no
    percentile with ten operations beyond it, and one operation's wall is
    too noisy to gate on."""
    walls = op_walls(record)
    tail, rank, pct = op_tail(walls)
    return {
        "setup_s": (statistics.median(record["setup_s"]), "s"),
        "wall_s": (sum(walls) / record["passes"], "s"),
        "op_p50_s": (statistics.median(walls), "s"),
        "live_heap_mb": (record["peak_live_heap_bytes"] / MB, "MB"),
    }, {"n": len(walls), "op_tail_s": round(tail, 4), "tail_rank": rank,
        "tail_percentile": round(pct, 1)}


def _jobs(record):
    """Jobs of timed operations, start and end events merged."""
    by_id = {}
    for j in record["jobs"]:
        by_id.setdefault(j["job"], {}).update(j)
    n_ops = len(record["ops"])
    return [j for j in by_id.values()
            if "start_ms" in j and "end_ms" in j and str(j.get("op")).isdigit()
            and int(j["op"]) < n_ops]


def spans(record):
    """Per operation: a root span, its construct and sink children, and each
    Spark job under the phase that started it. All share the op's id."""
    out = []
    for op in record["ops"]:
        i = op["i"]
        out.append({"op": i, "name": "op", "parent": None, "start": op["start_ms"], "end": op["end_ms"]})
        out.append({"op": i, "name": "construct", "parent": "op", "start": op["start_ms"], "end": op["mid_ms"]})
        out.append({"op": i, "name": "sink", "parent": "op", "start": op["mid_ms"], "end": op["end_ms"]})
    for j in _jobs(record):
        out.append({"op": int(j["op"]), "name": f"job{j['job']}", "parent": j.get("phase") or "op",
                    "start": j["start_ms"], "end": j["end_ms"], "schema": j["schema"]})
    return out


def per_op_layers(record, cores):
    """Per-layer numbers for each operation, from its spans and events."""
    stage_owner = {}
    jobs = sorted(_jobs(record), key=lambda j: j["job"])
    for j in jobs:
        for s in j["stages"]:
            stage_owner.setdefault(s, int(j["op"]))
    stages_by_op = {}
    for s in record["stages"]:
        if s["stage"] in stage_owner:
            stages_by_op.setdefault(stage_owner[s["stage"]], []).append(s)
    jobs_by_op = {}
    for j in jobs:
        jobs_by_op.setdefault(int(j["op"]), []).append(j)
    phases = sorted(record["phases"], key=lambda p: p["start_ms"])
    children = {}
    for sp in spans(record):
        children.setdefault((sp["op"], sp["parent"]), []).append((sp["start"], sp["end"]))

    rows = []
    for op in record["ops"]:
        i, start, mid, end = op["i"], op["start_ms"], op["mid_ms"], op["end_ms"]
        js, ss = jobs_by_op.get(i, []), stages_by_op.get(i, [])
        schema = [j for j in js if j["schema"]]
        ph = [p for p in phases if start <= p["start_ms"] <= end]
        wall_ms = end - start

        def stage_sum(key):
            return sum(s[key] for s in ss)
        tasks = stage_sum("tasks")
        rows.append({
            "op": i, "name": op["name"], "role": op["role"], "wall_ms": wall_ms,
            "sources.schema_jobs": len(schema),
            "sources.schema_ms": sum(j["end_ms"] - j["start_ms"] for j in schema),
            "sources.read_mb": stage_sum("input_bytes") / MB,
            "construct.ms": mid - start,
            "construct.self_ms": self_time((start, mid), children.get((i, "construct"), [])),
            "construct.eager_jobs": sum(1 for j in js if j.get("phase") == "construct" and not j["schema"]),
            "plan.analysis_ms": sum(p.get("analysis", 0) for p in ph),
            "plan.optimization_ms": sum(p.get("optimization", 0) for p in ph),
            "plan.planning_ms": sum(p.get("planning", 0) for p in ph),
            "codegen.compiles": op.get("compiles", 0),
            "codegen.compile_ms": op.get("compile_ms", 0.0),
            "sched.jobs": len(js),
            "sched.stages": len(ss),
            "sched.tasks": tasks,
            "sched.driver_gap_ms": self_time((start, end), [(j["start_ms"], j["end_ms"]) for j in js]),
            "exec.run_ms": stage_sum("run_ms"),
            "exec.cpu_ms": stage_sum("cpu_ns") / 1e6,
            "exec.gc_ms": stage_sum("gc_ms"),
            "exec.slot_util": stage_sum("run_ms") / (wall_ms * cores) if wall_ms > 0 else 0.0,
            "shuffle.write_mb": stage_sum("shuffle_write_bytes") / MB,
            "shuffle.read_mb": stage_sum("shuffle_read_bytes") / MB,
            "shuffle.spill_mb": stage_sum("spill_bytes") / MB,
            "sink.ms": end - mid,
            "sink.self_ms": self_time((mid, end), children.get((i, "sink"), [])),
            "sink.written_mb": stage_sum("output_bytes") / MB,
        })
    return rows


def layer_sums(record, cores, wall_s):
    """Workload sums of the per-operation layer numbers, plus the run-level
    ones (cached artifacts, traced wall)."""
    rows = per_op_layers(record, cores)
    summed = [k for k in rows[0] if "." in k and k != "exec.slot_util"] if rows else []
    out = {k: sum(r[k] for r in rows) for k in summed}
    tasks, stages = out.pop("sched.tasks", 0), out.get("sched.stages", 0)
    out["sched.tasks_per_stage"] = tasks / stages if stages else 0.0
    total_wall = sum(r["wall_ms"] for r in rows)
    out["exec.slot_util"] = out.get("exec.run_ms", 0) / (total_wall * cores) if total_wall else 0.0
    out["construct.carrier_ms"] = sum(r["construct.ms"] for r in rows if r["role"] == "carrier")
    out["construct.rider_ms"] = sum(r["construct.ms"] for r in rows if r["role"] == "rider")
    out["artifacts.cached_mb"] = record["cached_bytes"] / MB
    out["setup.cold_s"] = record["setup_s"][0]
    out["jvm.peak_rss_mb"] = record["peak_rss_kb"] * 1024 / MB
    out["trace.wall_s"] = wall_s
    return out, rows
