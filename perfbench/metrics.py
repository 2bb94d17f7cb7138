"""Turns one harness run record into the benchmark's metrics.

Pure functions over the JSON record that `perfbench.Harness` writes;
`run.py` calls them and `tests/test_metrics.py` covers them.
Times in the record are epoch milliseconds.
"""
import statistics

# Samples that must lie beyond the reported tail percentile.
TAIL_BEYOND = 10
MB = 1024.0 * 1024.0


def quantile(values, p):
    """The p-th percentile (0-100) with linear interpolation between
    closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values):
    """(percentile, value) of the tail metric: the highest percentile
    with at least TAIL_BEYOND samples beyond it, which is the
    (TAIL_BEYOND + 1)-th largest sample, at 100 * (n - TAIL_BEYOND) / n."""
    n = len(values)
    if n <= TAIL_BEYOND:
        raise ValueError(f"{n} samples cannot give a tail with {TAIL_BEYOND} beyond it")
    return 100.0 * (n - TAIL_BEYOND) / n, sorted(values)[n - TAIL_BEYOND - 1]


def union_length(intervals, lo, hi):
    """Length of the union of [start, end] intervals clipped to [lo, hi].
    Overlapping intervals count once, so the result never exceeds
    hi - lo; an interval with no end yet runs to hi."""
    clipped = []
    for s, e in intervals:
        e = hi if e is None or e < 0 else e
        s, e = max(s, lo), min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
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


def pass_wall_s(p):
    return (p["end"] - p["start"]) / 1000.0


def query_wall_ms(q):
    return q["t"][4] - q["t"][0]


def failures(record, expected):
    """(attempted, failed, reasons) over every timed execution and the
    output check of each query."""
    attempted, reasons = 0, []
    for p in record["passes"]:
        for q in p["queries"]:
            attempted += 1
            if q["error"]:
                reasons.append(f"pass {p['index']} {q['name']}: {q['error']}")
    names = [q["name"] for q in record["passes"][0]["queries"]]
    for name in names:
        attempted += 1
        got = record["hashes"].get(name)
        if got is None:
            reasons.append(f"hash {name}: {record['hash_errors'].get(name, 'missing')}")
        elif got != expected.get(name):
            reasons.append(f"hash {name}: {got} != expected {expected.get(name)}")
    return attempted, len(reasons), reasons


def end_to_end(record, launch_ms):
    """Metrics a user of the program sees, from an untraced run, and
    the per-query sample information behind them. The tail is None
    when the run has too few samples for one at or above the median."""
    passes = record["passes"]
    warm = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    samples = [query_wall_ms(q) for p in warm for q in p["queries"]]
    pct, tail_ms = tail(samples) if len(samples) >= 2 * TAIL_BEYOND else (None, None)
    return {
        "setup_s": (record["ready_ms"] - launch_ms) / 1000.0,
        "cold_pass_s": pass_wall_s(passes[0]),
        "warm_pass_s": statistics.median(pass_wall_s(p) for p in warm),
    }, {"samples": len(samples), "query_p50_ms": quantile(samples, 50.0),
        "tail_percentile": pct, "tail_ms": tail_ms, "warm_passes": len(warm)}


def per_query(record, q):
    """Per-query attribution for one traced query execution. A phase a
    failed query never reached ends where its release began."""
    t0, t1, t2, t3, t4 = [q["release_start"] if t is None else t for t in q["t"]]
    lst = record["listener"]
    jobs = [(j[2], j[3]) for j in lst["jobs"] if j[1] == q["tag"]]
    a = lst["aggs"].get(q["tag"], {})
    return {
        "body_ms": t1 - t0, "plan_ms": t2 - t1, "exec_ms": t3 - t2,
        "release_ms": t4 - q["release_start"],
        "body_jobs": sum(1 for s, _ in jobs if t0 <= s <= t1),
        "driver_only_ms": t4 - t0 - union_length(jobs, t0, t4),
        "sql_executions": sum(1 for t in lst["sql_starts"] if t0 <= t <= t4),
        "progress": [d for t, d in lst["progress"] if t0 <= t <= t4],
        "agg": a,
    }


def _sum(rows, key):
    return sum(r.get(key, 0) for r in rows)


def per_layer(record):
    """Per-layer metrics from a traced run: per-pass means over the
    traced warm passes, codegen from the cold pass."""
    passes = record["passes"]
    cold = passes[0]
    warm = [p for p in passes if p["kind"] == "warm"]
    traced = [p for p in warm if p["traced"]]
    untraced = [p for p in warm if not p["traced"]]
    cpus = record["cpus"]
    lst = record["listener"]
    per_pass = []
    min_driver_only = float("inf")
    for p in traced:
        qs = [per_query(record, q) for q in p["queries"]]
        min_driver_only = min([min_driver_only] + [x["driver_only_ms"] for x in qs])
        aggs = [x["agg"] for x in qs]
        prog = [d for x in qs for d in x["progress"]]
        wall = pass_wall_s(p)
        phases = [q["phases"] for q in p["queries"]]
        run_s = _sum(aggs, "run_ns") / 1e9
        per_pass.append({
            "scan.input_mb": _sum(aggs, "input_bytes") / MB,
            "scan.input_rows": _sum(aggs, "input_rows"),
            "body_s": _sum(qs, "body_ms") / 1000.0,
            "body.jobs": _sum(qs, "body_jobs"),
            "driver_only_s": _sum(qs, "driver_only_ms") / 1000.0,
            "plan_s": _sum(qs, "plan_ms") / 1000.0,
            "exec_s": _sum(qs, "exec_ms") / 1000.0,
            "plan.analysis_ms": _sum(phases, "analysis"),
            "plan.optimization_ms": _sum(phases, "optimization"),
            "plan.planning_ms": _sum(phases, "planning"),
            "sql.executions": _sum(qs, "sql_executions"),
            "sched.jobs": _sum(aggs, "jobs"),
            "sched.stages": _sum(aggs, "stages"),
            "sched.tasks": _sum(aggs, "tasks"),
            "sched.delay_s": _sum(aggs, "sched_delay_ns") / 1e9,
            "sched.deserialize_s": _sum(aggs, "deserialize_ns") / 1e9,
            "sched.core_util": run_s / (wall * cpus),
            "task.run_s": run_s,
            "task.cpu_s": _sum(aggs, "cpu_ns") / 1e9,
            "task.gc_s": _sum(aggs, "gc_ns") / 1e9,
            "task.peak_exec_mem_mb": max([a.get("peak_exec_mem_bytes", 0) for a in aggs] + [0]) / MB,
            "shuffle.write_mb": _sum(aggs, "shuffle_write_bytes") / MB,
            "shuffle.read_mb": _sum(aggs, "shuffle_read_bytes") / MB,
            "shuffle.fetch_wait_s": _sum(aggs, "fetch_wait_ns") / 1e9,
            "shuffle.write_s": _sum(aggs, "shuffle_write_ns") / 1e9,
            "spill.mem_mb": _sum(aggs, "spill_mem_bytes") / MB,
            "spill.disk_mb": _sum(aggs, "spill_disk_bytes") / MB,
            "cache.persisted_left": _sum(p["queries"], "persisted_left"),
            "cache.release_s": _sum(qs, "release_ms") / 1000.0,
            "stream.batches": len(prog),
            "stream.trigger_s": _sum(prog, "triggerExecution") / 1000.0,
            "stream.add_batch_s": _sum(prog, "addBatch") / 1000.0,
            "stream.query_planning_s": _sum(prog, "queryPlanning") / 1000.0,
            "stream.wal_commit_s": _sum(prog, "walCommit") / 1000.0,
            "stream.commit_offsets_s": _sum(prog, "commitOffsets") / 1000.0,
        })
    out = {k: statistics.fmean(x[k] for x in per_pass) for k in per_pass[0]}
    out["tables.load_ms"] = record["tables_load_ms"]
    out["codegen.compiles"] = cold["codegen_compiles"]
    out["codegen.compile_s"] = cold["codegen_ms"] / 1000.0
    out["codegen.warm_compiles"] = sum(p["codegen_compiles"] for p in warm)
    out["trace.untagged_jobs"] = sum(1 for j in lst["jobs"] if j[1] is None)
    out["trace.overhead_s"] = (statistics.median(pass_wall_s(p) for p in traced)
                               - statistics.median(pass_wall_s(p) for p in untraced))
    out["driver_only.min_ms"] = min_driver_only
    out["peak_rss_mb"] = record["peak_rss_mb"]
    out["jvm.setup_cpu_s"] = record["ready_cpu_ms"] / 1000.0
    out["jvm.cold_cpu_s"] = cold["cpu_ms"] / 1000.0
    out["jvm.warm_cpu_s"] = statistics.median(p["cpu_ms"] for p in warm) / 1000.0
    return out


def spans(record, workload, seed):
    """run -> pass -> query -> {body, plan, exec, release} -> job spans,
    each with an id, its parent's id, a name and epoch-ms bounds."""
    out = []

    def add(parent, name, start, end, **attrs):
        sid = len(out)
        out.append(dict(id=sid, parent=parent, name=name, start=start, end=end, **attrs))
        return sid

    passes = record["passes"]
    st = record["startup"]
    run = add(None, "run", st["jvm_start_ms"], passes[-1]["end"], workload=workload, seed=seed)
    setup = add(run, "setup", st["jvm_start_ms"], record["ready_ms"])
    tables_end = record["setup_start_ms"] + record["tables_load_ms"]
    for name, s, e in (("jvm", st["jvm_start_ms"], st["main_ms"]),
                       ("registry", st["main_ms"], st["registry_ms"]),
                       ("session", st["registry_ms"], st["session_ms"]),
                       ("tables", record["setup_start_ms"], tables_end),
                       ("first_job", tables_end, record["ready_ms"])):
        add(setup, name, s, e)
    jobs_by_tag = {}
    for j in (record["listener"] or {}).get("jobs", []):
        jobs_by_tag.setdefault(j[1], []).append(j)
    for p in passes:
        ps = add(run, "pass", p["start"], p["end"], kind=p["kind"], index=p["index"],
                 traced=p["traced"])
        for q in p["queries"]:
            t0, t1, t2, t3, t4 = q["t"]
            qs = add(ps, "query", t0, t4, query=q["name"], error=q["error"])
            parents = {}
            for name, s, e in (("body", t0, t1), ("plan", t1, t2), ("exec", t2, t3),
                               ("release", q["release_start"], t4)):
                if s is not None and e is not None:
                    parents[name] = (add(qs, name, s, e), s, e)
            for j in jobs_by_tag.get(q["tag"] if p["traced"] else object(), []):
                parent = qs
                for sid, s, e in parents.values():
                    if s <= j[2] <= e:
                        parent = sid
                add(parent, "job", j[2], j[3], job_id=j[0])
    return out
