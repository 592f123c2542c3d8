"""Pure logic of the benchmark: query plans, statistics, count checks and
the metrics computed from the measuring JVM's raw record.

Nothing here starts a process or touches a file, so `test_metrics.py`
covers it without Spark.
"""
import math
import random
import statistics


def family(query):
    """`q_graph_bfs` -> `graph`: the prefix Bench groups shared memos by."""
    return query.split("_")[1]


def plans(workload, seed, count):
    """`count` pass plans; pass i of a run follows plan i % count.

    A plan is the step list of one pass: `q <name>`, `memo` or `reset`.
    Each plan shuffles the order of the families and the order of the
    queries within each family, but every family stays contiguous, so a
    family's shared memo is built once and reused by all its members.
    The seed fixes the whole sequence; a new order in every pass keeps
    the timed metrics from resting on one order's memo and cache luck.
    """
    rng = random.Random(seed)
    return [_plan(workload, rng) for _ in range(count)]


def _plan(workload, rng):
    groups = {}
    for q in workload["queries"]:
        groups.setdefault(family(q), []).append(q)
    names = sorted(groups)
    rng.shuffle(names)
    steps = []
    for name in names:
        members = sorted(groups[name])
        rng.shuffle(members)
        if workload["memo"] == "family":
            # One memo set per family: built on first use, kept for the
            # family's members and dropped when the family ends.
            if name == "graph":
                steps.append("memo")
            steps.extend("q " + q for q in members)
            steps.append("reset")
        else:
            # No sharing: every query starts from empty memos.
            for q in members:
                steps.extend(["q " + q, "reset"])
    return steps


def percentile(values, p):
    """Nearest-rank percentile and the number of samples beyond it.

    Returns (value, samples_beyond). The value is the smallest sample
    with at least p of the samples at or below it.
    """
    if not values:
        raise ValueError("no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p * len(ordered)))
    return ordered[rank - 1], len(ordered) - rank


def union_length(intervals, lo, hi):
    """Length of the union of [start, end] intervals clipped to [lo, hi]."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals
                     if min(e, hi) > max(s, lo))
    total = 0
    cur_s = cur_e = None
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


def check_counts(passes, expected):
    """Compare every query run's row count with the expected count.

    Returns (attempted, failures) where failures lists
    (pass index, query, reason). A query that raised, returned a count
    other than the expected one, or has no expected count is a failure.
    """
    attempted = 0
    failures = []
    for p in passes:
        for q in p["queries"]:
            attempted += 1
            want = expected.get(q["name"])
            if q["error"] is not None:
                failures.append((p["index"], q["name"], "error: " + q["error"]))
            elif want is None:
                failures.append((p["index"], q["name"], "no expected count"))
            elif q["rows"] != want:
                failures.append((p["index"], q["name"],
                                 "rows %s, expected %s" % (q["rows"], want)))
    return attempted, failures


def latency(q):
    return q["build_s"] + q["action_s"]


def engine_cpu(p):
    """Process CPU of a pass less the JIT compiler threads' share. The
    JIT keeps compiling through a run's timed passes, less in each one;
    a long-lived session stops paying for it."""
    return p["cpu_s"] - p["jit_cpu_s"]


def drift(walls):
    """Relative change from the first to the last of a run's timed
    passes: how far the run was from settled."""
    return walls[-1] / walls[0] - 1


def end_to_end(raw, untraced):
    """The end-to-end metrics from the untraced timed passes.

    Returns (metrics, notes) where metrics maps name -> (value, unit).
    """
    lat = [latency(q) for p in untraced for q in p["queries"]]
    p50, _ = percentile(lat, 0.5)
    p80, beyond = percentile(lat, 0.8)
    metrics = {
        "setup_s": ((raw["setup_end_ms"] - raw["jvm_start_ms"]) / 1000, "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in untraced), "s"),
        "query_p50_s": (p50, "s"),
        "query_p80_s": (p80, "s"),
        "cpu_s": (statistics.median(engine_cpu(p) for p in untraced), "s"),
        "cached_mb": (statistics.median(
            p["rdd_block_bytes"] for p in untraced) / 1e6, "MB"),
    }
    notes = {"latency_samples": len(lat), "samples_beyond_p80": beyond,
             "timed_passes": len(untraced)}
    return metrics, notes


def pass_layers(p, cores):
    """Per-layer metrics of one traced pass, and its time accounting."""
    t = p["trace"]
    jobs, stages, sql = t["jobs"], t["stages"], t["sql"]
    ran = [s for s in stages if s["tasks"] > 0]
    tasks = sum(s["tasks"] for s in ran)
    wall = p["wall_s"]
    # Job event times are in milliseconds and the wall in nanoseconds, so
    # the gap may read a millisecond below zero on a pass with no idle time.
    union = union_length([(j["start_ms"], j["end_ms"]) for j in jobs],
                         p["start_ms"], p["end_ms"]) / 1000

    def total(key, scale=1.0):
        return sum(s[key] for s in ran) * scale

    run_s = total("run_ms", 1e-3)
    nq = len(p["queries"])
    m = {
        "ops.build_s": (sum(q["build_s"] for q in p["queries"]), "s"),
        "ops.action_s": (sum(q["action_s"] for q in p["queries"]), "s"),
        "tables.memo_s": (p["memo_s"], "s"),
        "tables.rdd_block_bytes": (p["rdd_block_bytes"], "bytes"),
        "tables.rdd_blocks": (p["rdd_blocks"], "count"),
        "tables.peak_held_bytes": (p["peak_cached_bytes"], "bytes"),
        "tables.scan_bytes": (total("in_bytes"), "bytes"),
        "tables.scan_records": (total("in_records"), "count"),
        "sql.analysis_s": (sum(e["analysis_ms"] for e in sql) / 1000, "s"),
        "sql.optimization_s": (sum(e["optimization_ms"] for e in sql) / 1000, "s"),
        "sql.planning_s": (sum(e["planning_ms"] for e in sql) / 1000, "s"),
        "sql.actions": (len(sql), "count"),
        "codegen.compiles": (p["compiles"], "count"),
        "sched.jobs": (len(jobs), "count"),
        "sched.stages": (len(ran), "count"),
        "sched.tasks": (tasks, "count"),
        "sched.jobs_per_query": (len(jobs) / nq if nq else 0.0, "count"),
        "sched.delay_s": (total("delay_ms", 1e-3), "s"),
        "sched.job_union_s": (union, "s"),
        "sched.driver_gap_s": (wall - union, "s"),
        "sched.nonempty_task_ratio": (
            total("nonempty_tasks") / tasks if tasks else 0.0, "ratio"),
        "sched.failed_tasks": (total("failed_tasks"), "count"),
        "sched.stage_retries": (sum(1 for s in ran if s["attempt"] > 0), "count"),
        "exec.run_s": (run_s, "s"),
        "exec.cpu_s": (total("cpu_ns", 1e-9), "s"),
        "exec.gc_s": (total("gc_ms", 1e-3), "s"),
        "exec.deser_s": (total("deser_ms", 1e-3), "s"),
        "exec.busy_ratio": (run_s / (cores * wall), "ratio"),
        "shuffle.write_bytes": (total("sh_write_bytes"), "bytes"),
        "shuffle.read_bytes": (total("sh_read_bytes"), "bytes"),
        "shuffle.records": (total("sh_write_records"), "count"),
        "shuffle.fetch_wait_s": (total("fetch_wait_ms", 1e-3), "s"),
        "shuffle.spill_bytes": (total("spill_bytes"), "bytes"),
    }
    return m


def per_layer(raw, traced, untraced):
    """Per-layer metrics: the median over traced timed passes, plus the
    first pass's compile count and the price of tracing."""
    cores = raw["cores"]
    per_pass = [pass_layers(p, cores) for p in traced]
    out = {k: (statistics.median(m[k][0] for m in per_pass), unit)
           for k, (_, unit) in per_pass[0].items()}
    first = raw["passes"][0]
    out["codegen.first_pass_compiles"] = (first["compiles"], "count")
    out["codegen.first_pass_s"] = (first["wall_s"], "s")
    traced_s = statistics.median(p["wall_s"] for p in traced)
    plain_s = statistics.median(p["wall_s"] for p in untraced)
    out["trace.pass_s"] = (traced_s, "s")
    out["trace.overhead_ratio"] = (traced_s / plain_s - 1, "ratio")
    return out, per_pass


def query_table(passes, expected):
    """Per query over the given passes: median latency, build and action
    time, and the row counts seen against the expected count."""
    by = {}
    for p in passes:
        for q in p["queries"]:
            by.setdefault(q["name"], []).append(q)
    return {name: {
        "latency_s": statistics.median(latency(q) for q in qs),
        "build_s": statistics.median(q["build_s"] for q in qs),
        "action_s": statistics.median(q["action_s"] for q in qs),
        "runs": len(qs),
        "rows": sorted({q["rows"] for q in qs}, key=str),
        "expected_rows": expected.get(name, {}).get("rows"),
    } for name, qs in sorted(by.items())}


def query_layers(traced):
    """Per query, the median over traced passes of its jobs, stages,
    tasks, executor time, shuffle bytes and Dataset actions."""
    rows = {}
    for p in traced:
        t = p["trace"]
        spans = {q["name"]: q for q in p["queries"]}
        per = {n: {"jobs": 0, "stages": 0, "tasks": 0, "exec_run_s": 0.0,
                   "shuffle_bytes": 0, "sql_actions": 0} for n in spans}
        for j in t["jobs"]:
            if j["query"] in per:
                per[j["query"]]["jobs"] += 1
        for s in t["stages"]:
            if s["query"] in per and s["tasks"] > 0:
                r = per[s["query"]]
                r["stages"] += 1
                r["tasks"] += s["tasks"]
                r["exec_run_s"] += s["run_ms"] / 1000
                r["shuffle_bytes"] += s["sh_write_bytes"]
        for e in t["sql"]:
            for n, q in spans.items():
                if q["start_ms"] <= e["start_ms"] <= q["end_ms"]:
                    per[n]["sql_actions"] += 1
                    break
        for n, r in per.items():
            for k, v in r.items():
                rows.setdefault(n, {}).setdefault(k, []).append(v)
    return {n: {k: statistics.median(v) for k, v in r.items()}
            for n, r in sorted(rows.items())}
