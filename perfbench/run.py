#!/usr/bin/env python3
"""graft benchmark: one closed-loop client runs a workload's declared
queries through the engine, checks every row count, and prints the
metrics.

Run from the repository root:

    python3 perfbench/run.py --workload graph-iter --seed 1 --seconds 20 --trace 0

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer
metrics of a traced run. The last line of stdout is one JSON object
with the keys `correct`, `attempted`, `failed` and `metrics`. A full
report (per pass, per query, per layer) is written under
`perfbench/out/`. See `perfbench/README.md` for the design.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "perfbench.stamp")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
OUT = os.path.join(HERE, "out")
WORK = os.path.join(HERE, "work")
# A run must end within 180 s; the JVM gets what is left of that.
DEADLINE_S = 170
BUILD_TIMEOUT_S = 840
# The timed passes outlast --seconds until the latency sample floor is
# met, but never this long.
MAX_TIMED_S = 90
# Every workload reads the same copy of the seed-42 sf0.01 fixture.
DATA = "data/sf0.01"
WARMUPS = 1
# local[N] with N shuffle partitions, N as nproc reports it.
CORES = len(os.sched_getaffinity(0))
# Distinct pass orders per run; more than any run has passes.
PLANS = 32
# Pooled latencies per run: 50 leave ten samples beyond p80.
MIN_SAMPLES = 50
# What spark-submit would pass to a JDK 17 driver.
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def source_hash():
    """Hash of everything the measuring JVM is built from."""
    h = hashlib.sha256()
    inputs = ["build.sbt", "project/build.properties", "src/main",
              "perfbench/build.sbt", "perfbench/project/build.properties",
              "perfbench/src"]
    for rel in inputs:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, what, **kw):
    """Run cmd in its own process group and return its exit code. On a
    timeout, an error or a signal to this script, kill the whole group
    and wait for the child, so no process outlives the run."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        raise SystemExit("%s ran past its deadline" % what)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build():
    """Compile the engine and the agent with sbt unless the sources are
    unchanged since the last build in this checkout."""
    digest = source_hash()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    log("building the engine and the agent with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    out_file = os.path.join(TARGET, "sbt.out")
    os.makedirs(TARGET, exist_ok=True)
    with open(out_file, "w") as out:
        code = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "compile",
             "export perfbench/Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, "sbt", cwd=HERE, env=env, stdout=out,
            stderr=sys.stderr)
    with open(out_file) as f:
        text = f.read()
    lines = text.splitlines()
    if code != 0 or not lines:
        sys.stderr.write(text)
        raise SystemExit("sbt build failed")
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    with open(STAMP, "w") as f:
        f.write(digest)


def java(args, timeout):
    """Run the agent in its own process group; kill the group on timeout."""
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    # A fixed heap: a heap that grows from the default initial size
    # collects more often in the early passes, and pass times kept
    # drifting down for ten passes.
    cmd = (["java"] + ADD_OPENS +
           # Compiler threads that exit would take their CPU time out
           # of the JIT share that cpu_s leaves out.
           ["-Xms3g", "-Xmx3g", "-XX:-UseDynamicNumberOfCompilerThreads",
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Agent"]
           + args)
    with open(os.path.join(WORK, "agent.log"), "w") as err:
        code = run_group(cmd, timeout, "the agent", cwd=WORK, env=env,
                         stdout=err, stderr=err)
    if code != 0:
        with open(os.path.join(WORK, "agent.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("the agent failed with exit code %d" % code)
    shutil.rmtree(tmp, ignore_errors=True)


def sql_hash(sql):
    return hashlib.sha256(sql.encode()).hexdigest() if sql else None


def fmt(v):
    return "%.6g" % v if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()
    # Turn SIGTERM into SystemExit so that run_group's cleanup runs.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not all(os.path.exists(os.path.join(ROOT, p))
               for p in ("build.sbt", "src/main/scala/graft")):
        raise SystemExit("run from a checkout of the repository: the engine "
                         "sources are missing")
    workloads = load_json("workloads.json")
    if a.workload not in workloads:
        raise SystemExit("unknown workload %r; choose from %s"
                         % (a.workload, ", ".join(sorted(workloads))))
    w = workloads[a.workload]
    expected = load_json("expected_counts.json")

    build()
    os.makedirs(OUT, exist_ok=True)
    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    plan_file = os.path.join(OUT, tag + ".plan")
    raw_file = os.path.join(OUT, tag + ".raw.json")
    with open(plan_file, "w") as f:
        f.write("".join("\n".join(p) + "\nnext\n"
                        for p in metrics.plans(w, a.seed, PLANS)))
    java(["--mode", "run", "--data", os.path.join(HERE, DATA),
          "--plan", plan_file, "--out", raw_file, "--cores", str(CORES),
          "--warmups", str(WARMUPS), "--seconds", str(a.seconds),
          "--max-seconds", str(MAX_TIMED_S),
          "--min-samples", str(MIN_SAMPLES), "--trace", str(a.trace)],
         timeout=max(1, DEADLINE_S - (time.monotonic() - t_start)))
    with open(raw_file) as f:
        raw = json.load(f)

    passes = raw["passes"]
    timed = [p for p in passes if p["kind"] == "timed"]
    untraced = [p for p in timed if not p["traced"]]
    traced = [p for p in timed if p["traced"]]
    rows = expected["rows"]
    attempted, failures = metrics.check_counts(
        passes, {q: e["rows"] for q, e in rows.items()})
    stale = sorted(q for q, sql in raw["oracle"].items()
                   if q in rows and rows[q]["sql_sha256"] != sql_hash(sql))
    if stale:
        log("oracle SQL changed since the expected counts were made for: "
            + ", ".join(stale) + " (rerun perfbench/oracle.py)")
    e2e, notes = metrics.end_to_end(raw, untraced)
    fail_rate = len(failures) / attempted
    warm_walls = [p["wall_s"] for p in passes if p["kind"] == "warmup"]
    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "seconds": a.seconds, "cores": raw["cores"], "data": DATA,
        "end_to_end": dict(
            {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
            fail_rate={"value": fail_rate, "unit": "ratio"}),
        "notes": dict(notes, **{
            "first_pass_s": passes[0]["wall_s"],
            "session_s": (raw["session_ms"] - raw["jvm_start_ms"]) / 1000,
            "table_warmup_s": (raw["tables_ms"] - raw["session_ms"]) / 1000,
            "warmup_pass_s": warm_walls,
            "timed_drift": metrics.drift([p["wall_s"] for p in timed]),
            "timed_vs_last_warmup": e2e["pass_s"][0] / warm_walls[-1] - 1,
            "stale_expected_counts": stale}),
        "failures": failures,
        "passes": [{k: p[k] for k in (
            "index", "kind", "traced", "wall_s", "cpu_s", "jit_cpu_s", "compiles",
            "memo_s", "rdd_blocks", "rdd_block_bytes", "peak_cached_bytes")}
            for p in passes],
        "queries": metrics.query_table(untraced, rows),
    }
    if a.trace:
        layers, per_pass = metrics.per_layer(raw, traced, untraced)
        report["per_layer"] = {k: {"value": v, "unit": u}
                               for k, (v, u) in layers.items()}
        residuals = []
        for p, m in zip(traced, per_pass):
            entry = report["passes"][p["index"]]
            entry["layers"] = {k: v for k, (v, _) in m.items()}
            union, gap = m["sched.job_union_s"][0], m["sched.driver_gap_s"][0]
            residuals.append(union + gap - p["wall_s"])
            entry["time_accounting"] = {
                "wall_s": p["wall_s"], "job_union_s": union,
                "driver_gap_s": gap, "residual_s": residuals[-1]}
        report["queries_traced"] = metrics.query_layers(traced)
        report["spans_file"] = os.path.relpath(raw_file, ROOT)
        shown = layers
    else:
        shown = e2e
    with open(os.path.join(OUT, tag + ".report.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)

    for k, (v, u) in shown.items():
        print("%-28s %14s %s" % (k, fmt(v), u))
    if a.trace:
        print("tracing overhead: traced pass_s / untraced pass_s - 1 = %.4f"
              % layers["trace.overhead_ratio"][0])
        print("time accounting: job union + driver gap - pass wall, "
              "largest residual over traced passes = %.3g s"
              % max(abs(r) for r in residuals))
    else:
        # fail_rate is 0 on a correct run, so it is not one of the
        # benchmark's bounded metrics; failures reach the result line as
        # `failed` and `correct`.
        print("%-28s %14s %s" % ("fail_rate", fmt(fail_rate), "ratio"))
        # One sample a run, so not bounded; setup_s bounds its cost.
        print("%-28s %14s %s" % ("first_pass_s", fmt(passes[0]["wall_s"]), "s"))
        print("query latencies pooled: %d samples over %d timed passes, "
              "%d beyond p80" % (notes["latency_samples"],
                                 notes["timed_passes"],
                                 notes["samples_beyond_p80"]))
    n = report["notes"]
    print("warm-up passes (s): %s; timed median vs last warm-up: %+.4f; "
          "last vs first timed pass: %+.4f"
          % (", ".join("%.3f" % x for x in warm_walls),
             n["timed_vs_last_warmup"], n["timed_drift"]))
    for f in failures[:20]:
        print("FAILED pass %d %s: %s" % f)
    print(json.dumps({
        "correct": not failures, "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}}))


if __name__ == "__main__":
    main()
