#!/usr/bin/env python3
"""Pipeline benchmark for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Inputs are generated from the seed
by this single-threaded process, then one JVM runs the workload on a
local[nproc] Spark session (perfbench.Main) and reports back. The last
line of standard output is the result JSON: `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics with `--trace 0`, per-layer
metrics with `--trace 1`). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

# name: [(input kind, subdirectory, generator arguments)]
WORKLOADS = {
    "trace_diagnose": [("traces", "", {"n_events": 20000})],
    "train_data": [("docs", "docs", {"n_docs": 2000}),
                   ("vectors", "vectors", {"n": 2000, "q": 120})],
}

END_TO_END = [("setup_s", "s"), ("run_s", "s"), ("items_per_s", "1/s"),
              ("quality", "ratio"), ("peak_rss_mb", "MB")]

# every span each workload's traced op reports, in call order
SPANS = {
    "trace_diagnose": [
        "TraceEvents.loadAll", "Cli.Ctx.write.events",
        "DerivedTables.eventMetrics", "DerivedTables.eventsWide",
        "DerivedTables.metricBaselines", "DerivedTables.rollups",
        "Cli.Ctx.read.events", "Detectors.battery",
        "GlobalScanner.rollbackStatus", "TimelineBuilder.build",
        "RcaLoop.investigate"],
    "train_data": [
        "CleanPipeline.decisions", "Sampling.deterministicSplit",
        "Sampling.tokenBudgetSample", "Packing.packGreedy",
        "VectorSearch.annCosine", "VectorSearch.ivfCosine",
        "VectorSearch.ivfCosineInt8", "VectorSearch.pqTopK",
        "VectorSearch.ivfPqTopK"],
}
SPAN_METRICS = [("wall_s", "s"), ("driver_s", "s"), ("task_s", "s"),
                ("jobs", "count"), ("shuffle_bytes", "bytes"),
                ("spill_bytes", "bytes")]
EXTRAS = [("TraceEvents.loadAll.rows_out", "count"),
          ("RcaLoop.investigate.iterations", "count"),
          ("LlmBoundary.complete.calls", "count"),
          ("LlmBoundary.complete.wall_s", "s"),
          ("Op.untraced_run_s", "s"), ("Op.traced_run_s", "s"),
          ("Op.tracing_overhead_s", "s")]


def per_layer_metrics():
    """Every per-layer metric name with its unit, across all workloads."""
    out = []
    for spans in SPANS.values():
        for span in spans:
            out += [("%s.%s" % (span, m), u) for m, u in SPAN_METRICS]
    return out + EXTRAS


def die(msg):
    sys.stderr.write("perfbench: %s\n" % msg)
    sys.exit(2)


# ---- build ------------------------------------------------------------------

def source_hash():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(deadline):
    """Compile engine + benchmark; returns (runtime classpath, source hash,
    whether this call built)."""
    stamp_file = os.path.join(WORK, "build", "stamp")
    cp_file = os.path.join(WORK, "build", "classpath")
    stamp = source_hash()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), stamp, False
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(WORK, "build", "sbt.log")
    with open(log, "w") as lf:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.forcestart=false", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
            stdin=subprocess.DEVNULL, text=True,
            timeout=max(60, deadline - time.time()))
    lines = [l.strip() for l in proc.stdout.splitlines() if l.strip()]
    with open(log, "a") as lf:
        lf.write(proc.stdout)
    if proc.returncode != 0 or not lines or "[" in lines[-1]:
        die("build failed (exit %d); see %s" % (proc.returncode, log))
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1], stamp, True


# ---- inputs -----------------------------------------------------------------

def generate(workload, seed):
    """Generate the workload's inputs for `seed`; returns (dir, seconds).
    One input set per workload stays on disk."""
    parts = WORKLOADS[workload]
    key = "%s-seed%d-%s" % (workload, seed, hashlib.sha256(
        json.dumps(parts).encode()).hexdigest()[:12])
    base = os.path.join(WORK, "inputs")
    out = os.path.join(base, key)
    if os.path.exists(os.path.join(out, "complete")):
        return out, 0.0
    if os.path.isdir(base):
        for d in os.listdir(base):
            if d.startswith(workload + "-"):
                shutil.rmtree(os.path.join(base, d))
    t0 = time.time()
    for kind, sub, params in parts:
        where = os.path.join(out, sub)
        if kind == "traces":
            import gen_traces
            gen_traces.generate(where, params["n_events"], seed, faults=True)
        elif kind == "docs":
            import gen_docs
            gen_docs.generate(where, params["n_docs"], seed)
        else:
            import gen_vectors
            gen_vectors.generate(where, params["n"], params["q"], seed)
    open(os.path.join(out, "complete"), "w").close()
    return out, time.time() - t0


# ---- run --------------------------------------------------------------------

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def run_jvm(cp, workload, inputs, seconds, trace, seed, deadline):
    run_dir = os.path.join(WORK, "run", workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    run_id = "%s-seed%d-%d" % (workload, seed, int(time.time() * 1000))
    spans = os.path.join(WORK, "spans", run_id + ".jsonl")
    cpus = len(os.sched_getaffinity(0))
    # a fixed-size heap, so peak RSS does not hinge on heap-growth timing
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
           "-Djava.io.tmpdir=" + tmp,
           "-Dspark.local.dir=" + tmp,
           "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--inputs", inputs, "--work", run_dir, "--seconds", str(seconds),
            "--trace", str(trace), "--run-id", run_id,
            "--spans", spans, "--launch-ms", str(int(time.time() * 1000))]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    log = os.path.join(WORK, "logs", run_id + ".log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, text=True,
                                stdout=subprocess.PIPE, stderr=lf,
                                stdin=subprocess.DEVNULL)
        try:
            stdout, _ = proc.communicate(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die("workload timed out; see %s" % log)
        lf.write(stdout)
    result = [l for l in stdout.splitlines()
              if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not result:
        die("workload JVM failed (exit %d); see %s" % (proc.returncode, log))
    shutil.rmtree(run_dir, ignore_errors=True)
    return json.loads(result[-1][len("PERFBENCH_RESULT "):]), spans


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("no engine sources next to the benchmark (expected %s)" %
            os.path.join(ROOT, "src", "main", "scala"))
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")

    cp, stamp, built = build(started + 780)
    inputs, gen_s = generate(a.workload, a.seed)
    # a run must end within 180 s, or 900 s when it had to build first
    limit = 890 if built else 175
    r, spans = run_jvm(cp, a.workload, inputs, a.seconds, a.trace, a.seed,
                       started + limit)

    attempted, failed = r["attempted"], r["failed"]
    if a.trace:
        names = per_layer_metrics()
        layer = r.get("per_layer", {})
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u}
                   for n, u in names}
    else:
        metrics = {n: {"value": float(r[n]), "unit": u}
                   for n, u in END_TO_END}
    context = dict(r["context"], workload=a.workload, seed=a.seed,
                   seconds=a.seconds, trace=a.trace, source_sha256=stamp,
                   commit=commit(), input_generation_s=round(gen_s, 3),
                   ops_failed_frac=failed / attempted if attempted else 1.0,
                   detail=r["detail"], spans_file=spans if a.trace else None)
    for n, m in sorted(metrics.items()):
        if a.trace and m["value"] == 0.0:
            continue
        print("%-48s %16.6g %s" % (n, m["value"], m["unit"]))
    print("ops: %d attempted, %d failed%s" % (
        attempted, failed, "".join("\n  " + e for e in r["detail"]["errors"])))
    print("context: " + json.dumps(context, sort_keys=True))
    print(json.dumps({"correct": attempted > 0 and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
