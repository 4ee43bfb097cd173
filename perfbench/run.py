#!/usr/bin/env python3
"""Benchmark of the telemetry pipeline and the query surface.

Run from the root of a checkout:

    python3 perfbench/run.py --workload telemetry_short --seed 1 \
        --seconds 8 --trace 0

It builds the program and the benchmark from source (once per source
state, under .bench_build/), generates the workload's inputs from the
seed, runs the workload in one JVM with local[N] (N = SPARK_GRAFT_CPUS or
the CPU count), checks the outputs, and prints the metrics. The last line
of standard output is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1). See NOTES.md for what each workload and metric means.
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
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170  # a run must end within 180 s

# Input sizes per workload, fixed so every run measures the same work.
WORKLOADS = {
    "telemetry": {"kind": "telemetry", "files": 3, "per_file": 1000,
                  "long_every": 1, "long_len": 1024},
    "query_session": {"kind": "tables", "sf": 0.01, "warm_sf": 0.001},
}
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
HEAP = "3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_key():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt (offline) and return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"[perfbench] no program to build: {need} is missing")
    key = sources_key()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("key") == key:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building the program and the benchmark with sbt")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=700).returncode
    with open(os.path.join(BUILD, "build.log")) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if l.startswith(os.sep) and "classes" in l and ".jar" in l]
    if rc != 0 or not cp:
        tail = "\n".join(lines[-20:])
        raise SystemExit(f"[perfbench] build failed (exit {rc}):\n{tail}")
    with open(stamp, "w") as f:
        json.dump({"key": key, "classpath": cp[-1]}, f)
    log(f"built in {time.time() - t0:.1f} s")
    return cp[-1]


def generate(workload, seed, data):
    w = WORKLOADS[workload]
    if w["kind"] == "telemetry":
        gen.telemetry(data, seed, w["files"], w["per_file"], w["long_every"], w["long_len"])
    else:
        gen.tables(os.path.join(data, "sf"), seed, w["sf"])
        gen.tables(os.path.join(data, "warm"), seed + 1, w["warm_sf"])


def oracle_check(sf_dir, results, names):
    """{query: None if its result matches oracleSql in DuckDB, else why},
    by the repository's own oracle comparison (tools/check_oracle.py)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"), sf_dir, results,
         ",".join(names)], capture_output=True, text=True, stdin=subprocess.DEVNULL)
    return oracle_verdicts(proc.stdout, names, proc.returncode)


def oracle_verdicts(out, names, returncode):
    """Read check_oracle's "OK   name (n rows)" / "FAIL name: why" /
    "ERR  name: why" lines; a query it did not report fails."""
    verdict = {n: f"no verdict (check_oracle exited {returncode})" for n in names}
    for line in out.splitlines():
        status, _, rest = line.partition(" ")
        name = rest.strip().split(" ")[0].rstrip(":")
        if name in verdict:
            verdict[name] = None if status == "OK" else line
    return verdict


def cpus():
    env = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    return int(env) if env.isdigit() and int(env) > 0 else (os.cpu_count() or 1)


def run_jvm(classpath, args, work, budget_s):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={tmp}"] + ADD_OPENS
           + ["-cp", classpath, "perfbench.Main"] + args)
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            return proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"[perfbench] the workload did not finish within {budget_s:.0f} s")


def summarize(workload, raw):
    """The end-to-end metrics every workload reports, and the workload's
    own figures (printed for people, named as in NOTES.md)."""
    s = raw["samples"]
    if WORKLOADS[workload]["kind"] == "telemetry":
        passes = s["replay_s"]  # one backlog replay, Pipeline.start -> awaitAll
        first = passes[0]
        op, ops_ms = "batch", s["batch_ms"]  # triggerExecution of every micro-batch
        shown = {
            "records_per_s": (s["records"] / stats.median(passes), "rec/s"),
            "lake_bytes_per_record": (stats.median(s["lake_bytes"]) / s["records"], "B/rec"),
        }
    else:
        first = sum(s["cold_s"].values())
        passes = [sum(stats.median(v) for v in s["warm_s"].values())]
        op, ops_ms = "query", [1000.0 * x for v in s["warm_s"].values() for x in v]
        shown = {"cold_total_s": (first, "s"), "warm_total_s": (passes[0], "s")}
    p, tail_v, n = stats.tail(ops_ms)
    shown[f"{op}_ms_p50"] = (stats.median(ops_ms), "ms")
    shown[f"{op}_ms_tail (p{p} of {n} samples)"] = (tail_v, "ms")
    e2e = {
        "setup_s": (stats.median(raw["setup_s"]), "s"),
        "pass_s": (stats.median(passes), "s"),
        "first_pass_s": (first, "s"),
        "peak_heap_mb": (raw["peak_heap_mb"], "MB"),
    }
    return e2e, shown


# Per-layer metric prefixes that only one kind of workload produces; the
# other kind reports them as 0.
ONLY = {"telemetry": ("streaming.", "operators.", "ml.", "functions.", "sink."),
        "tables": ("query.", "session_stages.")}


def layer_metrics(workload, layers):
    """Every per-layer metric of BENCHMARK.json, and the problems found:
    a name the run emitted that the file lacks, or one it should have
    emitted and did not."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]
    names = {n for n, _ in declared}
    kind = WORKLOADS[workload]["kind"]
    other = [p for k, ps in ONLY.items() if k != kind for p in ps]
    problems = [f"layer {n} is not declared" for n in sorted(set(layers) - names)]
    problems += [f"layer {n} was not measured" for n, _ in declared
                 if n not in layers and not n.startswith(tuple(other))]
    return {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in declared}, problems


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    classpath = build()
    start = time.time()  # a run's time limit counts from here; a build may take longer
    work = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    try:
        generate(a.workload, a.seed, data)
        n = cpus()
        out = os.path.join(work, "raw.json")
        args = ["--workload", a.workload, "--data", data, "--work", work,
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--seed", str(a.seed),
                "--cpus", str(n), "--out", out]
        rc = run_jvm(classpath, args, work, DEADLINE_S - (time.time() - start))
        with open(os.path.join(work, "jvm.log")) as f:
            jvm_log = f.read().splitlines()
        # the JVM's own timeline: set-ups, passes, checks
        for line in jvm_log:
            if line.startswith("[perfbench"):
                print(line, file=sys.stderr)
        if rc != 0 or not os.path.exists(out):
            tail = "\n".join(jvm_log[-30:])
            raise SystemExit(f"[perfbench] the workload exited with {rc}:\n{tail}")
        with open(out) as f:
            raw = json.load(f)
        # every failure names its query or leg; an operation fails when
        # it throws or its output check fails
        failures = list(raw["failures"])
        failed = len(failures)
        attempted = raw["attempted"]
        if a.workload == "query_session":
            execs = raw["samples"]["executions"]
            checks = oracle_check(os.path.join(data, "sf"), os.path.join(work, "results"),
                                  raw["samples"]["panel"])
            for name, why in sorted(checks.items()):
                if why:
                    failures.append(f"{name} (oracle) {why}")
                    failed += execs.get(name, 0)
        failed = min(failed, attempted)
        if raw["listeners_added"]:
            failures.append(f"{raw['listeners_added']} benchmark listeners left registered")
        e2e, shown = summarize(a.workload, raw)
        shown["failure_rate"] = (failed / attempted, "ratio")
        for k, (v, u) in list(e2e.items()) + list(shown.items()):
            print(f"metric {k} = {v!r} {u}")
        if a.trace:
            layers = raw["layers"]
            for k in sorted(layers):
                print(f"layer {k} = {layers[k]!r}")
            result, problems = layer_metrics(a.workload, layers)
            failures += problems
            trace = os.path.join(work, "trace.json")
            if os.path.exists(trace):
                os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
                shutil.copy(trace, os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json"))
        else:
            result = {k: {"value": float(v), "unit": u} for k, (v, u) in e2e.items()}
        for f_ in failures:
            log(f"FAILED {f_}")
        print(json.dumps({"correct": not failures, "attempted": int(attempted),
                          "failed": int(failed), "metrics": result}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
