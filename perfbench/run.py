#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <release_all|operator_mix>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program from
source with the repo's own sbt build (via perfbench/build.sbt) into
`.bench_build/`; later runs reuse that build while the sources are
unchanged. The run launches one JVM (`graft.perfbench.Main`) on
`local[N]`, N = the cores this process may use, checks every output it
produced, and prints as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json,
with `--trace 1` its per-layer metrics. The full artifact (pass times,
check results) goes to stderr and to `.bench_build/last_<workload>.json`; spans of a traced run
to `.bench_build/work/<workload>/spans.jsonl`. Untraced pass times are
kept per build in `.bench_build/passes_<workload>_<build>.json`; a traced
run's artifact states its overhead against their median, or null before
any untraced run of the same build.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "perfbench-target", "classpath.txt")
WORKLOADS = ("release_all", "operator_mix")
RUN_LIMIT_S = 170     # a run stays under three minutes
BUILD_LIMIT_S = 840   # a clean build, once per checkout
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Everything the build reads: the program's sources and build, and
    the benchmark's own."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    plugins = os.path.join(ROOT, "project")
    if os.path.isdir(plugins):
        files += [os.path.join(plugins, f) for f in os.listdir(plugins) if f.endswith((".sbt", ".scala"))]
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Builds when the sources changed since the last build; returns the
    runtime classpath and the sources' digest."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die(f"no program sources (build.sbt, src/main/scala) under {ROOT}")
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.isfile(CLASSPATH) and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return open(CLASSPATH).read().strip(), stamp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false", "writeClasspath"],
                                cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.isfile(CLASSPATH):
        tail = open(log_path, errors="replace").read()[-3000:]
        die(f"build failed (rc {rc}):\n{tail}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return open(CLASSPATH).read().strip(), stamp


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def launch(classpath, args, work, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed-size heap under the throughput collector: resident memory then
    # depends on what the run touches, not on when the heap chose to grow
    cmd += ["-XX:+UseParallelGC", "-Xms3g", "-Xmx3g",
            f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work, "--cores", str(cores())]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die("run exceeded its time limit", 4)
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.isfile(result):
        tail = open(log_path, errors="replace").read()[-4000:]
        die(f"benchmark JVM failed (rc {rc}):\n{tail}", 5)
    with open(result) as f:
        return json.load(f)


def checked_ops(args, res):
    """Runs the output checks; returns (attempted, failed, problems)."""
    import checks
    ops, facts, problems = res["ops"], res["facts"], {}
    attempted = failed = 0
    if args.workload == "release_all":
        release = checks.ReleaseCheck(res["input"], facts)
        for i, op in enumerate(ops):
            if op["kind"] == "stream":
                # a drain is one operation per micro-batch
                stream = checks.StreamCheck(res["input"] + "/stream", facts, facts["stream_batches"])
                p, n = stream.check(op["out"], op["latencies_ms"]), facts["stream_batches"]
            else:
                p, n = release.check(op["out"]), 1
            attempted += n
            if p:
                failed += n
                problems[f"{op['kind']} {i}"] = p
    else:
        # every query of a pass is one operation
        for i, op in enumerate(ops):
            wrong = checks.check_operator_mix(res["input"], facts, op["out"])
            wrong.update({e.split(":")[0]: e for e in op["error"].split("\n") if e})
            attempted += len(facts["queries"])
            failed += len(wrong)
            if wrong:
                problems[f"{op['kind']} {i}"] = wrong
    return attempted, failed, problems


def end_to_end(res):
    passes = [op["seconds"] for op in res["ops"]]
    pass_s = statistics.median(passes)
    values = {
        "setup_s": res["setup_s"],
        "pass_s": pass_s,
        "docs_per_s": res["docs"] / pass_s,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    return values, {"passes_s": passes}


def pass_history(workload, stamp, pass_s=None):
    """Median untraced pass time of this build's runs so far; records
    `pass_s` when given."""
    path = os.path.join(BUILD, f"passes_{workload}_{stamp[:16]}.json")
    seen = json.load(open(path)) if os.path.isfile(path) else []
    if pass_s is not None:
        seen.append(pass_s)
        with open(path, "w") as f:
            json.dump(seen, f)
    return statistics.median(seen) if seen else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        die("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec_path))
    classpath, stamp = build()

    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # a build, if this run made one, has its own allowance
    res = launch(classpath, args, work, time.time() + RUN_LIMIT_S - 5)
    attempted, failed, problems = checked_ops(args, res)

    if args.trace:
        declared = spec["per_layer"]
        layers = res["layers"]
        untraced = pass_history(args.workload, stamp)
        values = {m["name"]: layers.get(m["name"], 0.0) for m in declared}
        # traced pass minus the median untraced pass of this build; unknown
        # before one
        extra = {"trace_overhead_s": layers["trace.pass_s"] - untraced if untraced else None,
                 "spans": os.path.join(work, "spans.jsonl"),
                 "layers_not_in_this_workload": sorted(m["name"] for m in declared
                                                       if m["name"] not in layers)}
    else:
        declared = spec["end_to_end"]
        values, extra = end_to_end(res)
        if failed == 0:
            pass_history(args.workload, stamp, values["pass_s"])
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}

    artifact = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                "cores": res["cores"], "docs": res["docs"], "setup_s": res["setup_s"],
                "ops": [{k: op[k] for k in ("kind", "seconds", "error")} for op in res["ops"]],
                "problems": problems, **extra}
    with open(os.path.join(BUILD, f"last_{args.workload}.json"), "w") as f:
        json.dump({"artifact": artifact, "metrics": metrics}, f, indent=1)
    print(json.dumps(artifact), file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
