#!/usr/bin/env python3
"""Benchmark launcher: builds the engine and the harness from source, runs one
workload in its own JVM and prints one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The build (sbt, offline) is cached under
.bench_build/ and redone when any source file changes. With --trace 1 the
workload runs twice, untraced and then traced, and trace.overhead_pct compares
their throughput.
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

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("cdc_replay", "corpus_maintain")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (Spark's own
# JavaModuleOptions list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} exceeded {timeout} s")
    return proc.returncode, out, err


def build():
    """Compiles engine + harness and returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources under src/main/scala; run from the repository root")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
                "-Dsbt.log.noformat=true",
                f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
                "-Dsbt.server.forcestart=false", "-J-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts.append(f"-Dsbt.repository.config={repos}")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        code, out, _ = run_bounded(
            ["sbt", "--batch"] + sbt_opts + ["export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
            stderr=log, stdin=subprocess.DEVNULL, text=True)
        log.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write("".join(l + "\n" for l in out.splitlines()
                                 if l.startswith("[error]"))[-4000:])
        fail(f"build failed (exit {code}); see {log_path}")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    # flush the build's writes now, not as write-back under the first run
    os.sync()
    return classpath


def run_jvm(classpath, workload, seed, seconds, trace):
    """Runs one workload in its own JVM; returns (exit code, result or None)."""
    work = os.path.join(BUILD, f"work-{os.getpid()}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx1536m", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}"] +
           ["-cp", classpath, "perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", work])
    log_path = os.path.join(BUILD, f"{workload}-trace{trace}.log")
    try:
        with open(log_path, "w") as log:
            code, out, _ = run_bounded(cmd, RUN_TIMEOUT_S, stdout=subprocess.PIPE,
                                       stderr=log, stdin=subprocess.DEVNULL,
                                       text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(log_path) as f:
        sys.stderr.write("".join(l for l in f if l.startswith("perfbench:")))
    results = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if not results:
        return code, None
    return code, json.loads(results[-1][len("PERFBENCH_RESULT "):])


def run_workload(classpath, args, trace):
    code, res = run_jvm(classpath, args.workload, args.seed, args.seconds, trace)
    if res is None:
        fail(f"{args.workload} printed no result (exit {code}); see "
             f"{os.path.join(BUILD, args.workload + '-trace' + str(trace) + '.log')}")
    return code, res


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    t0 = time.time()
    classpath = build()
    print(f"perfbench: build ready in {time.time() - t0:.1f} s", file=sys.stderr)
    runs = [run_workload(classpath, args, 0)]
    if args.trace:
        runs.append(run_workload(classpath, args, 1))
    code, res = runs[-1]
    metrics = res["metrics"]
    if args.trace:
        untraced, traced = (r[1]["aux"]["items_per_s"] for r in runs)
        metrics["trace.overhead_pct"] = {
            "value": 100.0 * (untraced / traced - 1.0) if traced > 0 else 0.0,
            "unit": "%"}
    out = {"correct": all(r[1]["correct"] for r in runs),
           "attempted": sum(r[1]["attempted"] for r in runs),
           "failed": sum(r[1]["failed"] for r in runs),
           "metrics": metrics}
    print(json.dumps(out))
    sys.exit(0 if out["correct"] and all(c == 0 for c, _ in runs) else 1)


if __name__ == "__main__":
    main()
