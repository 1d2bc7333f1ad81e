#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as one JSON line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload migrate_diff --seed 1 --seconds 25 --trace 0

The first run in a checkout builds the program and the harness with sbt
(offline) and caches the exported classpath under .bench_build/; later runs
reuse it while the sources are unchanged. Every run then starts a fresh JVM
(plain `java` on that classpath, so sbt stays out of the timings), which
builds the SparkSession, runs the workload's closed loop (at most
--seconds once its minimum rounds are done), checks the outputs and writes
its metrics. With --trace 0 a set-up probe JVM runs first: it writes the
seeded inputs, and its set-up cost joins the timed JVM's in the reported
median. The last stdout line is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("migrate_diff", "curation")
SETUP_PROBES = 1          # set-up probe JVMs per untraced run
KEEP_INPUT_SETS = 4       # seeded input sets kept for reuse
RUN_TIMEOUT_S = 170       # one run must end within 180 s after the build
BUILD_TIMEOUT_S = 840
HEAP = "3g"
YOUNG = "768m"            # fixed heap and young generation: peak RSS then
                          # follows retained data, not G1's resizing choices

# JDK 17 needs these for Spark outside spark-submit (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    """Every file the build reads from the checkout."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        files += sorted(p for p in glob.glob(os.path.join(base, "**", "*"), recursive=True)
                        if os.path.isfile(p))
    return files


def source_stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build_classpath():
    """Compile the program and harness once per source state; return the classpath."""
    stamp, cp_file, stamp_file = source_stamp(), os.path.join(BUILD, "classpath.txt"), \
        os.path.join(BUILD, "classpath.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    cp = g.read().strip()
                if all(os.path.exists(p) for p in cp.split(os.pathsep)):
                    return cp
    log("building program and harness with sbt (offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = env.get("SBT_OPTS") or (
        f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} -Xmx2g")
    # keep sbt's temp files, server socket and perf data inside the checkout
    env["SBT_OPTS"] = opts + (f" -Dsbt.offline=true -Dsbt.server.autostart=false"
                              f" -Djava.io.tmpdir={os.path.join(BUILD, 'tmp')} -XX:-UsePerfData")
    sbt_log = os.path.join(BUILD, "sbt.log")
    with open(sbt_log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            die("sbt build timed out")
    with open(sbt_log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = next((l for l in reversed(lines) if not l.startswith("[") and "scala-2.13" in l), None)
    if rc != 0 or cp is None:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"sbt build failed (exit {rc}); log in {sbt_log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, *args):
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
           f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
           "-XX:-UsePerfData",
           # compiler threads never exit, so their CPU time can be taken
           # out of the end-to-end cost (see Tracer.jitCpuNs)
           "-XX:-UseDynamicNumberOfCompilerThreads"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graftbench.Main", *args, "--build", BUILD]


def launch(cmd, log_path, deadline):
    """Start a JVM; return ((set-up wall s, set-up CPU s), exit code). Set-up
    runs from the launch until the JVM prints READY with its wall-clock time
    and process CPU time. A JVM still running at the deadline is killed and
    the run fails."""
    with open(log_path, "a") as err:
        t0 = time.time()
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        timer = threading.Timer(max(1.0, deadline - t0), lambda: os.killpg(p.pid, signal.SIGKILL))
        timer.start()
        ready = None
        try:
            for line in p.stdout:
                if line.startswith("READY ") and ready is None:
                    ready = [float(x) for x in line.split()[1:3]]
                else:
                    err.write(line)
            rc = p.wait()
        finally:
            timer.cancel()
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if time.time() >= deadline:
        die(f"JVM exceeded the run deadline; log in {log_path}")
    return (None if ready is None else (ready[0] - t0, ready[1])), rc


def evict_old_inputs():
    sets = sorted(glob.glob(os.path.join(BUILD, "data", "*")), key=os.path.getmtime)
    for d in sets[:-KEEP_INPUT_SETS]:
        shutil.rmtree(d, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no program sources here ({need} missing): run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")
    for d in ("tmp", "data", "work"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    cp = build_classpath()
    evict_old_inputs()

    deadline = time.time() + RUN_TIMEOUT_S
    jvm_log = os.path.join(BUILD, f"jvm-{a.workload}-{a.seed}-{a.trace}.log")
    if os.path.exists(jvm_log):
        os.remove(jvm_log)
    setups = []
    if a.trace == 0:
        for _ in range(SETUP_PROBES):
            s, rc = launch(java_cmd(cp, "setup", "--workload", a.workload, "--seed", str(a.seed)),
                           jvm_log, deadline)
            if rc != 0 or s is None:
                die(f"set-up probe failed (exit {rc}); log in {jvm_log}")
            setups.append(s)

    out = os.path.join(BUILD, f"result-{a.workload}-{a.seed}-{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    s, rc = launch(java_cmd(cp, "run", "--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out),
                   jvm_log, deadline)
    if rc != 0 or s is None or not os.path.isfile(out):
        with open(jvm_log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"benchmark JVM failed (exit {rc}); log in {jvm_log}")
    setups.append(s)
    with open(out) as f:
        res = json.load(f)

    # set-up is charged in process CPU seconds, like the other end-to-end
    # costs; the wall-clock samples go to the info line and the traced run
    metrics = res["metrics"]
    if a.trace == 0:
        metrics = {"setup_s": {"value": statistics.median(c for _, c in setups), "unit": "s"},
                   **metrics}
    else:
        metrics = {"setup.wall_s": {"value": setups[0][0], "unit": "s"}, **metrics}
    info = dict(res.get("info", {}), setup_wall_s=[w for w, _ in setups],
                setup_cpu_s=[c for _, c in setups], seed=a.seed, workload=a.workload)
    log("info " + json.dumps(info))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
