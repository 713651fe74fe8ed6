#!/usr/bin/env python3
"""Run one workload of the repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Builds the library (src/main/scala) together with the benchmark program
(perfbench/src) with the standalone sbt build in this directory, unless
the build output is already current for the sources; then runs the
program in a fresh JVM with a fresh work directory, relays its metric
lines, and prints the result as one JSON object on the last line of
standard output. Exits non-zero, printing no result, when the build or
the run fails.
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
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(HERE, "target")
CP_FILE = os.path.join(OUT, "perfbench.classpath")
STAMP_FILE = os.path.join(OUT, "perfbench.stamp")
WORK = os.path.join(HERE, "work")
WORKLOADS = ("daily_refresh", "corpus_dedup")
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 700

# Spark on JDK 17 outside spark-submit needs these (the same list the
# library's own build passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sources():
    """Every input of the build, as sorted relative paths."""
    out = [os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")]
    for base in (LIB_SRC, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def kill_tree(pid):
    """SIGKILL `pid` and every process below it (the sbt script's JVM)."""
    try:
        with open("/proc/%d/task/%d/children" % (pid, pid)) as f:
            kids = [int(k) for k in f.read().split()]
    except OSError:
        kids = []
    for k in kids:
        kill_tree(k)
    try:
        os.kill(pid, signal.SIGKILL)
    except OSError:
        pass


def wait(proc, timeout, what):
    """Wait for `proc`; on timeout kill it with its descendants and exit."""
    try:
        out, _ = proc.communicate(timeout=max(timeout, 1))
        return out
    except subprocess.TimeoutExpired:
        kill_tree(proc.pid)
        proc.communicate()
        shutil.rmtree(os.path.join(WORK, "run-%d" % os.getpid()),
                      ignore_errors=True)
        sys.exit("perfbench: %s timed out" % what)


def current():
    """The runtime classpath if the build output matches the sources."""
    if os.path.exists(CP_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == stamp():
                with open(CP_FILE) as g:
                    return g.read().strip()
    return None


def build(deadline):
    """Compile the library and the program; returns the runtime
    classpath."""
    want = stamp()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    p = subprocess.Popen(cmd, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    out = wait(p, deadline - time.time(), "build")
    lines = out.splitlines()
    cp = [l for l in lines if "scala-2.13" in l and os.pathsep in l
          and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        sys.exit("perfbench: build failed")
    with open(CP_FILE, "w") as f:
        f.write(cp[-1].strip())
    with open(STAMP_FILE, "w") as f:
        f.write(want)
    return cp[-1].strip()


def check_result(res, trace):
    keys = {"correct", "attempted", "failed", "metrics"}
    if set(res) != keys or not isinstance(res["correct"], bool):
        return "malformed result keys"
    if not isinstance(res["attempted"], int) or res["attempted"] < 1:
        return "no operation attempted"
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    got = res["metrics"]
    missing = [n for n in want if n not in got or got[n]["value"] is None]
    if missing or set(got) != set(want):
        return "metrics differ from BENCHMARK.json: missing %s, extra %s" % (
            missing, sorted(set(got) - set(want)))
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isdir(LIB_SRC):
        sys.exit("perfbench: library sources not found at " + LIB_SRC)
    # a run that has to build first (a new checkout, or changed
    # sources) gets the long build budget; the run's own limit starts
    # once the build is done
    cp = current() or build(time.time() + BUILD_LIMIT_S)
    work = os.path.join(WORK, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = (["java", "-Xmx3g", "-Djava.io.tmpdir=" + work]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
              "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", work,
              "--spans", os.path.join(WORK, "spans-%s.tsv" % a.workload)])
    log_path = os.path.join(WORK, "last-%s.log" % a.workload)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, stderr=log, text=True)
        out = wait(proc, RUN_LIMIT_S, "run (log: %s)" % log_path)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    results = [l[len("RESULT "):] for l in lines if l.startswith("RESULT ")]
    for l in lines:
        if not l.startswith("RESULT "):
            print(l)
    if proc.returncode != 0 or len(results) != 1:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit("perfbench: run failed (exit %d)" % proc.returncode)
    res = json.loads(results[0])
    err = check_result(res, a.trace == "1")
    if err:
        sys.exit("perfbench: " + err)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
