#!/usr/bin/env python3
"""Benchmark of the KG engine: two workloads over its production entries.

    python3 kgbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 kgbench/run.py --all [--seed <n>] [--seconds <s>]
    python3 kgbench/run.py --selftest

Run from the repository root. The first call builds the harness (an sbt
project in this directory that compiles the engine's sources with it).
One run prints the environment, every metric with its unit, and as its last
line one JSON object {"correct", "attempted", "failed", "metrics"}.
`--all` runs every workload untraced and then traced. `--selftest` shows
that each correctness check fails on deliberately corrupted output.
See README.md in this directory for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["batch_build", "stream_drops"]
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "kgbench.classpath")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when the session is created outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[kgbench] {msg}", file=sys.stderr, flush=True)


def sources():
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")
    for top in (os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")):
        for d, _, files in os.walk(top):
            for f in files:
                if f.endswith(".scala"):
                    yield os.path.join(d, f)


def build():
    """Compile the harness with the engine's sources; cache the classpath."""
    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(engine):
        log(f"engine sources not found under {os.path.relpath(engine, ROOT)}; "
            "run from a checkout of the repository")
        sys.exit(2)
    if os.path.exists(CLASSPATH_FILE):
        built = os.path.getmtime(CLASSPATH_FILE)
        if all(os.path.getmtime(f) <= built for f in sources()):
            return open(CLASSPATH_FILE).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        # the first Spark installation on PATH that ships its jars
        for d in env.get("PATH", "").split(os.pathsep):
            home = os.path.dirname(os.path.realpath(d))
            if os.path.exists(os.path.join(d, "spark-submit")) and \
                    os.path.isdir(os.path.join(home, "jars")):
                env["SPARK_HOME"] = home
                break
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building the harness with sbt")
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout)
        log("build failed")
        sys.exit(3)
    cp = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp)
    return cp


def heap():
    """Half the host memory in GiB, clamped to 2..8 (the test suite's formula)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def run_one(cp, workload, seed, seconds, trace, main="kgbench.Main"):
    """One benchmark process; returns (exit code, result JSON or None)."""
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    trace_out = os.path.join(ROOT, ".bench_out", f"trace-{workload}-seed{seed}.json")
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{heap()}", f"-Djava.io.tmpdir={work}"] + opens +
           ["-cp", cp, main, "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", work, "--result", result, "--trace-out", trace_out])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"{workload}: timed out after {RUN_TIMEOUT_S} s")
        shutil.rmtree(work, ignore_errors=True)
        return 1, None
    for line in out.splitlines():
        print(line, flush=True)
    res = open(result).read() if proc.returncode == 0 and os.path.exists(result) else None
    shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, res


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true", help="every workload, untraced then traced")
    ap.add_argument("--selftest", action="store_true", help="checks fail on corrupted output")
    a = ap.parse_args()
    if not (a.all or a.selftest or a.workload):
        ap.error("give --workload, --all or --selftest")
    cp = build()
    if a.selftest:
        code, res = run_one(cp, "batch_build", a.seed, a.seconds, False, main="kgbench.SelfTest")
        if res is not None:
            print(res)
        sys.exit(code if res is not None else 1)
    if a.all:
        bad = 0
        for w in WORKLOADS:
            for trace in (False, True):
                code, res = run_one(cp, w, a.seed, a.seconds, trace)
                print(f"{w} trace={int(trace)}: {res}", flush=True)
                bad += code != 0 or res is None or not json.loads(res)["correct"]
        sys.exit(1 if bad else 0)
    code, res = run_one(cp, a.workload, a.seed, a.seconds, a.trace == 1)
    if res is None:
        log(f"{a.workload}: no result (exit {code})")
        sys.exit(code or 1)
    print(res)


if __name__ == "__main__":
    main()
