#!/usr/bin/env python3
"""HTAP benchmark of the graft engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout builds the
harness (perfbench/build.sbt, which compiles the engine's sources with
it); later runs start the JVM directly. The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones; a traced run also writes its spans under perfbench/out/.
The exit code is non-zero when an answer was wrong or the run failed.
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
sys.path.insert(0, HERE)

from bench import opstream, report  # noqa: E402

WORKLOADS = sorted(opstream.GENERATORS)
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"
CORES = min(4, os.cpu_count() or 1)  # Spark's local[n], and the 4-core client limit
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, cwd, timeout, env=None, stdout=None):
    """Run `cmd` in its own process group; on timeout kill the whole
    group and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def source_fingerprint():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the harness once per source state; returns the classpath."""
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "build.stamp")
    stamp = source_fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    log("building the harness (first run in this checkout)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    code = run_group(["sbt", "-batch", "-Dsbt.server.autostart=false",
                      "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                     HERE, BUILD_LIMIT_S, env=env, stdout=sys.stderr)
    if code != 0:
        raise SystemExit(f"perfbench: harness build failed (sbt exit {code})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as c:
        return c.read().strip()


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(engine):
        log("the engine's sources (src/main/scala/graft) are not in this checkout")
        return 2
    classpath = build()
    started = time.monotonic()  # the time limit excludes a first run's build

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        stream = opstream.generate(args.workload, args.seed)
        ops_file = os.path.join(work, "ops.json")
        with open(ops_file, "w") as f:
            json.dump(stream, f)
        out_file = os.path.join(work, "result.json")
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
        for o in JVM_OPENS:
            cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
        cmd += ["-cp", classpath, "perfbench.Main", "--workload", args.workload,
                "--ops", ops_file, "--out", out_file, "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--work", work, "--cores", str(CORES)]
        left = RUN_LIMIT_S - (time.monotonic() - started)
        code = run_group(cmd, work, left, stdout=sys.stderr)
        if code != 0 or not os.path.exists(out_file):
            log(f"the harness JVM failed (exit {code})")
            return 3
        with open(out_file) as f:
            result = json.load(f)
        out_dir = os.path.join(HERE, "out") if args.trace else None
        summary = report.reduce(result, args, CORES, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for line in summary["lines"]:
        print(line)
    print(json.dumps(summary["result"]))
    return 0 if summary["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
