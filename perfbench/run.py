#!/usr/bin/env python3
"""Benchmark of the engine in this checkout.

Run one workload (builds the engine and the benchmark from source first):

    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; the line before it holds
the run's environment record (cpus, load, GC time, commit, input digest).

Compare two files of saved run outputs (refuses runs made at different
`local[N]` widths):

    python3 perfbench/run.py compare base.txt head.txt
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "runtime-classpath.txt")
STAMP = os.path.join(TARGET, "built-from.sha256")
WORKLOADS = ["serve", "ingest-stream"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """SHA-256 over the engine's and the benchmark's sources."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE, os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(digest):
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if not env.get("SPARK_HOME"):
        # the build takes Spark's jars from a Spark installation on PATH
        homes = [os.path.dirname(d) for d in env.get("PATH", "").split(os.pathsep)
                 if os.path.isfile(os.path.join(d, "spark-submit"))
                 and os.path.isdir(os.path.join(os.path.dirname(d), "jars"))]
        if not homes:
            fail("set SPARK_HOME: the build takes Spark's jars from it")
        env["SPARK_HOME"] = homes[0]
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.autostart=false", "writeClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run(args):
    if not os.path.isdir(os.path.join(ENGINE, "graft")):
        fail(f"no engine sources under {os.path.relpath(ENGINE)}; "
             "run from the root of a checkout of the repository")
    digest = source_digest()
    build(digest)
    with open(CLASSPATH) as fh:
        cp = ":".join(line.strip() for line in fh if line.strip())
    work = os.path.join(HERE, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp,
        "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", os.path.join(HERE, "traces")]
    env = dict(os.environ, PERFBENCH_GIT_COMMIT=git_commit(),
               PERFBENCH_SOURCE_SHA256=digest,
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(HERE, "work", f"{args.workload}-{args.seed}.stderr.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                stderr=err, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {RUN_TIMEOUT_S}s (stderr in {log})", 1)
    shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        ok = set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError):
        ok = False
    if proc.returncode != 0 or not ok:
        sys.stderr.write(out[-4000:])
        fail(f"run failed with exit code {proc.returncode} (stderr in {log})", 1)
    print("\n".join(lines))


def runs(path):
    """(env, result) pairs from a file of saved run outputs."""
    env, out = None, []
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if not line.startswith("{"):
                continue
            obj = json.loads(line)
            if "env" in obj:
                env = obj["env"]
            elif "metrics" in obj:
                out.append((env, obj))
                env = None
    return out


def compare(base_path, head_path):
    base, head = runs(base_path), runs(head_path)
    cpus = {r[0].get("cpus") if r[0] else None for r in base + head}
    if len(cpus) != 1 or None in cpus:
        fail(f"refusing to compare runs made at different or unknown cpus: {sorted(map(str, cpus))}", 3)
    by = {}
    for side, rs in (("base", base), ("head", head)):
        for env, res in rs:
            for name, m in res["metrics"].items():
                by.setdefault((env["workload"], name), {}).setdefault(side, []).append(m["value"])
    for (wl, name), sides in sorted(by.items()):
        if "base" in sides and "head" in sides:
            b, h = statistics.median(sides["base"]), statistics.median(sides["head"])
            ratio = h / b if b else float("nan")
            print(f"{wl:14} {name:45} base {b:12.4f} head {h:12.4f} head/base {ratio:.4f}")


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "compare":
        if len(sys.argv) != 4:
            fail("usage: run.py compare BASE HEAD")
        compare(sys.argv[2], sys.argv[3])
        return
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    run(ap.parse_args())


if __name__ == "__main__":
    main()
