#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result as the last line.

    python3 perfbench/run.py --workload serve_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline, through perfbench/build.sbt) and
records the runtime classpath under the build directory
($CARGO_TARGET_DIR, default .bench_build); later runs start the JVM
directly. The JVM's own output goes to stderr; stdout carries only the
result object {"correct", "attempted", "failed", "metrics"}. Exit code 0
means every operation ran and every output was right.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve_mix", "spark_ops")
# A fixed heap and young generation make the peak resident set track the
# program's live data instead of when the collector happened to run.
JVM_MEMORY = ["-Xms3g", "-Xmx3g", "-Xmn1g"]
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so an edited tree is rebuilt."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath(build_dir):
    """Build if the sources changed since the last build; return the classpath."""
    stamp_file = os.path.join(build_dir, "build.stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts + " -Dsbt.server.autostart=false"
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "BENCHMARK.json")):
        if not os.path.exists(need):
            fail(f"not a checkout of the program: {os.path.relpath(need, ROOT)} is missing")

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    cp = classpath(build_dir)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    cmd = ["java", *JVM_MEMORY, "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--cpus", str(cpus),
            "--data", os.path.join(HERE, "data", "sf0.01"),
            "--pins", os.path.join(HERE, "pins.json"),
            "--spec", os.path.join(ROOT, "BENCHMARK.json"), "--result", result]
    try:
        # The JVM runs inside its work directory: the program keeps its
        # index scratch under the working directory.
        rc = subprocess.run(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr,
                            timeout=RUN_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    out = None
    if os.path.exists(result):
        with open(result) as fh:
            out = fh.read().strip()
    if a.trace:
        keep = os.path.join(build_dir, "traces", f"{a.workload}-{a.seed}.spans.jsonl")
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            shutil.move(spans, keep)
            print(f"[perfbench] spans: {os.path.relpath(keep, ROOT)}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    if out is None:
        fail(f"no result (exit code {rc})")
    print(out)
    sys.exit(rc)


if __name__ == "__main__":
    main()
