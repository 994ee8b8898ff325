#!/usr/bin/env python3
"""Pin the results the benchmark checks, after checking them against DuckDB.

    python3 perfbench/pin.py

Runs the program's own correctness dump (graft.Verify) for every Spark
operator the benchmark times, then scripts/selfcheck.py's oracle check over
those results. Only if every operator matches its DuckDB oracle does it
compute each result's row count and order-independent digest
(perfbench.Pin) and write them to perfbench/pins.json, which every
benchmark run checks its results against. Re-run it when the committed
tables or an operator's defined output change.
"""
import json
import os
import shutil
import subprocess
import sys

import run

sys.path.insert(0, os.path.join(run.ROOT, "scripts"))
import selfcheck  # noqa: E402


def java(cp, tmp, main, *args, env=None):
    cmd = ["java", *run.JVM_MEMORY, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in run.ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return subprocess.run(cmd + ["-cp", cp, main, *args], cwd=tmp, env=env,
                          stdout=subprocess.PIPE, stderr=sys.stderr, text=True, check=True).stdout


def main() -> int:
    data = os.path.join(run.HERE, "data", "sf0.01")
    build_dir = os.path.join(run.ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    out = os.path.join(build_dir, "pin")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = run.classpath(build_dir)
    names = java(cp, out, "perfbench.Pin").strip().split(",")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    java(cp, out, "graft.Verify", data, out, ",".join(names), env=env)
    # Verify writes the oracle SQL of every query; check only these.
    oracle_path = os.path.join(out, "oracle_sql.json")
    with open(oracle_path) as fh:
        oracle = json.load(fh)
    with open(oracle_path, "w") as fh:
        json.dump({n: oracle[n] for n in names}, fh)
    if selfcheck.main(data, out) != 0:
        print("an operator differs from its oracle; pins.json not written")
        return 1
    java(cp, out, "perfbench.Pin", out)
    shutil.copy(os.path.join(out, "pins.json"), os.path.join(run.HERE, "pins.json"))
    print(f"all {len(names)} operators match the oracle; wrote perfbench/pins.json")
    return 0


if __name__ == "__main__":
    sys.exit(main())
