#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source with sbt on first use
(again whenever a source file changes), starts one JVM for the run, and
prints every metric by name and unit. The last line of standard output is
the result: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones.
The command exits non-zero when any output check fails.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(HERE, "work")
WORKLOADS = ["refresh_batch", "live_ingest"]
HEAP = "4g"
RUN_TIMEOUT_S = 170


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_digest():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, n) for d, _, ns in os.walk(r) for n in ns)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build saw the same sources; returns
    the JVM launch line (classpath, then the engine's JVM options)."""
    launch = os.path.join(TARGET, "launch.txt")
    stamp = os.path.join(TARGET, "launch.stamp")
    digest = source_digest()
    if os.path.exists(launch) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(launch).read().splitlines()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # every JVM the sbt script starts: no perf-data file in the system temp dir
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    log = os.path.join(TARGET, "build.log")
    os.makedirs(TARGET, exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "-batch", "-Dsbt.server.autostart=false", "writeLaunch"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(launch):
        sys.stderr.write(f"build failed (sbt exit {rc}); see {log}\n")
        sys.exit(2)
    with open(stamp, "w") as f:
        f.write(digest)
    return open(launch).read().splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.stderr.write("no engine sources next to the benchmark; nothing to measure\n")
        sys.exit(2)
    b = spec()
    launch = build()
    cp, jvm_opts = launch[0], [o for o in launch[1:] if o]

    work = os.path.join(WORK, a.workload)
    os.makedirs(WORK, exist_ok=True)
    # java.io.tmpdir is also Spark's default local dir: keep both in the
    # checkout; -UsePerfData stops the JVM writing a perf-data file to the
    # system temp dir
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={WORK}"] + jvm_opts +
           ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--launch-ms", str(int(time.time() * 1000))])
    with open(os.path.join(WORK, f"{a.workload}.jvm.log"), "w") as err:
        env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                                text=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.stderr.write(f"{a.workload}: run exceeded {RUN_TIMEOUT_S} s\n")
            sys.exit(3)
    result = None
    for line in stdout.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
        else:
            print(line)
    if proc.returncode != 0 or result is None:
        sys.stderr.write(f"{a.workload}: JVM exited {proc.returncode} without a result\n")
        sys.exit(3)

    failed = result["failed"]
    correct = failed == 0

    if a.trace:
        names = [m["name"] for m in b["per_layer"]]
        units = {m["name"]: m["unit"] for m in b["per_layer"]}
        layer = result["layer"]
        metrics = {n: {"value": layer[n], "unit": units[n]} for n in names}
    else:
        metrics = {m["name"]: result["e2e"][m["name"]] for m in b["end_to_end"]}
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
