#!/usr/bin/env python3
"""Steadiness check: run every workload repeatedly, in alternating order,
each run with a new seed, and report per metric the median, the quartiles
and the spread (interquartile range as a share of the median) against the
bound in BENCHMARK.json.

    python3 perfbench/steady.py --rounds 10 [--trace-rounds 1] [--workloads a,b]

Round r runs the workloads in list order when r is even and reversed when
r is odd. Traced rounds (--trace 1) run after the untraced ones; the
tracing overhead is the traced runs' median end-to-end value minus the
untraced runs' median. The full record is written to
perfbench/work/steady.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    """One benchmark run; returns (result line, every printed metric, wall
    seconds of the whole command)."""
    t0 = time.monotonic()
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                           "--seed", str(seed), "--seconds", str(seconds),
                           "--trace", str(trace)], cwd=ROOT, capture_output=True, text=True)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed} trace {trace}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    printed = {}
    for line in lines:
        parts = line.split(" ")
        if parts[0] == "metric" and parts[2] != "null":
            printed[parts[1]] = float(parts[2])
    return json.loads(lines[-1]), printed, time.monotonic() - t0


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=10)
    ap.add_argument("--trace-rounds", type=int, default=0)
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--workloads", help="comma-separated subset (default: all)")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = [w["name"] for w in bench["workloads"]]
    if a.workloads:
        names = [w for w in names if w in a.workloads.split(",")]
    seconds = bench["run_seconds"]
    e2e = {m["name"]: m for m in bench["end_to_end"]}

    runs = []
    seed = a.first_seed
    for trace, rounds in ((0, a.rounds), (1, a.trace_rounds)):
        for r in range(rounds):
            for w in (names if r % 2 == 0 else names[::-1]):
                result, printed, wall = run(w, seed, seconds, trace)
                runs.append({"workload": w, "seed": seed, "trace": trace,
                             "result": result, "printed": printed, "wall_s": wall})
                print(f"round {r} trace {trace} {w} seed {seed} wall {wall:.1f}s: " + " ".join(
                    f"{k}={printed.get(k, float('nan')):.4g}" for k in e2e), flush=True)
                seed += 1

    report = {}
    walls = [x["wall_s"] for x in runs]
    print(f"\n{len(walls)} runs, {sum(walls):.0f} s in all, {statistics.mean(walls):.1f} s a run")
    for w in names:
        report[w] = {}
        plain = [x["printed"] for x in runs if x["workload"] == w and x["trace"] == 0]
        traced = [x["printed"] for x in runs if x["workload"] == w and x["trace"] == 1]
        for m, spec in e2e.items():
            vals = [p[m] for p in plain]
            q1, med, q3, s = spread(vals)
            over = (statistics.median([p[m] for p in traced]) - med) if traced else None
            ok = m == "setup_s" or s <= spec["bound"]
            report[w][m] = {"values": vals, "q1": q1, "median": med, "q3": q3, "spread": s,
                            "bound": spec["bound"], "within_bound": ok,
                            "tracing_overhead": over}
            print(f"{w:14s} {m:18s} median {med:12.4f} IQR [{q1:.4f}, {q3:.4f}] "
                  f"spread {s:6.1%} bound {spec['bound']:.0%} "
                  f"{'ok' if ok else 'OVER'}"
                  + (f"  tracing overhead {over:+.4f}" if over is not None else ""))
    os.makedirs(os.path.join(HERE, "work"), exist_ok=True)
    with open(os.path.join(HERE, "work", "steady.json"), "w") as f:
        json.dump({"runs": runs, "report": report}, f, indent=1)


if __name__ == "__main__":
    main()
