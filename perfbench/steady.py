#!/usr/bin/env python3
"""Steadiness self-check for one workload.

Usage:
  python3 perfbench/steady.py --workload geo_join [--runs 5]

Runs the workload in two sets of --runs untraced runs of run_seconds each
(set A on seeds 1.., set B on the next --runs seeds) and prints, for each
end-to-end metric in BENCHMARK.json, each set's median and spread
(interquartile range over median) and how far set B's median is from set
A's, in either direction. A spread or a distance above the metric's bound
is flagged. Then runs the traced mode twice on seed 1 and flags any listed
count that does not repeat exactly (byte counts within 1 KiB), across the
two runs or across the traced passes of one run, and any traced run whose
self times do not account for the untraced pass within the tracing
overhead. Exits 1 on any flag.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED0 = 1
BYTE_SLACK = 1024
REPEATING = ["sched.jobs", "sched.tasks", "driver.build_jobs", "exec.shuffle_write_mb",
         "driver.result_mb"]


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.exit(f"run failed: {workload} seed {seed} trace {trace}")
    line = json.loads(p.stdout.strip().splitlines()[-1])
    summary = os.path.join(ROOT, ".bench_build", "perfbench", "runs",
                           f"{workload}-s{seed}-t{trace}", "summary.json")
    with open(summary) as f:
        return line, json.load(f)


def spread(xs):
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / statistics.median(xs)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    flags = []

    sets = []
    for k in range(2):
        seeds = range(SEED0 + k * a.runs, SEED0 + (k + 1) * a.runs)
        lines = [run(a.workload, s, seconds, 0)[0] for s in seeds]
        for s, l in zip(seeds, lines):
            if not l["correct"]:
                flags.append(f"seed {s}: {l['failed']} of {l['attempted']} executions failed")
        sets.append({m: [l["metrics"][m]["value"] for l in lines] for m in lines[0]["metrics"]})

    print(f"{'metric':16s} {'bound':>6s} {'median A':>10s} {'spread A':>9s} "
          f"{'median B':>10s} {'spread B':>9s} {'B vs A':>8s}")
    for m in bench["end_to_end"]:
        name, bound = m["name"], m["bound"]
        a_, b_ = sets[0][name], sets[1][name]
        ma, mb = statistics.median(a_), statistics.median(b_)
        sa, sb = spread(a_), spread(b_)
        diff = (mb - ma) / ma
        print(f"{name:16s} {bound:6.3f} {ma:10.4f} {sa:9.4f} {mb:10.4f} {sb:9.4f} {diff:+8.4f}")
        if max(sa, sb) > bound:
            flags.append(f"{name}: spread {max(sa, sb):.4f} above bound {bound}")
        if abs(diff) > bound:
            flags.append(f"{name}: set B differs from set A by {diff:+.4f}, bound {bound}")

    traced = [run(a.workload, SEED0, seconds, 1)[1] for _ in range(2)]
    for t in traced:
        c = t["trace_check"]
        print(f"untraced pass {c['untraced_pass_s']:.4f} s, self-time gap {c['gap_s']:+.4f} s, "
              f"overhead {c['overhead_s']:+.4f} s (tolerance {c['tolerance_s']:.4f} s)")
        if not c["ok"]:
            flags.append("self times do not account for the untraced pass within the overhead")
    for c in REPEATING:
        values = [round(p[c] * 1048576) if c.endswith("_mb") else p[c]
                  for t in traced for p in t["pass_counts"]]
        print(f"{c:24s} {min(values)} .. {max(values)}")
        # byte counts may differ by less than 1 KiB: task results carry
        # serialized timing metrics and shuffle blocks are compressed, so
        # both differ by a few hundred bytes between identical passes
        slack = BYTE_SLACK if c.endswith("_mb") else 0
        if max(values) - min(values) > slack:
            flags.append(f"{c} does not repeat: {min(values)} .. {max(values)}")

    for f in flags:
        print("FLAG", f)
    sys.exit(1 if flags else 0)


if __name__ == "__main__":
    main()
