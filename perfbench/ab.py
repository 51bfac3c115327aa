#!/usr/bin/env python3
"""A/B compare of two engine checkouts with identical benchmark code.

    python3 perfbench/ab.py --parent DIR --change DIR [--workloads W,...]
                            [--pairs 10] [--seed0 1000]

Copies each checkout's sources (not its build output) under
.bench_work/ab/, puts this benchmark directory into both copies, then runs
`--pairs` pairs of runs per workload, alternating which side runs first,
with seed seed0+i for pair i on both sides. For every workload and
end-to-end metric it prints each side's median and quartiles and a verdict:

* gain: the change wins at least 9 of 10 pairs (ties count for neither) and
  the medians differ by more than the parent's own quartile spread;
* worse: the change's median is worse than the parent's by more than the
  metric's bound in BENCHMARK.json;
* unresolved: the parent's spread (quartile distance over median) exceeds
  the bound, unless every change run beats every parent run;
* same: none of the above.

It also lists registry ops whose output row counts differ between the sides
for the same seed.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SKIP = shutil.ignore_patterns(".git", "target", ".bench_work", ".bench_build", ".bsp")


def stage(checkout, side):
    """A copy of `checkout` whose benchmark directory is this one."""
    dest = os.path.join(ROOT, ".bench_work", "ab", side)
    shutil.rmtree(dest, ignore_errors=True)
    shutil.copytree(checkout, dest, ignore=SKIP)
    for p in BENCH["paths"]:
        shutil.rmtree(os.path.join(dest, p), ignore_errors=True)
        shutil.copytree(os.path.join(ROOT, p), os.path.join(dest, p), ignore=SKIP)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), dest)
    return dest


def one_run(root, wl, seed):
    """(metrics, rows per op) of one untraced run in `root`."""
    p = subprocess.run(BENCH["command"] + ["--workload", wl, "--seed", str(seed), "--seconds",
                                           str(BENCH["run_seconds"]), "--trace", "0"],
                       cwd=root, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"ab: run failed in {root} ({wl}, seed {seed})")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(root, ".bench_work", "reports", f"{wl}-s{seed}-t0.json")) as f:
        rows = json.load(f)["rows"]
    return {k: v["value"] for k, v in res["metrics"].items()}, rows


def verdict(m, parent, change):
    lower = m["better"] == "lower"
    p_med, c_med = statistics.median(parent), statistics.median(change)
    q1, _, q3 = statistics.quantiles(parent, n=4)
    spread = (q3 - q1) / p_med if p_med else 0.0
    wins = sum((c < p) if lower else (c > p) for p, c in zip(parent, change))
    beats_all = (max(change) < min(parent)) if lower else (min(change) > max(parent))
    worse = (c_med - p_med) / p_med if lower else (p_med - c_med) / p_med
    if wins >= 0.9 * len(parent) and abs(c_med - p_med) > q3 - q1:
        return "gain", wins
    if spread > m["bound"] and not beats_all:
        return "unresolved", wins
    if worse > m["bound"]:
        return "worse", wins
    return "same", wins


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in BENCH["workloads"]))
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1000)
    a = ap.parse_args()
    sides = {"parent": stage(a.parent, "parent"), "change": stage(a.change, "change")}
    for wl in a.workloads.split(","):
        vals = {"parent": [], "change": []}
        rows = {"parent": {}, "change": {}}
        for i in range(a.pairs):
            seed = a.seed0 + i
            for side in (("parent", "change") if i % 2 == 0 else ("change", "parent")):
                m, r = one_run(sides[side], wl, seed)
                vals[side].append(m)
                rows[side][seed] = r
        print(f"== {wl} ({a.pairs} pairs)")
        print(f"{'metric':16s} {'parent median [q1, q3]':>32s} {'change median [q1, q3]':>32s}"
              f" {'wins':>6s}  verdict")
        for m in BENCH["end_to_end"]:
            p = [v[m["name"]] for v in vals["parent"]]
            c = [v[m["name"]] for v in vals["change"]]
            fmt = lambda xs: "{:.4g} [{:.4g}, {:.4g}]".format(
                statistics.median(xs), *statistics.quantiles(xs, n=4)[::2])
            v, wins = verdict(m, p, c)
            print(f"{m['name'] + ' (' + m['unit'] + ')':16s} {fmt(p):>32s} {fmt(c):>32s}"
                  f" {wins:>3d}/{a.pairs}  {v}")
        moved = sorted({op for s in rows["parent"] for op, n in rows["parent"][s].items()
                        if rows["change"][s].get(op) != n})
        print(f"ops whose output rows differ for the same seed: {', '.join(moved) or 'none'}")


if __name__ == "__main__":
    main()
