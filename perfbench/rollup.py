#!/usr/bin/env python3
"""Span rollup: each layer's self time and counters, for every workload.

    python3 perfbench/rollup.py [--workloads W,...] [--seed N] [--seconds S]

For each workload, runs the benchmark untraced and traced on the same seed
and prints, per measured pass: the self time of each layer, the share of
the op wall time no layer accounts for, every per-layer counter, the
tracing overhead (traced wall_s minus untraced wall_s), the untraced op
latencies and cold pass, and the ops whose job, task or shuffle counts
differ between passes.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import layers  # noqa: E402
import run  # noqa: E402


def report(wl, seed, seconds, trace):
    """Runs the benchmark once and returns the report that run wrote."""
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                    "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                   cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    with open(os.path.join(run.REPORTS, f"{wl}-s{seed}-t{trace}.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(run.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float,
                    default=json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"])
    a = ap.parse_args()
    wls = a.workloads.split(",")
    plain = {w: report(w, a.seed, a.seconds, 0) for w in wls}
    traced = {w: report(w, a.seed, a.seconds, 1) for w in wls}
    col = max(12, *(len(w) for w in wls))
    print(f"{'per measured pass':34s}" + "".join(f"{w:>{col + 2}s}" for w in wls))

    def row(name, unit, values):
        print(f"{name + ' (' + unit + ')':34s}" + "".join(f"{v:>{col + 2}.4g}" for v in values))
    row("wall_s untraced", "s", [plain[w]["end_to_end"]["wall_s"] for w in wls])
    row("wall_s traced", "s", [traced[w]["end_to_end"]["wall_s"] for w in wls])
    row("tracing overhead", "s", [traced[w]["end_to_end"]["wall_s"]
                                  - plain[w]["end_to_end"]["wall_s"] for w in wls])
    print("-- self time by layer (sums to the traced op wall time)")
    for layer in layers.SELF_ORDER:
        row(f"self.{layer}_s", "s", [traced[w]["per_layer"][f"self.{layer}_s"] for w in wls])
    row("unaccounted share", "ratio",
        [traced[w]["per_layer"]["self.unaccounted_s"]
         / max(1e-9, traced[w]["per_layer"]["trace.wall_s"]) for w in wls])
    print("-- counters")
    for name, unit in layers.METRICS.items():
        if not name.startswith("self."):
            row(name, unit, [traced[w]["per_layer"][name] for w in wls])
    print("-- op latencies and the cold pass, untraced")
    for name, unit in run.RUN_LEVEL.items():
        row(name, unit, [plain[w]["run_level"][name] for w in wls])
    for w in wls:
        variant = traced[w].get("pass_variant_ops") or {}
        print(f"{w}: ops whose (jobs, tasks, shuffle bytes) differ across passes: "
              + (", ".join(f"{op} {v['pass1']} -> {v['warm']}" for op, v in sorted(variant.items()))
                 or "none"))
        ctx = traced[w]["context"]
        print(f"{w}: context steal_frac={ctx['steal_frac']:.3f} load={ctx['loadavg_start']}"
              f"->{ctx['loadavg_end']} scratch={ctx['scratch_fs']} nproc={ctx['nproc']} "
              f"commit={ctx['commit'][:12]}")


if __name__ == "__main__":
    main()
