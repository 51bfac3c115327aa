#!/usr/bin/env python3
"""One benchmark run of the graft engine on one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the harness from source on first use (sbt, offline),
generates the workload's inputs from the seed, then runs the harness JVM on
the workload's local master: set-up, a cold pass, the workload's warm-up
passes, and its measured passes, as many as fit in S seconds. After the
timed passes an untimed check pass writes the output every op gave on the
last pass, which is checked: registry entries against their DuckDB
oracle on the same generated tables, MapReduce jobs against counts computed
from the generated corpus; entries without an oracle must run without
error, and their row counts go into the report. An op that throws on any
pass, or whose output is wrong, is a failed op. Prints every metric with
its unit, then one JSON line. With `--trace 0` the metrics are the end-to-end
ones; with `--trace 1` the per-layer ones from Spark's listener APIs. A full
report (run context, per-op figures, pass invariance) is written to
`.bench_work/reports/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

WORK = os.path.join(ROOT, ".bench_work")
REPORTS = os.path.join(WORK, "reports")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
CP_FILE = os.path.join(HERE, "target", "bench-classpath.txt")
WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))["workloads"]
END_TO_END = {"wall_s": "s", "setup_s": "s", "ok_frac": "ratio", "heap_peak_mb": "MB"}
# Op latencies and the cold pass's time: printed by every run, and in the
# traced run's result beside the per-layer metrics. Each is one op's time,
# or one sample per run, so they spread too far between runs for a bound.
RUN_LEVEL = {"ops.p50_s": "s", "ops.tail_s": "s", "jvm.cold_s": "s"}
TAIL_BEYOND = 10    # ops.tail_s: the latency with exactly this many samples above it
RUN_LIMIT_S = 170
# -XX:-UsePerfData: the JVM would otherwise write its counters under the system temp dir
JVM_OPTS = ["-Xmx2g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the harness build compiles."""
    h = hashlib.sha256()
    for base in (ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """The harness classpath, building engine and harness when sources changed."""
    stamp = source_stamp()
    if os.path.exists(CP_FILE):
        with open(CP_FILE) as f:
            old, cp = f.read().split("\n", 1)
        if old == stamp:
            return cp.strip()
    log("building engine and harness (sbt, offline)")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=850)
    lines = [line for line in p.stdout.splitlines() if "scala-2.13/classes" in line]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-2000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(os.path.dirname(CP_FILE), exist_ok=True)
    with open(CP_FILE, "w") as f:
        f.write(stamp + "\n" + lines[-1].strip() + "\n")
    return lines[-1].strip()


def host_sample():
    """(cpu jiffies per field from /proc/stat, 1-minute load average)."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return cpu, load


def filesystem(path):
    """Filesystem type of the mount holding `path` (tmpfs, ext4, overlay ...)."""
    best, fstype = "", "unknown"
    with open("/proc/self/mounts") as f:
        for line in f:
            _, mnt, typ = line.split()[:3]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, fstype = mnt, typ
    return fstype


def git_commit():
    """HEAD of the checkout, or "unknown" when it is not a git work tree."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except OSError:
        return "unknown"


def jvm(cp, run_dir, args, deadline):
    """Runs the harness. Raises on failure or timeout."""
    logf = os.path.join(run_dir, "jvm.log")
    with open(logf, "a") as err:
        p = subprocess.run(
            ["java", *JVM_OPTS, f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", cp,
             "graft.perfbench.Harness", *args],
            cwd=run_dir, stdin=subprocess.DEVNULL, stdout=err, stderr=err,
            text=True, timeout=max(10.0, deadline - time.time()))
    if p.returncode != 0:
        with open(logf) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: harness exited with {p.returncode}")


def check_outputs(wl, result, out, data, expected):
    """([(pass, op, reason)] for every op execution that threw or whose output
    is wrong, {op: output rows on the last pass})."""
    fails = [(p["pass"], r["op"], r["error"])
             for p in result["passes"] for r in p["ops"] if r["error"]]
    # the check pass writes the last pass's outputs: a wrong one fails that pass's op
    last = result["passes"][-1]["pass"]
    fails += [(last, r["op"], r["error"]) for r in result["check"] if r["error"]]
    if wl != "mr_corpus":
        wrong, rows = checks.registry(out, data)
        return fails + [(last, op, why) for op, why in wrong.items()], rows
    rows = {}
    for op, want in expected.items():
        path = os.path.join(out, "check", op)
        if os.path.isdir(path):
            got = checks.mr_fingerprint(path)
            rows[op] = got[0]
            if got != tuple(want):
                fails.append((last, op, f"fingerprint {got} != generated {tuple(want)}"))
    return fails, rows


def pass_wall(p):
    """A pass's wall time: its ops' build and action calls, one after another."""
    return sum(r["build_s"] + r["action_s"] for r in p["ops"])


def measured(result):
    """The measured passes: every pass after the cold one and the warm-up ones."""
    return result["passes"][1 + result["warmup_passes"]:]


def end_to_end(result, attempted, failed):
    """(end-to-end metrics, run-level metrics, how ops.tail_s was taken)."""
    passes = measured(result)
    per_op = {}
    for p in passes:
        for r in p["ops"]:
            per_op.setdefault(r["op"], []).append(r["build_s"] + r["action_s"])
    lat = sorted(t for ts in per_op.values() for t in ts)
    if len(lat) > 2 * TAIL_BEYOND:
        # the highest percentile with TAIL_BEYOND samples above it
        tail_i = len(lat) - TAIL_BEYOND - 1
        op_tail = lat[tail_i]
        tail = {"percentile": round(100.0 * (tail_i + 1) / len(lat), 1)}
    else:
        # below twice that many samples no such percentile is a tail; the
        # slowest op's median stands in, which one slow sample cannot move
        op_tail = max(statistics.median(ts) for ts in per_op.values())
        tail = {"slowest_op_median_of": len(passes)}
    tail["samples"] = len(lat)
    metrics = {
        # the time the hypervisor gave the host's CPUs to other guests
        # (steal) is not the program's
        "wall_s": statistics.median(pass_wall(p) * (1 - p["steal_frac"]) for p in passes),
        "setup_s": result["setup_s"],
        "ok_frac": (attempted - failed) / attempted,
        "heap_peak_mb": max(p["heap_mb"] for p in result["passes"]),
    }
    run_level = {"ops.p50_s": statistics.median(lat), "ops.tail_s": op_tail,
                 "jvm.cold_s": pass_wall(result["passes"][0])}
    return metrics, run_level, tail


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float,
                    default=json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        log(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
        return 2
    cp = classpath()
    deadline = time.time() + RUN_LIMIT_S
    wl, cfg = a.workload, WORKLOADS[a.workload]
    run_dir = os.path.join(WORK, f"run-{wl}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        t0 = time.time()
        if wl == "mr_corpus":
            expected = gen.corpus(os.path.join(data, "corpus"), a.seed, cfg["corpus_lines"])
        else:
            expected = None
            gen.tables(data, a.seed, cfg["sf"])
        gen_s = time.time() - t0
        host0 = host_sample()
        args = ["--workload", wl, "--master", cfg["master"], "--data", data, "--out", out,
                "--seconds", str(a.seconds),
                "--warmup-passes", str(cfg["warmup_passes"]),
                "--warm-passes", str(cfg["warm_passes"]), "--trace", str(a.trace),
                "--seed", str(a.seed)]
        if wl != "mr_corpus":
            args += ["--groups", ";".join(",".join(g["modules"]) + f":{g['stride']}"
                                          for g in cfg["groups"]),
                     "--stream-stride", str(cfg["stream_stride"]),
                     "--include", ",".join(cfg["include"])]
        jvm(cp, run_dir, args, deadline)
        host1 = host_sample()
        with open(os.path.join(out, "result.json")) as f:
            result = json.load(f)
        fails, rows = check_outputs(wl, result, out, data, expected)
        attempted = sum(len(p["ops"]) for p in result["passes"])
        failed = len({(p, op) for p, op, _ in fails})
        metrics, run_level, tail = end_to_end(result, attempted, failed)
        report = {"workload": wl, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                  "end_to_end": metrics, "run_level": run_level, "op_tail": tail,
                  "attempted": attempted, "failed": failed,
                  "failures": [{"pass": p, "op": op, "reason": r} for p, op, r in fails],
                  "ops": result["ops"], "rows": rows, "passes": len(result["passes"]),
                  "warmup_passes": result["warmup_passes"],
                  "pass_wall_s": [pass_wall(p) for p in result["passes"]],
                  "pass_cpu_s": [p["cpu_s"] for p in result["passes"]],
                  "pass_steal_frac": [p["steal_frac"] for p in result["passes"]],
                  "pass_heap_mb": [p["heap_mb"] for p in result["passes"]],
                  "pass_settle_s": [p["settle_s"] for p in result["passes"]],
                  "check_s": result["check_s"],
                  "op_warm_median_s": {
                      op: statistics.median(r["build_s"] + r["action_s"]
                                            for p in measured(result)
                                            for r in p["ops"] if r["op"] == op)
                      for op in result["ops"]}}
        d_cpu = [b - x for b, x in zip(host1[0], host0[0])]
        report["context"] = {
            **result["context"], "commit": git_commit(), "seed": a.seed,
            "nproc": len(os.sched_getaffinity(0)), "scratch_fs": filesystem(run_dir),
            "steal_frac": d_cpu[7] / max(1, sum(d_cpu)) if len(d_cpu) > 7 else 0.0,
            "loadavg_start": host0[1], "loadavg_end": host1[1],
            "input_gen_s": gen_s, "run_s": time.time() - t_start}
        if a.trace:
            with open(os.path.join(out, "trace.jsonl")) as f:
                records = [json.loads(line) for line in f]
            per_layer, counts = layers.analyze(result, records, mr=wl == "mr_corpus")
            report["per_layer"] = per_layer
            # pass invariance: these counts must repeat on every pass and every run
            report["op_counts"] = counts
            report["pass_variant_ops"] = {op: {"pass1": v[0], "warm": v[1:]}
                                          for op, v in counts.items() if len(set(v)) > 1}
            shown = {**{k: (v, layers.METRICS[k]) for k, v in per_layer.items()},
                     **{k: (v, RUN_LEVEL[k]) for k, v in run_level.items()}}
        else:
            shown = {k: (v, END_TO_END[k]) for k, v in metrics.items()}
        os.makedirs(REPORTS, exist_ok=True)
        with open(os.path.join(REPORTS, f"{wl}-s{a.seed}-t{a.trace}.json"), "w") as f:
            json.dump(report, f, indent=1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for p, op, r in fails:
        log(f"FAILED pass {p} {op}: {r}")
    if a.trace and report["pass_variant_ops"]:
        log(f"counts differ across passes (jobs, tasks, shuffle bytes): "
            f"{sorted(report['pass_variant_ops'])}")
    for k, (v, unit) in shown.items():
        print(f"{k:34s} {v:14.6g} {unit}")
    if not a.trace:
        for k, v in run_level.items():
            print(f"{k:34s} {v:14.6g} {RUN_LEVEL[k]}")
        how = (f"p{tail['percentile']}" if "percentile" in tail else
               f"the slowest op's median over {tail['slowest_op_median_of']} passes")
        print(f"# ops.tail_s is {how}, of {tail['samples']} measured op samples; "
              f"failed_frac {failed}/{attempted}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
