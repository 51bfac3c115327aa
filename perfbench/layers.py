"""Per-layer metrics, self times and pass invariance from a traced run.

Input: the harness's `result.json` (per-op timings and the counters it
takes around each op) and `trace.jsonl` (jobs, stages, planning phases and
micro-batches from Spark's listener APIs, plus the harness's own run, pass,
op, build and action spans). All span times are epoch milliseconds.

Self times split each op's wall time into exclusive parts, by priority:
executor (inside a stage), scheduler (inside a job, outside its stages),
catalyst (inside a planning phase), streaming (inside a micro-batch),
build (the rest of the registry builder / job construction call) and
unaccounted (the rest of the action call: driver work outside every span
above). The parts add up to the op's wall time.
"""
import statistics

GRAFT_RULES = ["ArrayContainsJoinRule", "JoinReorderRule", "LevenshteinBandRule",
               "MatViewRule", "SkippingIndexRule", "VectorFoldRule"]

# name -> unit, in the order they are reported.
METRICS = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    **{f"plans.rule_ms.{r}": "ms" for r in GRAFT_RULES},
    "plans.effective_ratio": "ratio",
    "scheduler.jobs": "count", "scheduler.stages": "count",
    "scheduler.tasks": "count", "scheduler.driver_gap_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.cores_busy": "ratio", "executor.task_skew": "ratio",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.records": "count",
    "shuffle.spill_mb": "MB", "shuffle.fetch_wait_s": "s",
    "operators.mr_combine_ratio": "ratio", "operators.mr_map_stage_s": "s",
    "operators.mr_reduce_stage_s": "s",
    "sources.scan_mb": "MB", "sources.scan_rows": "count", "sources.sink_mb": "MB",
    "catalog.files_written": "count", "catalog.mb_written": "MB",
    "streaming.batches": "count", "streaming.batch_p50_ms": "ms",
    "streaming.commit_ms": "ms", "streaming.planning_ms": "ms",
    "self.executor_s": "s", "self.scheduler_s": "s", "self.catalyst_s": "s",
    "self.streaming_s": "s", "self.build_s": "s", "self.unaccounted_s": "s",
    "trace.wall_s": "s",
}
SELF_ORDER = ["executor", "scheduler", "catalyst", "streaming", "build", "unaccounted"]
MB = 1e6


def _covered(ivs):
    """Total length of the union of intervals."""
    total, end = 0.0, None
    for s, e in sorted(ivs):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def _clip(ivs, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in ivs if min(e, hi) > max(s, lo)]


def _empty():
    return {"jobs": {}, "stages": [], "sql": [], "batches": [], "spans": {}}


def _per_op(records):
    """op id -> everything the trace recorded for that op's build and action."""
    ops = {}

    def op(o):
        return ops.setdefault(o, _empty())
    for r in records:
        k, o = r["kind"], r.get("op", "")
        if not o:
            continue
        if k == "span":
            op(o)["spans"][r["span"]] = (r["start"], r["end"])
        elif k == "job_start":
            op(o)["jobs"].setdefault(r["job"], {})["start"] = r["t"]
            op(o)["jobs"][r["job"]]["phase"] = r["phase"]
        elif k == "job_end":
            op(o)["jobs"].setdefault(r["job"], {})["end"] = r["t"]
        elif k == "stage":
            op(o)["stages"].append(r)
        elif k == "sql":
            op(o)["sql"].extend(r["phases"])
        elif k == "batch":
            op(o)["batches"].append(r)
    return ops


def op_counters(tr, rec):
    """Counters and self times of one op execution (`rec` from result.json)."""
    lo, hi = tr["spans"].get("op", (0.0, 0.0))
    jobs = [j for j in tr["jobs"].values() if "start" in j and "end" in j]
    job_iv = _clip([(j["start"], j["end"]) for j in jobs], lo, hi)
    stage_iv = _clip([(s["start"], s["end"]) for s in tr["stages"] if s["start"]], lo, hi)
    # planning phases and micro-batches carry no op tag of their own: keep
    # the ones that ran inside this op's timed region
    phases = [p for p in tr["sql"] if lo <= p["start"] and p["end"] <= hi + 1]
    batches = [b for b in tr["batches"] if lo <= b["start"] <= hi]
    batch_iv = _clip([(b["start"], b["start"] + b.get("triggerExecution", 0))
                      for b in batches], lo, hi)
    cat_iv = _clip([(p["start"], p["end"]) for p in phases], lo, hi)
    st = tr["stages"]

    def tot(key):
        return sum(s.get(key, 0) for s in st)
    c = {
        "wall_s": rec["build_s"] + rec["action_s"],
        "build_s": rec["build_s"],
        "build_jobs": sum(1 for j in jobs if j.get("phase") == "build"),
        "jobs": len(jobs), "stages": len(st), "tasks": sum(s["tasks"] for s in st),
        "job_span_s": _covered(job_iv) / 1e3,
        "driver_gap_s": (hi - lo - _covered(job_iv)) / 1e3,
        "run_s": tot("run_ms") / 1e3, "cpu_s": tot("cpu_ns") / 1e9, "gc_s": tot("gc_ms") / 1e3,
        "skew": max([s["task_max_ms"] / s["task_median_ms"] for s in st
                     if s["tasks"] >= 4 and s["task_median_ms"] >= 10] or [1.0]),
        "shuffle_w_bytes": tot("shuffle_w_bytes"), "shuffle_r_bytes": tot("shuffle_r_bytes"),
        "shuffle_records": tot("shuffle_w_records"), "spill_bytes": tot("spill_bytes"),
        "fetch_wait_s": tot("fetch_wait_ms") / 1e3,
        "in_bytes": tot("in_bytes"), "in_records": tot("in_records"),
        "out_bytes": tot("out_bytes"),
        "map_stage_s": sum(s["end"] - s["start"] for s in st
                           if s.get("shuffle_w_bytes", 0) > 0) / 1e3,
        "reduce_stage_s": sum(s["end"] - s["start"] for s in st
                              if s.get("shuffle_w_bytes", 0) == 0
                              and s.get("shuffle_r_bytes", 0) > 0) / 1e3,
        "batches": len(batches),
        "batch_ms": [b.get("triggerExecution", 0) for b in batches],
        "commit_ms": sum(b.get("walCommit", 0) + b.get("commitOffsets", 0) for b in batches),
        "stream_planning_ms": sum(b.get("queryPlanning", 0) for b in batches),
        "files_written": rec.get("files_written", 0),
        "bytes_written": rec.get("bytes_written", 0),
        "rules": {r["rule"]: r for r in rec.get("rules", [])},
    }
    for name in ("analysis", "optimization", "planning"):
        c[f"{name}_s"] = sum(p["end"] - p["start"] for p in phases if p["name"] == name) / 1e3
    prior, selfs = [], {}
    for layer, ivs in (("executor", stage_iv), ("scheduler", job_iv), ("catalyst", cat_iv),
                       ("streaming", batch_iv),
                       ("build", [tr["spans"].get("build", (lo, lo))]),
                       ("unaccounted", [tr["spans"].get("action", (hi, hi))])):
        before = _covered(prior)
        prior = prior + ivs
        selfs[layer] = (_covered(prior) - before) / 1e3
    c["self"] = selfs
    return c


def pass_metrics(counters, mr, cores):
    """The per-layer metrics of one pass, from its ops' counters. `mr`: the
    ops are MapReduce jobs, so the operators.* metrics apply. `cores`: the
    task slots of the session's master."""
    s = lambda k: sum(c[k] for c in counters)
    rules = {r: [c["rules"].get(r, {}) for c in counters] for r in GRAFT_RULES}
    runs = sum(x.get("runs", 0) for v in rules.values() for x in v)
    eff = sum(x.get("effective", 0) for v in rules.values() for x in v)
    batch_ms = sorted(b for c in counters for b in c["batch_ms"])
    m = {
        "queries.build_s": s("build_s"), "queries.build_jobs": s("build_jobs"),
        "catalyst.analysis_s": s("analysis_s"), "catalyst.optimization_s": s("optimization_s"),
        "catalyst.planning_s": s("planning_s"),
        **{f"plans.rule_ms.{r}": sum(x.get("ns", 0) for x in v) / 1e6
           for r, v in rules.items()},
        "plans.effective_ratio": eff / runs if runs else 0.0,
        "scheduler.jobs": s("jobs"), "scheduler.stages": s("stages"),
        "scheduler.tasks": s("tasks"), "scheduler.driver_gap_s": s("driver_gap_s"),
        "executor.run_s": s("run_s"), "executor.cpu_s": s("cpu_s"), "executor.gc_s": s("gc_s"),
        "executor.cores_busy": s("run_s") / (cores * s("job_span_s")) if s("job_span_s") else 0.0,
        "executor.task_skew": max(c["skew"] for c in counters) if counters else 1.0,
        "shuffle.write_mb": s("shuffle_w_bytes") / MB, "shuffle.read_mb": s("shuffle_r_bytes") / MB,
        "shuffle.records": s("shuffle_records"), "shuffle.spill_mb": s("spill_bytes") / MB,
        "shuffle.fetch_wait_s": s("fetch_wait_s"),
        "operators.mr_combine_ratio": s("shuffle_records") / max(1, s("in_records")) if mr else 0.0,
        "operators.mr_map_stage_s": s("map_stage_s") if mr else 0.0,
        "operators.mr_reduce_stage_s": s("reduce_stage_s") if mr else 0.0,
        "sources.scan_mb": s("in_bytes") / MB, "sources.scan_rows": s("in_records"),
        "sources.sink_mb": s("out_bytes") / MB,
        "catalog.files_written": s("files_written"), "catalog.mb_written": s("bytes_written") / MB,
        "streaming.batches": s("batches"),
        "streaming.batch_p50_ms": statistics.median(batch_ms) if batch_ms else 0.0,
        "streaming.commit_ms": s("commit_ms"), "streaming.planning_ms": s("stream_planning_ms"),
        "trace.wall_s": s("wall_s"),
    }
    for layer in SELF_ORDER:
        m[f"self.{layer}_s"] = sum(c["self"][layer] for c in counters)
    return m


def analyze(result, records, mr):
    """(per-layer metrics: median over the measured passes; per op, its
    (jobs, tasks, shuffle bytes written) on every pass)."""
    trace = _per_op(records)
    cores = int(result["context"]["master"].strip("local[]"))
    per_pass, counts = [], {}
    for p in result["passes"]:
        cs = []
        for rec in p["ops"]:
            c = op_counters(trace.get(f"p{p['pass']}:{rec['op']}") or _empty(), rec)
            cs.append(c)
            counts.setdefault(rec["op"], []).append(
                (c["jobs"], c["tasks"], c["shuffle_w_bytes"]))
        per_pass.append(pass_metrics(cs, mr, cores))
    warm = per_pass[1 + result["warmup_passes"]:]
    return {k: statistics.median(m[k] for m in warm) for k in METRICS}, counts
