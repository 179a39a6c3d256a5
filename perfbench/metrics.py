"""Turns one benchmark process's raw record into metrics.

Pure functions over the JSON the JVM side writes (see README.md): interval
arithmetic for the layer split, percentiles, host-stall detection, and the
end-to-end and per-layer metric sets. Kept free of I/O so the unit tests
can exercise every rule on small hand-made inputs.
"""

import math

# Timed operation kinds per workload (the e2e latency population).
TIMED_KINDS = {
    "analytics_suite": {"query", "request"},
    "table_mixed": {"read", "write"},
}

SAMPLER_PERIOD_MS = 50.0
STALL_FACTOR = 5.0  # a sampler wake-up this many periods late marks a stall

FAMILIES = ["dedup", "similarity", "multimodal", "ann", "relational", "event", "quality", "text"]
WRITE_KINDS = ["append", "delete_where", "update_where", "merge_into", "delete_where_dv", "maintain"]
READ_KINDS = ["read_where", "read_as_of", "sql_read"]
KOMODO = {"aggregate_interaction_type": "agg_interaction", "aggregate_user": "agg_user",
          "user_energy": "user_energy"}

E2E_UNITS = {"setup_s": "s", "retained_mb": "MB", "op_mean_ms": "ms", "cpu_ms_per_op": "ms"}

# CPU milliseconds of one round of the host-speed probe (SpeedProbe.scala,
# all four threads) on a quiet 4-core Intel Xeon. The end-to-end timings
# are scaled by this over the run's median round: times at that host's
# speed.
PROBE_REF_CPU_MS = 74.0


def _layer_units():
    u = {"catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
         "catalyst.planning_ms": "ms", "catalyst.executions": "count"}
    for k in ["jobs", "stages", "tasks", "single_task_stages"]:
        u["exec." + k] = "count"
    for k in ["job_wall_ms", "between_jobs_ms", "outside_exec_ms", "task_cpu_ms", "task_run_ms", "gc_ms"]:
        u["exec." + k] = "ms"
    for k in ["input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"]:
        u["exec." + k] = "bytes"
    for f in FAMILIES:
        u["functions.text_s" if f == "text" else "operators.%s_s" % f] = "s"
    for k in WRITE_KINDS + READ_KINDS:
        u["commitlog.%s_ms" % k] = "ms"
    u.update({"commitlog.jobs_per_write": "count", "commitlog.executions_per_write": "count",
              "commitlog.files_rewritten_per_write": "count", "commitlog.files_skipped_ratio": "ratio",
              "commitlog.dv_masked_rows": "count", "commitlog.live_files": "count",
              "commitlog.log_versions": "count",
              "replica.batches": "count", "replica.versions_per_batch": "count",
              "replica.rows_per_batch": "count", "replica.trigger_ms": "ms",
              "replica.add_batch_ms": "ms", "replica.latest_offset_ms": "ms",
              "dispatch.block_ms": "ms", "dispatch.jobs_per_request": "count",
        "dispatch.executions_per_request": "count",
        "generator.late_ms": "ms", "host.cpu_util": "ratio", "host.stall_s": "s"})
    for short in KOMODO.values():
        u["komodo.%s_ms" % short] = "ms"
    return u


LAYER_UNITS = _layer_units()


# ---------------------------------------------------------------- numbers

def percentile(values, q):
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50) if values else 0.0


# -------------------------------------------------------------- intervals

def union(intervals):
    """Merge intervals [(start, end), ...] into disjoint sorted ones."""
    out = []
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def length(intervals):
    return sum(e - s for s, e in union(intervals))


def self_time(parent, children):
    """Duration of `parent` not covered by any child interval."""
    lo, hi = parent
    return (hi - lo) - length(clip(children, lo, hi))


def layer_split(op, execs, jobs):
    """ROADMAP's buckets for one operation window: time in Spark jobs, time
    inside a SQL execution but outside any job, and driver time outside any
    execution or job."""
    lo, hi = op
    job_wall = length(clip(jobs, lo, hi))
    outside = self_time(op, execs + jobs)
    return {"job_wall_ms": job_wall, "between_jobs_ms": (hi - lo) - outside - job_wall,
            "outside_exec_ms": outside}


# ------------------------------------------------------------------ host

def stalls(samples, period_ms=SAMPLER_PERIOD_MS, factor=STALL_FACTOR):
    """Gaps between consecutive sampler wake-ups longer than `factor`
    periods: intervals in which the process did not get to run."""
    out = []
    for (t0, _), (t1, _) in zip(samples, samples[1:]):
        if t1 - t0 > factor * period_ms:
            out.append((t0, t1))
    return out


def sampler_lateness_s(samples, period_ms=SAMPLER_PERIOD_MS):
    """Total time the sampler woke later than scheduled, in seconds."""
    return sum(max(0.0, (t1 - t0) - period_ms)
               for (t0, _), (t1, _) in zip(samples, samples[1:])) / 1000.0


def cpu_util(samples, lo, hi, nproc):
    """Process CPU time / (wall time * cores) over [lo, hi]."""
    inside = [(t, c) for t, c in samples if lo <= t <= hi]
    if len(inside) < 2:
        return 0.0
    (t0, c0), (t1, c1) = inside[0], inside[-1]
    return (c1 - c0) / ((t1 - t0) * nproc) if t1 > t0 else 0.0


def flag_stalled(ops, stall_intervals):
    """Mark every operation that overlaps a host stall. Nothing is
    dropped: the flag only tells a reader which numbers the host set."""
    for o in ops:
        o["stalled"] = any(s < o["t1"] and e > o["t0"] for s, e in stall_intervals)
    return ops


# ------------------------------------------------------------- end to end

def timed_ops(raw):
    lo, hi = raw["window"]
    kinds = TIMED_KINDS[raw["workload"]]
    return [o for o in raw["ops"] if o["kind"] in kinds and o.get("pass", 0) != -1
            and lo <= o["t0"] <= hi]


def setup_seconds(raw):
    """The program's set-up: the median fixture repetition, the warm-up and
    the replica's bootstrap. JVM and Spark session start (`session_s`, no
    graft code) stay out of it and in the artifact's `setup`."""
    s = raw["setup"]
    return median(s["fixture_s"]) + s["warmup_s"] + s.get("replica_start_s", 0.0)


def ms(op):
    return op["t1"] - op["t0"]


def probe_rounds(raw):
    """The probe rounds of the timed window: [(t, wall ms, cpu ms)]."""
    lo, hi = raw["window"]
    return [r for r in raw["values"]["probe"] if lo <= r[0] <= hi]


def speed_factors(raw):
    """Reference-host time per unit of this run's time, for the set-up
    (probe rounds before the window) and for the window: the reference
    round's CPU time over the run's median round. Below 1 on a host slower
    than the reference."""
    lo = raw["window"][0]
    before = [r[2] for r in raw["values"]["probe"] if r[0] < lo]
    return (PROBE_REF_CPU_MS / median(before),
            PROBE_REF_CPU_MS / median([r[2] for r in probe_rounds(raw)]))


def raw_timings(raw):
    """The timings as measured: set-up seconds, mean operation ms, and
    process CPU ms per operation, the probe's own CPU taken out."""
    ops = [o for o in timed_ops(raw) if o["ok"]]
    cpu = raw["values"]["window_cpu_ms"] - sum(r[2] for r in probe_rounds(raw))
    return {"setup_s": setup_seconds(raw), "op_mean_ms": sum(ms(o) for o in ops) / len(ops),
            "cpu_ms_per_op": cpu / len(ops)}


def end_to_end(raw):
    setup_f, window_f = speed_factors(raw)
    out = {k: v * (setup_f if k == "setup_s" else window_f) for k, v in raw_timings(raw).items()}
    out["retained_mb"] = raw["values"]["retained_mb"]
    return {k: out[k] for k in E2E_UNITS}


def workload_detail(raw):
    """The workload's own user-facing figures (recorded in the artifact):
    per-kind latencies, replica lag, space amplification."""
    ops = [o for o in timed_ops(raw) if o["ok"]]
    v = raw["values"]
    out = {}

    out["op_p50_ms"] = percentile([ms(o) for o in ops], 50)
    out["measured"] = raw_timings(raw)
    out["speed_factors"] = speed_factors(raw)
    lo, hi = raw["window"]
    out["throughput_per_s"] = len(ops) / ((hi - lo) / 1000.0)

    def pct(prefix, xs):
        if xs:
            out[prefix + "_p50_ms"] = percentile(xs, 50)
            out[prefix + "_p90_ms"] = percentile(xs, 90)
            out[prefix + "_n"] = len(xs)

    out["peak_rss_mb"] = raw["peak_rss_mb"]
    if raw["workload"] == "analytics_suite":
        out["suite_s"] = median(v["pass_s"]) if v["pass_s"] else None
        out["passes"] = len(v["pass_s"])
        pct("query", [ms(o) for o in ops if o["kind"] == "query"])
        pct("dispatch", [ms(o) for o in ops if o["kind"] == "request"])
    else:
        pct("write", [ms(o) for o in ops if o["kind"] == "write"])
        pct("read", [ms(o) for o in ops if o["kind"] == "read"])
        pct("replica_lag", replica_lags(v["commit_ts"], v["replica_progress"]))
        out["bytes_written_per_user_byte"] = v["data_bytes_added"] / v["user_bytes"] if v["user_bytes"] else None
        out["bytes_stored_per_live_byte"] = v["table_bytes"] / v["live_bytes"]
    return out


def replica_lags(commit_ts, progress):
    """For each source version: commit timestamp → end of the first replica
    micro-batch whose end offset covers it."""
    batches = sorted((p["t0"] + p["duration_ms"], int(p["end_offset"]))
                     for p in progress if str(p["end_offset"]).strip().lstrip("-").isdigit())
    lags = []
    for version, ts in commit_ts:
        done = next((end for end, off in batches if off >= version and end >= ts), None)
        if done is not None:
            lags.append(done - ts)
    return lags


# -------------------------------------------------------------- per layer

def owners(raw, ops):
    """Attribute SQL executions and jobs to timed operations by the job tag
    `pb-op-<id>` an operation's work carries on whatever thread it runs.
    Returns {exec id: (op, t0, t1)} and {job id: (op, t0, t1, stage ids)},
    op None for work of no timed operation (warm-up, checks, the replica
    stream)."""
    spans = raw["spans"]
    ends = {str(e["exec"]): e["t1"] for e in spans["sql_ends"]}
    job_ends = {j["job"]: j["t1"] for j in spans["job_ends"]}
    ids = {o["id"] for o in ops}

    def owner(tags):
        for t in str(tags).split(","):
            if t.startswith("pb-op-") and int(t[len("pb-op-"):]) in ids:
                return int(t[len("pb-op-"):])
        return None

    execs = {str(x["exec"]): (owner(x["tags"]), x["t0"], ends.get(str(x["exec"]), x["t0"]))
             for x in spans["sql_starts"]}
    jobs = {j["job"]: (owner(j["tags"]), j["t0"], job_ends.get(j["job"], j["t0"]), j.get("stages", []))
            for j in spans["jobs"]}
    return execs, jobs


def per_layer(raw):
    """Layer metrics of a traced run, summed over the work the timed
    operations own (see `owners`) and divided by their count."""
    spans = raw["spans"]
    ops = timed_ops(raw)
    execs, jobs = owners(raw, ops)
    mine_execs = {k: e for k, e in execs.items() if e[0] is not None}
    mine_jobs = [j for j in jobs.values() if j[0] is not None]
    stage_ids = {sid for j in mine_jobs for sid in j[3]}
    stages = [x for x in spans["stages"] if x["stage"] in stage_ids]
    phases = [p for p in spans["phases"] if p["exec"] in mine_execs]
    n_ops = max(1, len(ops))

    m = {
        "catalyst.analysis_ms": sum(p["analysis_ms"] for p in phases) / n_ops,
        "catalyst.optimization_ms": sum(p["optimization_ms"] for p in phases) / n_ops,
        "catalyst.planning_ms": sum(p["planning_ms"] for p in phases) / n_ops,
        "catalyst.executions": len(mine_execs) / n_ops,
        "exec.jobs": len(mine_jobs) / n_ops,
        "exec.stages": len(stages) / n_ops,
        "exec.tasks": sum(x["tasks"] for x in stages) / n_ops,
        "exec.single_task_stages": sum(1 for x in stages if x["tasks"] == 1) / n_ops,
    }
    for k in ["cpu_ms", "run_ms", "gc_ms"]:
        m["exec.task_" + k if k != "gc_ms" else "exec.gc_ms"] = sum(x.get(k, 0.0) for x in stages) / n_ops
    for k in ["input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"]:
        m["exec." + k] = sum(x.get(k, 0) for x in stages) / n_ops

    # Four-bucket split per operation, from that operation's own spans.
    splits = []
    for o in ops:
        ex = [(t0, t1) for (op, t0, t1) in execs.values() if op == o["id"]]
        jb = [(t0, t1) for (op, t0, t1, _) in jobs.values() if op == o["id"]]
        splits.append(layer_split((o["t0"], o["t1"]), ex, jb))
    for k in ["job_wall_ms", "between_jobs_ms", "outside_exec_ms"]:
        m["exec." + k] = median([x[k] for x in splits])

    m.update(module_metrics(raw, ops, mine_execs, mine_jobs))
    m["generator.late_ms"] = generator_late_ms(raw)
    lo, hi = raw["window"]
    samples = raw["host_samples"]
    m["host.cpu_util"] = cpu_util(samples, lo, hi, raw["nproc"])
    m["host.stall_s"] = sampler_lateness_s([x for x in samples if lo <= x[0] <= hi])
    return m


def generator_late_ms(raw):
    """How late the closed-loop client ran: its own gap between one
    operation ending and the next starting (median)."""
    seq = sorted(raw["ops"], key=lambda o: o["t0"])
    lo, hi = raw["window"]
    gaps = [b["t0"] - a["t1"] for a, b in zip(seq, seq[1:]) if lo <= a["t0"] and b["t0"] <= hi]
    return median(gaps)


def module_metrics(raw, ops, execs, jobs):
    """Time and counts inside the program module each operation calls;
    `execs` and `jobs` are the operations' own (see `owners`). A workload
    that bypasses a module reports 0 for it."""
    w = raw["workload"]
    v = raw["values"]
    m = {}
    for f in FAMILIES:
        name = "functions.text_s" if f == "text" else "operators.%s_s" % f
        m[name] = sum(ms(o) for o in ops if o.get("family") == f) / 1000.0

    writes = [o for o in ops if o["kind"] == "write"]
    for k in WRITE_KINDS:
        m["commitlog.%s_ms" % k] = median([ms(o) for o in writes if o["name"] == k])
    for k in READ_KINDS:
        m["commitlog.%s_ms" % k] = median([ms(o) for o in ops if o["kind"] == "read" and o["name"] == k])
    wid = {o["id"] for o in writes}
    nw = max(1, len(writes))
    m["commitlog.jobs_per_write"] = sum(1 for j in jobs if j[0] in wid) / nw if writes else 0.0
    m["commitlog.executions_per_write"] = sum(1 for e in execs.values() if e[0] in wid) / nw if writes else 0.0
    m["commitlog.files_rewritten_per_write"] = (
        sum(o.get("files_removed", 0) for o in writes) / nw if writes else 0.0)
    skips = v.get("skip_samples", [])
    m["commitlog.files_skipped_ratio"] = (
        median([(live - kept) / live for live, kept in skips if live]) if skips else 0.0)
    m["commitlog.dv_masked_rows"] = v.get("dv_masked_rows", 0)
    m["commitlog.live_files"] = v.get("live_files", 0)
    m["commitlog.log_versions"] = v.get("log_versions", 0)

    lo, hi = raw["window"]
    rep = [p for p in raw["spans"]["progress"] if w == "table_mixed" and lo <= p["t0"] <= hi]

    def dur(ps, k):
        return median([p["durations"].get(k, 0) for p in ps])

    m["replica.batches"] = len([p for p in rep if p["rows"] > 0])
    m["replica.versions_per_batch"] = median(
        [int(p["end_offset"]) - int(p["start_offset"] or -1) for p in rep if p["rows"] > 0])
    m["replica.rows_per_batch"] = median([p["rows"] for p in rep if p["rows"] > 0])
    m["replica.trigger_ms"] = dur([p for p in rep if p["rows"] > 0], "triggerExecution")
    m["replica.add_batch_ms"] = dur([p for p in rep if p["rows"] > 0], "addBatch")
    m["replica.latest_offset_ms"] = dur(rep, "latestOffset")

    blocks = [o for o in ops if o["kind"] == "request"]
    bid = {o["id"] for o in blocks}
    nreq = sum(len(o["requests"]) for o in blocks)
    m["dispatch.block_ms"] = median([ms(o) for o in blocks])
    m["dispatch.jobs_per_request"] = sum(1 for j in jobs if j[0] in bid) / nreq if nreq else 0.0
    m["dispatch.executions_per_request"] = (
        sum(1 for e in execs.values() if e[0] in bid) / nreq if nreq else 0.0)

    # Komodo analytics: the direct calls of the request check, the
    # analytic without the serving path around it
    direct = [o for o in raw["ops"] if o["kind"] == "direct" and o["ok"]]
    for fn, short in KOMODO.items():
        m["komodo.%s_ms" % short] = median([ms(o) for o in direct if o["name"] == fn])
    return m
