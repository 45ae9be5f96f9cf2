"""Metrics of one run, computed from the driver's result file.

`end_to_end` serves the untraced run, `per_layer` the traced one. Both
also return a report dict (check verdicts, failures, sample counts) that
run.py prints on the line before the result object.
"""
import statistics

END_TO_END_UNITS = {
    "setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s",
    "cold_total_s": "s", "peak_rss_mb": "MB",
}

# op_tail_s is the highest percentile with at least ten samples beyond it:
# the eleventh-slowest operation, at percentile (n - 11) / n. It exists only
# for runs of at least 11 operations and is reported on the report line, not
# as a bounded metric (see README.md, "Tail latency").
TAIL_BEYOND = 10

LAYER_METRICS = [
    ("session.build_s", "s"), ("catalog.register_s", "s"), ("catalog.register_calls", "count"),
    ("row.build_s", "s"), ("row.first_over_repeat", "ratio"),
    ("plan.analysis_s", "s"), ("plan.optimization_s", "s"), ("plan.planning_s", "s"),
    ("plan.graft_rules_s", "s"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.small_task_ratio", "ratio"), ("exec.core_util", "ratio"),
    ("exec.driver_idle_s", "s"), ("exec.shuffle_read_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.spill_bytes", "bytes"), ("exec.gc_s", "s"),
    ("sync.envelope_read_s", "s"), ("sync.land_s", "s"), ("sync.bytes_written", "bytes"),
    ("sync.files_written", "count"), ("sync.rows_folded_per_change", "ratio"),
    ("sync.snapshot_read_s", "s"), ("sync.write_amp", "ratio"),
    ("sync.redeliveries_skipped", "count"),
    ("cursor.read_s", "s"), ("cursor.advance_s", "s"),
    ("stream.batches", "count"), ("stream.trigger_s", "s"), ("stream.add_batch_s", "s"),
    ("stream.machinery_s", "s"), ("stream.query_planning_s", "s"),
    ("stream.wal_commit_s", "s"), ("stream.state_rows", "count"),
    ("stream.state_mem_bytes", "bytes"), ("stream.state_commit_s", "s"),
    ("self.op_s", "s"), ("self.row_s", "s"), ("self.plan_s", "s"), ("self.exec_s", "s"),
    ("self.sync_s", "s"), ("self.cursor_s", "s"), ("self.stream_s", "s"),
    ("trace.op_p50_s", "s"), ("trace.overhead_s", "s"),
]
PER_LAYER_UNITS = dict(LAYER_METRICS)


def _samples(result):
    return result["samples"]


def _failed(workload, result):
    """Operations that threw or failed a check. A row whose oracle check
    fails fails every operation that ran it; a failed final replica check
    fails every poll."""
    s = _samples(result)
    checks = result["checks"]
    if workload == "replica_sync":
        if checks["final_snapshot"] != "PASS":
            return len(s)
        return sum(1 for x in s if not x["ok"])
    bad = {n for n, v in checks.items() if v != "PASS"}
    return sum(1 for x in s if not x["ok"] or x["name"] in bad)


def tail(values):
    """{value, percentile} of the sample with exactly TAIL_BEYOND beyond
    it, or None when there are too few samples."""
    xs = sorted(values)
    k = len(xs) - TAIL_BEYOND - 1
    return {"value": xs[k], "percentile": k / len(xs)} if k >= 0 else None


def report(workload, result):
    s = _samples(result)
    n = len(s)
    failed = _failed(workload, result)
    distinct = len({x["name"] for x in s}) if workload != "replica_sync" else 1
    rep = {
        "workload": workload, "attempted": n, "failed": failed,
        "failed_ratio": failed / n, "samples": n, "cycles": result["cycles"],
        "repeat_share": (n - distinct) / n,
        "op_tail_s": tail([x["seconds"] for x in s]),
        "checks": result["checks"],
        "errors": sorted({x["error"] for x in s if x["error"]}),
        "harness_s": result["harness_s"],
        "op_seconds": [round(x["seconds"], 3) for x in s],
    }
    if workload == "replica_sync":
        polls = result["polls"]
        payload = sum(p["payload_bytes"] for p in polls)
        rep["write_amp"] = sum(p["bytes_written"] for p in polls) / payload
        rep["polls_checked"] = sum(1 for x in s if x["ok"])
    else:
        rep["working_set"] = result["working_set"]
    return rep


def warm_p50(samples):
    """Median latency over repeat executions. First executions are cold
    (JIT, codegen, first reads) and are measured by cold_total_s; mixing the
    two populations puts a few-sample median on the boundary between them."""
    return statistics.median(x["seconds"] for x in samples if not x["first"])


def end_to_end(workload, result):
    s = _samples(result)
    values = {
        "setup_s": result["setup_s"],
        "op_p50_s": warm_p50(s),
        "ops_per_s": len(s) / result["timed_wall_s"],
        "cold_total_s": sum(x["seconds"] for x in s if x["first"]),
        "peak_rss_mb": result["peak_rss_mb"],
    }
    rep = report(workload, result)
    rep["setup_breakdown_s"] = {k: result[k] for k in [
        "session.build", "session.warmup", "catalog.register", "workload.setup"]}
    return values, rep


# ------------------------------------------------------------- traced run

def _union(intervals):
    total, cur_s, cur_e = 0, None, None
    for a, b in sorted(intervals):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _self_times(intervals):
    """Self time per layer for one operation's (layer, start, end) spans.
    Spans nest by containment; a span's self time is its duration minus
    what its direct children cover."""
    order = sorted(intervals, key=lambda x: (x[1], -(x[2] - x[1])))
    children = {i: [] for i in range(len(order))}
    stack = []
    for i, (_, a, b) in enumerate(order):
        while stack and not (order[stack[-1]][1] <= a and b <= order[stack[-1]][2]):
            stack.pop()
        if stack:
            children[stack[-1]].append(i)
        stack.append(i)
    out = {}
    for i, (layer, a, b) in enumerate(order):
        covered = _union([(max(a, order[c][1]), min(b, order[c][2])) for c in children[i]])
        out[layer] = out.get(layer, 0) + (b - a - covered)
    return out


def per_layer(workload, result, cores, untraced_p50):
    t = result["trace"]
    s = _samples(result)
    MS = 1_000_000
    spans = [dict(zip(["layer", "name", "op", "start", "end"], x)) for x in t["spans"]]
    ops = {x["op"]: (x["start"], x["end"]) for x in spans if x["layer"] == "op"}

    def op_at(ns):
        for i, (a, b) in ops.items():
            if a - MS <= ns <= b + MS:
                return i
        return None

    def dur(name):
        return sum(x["end"] - x["start"] for x in spans
                   if x["name"] == name and x["op"] in ops) / 1e9

    # jobs: keyed by job group, else by start time
    jobs = {}
    for jid, op, start, end in t["jobs"]:
        op = op if op in ops else op_at(start * MS)
        if op is not None:
            jobs[jid] = (op, start * MS, end * MS)
    stage_job = dict(t["stage_job"])
    tasks = [k for k in t["tasks"] if stage_job.get(k[0]) in jobs]
    phases = [(n, a * MS, b * MS) for n, a, b in t["phases"] if op_at(a * MS) is not None]
    rules = [ns for at, _, ns in t["rules"] if op_at(at * MS) is not None]
    progress = [p for p in t["progress"] if op_at(p["at"] * MS) is not None]

    wall = sum(b - a for a, b in ops.values()) / 1e9
    idle = 0
    for i, (a, b) in ops.items():
        idle += (b - a) - _union([(max(a, ja), min(b, jb)) for op, ja, jb in jobs.values()
                                  if op == i and jb > ja])
    v = {}
    for k in ["session.build", "catalog.register"]:
        v[k + "_s"] = result[k]
    v["catalog.register_calls"] = result["catalog.register_calls"]
    v["row.build_s"] = dur("row.build")
    first = [x["seconds"] for x in s if x["first"]]
    repeat = [x["seconds"] for x in s if not x["first"]]
    v["row.first_over_repeat"] = (statistics.mean(first) / statistics.mean(repeat)
                                  if first and repeat else 0.0)
    for ph in ["analysis", "optimization", "planning"]:
        v[f"plan.{ph}_s"] = sum(b - a for n, a, b in phases if n == ph) / 1e9
    v["plan.graft_rules_s"] = sum(rules) / 1e9
    v["exec.jobs"] = len(jobs)
    v["exec.stages"] = len({k[0] for k in tasks})
    v["exec.tasks"] = len(tasks)
    v["exec.small_task_ratio"] = (sum(1 for k in tasks if k[1] < 10) / len(tasks)) if tasks else 0.0
    v["exec.core_util"] = sum(k[1] for k in tasks) / 1000 / (wall * cores)
    v["exec.driver_idle_s"] = idle / 1e9
    v["exec.shuffle_read_bytes"] = sum(k[2] for k in tasks)
    v["exec.shuffle_write_bytes"] = sum(k[3] for k in tasks)
    v["exec.spill_bytes"] = sum(k[4] for k in tasks)
    v["exec.gc_s"] = sum(k[5] for k in tasks) / 1000

    polls = result.get("polls", [])
    v["sync.envelope_read_s"] = dur("sync.envelope_read")
    v["sync.land_s"] = dur("sync.land")
    v["sync.snapshot_read_s"] = dur("sync.snapshot_read")
    v["cursor.read_s"] = dur("cursor.read")
    v["cursor.advance_s"] = dur("cursor.advance")
    v["sync.bytes_written"] = sum(p["bytes_written"] for p in polls)
    v["sync.files_written"] = sum(p["files_written"] for p in polls)
    v["sync.redeliveries_skipped"] = sum(1 for p in polls if p["skipped"])
    payload = sum(p["payload_bytes"] for p in polls)
    v["sync.write_amp"] = v["sync.bytes_written"] / payload if payload else 0.0
    # rows the fold consumed: state rows read by the landing job plus delta
    land = [(x["start"], x["end"]) for x in spans if x["name"] == "sync.land"]
    land_jobs = {j for j, (op, a, b) in jobs.items() if any(la <= a <= lb for la, lb in land)}
    state_read = sum(k[6] for k in tasks if stage_job.get(k[0]) in land_jobs)
    delta = sum(p["delta_rows"] for p in polls)
    v["sync.rows_folded_per_change"] = (state_read + delta) / delta if delta else 0.0

    def d(p, k):
        return p["durations"].get(k, 0) / 1000
    v["stream.batches"] = len(progress)
    v["stream.trigger_s"] = sum(d(p, "triggerExecution") for p in progress)
    v["stream.add_batch_s"] = sum(d(p, "addBatch") for p in progress)
    v["stream.machinery_s"] = v["stream.trigger_s"] - v["stream.add_batch_s"]
    v["stream.query_planning_s"] = sum(d(p, "queryPlanning") for p in progress)
    v["stream.wal_commit_s"] = sum(d(p, "walCommit") for p in progress)
    v["stream.state_rows"] = sum(p["state_rows"] for p in progress)
    v["stream.state_mem_bytes"] = max([p["state_mem"] for p in progress], default=0)
    v["stream.state_commit_s"] = sum(p["state_commit_ms"] for p in progress) / 1000

    selfs = {}
    for i, (a, b) in ops.items():
        iv = [("op", a, b)]
        iv += [(x["layer"], max(a, x["start"]), min(b, x["end"])) for x in spans
               if x["op"] == i and x["layer"] != "op"]
        iv += [("plan", max(a, pa), min(b, pb)) for _, pa, pb in phases if op_at(pa) == i]
        iv += [("exec", max(a, ja), min(b, jb)) for op, ja, jb in jobs.values() if op == i]
        for layer, ns in _self_times([x for x in iv if x[2] >= x[1]]).items():
            selfs[layer] = selfs.get(layer, 0) + ns
    for layer in ["op", "row", "plan", "exec", "sync", "cursor", "stream"]:
        v[f"self.{layer}_s"] = selfs.get(layer, 0) / 1e9

    rep = report(workload, result)
    traced_p50 = warm_p50(s)
    v["trace.op_p50_s"] = traced_p50
    v["trace.overhead_s"] = traced_p50 - untraced_p50
    rep["untraced_op_p50_s"] = untraced_p50
    return v, rep
