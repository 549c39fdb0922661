"""Per-layer metrics of a traced run, from the spans and counters the
harness recorded at each boundary: workload → pass → operation (a call
into a graft layer) → Spark job → stage.

Only traced passes contribute; counters are per pass unless the name says
otherwise. A layer a workload never calls reports 0.

`per_layer` computes every metric; the result line carries RESULT_LINE,
the metrics that are defined on every workload plus the layer-specific
counts. Layer-specific times (which would read as a constant 0 s on the
workloads that never call the layer) appear on the detail line only.
"""
from .stats import median


def _union(intervals):
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _clip(intervals, within):
    """Parts of `intervals` inside the union of `within`."""
    out = []
    for a, b in intervals:
        for c, d in within:
            lo, hi = max(a, c), min(b, d)
            if hi > lo:
                out.append((lo, hi))
    return out


def _med(xs, default=0.0):
    return median(xs) if xs else default


def pass_seconds(r, n):
    """A pass's wall time. For the stream: from the generator's start to
    the emission of the first micro-batch output that includes its last
    tick (the open-loop window plus the drain)."""
    if r["workload"] == "stream_ingest":
        c = r["checks"]
        last = int(c[f"ticks:{n}"][-1]["offset"])
        emit = {e["batch_id"]: e["emit"] for e in c[f"emits:{n}"]}
        batch = min(b["batch_id"] for b in r["progress"]
                    if b["run_id"] == c[f"run_id:{n}"]
                    and b["end_offset"] is not None
                    and int(b["end_offset"]) >= last)
        return emit[batch] - c[f"start:{n}"]
    p = next(p for p in r["passes"] if p["n"] == n)
    return p["end"] - p["start"]


def _self_times(frame, jobs, stages):
    """Splits one frame (a pass or an operation) into the time covered by
    graft calls only, by Spark jobs only, and by stages."""
    calls, (f0, f1) = frame
    a = _clip(calls, [(f0, f1)])
    b = _clip(jobs, a)
    c = _clip(stages, b)
    ua, ub, uc = _union(a), _union(b), _union(c)
    return {"bench_s": (f1 - f0) - ua, "call_s": ua - ub,
            "spark_job_s": ub - uc, "spark_stage_s": uc}


def per_layer(r):
    ms0 = r["epoch_ms0"]
    sec = lambda ms: (ms - ms0) / 1000.0
    ops = [o for o in r["ops"] if o["traced"]]
    traced = [p for p in r["passes"] if p["traced"]]
    untraced = [p for p in r["passes"] if not p["traced"]]
    npass = max(1, len(traced))
    by_group = {o["id"]: o for o in ops}
    for o in ops:  # a stream's jobs carry its query's run id as job group
        run = r["checks"].get(f"run_id:{o['pass']}")
        if run:
            by_group[run] = o
    jobs = [dict(j, op=by_group[j["group"]]) for t in r["tracer"]
            for j in t["jobs"] if j["group"] in by_group]
    job_op = {j["id"]: j["op"] for j in jobs}
    stages = [dict(s, op=job_op[s["job"]]) for t in r["tracer"]
              for s in t["stages"] if s["job"] in job_op]
    spans = r["spans"]
    probes = r["probes"]

    def total(rows, key, layer=None):
        return sum(x[key] for x in rows
                   if layer is None or x["op"]["layer"] == layer) / npass

    m = {}
    m["tables.load_s"] = sum(p["s"] for p in probes if p["layer"] == "tables") / npass
    m["tables.scan_rows"] = total(stages, "input_rows")
    m["tables.scan_bytes"] = total(stages, "input_bytes")

    ops_calls = [o for o in ops if o["layer"] == "ops"]
    subs = {s["id"]: s for s in spans if "." in s["id"]}
    plan = sum(s["end"] - s["start"] for s in subs.values() if s["name"] == "plan")
    exec_ = sum((subs[f"{o['id']}.exec"]["end"] - subs[f"{o['id']}.exec"]["start"])
                if f"{o['id']}.exec" in subs else o["end"] - o["start"]
                for o in ops_calls)
    m["ops.plan_s"] = plan / npass
    m["ops.exec_s"] = exec_ / npass
    n_calls = max(1, len(ops_calls))
    ops_jobs = [j for j in jobs if j["op"]["layer"] == "ops"]
    ops_stages = [s for s in stages if s["op"]["layer"] == "ops"]
    m["ops.jobs"] = len(ops_jobs) / n_calls
    m["ops.stages"] = len(ops_stages) / n_calls
    m["ops.tasks"] = sum(s["tasks"] for s in ops_stages) / n_calls
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"ops.{k}"] = total(stages, k, "ops")

    cands = [p["rows"] for p in probes if p["name"] == "dedup_candidates"]
    verified = len(r["checks"].get("warm:pairs", []))
    m["ops.dedup.candidate_pairs"] = _med(cands)
    m["ops.dedup.verified_pairs"] = verified if cands else 0
    m["ops.dedup.useful_ratio"] = verified / _med(cands) if cands and _med(cands) else 0.0
    sink = [o["end"] - o["start"] for o in ops_calls
            if o["name"] == "writeShardedWithManifest"]
    sink_out = r["checks"].get("pass:sink", [])
    m["ops.sink.write_s"] = _med(sink)
    m["ops.sink.written_bytes"] = sink_out[-1]["bytes"] if sink_out else 0
    m["ops.sink.files"] = sink_out[-1]["files"] if sink_out else 0

    kernels = [p for p in probes if p["layer"] == "functions"]
    m["functions.kernel_s"] = _med([p["s"] for p in kernels])
    m["functions.kernel_rows"] = _med([p["rows"] for p in kernels], 0)

    sweeps = [o for o in ops if o["layer"] == "ml"]
    rounds = [len(o["actions"]) - 2 for o in sweeps]
    m["ml.rounds"] = _med(rounds, 0)
    m["ml.jobs_per_round"] = _med([
        sum(1 for j in jobs if j["op"] is o) / max(1, len(o["actions"]) - 2)
        for o in sweeps])
    m["ml.round_s"] = _med([a["s"] for o in sweeps for a in o["actions"][1:-1]])
    m["ml.driver_gap_s"] = _med([
        (o["end"] - o["start"]) - _union(_clip(
            [(sec(j["start_ms"]), sec(j["end_ms"])) for j in jobs if j["op"] is o],
            [(o["start"], o["end"])]))
        for o in sweeps])

    first = {r["checks"].get(f"run_id:{p['n']}"):
             r["checks"].get(f"first_batch:{p['n']}", 0) for p in traced}
    batches = [b for b in r["progress"]
               if b["run_id"] in first and b["batch_id"] >= first[b["run_id"]]]
    m["streaming.batches"] = len(batches) / npass if batches else 0
    for k in ("trigger_s", "add_batch_s", "wal_commit_s", "planning_s"):
        m[f"streaming.{k}"] = _med([b[k] for b in batches])
    m["streaming.state_rows"] = batches[-1]["state_rows"] if batches else 0
    m["streaming.state_mem_bytes"] = batches[-1]["state_mem_bytes"] if batches else 0
    m["streaming.rows_dropped_by_watermark"] = sum(
        b["dropped_by_watermark"] for b in batches)
    m["streaming.processed_rows_per_s"] = _med(
        [b["processed_rows_per_s"] for b in batches])

    m["spark.jobs"] = len(jobs) / npass
    m["spark.stages"] = len(stages) / npass
    m["spark.tasks"] = total(stages, "tasks")
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"spark.{k}"] = total(stages, k)
    m["spark.task_run_s"] = total(stages, "run_s")
    m["spark.task_cpu_s"] = total(stages, "cpu_s")
    m["spark.gc_s"] = total(stages, "gc_s")
    m["spark.scheduler_delay_s"] = total(stages, "sched_delay_s")
    m["spark.shuffle_fetch_wait_s"] = total(stages, "fetch_wait_s")
    m["spark.task_skew"] = _med([s["task_max_s"] / s["task_median_s"]
                                 for s in stages
                                 if s["tasks"] >= 2 and s["task_median_s"] > 0], 1.0)
    m["spark.tasks_failed"] = sum(s["failed"] for s in stages)

    # self time along the blocking path: per pass, and per graft call
    job_iv = [(sec(j["start_ms"]), sec(j["end_ms"])) for j in jobs]
    stage_iv = [(sec(s["start_ms"]), sec(s["end_ms"])) for s in stages]
    per_pass = [_self_times(([(o["start"], o["end"]) for o in ops
                              if o["pass"] == p["n"]], (p["start"], p["end"])),
                            job_iv, stage_iv) for p in traced]
    per_op = [_self_times(([(o["start"], o["end"])], (o["start"], o["end"])),
                          job_iv, stage_iv) for o in ops]
    for k in ("bench_s", "call_s", "spark_job_s", "spark_stage_s"):
        m[f"self.{k}"] = _med([x[k] for x in per_pass])
        if k != "bench_s":
            m[f"op_self.{k}"] = _med([x[k] for x in per_op])

    t = [pass_seconds(r, p["n"]) for p in traced]
    u = [pass_seconds(r, p["n"]) for p in untraced]
    m["trace.pass_s"] = _med(t)
    m["trace.untraced_pass_s"] = _med(u)
    m["trace.overhead_s"] = _med(t) - _med(u) if t and u else 0.0
    return m


RESULT_LINE = (
    "tables.load_s", "tables.scan_rows", "tables.scan_bytes",
    "ops.jobs", "ops.stages", "ops.tasks",
    "ops.dedup.candidate_pairs", "ops.dedup.verified_pairs",
    "ops.dedup.useful_ratio", "ops.sink.written_bytes", "ops.sink.files",
    "functions.kernel_rows", "ml.rounds", "ml.jobs_per_round",
    "streaming.batches", "streaming.state_rows", "streaming.state_mem_bytes",
    "streaming.rows_dropped_by_watermark", "streaming.processed_rows_per_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.task_run_s",
    "spark.task_cpu_s", "spark.gc_s", "spark.scheduler_delay_s",
    "spark.task_skew", "spark.tasks_failed",
    "self.bench_s", "self.call_s", "self.spark_job_s", "self.spark_stage_s",
    "op_self.call_s", "op_self.spark_job_s", "op_self.spark_stage_s",
    "trace.pass_s", "trace.untraced_pass_s", "trace.overhead_s")

UNITS = {"_per_s": "1/s", "_s": "s", "_bytes": "bytes", "_ratio": "ratio",
         "task_skew": "ratio"}


def unit(name):
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "count"
