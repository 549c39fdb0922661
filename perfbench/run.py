#!/usr/bin/env python3
"""The graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload corpus --seed 1 --seconds 10 --trace 0

Builds the engine and harness (perfbench/build.py), generates the
workload's inputs from the seed, runs the harness in one JVM at
local[nproc], checks the outputs, and prints the metrics. The last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}
with the end-to-end metrics (--trace 0) or the per-layer metrics of a
traced run (--trace 1). The line before it holds the run's context. See
perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pb import checks, inputs, layers, stats  # noqa: E402

WORKLOADS = ("corpus", "kmeans_sweep", "stream_ingest", "olap")
# Run's wall limit: the harness is killed (and the run fails) past this.
WALL_LIMIT_S = 170
# The JVM flags of the repo's build.sbt: the --add-opens list Spark needs
# on JDK 17, and the JIT settings that keep generated code compiled.
JVM_FLAGS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "-XX:-DontCompileHugeMethods", "-XX:ReservedCodeCacheSize=512m",
    "-Xmx2g", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC"]
END_TO_END = ("setup_s", "pass_s", "op_p50_s")


def generate(workload, in_dir, seed, seconds):
    if workload == "olap":
        return inputs.olap_tables(in_dir, seed)
    if workload == "corpus":
        return inputs.corpus(in_dir, seed)
    if workload == "kmeans_sweep":
        return inputs.pickup_cells(in_dir, seed)
    return inputs.stream_events(in_dir, seed, seconds)


def stream_samples(r, n, due_ns):
    """Per-event lag of stream pass `n`: from the event's due time to the
    end of the first micro-batch whose output includes it, plus the
    generator's lateness per tick and the source backlog per batch.
    `due_ns` is every delivery's due time, in schedule order."""
    c = r["checks"]
    start, run = c[f"start:{n}"], c[f"run_id:{n}"]
    ends = sorted((b["batch_id"], int(b["end_offset"])) for b in r["progress"]
                  if b["run_id"] == run and b["end_offset"] is not None)
    emit_at = {e["batch_id"]: e["emit"] for e in c[f"emits:{n}"]}
    lags, i, b = [], 0, 0
    for t in c[f"ticks:{n}"]:
        off = int(t["offset"])
        while b < len(ends) and ends[b][1] < off:
            b += 1
        emitted = emit_at.get(ends[b][0]) if b < len(ends) else None
        for d in due_ns[i:i + t["events"]]:
            lags.append((emitted - (start + d / 1e9), True) if emitted is not None
                        else (0.0, False))
        i += t["events"]
    lateness = [t["at"] - t["due"] for t in c[f"ticks:{n}"]]
    # backlog at each generator-fed batch while the generator still ran
    # (it drains once appends stop)
    end_of, n_ticks = dict(ends), len(c[f"ticks:{n}"])
    first = c.get(f"first_batch:{n}", 0)
    backlog = [e["appended"] - (end_of[e["batch_id"]] + 1)
               for e in sorted(c[f"emits:{n}"], key=lambda e: e["batch_id"])
               if e["batch_id"] in end_of and e["batch_id"] >= first
               and e["appended"] < n_ticks]
    return lags, lateness, backlog


def op_samples(r, in_dir, traced):
    """(seconds, ok) per operation of the timed passes (the untraced ones
    unless `traced`), and the reasons a stream run is invalid as a
    measurement."""
    ops = [o for o in r["ops"] if traced or not o["traced"]]
    w = r["workload"]
    if w == "olap":
        return [(o["end"] - o["start"], o["ok"]) for o in ops], []
    if w == "corpus":
        # Spark jobs; a failed call adds one failed sample of its own
        return ([(j["s"], j["ok"]) for o in ops for j in o["jobs"]] +
                [(0.0, False) for o in ops if not o["ok"]]), []
    if w == "kmeans_sweep":
        # Lloyd rounds: a sweep's actions but the bounding box and the
        # silhouettes; a failed sweep is one failed sample
        return ([(a["s"], a["ok"]) for o in ops if o["ok"]
                 for a in o["actions"][1:-1]] +
                [(0.0, False) for o in ops if not o["ok"]]), []
    due = pq.read_table(os.path.join(in_dir, "events.parquet"),
                        columns=["due_ns"]).column(0).to_pylist()
    samples, invalid = [], []
    for o in ops:
        if not o["ok"]:
            samples.append((0.0, False))
            continue
        lags, lateness, backlog = stream_samples(r, o["pass"], due)
        samples += lags
        if stats.generator_behind(lateness, 0.1):
            invalid.append("the generator fell behind its schedule")
        if stats.backlog_grew(backlog):
            invalid.append("the source backlog grew")
    return samples, invalid


def pass_times(r):
    ok = [p for p in r["passes"] if p["ok"] and not p["traced"]]
    return [layers.pass_seconds(r, p["n"]) for p in ok]


def check(r, in_dir, out_dir):
    w, c = r["workload"], r["checks"]
    if w == "olap":
        return checks.olap(in_dir, out_dir, c)
    if w == "corpus":
        return checks.corpus(in_dir, c)
    if w == "kmeans_sweep":
        return checks.kmeans(c)
    oracle = checks.stream_oracle(in_dir)
    return [f"pass {p['n']}: {msg}" for p in r["passes"] if p["ok"]
            for msg in checks.stream(oracle, c[f"emits:{p['n']}"])]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    t_start = time.monotonic()

    cp = build.build()
    work = os.path.join(ROOT, ".perfbench", "run",
                        f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    in_dir, out_dir = os.path.join(work, "in"), os.path.join(work, "out")
    os.makedirs(in_dir)
    os.makedirs(out_dir)
    g0 = time.monotonic()
    sizes = generate(a.workload, in_dir, a.seed, a.seconds)
    gen_s = time.monotonic() - g0

    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={out_dir}", "-cp", cp,
                                   "perfbench.Harness", a.workload, in_dir,
                                   out_dir, str(a.seconds), str(a.trace),
                                   str(a.seed)])
    log = os.path.join(work, "harness.log")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                                cwd=work)
        try:
            rc = proc.wait(timeout=WALL_LIMIT_S - (time.monotonic() - t_start))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"harness exceeded {WALL_LIMIT_S}s; see {log}")
    if rc != 0:
        raise SystemExit(f"harness exited {rc}; see {log}")
    with open(os.path.join(out_dir, "result.json")) as f:
        r = json.load(f)

    wrong = check(r, in_dir, out_dir)
    samples, invalid = op_samples(r, in_dir, a.trace)
    window = r["measure_end"] - r["measure_start"]
    lat, attempted, failed = stats.latencies(samples, fail_latency=window)
    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "inputs": sizes, "nproc": r["nproc"],
        "master": f"local[{r['nproc']}]",
        "shuffle_partitions": r["shuffle_partitions"],
        "java_version": r["java_version"], "spark_version": r["spark_version"],
        "loadavg_start": r["loadavg_start"], "loadavg_end": r["loadavg_end"],
        "gen_s": gen_s, "jvm_setup_s": r["setup_s"],
        "passes": len(r["passes"]), "op_samples": attempted,
        "failed_ratio": failed / attempted,
        "wrong_results": len(wrong), "wrong": wrong[:10], "invalid": invalid,
        "peak_rss_mb": r["peak_rss_mb"],
        "peak_post_gc_heap_mb": r["peak_post_gc_heap_mb"],
    }
    detail["op_p50_s"] = stats.quantile(lat, 0.5)
    detail["op_tail_quantile"], detail["op_tail_s"] = stats.tail(lat)
    if a.trace:
        values = layers.per_layer(r)
        detail["layers"] = values
        metrics = {k: {"value": values[k], "unit": layers.unit(k)}
                   for k in layers.RESULT_LINE}
    else:
        values = {
            "setup_s": gen_s + r["setup_s"],
            "pass_s": stats.median(pass_times(r)),
            "op_p50_s": detail["op_p50_s"]}
        metrics = {k: {"value": values[k], "unit": "s"} for k in END_TO_END}
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": not wrong and not invalid,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
