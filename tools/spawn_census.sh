#!/usr/bin/env bash
# Child-process census of one benchmark run: which commands the run's JVM
# starts, and from which threads.
#
#   tools/spawn_census.sh stream_ingest 2
#
# Builds the benchmark, then runs `perfbench/run.py --workload <workload>
# --seed <seed> --trace 0` once (BENCHMARK.json's run_seconds) with a JDK
# Flight Recording of the harness JVM, switched on through
# JAVA_TOOL_OPTIONS so that neither the engine nor the harness needs a
# knob for it. It then prints the run's `jdk.ProcessStart` events, counted
# by command and by thread-name prefix (the thread name without its
# trailing number), and how many were started through Hadoop's `Shell`.
# The recording and the run's result line stay under .perfbench/spawn/.
set -euo pipefail
cd "$(dirname "$0")/.."
[ $# -eq 2 ] || { echo "usage: $0 <workload> <seed>" >&2; exit 2; }
workload=$1 seed=$2
out="$PWD/.perfbench/spawn"
mkdir -p "$out"
rec="$out/$workload-$seed.jfr"
rm -f "$rec"

# build first, without the recording: the build's own compiler JVM would
# otherwise pick it up too
python3 perfbench/build.py >/dev/null
seconds=$(python3 -c 'import json; print(json.load(open("BENCHMARK.json"))["run_seconds"])')
JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=$rec,dumponexit=true,settings=default" \
  python3 perfbench/run.py --workload "$workload" --seed "$seed" \
    --seconds "$seconds" --trace 0 | tail -1 > "$out/$workload-$seed.result.json"
[ -s "$rec" ] || { echo "no recording at $rec" >&2; exit 1; }

jfr print --json --events jdk.ProcessStart "$rec" | python3 -c '
import collections, json, re, sys
events = json.load(sys.stdin)["recording"]["events"]
by_command, by_thread = collections.Counter(), collections.Counter()
shell = 0
for e in events:
    v = e["values"]
    argv = (v.get("command") or "?").split()
    by_command[argv[0].rsplit("/", 1)[-1] if argv else "?"] += 1
    thread = (v.get("eventThread") or {}).get("javaName") or "?"
    # drop a bracketed suffix ("... for [id = <uuid>, ...]") and a number
    prefix = re.sub(r"[-_ #]*\d+$", "", re.sub(r"\s*\[.*\]$", "", thread))
    by_thread[prefix or thread] += 1
    frames = (v.get("stackTrace") or {}).get("frames") or []
    if any(f["method"]["type"]["name"] == "org/apache/hadoop/util/Shell"
           for f in frames):
        shell += 1
print(f"{len(events)} child processes, {shell} started through "
      "org.apache.hadoop.util.Shell")
for title, counts in (("by command", by_command),
                      ("by thread-name prefix", by_thread)):
    print(title)
    for name, n in counts.most_common():
        print(f"  {n:6d}  {name}")
'
echo "result: $(python3 -c 'import json, sys; r = json.load(open(sys.argv[1])); print({k: r[k] for k in ("correct", "attempted", "failed")})' "$out/$workload-$seed.result.json")"
