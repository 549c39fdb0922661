#!/usr/bin/env bash
# Pre-snapshot gate (VERDICT r14 item 3): a round can never close red.
#
#   tools/precommit.sh                 # compile + test-compile + benchmark
#                                      # build + self-tests + one short run
#                                      # of each workload + entry smoke
#   tools/precommit.sh q266 q267       # ... plus execute named queries at sf0.001
#   tools/precommit.sh --all           # ... plus execute EVERY query (slow)
#
# Exit 0 = safe to commit. Run before every end-of-round snapshot and
# before any commit that touches SparkEntry.scala.
set -euo pipefail
cd "$(dirname "$0")/.."

echo "[precommit] sbt compile + Test/compile"
sbt -batch ";compile;Test/compile" 2>&1 | tail -3

# sbt never compiles perfbench/scala: build the benchmark harness against
# the library here, so an API change that breaks it fails the gate.
echo "[precommit] perfbench build + self-tests"
python3 perfbench/build.py >/dev/null   # prints the classpath
python3 -m unittest discover -s perfbench/tests

# One short run of every benchmark workload: its result line must be
# correct, with operations attempted and none failed — an engine change
# that hides operations from the harness's listeners fails here.
echo "[precommit] benchmark smoke"
for w in $(python3 -c 'import json; print(*(w["name"] for w in
    json.load(open("BENCHMARK.json"))["workloads"]))'); do
  last=$(python3 perfbench/run.py --workload "$w" --seed 1 --seconds 1 \
           --trace 0 | tail -1) \
    || { echo "[precommit] BENCHMARK SMOKE FAILED: $w did not run"; exit 1; }
  python3 - "$w" "$last" <<'EOF' || exit 1
import json, sys
w, r = sys.argv[1], json.loads(sys.argv[2])
print(f"[precommit] {w}: correct={r['correct']} "
      f"attempted={r['attempted']} failed={r['failed']}")
if not (r["correct"] is True and r["attempted"] > 0 and r["failed"] == 0):
    sys.exit(f"[precommit] BENCHMARK SMOKE FAILED: {w}")
EOF
  if [ "$w" = kmeans_sweep ]; then
    # the harness counts a sweep's rounds as its listener actions minus
    # the bounding box and the silhouettes: an engine change that adds or
    # hides an action shifts every op sample, so pin the count
    python3 - .perfbench/run/kmeans_sweep-1-t0/out/result.json <<'EOF' \
      || exit 1
import json, sys
r = json.load(open(sys.argv[1]))
sweeps = [o for o in r["ops"] if o["name"] == "sweep" and o["ok"]]
lists = r["checks"].get("pass:sweep", [])
bad = [f"{len(o['actions'])} actions ({sorted({a['name'] for a in o['actions']})}) "
       f"for {max(e[2] for e in es)} rounds"
       for o, es in zip(sweeps, lists)
       if len(o["actions"]) != max(e[2] for e in es) + 2
       or any(a["name"] == "rdd" for a in o["actions"])]
print(f"[precommit] kmeans_sweep: {len(sweeps)} sweeps, "
      f"actions = rounds + 2 in {len(sweeps) - len(bad)}")
if not sweeps or len(sweeps) != len(lists) or bad:
    sys.exit(f"[precommit] BENCHMARK SMOKE FAILED: kmeans_sweep actions "
             f"{bad or 'unmatched to sweep results'}")
EOF
  fi
done

# NOTE: this sbt's log config suppresses [success] lines for runMain —
# the EXIT CODE is the only reliable signal (captured via PIPESTATUS;
# graft.Smoke exits nonzero when any named query fails).
if [ "$#" -gt 0 ]; then
  echo "[precommit] smoke-running queries at sf0.001: $*"
  set +e
  sbt -batch "runMain graft.Smoke $*" 2>&1 | grep -E '^\[smoke\]'
  rc=${PIPESTATUS[0]}
  set -e
else
  echo "[precommit] entry smoke"
  set +e
  sbt -batch "runMain graft.Smoke" 2>&1 | grep -E '^\[smoke\]'
  rc=${PIPESTATUS[0]}
  set -e
fi
if [ "$rc" -ne 0 ]; then echo "[precommit] SMOKE FAILED (rc=$rc)"; exit 1; fi
echo "[precommit] OK"
