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
