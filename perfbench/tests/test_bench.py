"""Self-tests of the benchmark's own logic (no engine run needed).

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import random
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
from pb import checks, inputs, layers, stats  # noqa: E402


def scratch():
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    return tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench"))


class Percentiles(unittest.TestCase):
    def test_reported_tail_has_ten_samples_beyond(self):
        rng = random.Random(1)
        for n in list(range(20, 400)) + [6000]:
            xs = [rng.random() ** 3 for _ in range(n)]
            q, p = stats.tail(xs)
            if q is not None:
                self.assertGreaterEqual(sum(1 for x in xs if x > p), 10, n)
        self.assertEqual(stats.tail(list(range(20))), (None, None))
        self.assertEqual(stats.tail(list(range(60)))[0], 0.75)
        self.assertEqual(stats.tail(list(range(200)))[0], 0.9)

    def test_too_few_samples_for_the_percentile_is_refused(self):
        with self.assertRaises(ValueError):
            stats.percentile([i / 10 for i in range(30)], 0.75)


class Failures(unittest.TestCase):
    def test_thrown_operation_counts_as_failed_never_fast(self):
        samples = [(0.5, True)] * 30 + [(0.001, False)] * 12
        values, attempted, failed = stats.latencies(samples, fail_latency=9.0)
        self.assertEqual((attempted, failed), (42, 12))
        self.assertGreater(stats.tail(values)[1], 5.0)
        self.assertEqual(min(values), 0.5)

    def test_failed_spark_job_and_failed_call_are_failed_samples(self):
        r = {"workload": "corpus", "ops": [
            {"traced": False, "ok": True, "jobs": [{"s": 0.1, "ok": True},
                                                   {"s": 0.2, "ok": False}]},
            {"traced": False, "ok": False, "jobs": []}]}
        samples, _ = run.op_samples(r, None, traced=False)
        self.assertEqual(sum(1 for _, ok in samples if not ok), 2)


class Corruption(unittest.TestCase):
    def test_corrupted_stream_state_raises_wrong_results(self):
        oracle = {7: (2, 1050, 99)}
        good = [{"batch_id": 0, "rows": [[7, 1, 5.0, 10]]},
                {"batch_id": 1, "rows": [[7, 2, 10.5, 99]]}]
        self.assertEqual(checks.stream(oracle, good), [])
        bad = [dict(good[0]), {"batch_id": 1, "rows": [[7, 2, 10.51, 99]]}]
        self.assertEqual(len(checks.stream(oracle, bad)), 1)

    def test_corrupted_sweep_raises_wrong_results(self):
        sweep = [[10, 0.79, 9, True], [20, 0.69, 20, False]]
        ok = {"pass:sweep": [sweep, sweep],
              "fit": {"k": 10, "iterations": 9, "converged": True}}
        self.assertEqual(checks.kmeans(ok), [])
        other = [[10, 0.79, 9, True], [20, 0.70, 20, False]]
        self.assertEqual(len(checks.kmeans(dict(ok, **{
            "pass:sweep": [sweep, other]}))), 1)
        self.assertEqual(len(checks.kmeans(dict(ok, fit={
            "k": 10, "iterations": 8, "converged": True}))), 1)

    def test_corrupted_pairs_raise_wrong_results(self):
        with scratch() as d:
            inputs.corpus(d, seed=5, docs=120)
            planted = json.load(open(os.path.join(d, "planted.json")))
            pairs = [sorted(p) + [1.0] for p in planted]
            good = {"warm:pairs": pairs, "warm:pairs_digest": "x",
                    "pass:pairs": ["x", "x"], "pass:manifest": [["m"], ["m"]],
                    "pass:accounting": [["a"], ["a"]]}
            self.assertEqual(checks.corpus(d, good), [])
            unrelated = [0, 1] if [0, 1] not in [p[:2] for p in pairs] else [0, 2]
            self.assertEqual(len(checks.corpus(d, dict(
                good, **{"warm:pairs": pairs + [unrelated + [0.9]]}))), 1)
            self.assertEqual(len(checks.corpus(d, dict(
                good, **{"warm:pairs": pairs[:len(pairs) // 2]}))), 1)
            self.assertEqual(len(checks.corpus(d, dict(
                good, **{"pass:manifest": [["m"], ["n"]]}))), 1)


class Inputs(unittest.TestCase):
    def test_same_seed_regenerates_byte_identical_inputs(self):
        with scratch() as a, scratch() as b, scratch() as c:
            for d, seed in ((a, 3), (b, 3), (c, 4)):
                inputs.corpus(d, seed, docs=200)
                inputs.pickup_cells(d, seed, points=2000)
                inputs.stream_events(d, seed, seconds=1, rate=500)
                inputs.olap_tables(d, seed, lineitems=2000)
            names = sorted(os.listdir(a))
            self.assertEqual(len(names), 11)
            same, diff, _ = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((len(same), diff), (11, []))
            _, diff, _ = filecmp.cmpfiles(a, c, names, shallow=False)
            self.assertIn("events.parquet", diff)


class StreamValidity(unittest.TestCase):
    def result(self, at_delay, backlog_growth):
        """A stream pass of 30 ticks and 30 batches: each tick is appended
        `at_delay` late; batch k has seen tick k - backlog(k)."""
        ticks = [{"tick": k, "due": 1.0 + k * 0.05,
                  "at": 1.0 + k * 0.05 + at_delay, "offset": str(k),
                  "events": 2} for k in range(30)]
        lag = lambda k: int(k * backlog_growth)
        progress = [{"run_id": "r", "batch_id": k,
                     "end_offset": str(max(0, k - lag(k)))} for k in range(30)]
        emits = [{"batch_id": k, "emit": 1.1 + k * 0.05, "appended": k + 1,
                  "rows": []} for k in range(30)]
        return {"workload": "stream_ingest", "progress": progress,
                "ops": [{"traced": False, "ok": True, "pass": 1}],
                "checks": {"start:1": 1.0, "run_id:1": "r", "ticks:1": ticks,
                           "emits:1": emits}}

    def invalid(self, r):
        due = [k * 25_000_000 for k in range(60)]
        lags, lateness, backlog = run.stream_samples(r, 1, due)
        self.assertEqual(len(lags), 60)
        return (stats.generator_behind(lateness, 0.1),
                stats.backlog_grew(backlog))

    def test_steady_run_is_valid(self):
        self.assertEqual(self.invalid(self.result(0.001, 0.0)), (False, False))

    def test_generator_behind_schedule_is_flagged(self):
        self.assertEqual(self.invalid(self.result(0.3, 0.0)), (True, False))

    def test_growing_backlog_is_flagged(self):
        self.assertEqual(self.invalid(self.result(0.001, 0.5)), (False, True))


class Contract(unittest.TestCase):
    def test_benchmark_json_names_what_the_command_prints(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([m["name"] for m in spec["end_to_end"]],
                         list(run.END_TO_END))
        self.assertEqual([m["name"] for m in spec["per_layer"]],
                         list(layers.RESULT_LINE))
        for m in spec["per_layer"]:
            self.assertEqual(m["unit"], layers.unit(m["name"]), m["name"])
        self.assertEqual({w["name"] for w in spec["workloads"]},
                         set(run.WORKLOADS) - {"olap"})


if __name__ == "__main__":
    unittest.main()
