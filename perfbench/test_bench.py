"""Self-tests of the benchmark's own logic.

    python3 -m unittest perfbench/test_bench.py

The generator and statistics tests take seconds. The planted-fault tests
run the harness end to end on one workload each; they build the engine
first when the checkout has no build yet.
"""
import json
import os
import statistics
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def _tree_bytes(directory):
    return {n: open(os.path.join(directory, n), "rb").read()
            for n in sorted(os.listdir(directory))}


class GeneratorTest(unittest.TestCase):
    def _ocds(self, seed):
        files, truth = gen.ocds_collection(seed, 600, 150)
        return files, {k: v for k, v in truth.items() if k not in ("per_file", "input_bytes")}

    def test_same_seed_same_bytes(self):
        self.assertEqual(self._ocds(7), self._ocds(7))
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            for d in (a, b):
                gen.write_tables(gen.pair_corpus(7, 300, 100)[0], d)
            self.assertEqual(_tree_bytes(a), _tree_bytes(b))

    def test_other_seed_other_bytes_same_counts(self):
        (f1, t1), (f2, t2) = self._ocds(7), self._ocds(8)
        self.assertNotEqual(f1, f2)
        self.assertEqual(t1, t2)
        (d1, c1), (d2, c2) = gen.pair_corpus(7, 300, 100), gen.pair_corpus(8, 300, 100)
        self.assertNotEqual(d1["documents"], d2["documents"])
        self.assertNotEqual(d1["embeddings"], d2["embeddings"])
        self.assertEqual(c1, c2)

    def test_truth_matches_files(self):
        files, truth = gen.ocds_collection(3, 600, 150)
        releases = [r for _, data in files for r in json.loads(data)["releases"]]
        self.assertEqual(len(releases), truth["items"])
        self.assertEqual(len({r["id"] for r in releases}), truth["distinct_data"])
        self.assertEqual(len({json.dumps(r, sort_keys=True) for r in releases}),
                         truth["distinct_data"])
        self.assertEqual(len({r["ocid"] for r in releases}), truth["compiled"])
        self.assertEqual(sum(isinstance(r["tag"], str) for r in releases),
                         truth["check_failures"])


class StatsTest(unittest.TestCase):
    def test_median_and_quartiles(self):
        values = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 8.0, 6.0, 10.0]
        self.assertEqual(stats.median(values), 5.5)
        self.assertEqual(stats.quartiles(values), (2.75, 8.25))
        self.assertEqual(stats.quartiles(values), (statistics.quantiles(values, n=4)[0],
                                                   statistics.quantiles(values, n=4)[2]))
        self.assertAlmostEqual(stats.spread(values), 5.5 / 5.5)
        self.assertEqual(stats.median([3.0]), 3.0)


def _load_events(truth, **override):
    op = {"ev": "op", "kind": "load", "timed": True, "ok": True, "s": 2.0,
          "files": truth["files"], "items": truth["items"], "compiled": truth["compiled"],
          "checked": truth["items"], "check_failures": truth["check_failures"],
          "compile_check_failures": truth["check_failures"]}
    op.update(override)
    store = {"ev": "store", "data_rows": truth["distinct_data"],
             "distinct_data": truth["distinct_data"], "lake_bytes": 1}
    return [{"ev": "first_timed", "epoch_ms": 1}, op, store, {"ev": "heap", "old_gen_mb": 1.0}]


class EvaluateTest(unittest.TestCase):
    truth = gen.ocds_collection(1, 600, 150)[1]

    def test_correct_run_passes(self):
        ops, problems = run.evaluate("ocds_load", _load_events(self.truth), self.truth)
        self.assertEqual(problems, [])
        self.assertEqual(ops, [{"s": 2.0, "rows": self.truth["items"]}])

    def test_wrong_result_is_caught_and_yields_no_time(self):
        events = _load_events(self.truth, items=self.truth["items"] + 1)
        ops, problems = run.evaluate("ocds_load", events, self.truth)
        self.assertTrue(any("items" in p for p in problems))
        self.assertIsNone(ops[0]["s"])

    def test_thrown_call_is_a_failure(self):
        events = _load_events(self.truth, ok=False, error="boom")
        ops, problems = run.evaluate("ocds_load", events, self.truth)
        self.assertTrue(problems)
        self.assertIsNone(ops[0]["s"])

    def test_stream_episode_is_checked_against_landed_files(self):
        files, truth = gen.ocds_collection(2, 600, 150)
        truth["batches"] = [[files[0][0]], [files[1][0], files[2][0]]]
        landed = gen.subset_truth(truth["per_file"], [n for n, _ in files[:3]])
        episode = dict(landed, ev="episode", batches=2, checked=landed["items"], data_rows=1)
        events = [{"ev": "op", "kind": "warmup", "timed": False, "ok": True, "s": 5.0, "batch": 0},
                  {"ev": "op", "kind": "batch", "timed": True, "ok": True, "s": 1.0, "batch": 1},
                  episode]
        ops, problems = run.evaluate("ocds_stream", events, truth)
        self.assertEqual(problems, [])
        self.assertEqual(ops[0]["s"], 1.0)
        wrong = dict(episode, check_failures=landed["check_failures"] + 1)
        ops, problems = run.evaluate("ocds_stream", events[:2] + [wrong], truth)
        self.assertTrue(problems)
        self.assertIsNone(ops[0]["s"])

    def test_stream_vs_batch_difference_is_caught(self):
        self.assertEqual(check.stream_vs_batch({"facts": True, "checks": True, "data": True}), [])
        self.assertEqual(len(check.stream_vs_batch({"facts": True, "checks": False, "data": True})), 1)


class ContractTest(unittest.TestCase):
    def test_benchmark_json_lists_what_run_reports(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, run.PER_LAYER)
        self.assertTrue({w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS))


class PlantedFaultTest(unittest.TestCase):
    """The harness end to end, with a fault planted in the first timed
    operation: the run must report it as incorrect and failed."""

    def _run(self, workload, plant):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "5", "--seconds", "1", "--trace", "0", "--plant", plant],
            cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=900)
        return json.loads(out.stdout.strip().splitlines()[-1])

    def test_planted_exception_raises_error_rate(self):
        res = self._run("ocds_load", "throw")
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)

    def test_planted_wrong_result_is_caught(self):
        res = self._run("pair_search", "wrong")
        self.assertFalse(res["correct"])
        self.assertGreaterEqual(res["failed"], 1)


if __name__ == "__main__":
    unittest.main()
